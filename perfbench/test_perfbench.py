"""Self-test of the benchmark at tiny sizes; needs no Spark session.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import verify  # noqa: E402
from spans import Span, self_times, subtree  # noqa: E402


def test_generator_is_deterministic():
    a = gen.generate_days(7, 3, 3)
    b = gen.generate_days(7, 3, 3)
    c = gen.generate_days(8, 3, 3)
    for x, y in zip(a, b):
        assert x.bars.equals(y.bars)
        assert (x.n_valid, x.n_errors, x.daily) == (y.n_valid, y.n_errors, y.daily)
    assert not a[1].bars.equals(c[1].bars)


def test_generator_expectations_add_up():
    s = 4
    days = gen.generate_days(3, s, 2)
    first, second = days
    assert first.n_errors == sum(first.n_injected.values()) > 0
    assert first.n_valid == gen.BARS_PER_DAY * s - first.n_errors
    # day 2 carries the re-sent tail of day 1 and one extra copy per duplicate
    expected_rows = gen.BARS_PER_DAY * s + second.n_injected["dup"] + gen.RESEND_MINUTES * s
    assert second.bars.num_rows == expected_rows
    assert len(second.daily) == s
    for (sym, label), (o, h, low, c, v) in second.daily.items():
        assert low <= min(o, c) <= max(o, c) <= h
        assert label % gen.NS_PER_DAY == gen.OPEN_OFFSET_NS


def test_clean_days_have_no_violations():
    (day,) = gen.generate_days(5, 2, 1, violations=False)
    t = day.bars.to_pydict()
    assert day.n_errors == 0 and day.n_valid == 2 * gen.BARS_PER_DAY
    assert all(ts % gen.NS_PER_MIN == 0 for ts in t["ts_ns"])
    assert all(lo <= min(o, c) and hi >= max(o, c)
               for o, hi, lo, c in zip(t["open"], t["high"], t["low"], t["close"]))


def test_check_increment_catches_corruption():
    day = gen.generate_days(11, 2, 1)[0]
    rows = [(sym, ts, *vals) for (sym, ts), vals in day.daily.items()]
    units = {(s, day.date) for s in gen.symbol_names(2)}

    def check(n_landed=day.n_valid, n_errors=day.n_errors, expected=day.daily, job_units=units):
        return verify.check_increment(day, n_landed, n_errors, rows, expected, job_units, units)

    assert check() == []
    assert check(n_landed=day.n_valid - 1)
    assert check(n_errors=day.n_errors + 1)
    bad = dict(day.daily)
    key = next(iter(bad))
    bad[key] = (*bad[key][:4], bad[key][4] + 1)
    assert check(expected=bad)
    # a unit of the day before: the checkpoint let the re-sent slice through
    earlier = day.date.replace(day=day.date.day - 1)
    assert check(job_units=units | {("S000", earlier)})


def test_last_ts_is_the_checkpoint_the_resent_slice_falls_under():
    history, today = gen.generate_days(9, 3, 2)
    last = gen.last_ts(history.clean)
    assert sorted(last) == gen.symbol_names(3)
    t = today.bars.to_pydict()
    resent = [(s, ts) for s, ts in zip(t["symbol"], t["ts_ns"]) if ts < gen.day_start_ns(today.date)]
    assert len(resent) == gen.RESEND_MINUTES * 3
    assert all(ts <= last[s] for s, ts in resent)


@pytest.fixture()
def tiny_lake(tmp_path):
    """A two-symbol, one-day 1m lake in the program's Hive layout."""
    (day,) = gen.generate_days(13, 2, 1, violations=False)
    root = str(tmp_path / "raw")
    t = day.bars
    for sym in ("S000", "S001"):
        part = t.filter(pa.compute.equal(t["symbol"], sym)).drop_columns(["symbol"])
        d = f"{root}/frame=1m/symbol={sym}/date={day.date}"
        os.makedirs(d)
        pq.write_table(part, f"{d}/part-0.parquet")
    return root, day


def test_oracle_digest_catches_corrupted_result(tiny_lake):
    root, day = tiny_lake
    oracle = verify.Oracle()
    try:
        lo = gen.day_start_ns(day.date)
        ref = oracle.load(root, "1m", ["S001"], lo, lo + gen.NS_PER_DAY - 1)
        assert len(ref) == gen.BARS_PER_DAY
        good = [r for r in day.bars.to_pylist() if r["symbol"] == "S001"]
        good = [tuple(r[c] for c in gen.COLUMNS) for r in good]
        assert verify.digest(good) == verify.digest(ref)
        corrupted = list(good)
        corrupted[5] = (*corrupted[5][:6], corrupted[5][6] + 1)
        assert verify.digest(corrupted) != verify.digest(ref)
        summary = oracle.summary(root, "1m", lo, lo + gen.NS_PER_DAY - 1)
        assert [r[1] for r in summary] == [gen.BARS_PER_DAY, gen.BARS_PER_DAY]
    finally:
        oracle.close()


def test_round_medians():
    import workloads

    run = workloads.Run(None, None, "", 0, 0.0, round_size=2)
    run.ops = [workloads.Op("a", s, b) for s, b in [(1.0, 10), (3.0, 30), (2.0, 10), (2.0, 10),
                                                        (9.0, 90), (1.0, 10), (5.0, 0)]]
    # rounds: (1, 3), (2, 2), (9, 1); the odd last op is not a whole round
    assert run.op_s_p50() == 2.0
    assert run.bars_per_s() == 10.0


def test_timed_ops_add_up_over_calls():
    import workloads

    run = workloads.Run(None, None, "", 0, 0.0)
    seen = []
    for rep in range(3):
        run.timed_ops(lambda i: ("increment", lambda: (10, rep)) if i == 0 else None,
                      lambda i, out: seen.append((i, out)) or [])
    assert [o.kind for o in run.ops] == ["increment"] * 3
    assert seen == [(0, 0), (0, 1), (0, 2)]


def test_self_time_arithmetic():
    spans = [
        Span(0, None, "root", 0, 0.0, 10.0),
        Span(1, 0, "a", 0, 1.0, 4.0),
        Span(2, 1, "a.child", 0, 2.0, 3.0),
        Span(3, 0, "b", 0, 5.0, 6.0),
        Span(4, 0, "b.exec", 0, 7.0, 9.0, extra=True),
        Span(5, None, "other", 1, 20.0, 21.0),
    ]
    selfs = self_times(spans)
    assert selfs == {0: 4.0, 1: 2.0, 2: 1.0, 3: 1.0, 4: 2.0, 5: 1.0}
    # self times of one op add up to its root's duration
    assert sum(selfs[s.sid] for s in subtree(spans, 0)) == spans[0].dur
    assert [s.sid for s in subtree(spans, 1)] == [1, 2]


def test_tracer_wraps_aliases_and_restores():
    from marketpipe_spark import lake, loader
    from spans import Tracer

    original = lake.read_bars
    assert loader.read_bars is original
    tracer = Tracer(spark=None)
    tracer.install()
    try:
        assert lake.read_bars is not original
        assert loader.read_bars is lake.read_bars
    finally:
        tracer.uninstall()
    assert lake.read_bars is original and loader.read_bars is original


def test_query_plan_is_seeded_and_round_robin():
    import workloads

    syms = gen.symbol_names(8)
    starts = [gen.day_start_ns(d) for d in gen.trading_days(12)]
    a = workloads.query_plan(3, syms, starts, 40)
    assert a == workloads.query_plan(3, syms, starts, 40)
    assert a != workloads.query_plan(4, syms, starts, 40)
    assert [q[0] for q in a[:4]] == list(workloads.QUERY_KINDS)
    for q in a:
        lo, hi = q[-2:]
        assert starts[0] <= lo < hi < starts[-1] + gen.NS_PER_DAY
