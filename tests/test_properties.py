"""Property-based checks (hypothesis): operators vs pure-Python models on
randomized inputs. Few examples, small data — each example runs Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from marketpipe_spark.operators.asof import asof_join
from marketpipe_spark.operators.resample import resample_intraday

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ts_strategy = st.integers(min_value=0, max_value=40)
val_strategy = st.integers(min_value=1, max_value=9)

trades_st = st.dictionaries(
    st.tuples(st.sampled_from(["A", "B"]), ts_strategy), val_strategy, min_size=1, max_size=12
)
quotes_st = st.dictionaries(
    st.tuples(st.sampled_from(["A", "B"]), ts_strategy), val_strategy, max_size=12
)


@_settings
@given(trades=trades_st, quotes=quotes_st)
def test_asof_matches_python_model(spark, trades, quotes):
    tdf = spark.createDataFrame(
        [(s, t, float(v)) for (s, t), v in trades.items()],
        "symbol string, ts_ns long, trade_value double",
    )
    qdf = spark.createDataFrame(
        [(s, t, float(v)) for (s, t), v in quotes.items()] or [("Z", 0, 0.0)],
        "symbol string, ts_ns long, quote_value double",
    )
    got = {
        (r.symbol, r.ts_ns): r.quote_value_right
        for r in asof_join(tdf, qdf).collect()
    }
    for (s, t), _v in trades.items():
        eligible = [(qt, qv) for (qs, qt), qv in quotes.items() if qs == s and qt <= t]
        want = float(max(eligible)[1]) if eligible else None
        assert got[(s, t)] == want, f"asof mismatch at {(s, t)}"


bars_st = st.dictionaries(
    st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 120)),
    st.tuples(val_strategy, st.integers(0, 500)),
    min_size=1,
    max_size=20,
)


@_settings
@given(bars=bars_st)
def test_resample_conservation(spark, bars):
    """Volume conserves, high/low bound every member, bucket count ≤ rows."""
    ns_min = 60_000_000_000
    rows = [
        (s, m * ns_min, float(p), float(p) + 1, float(p) - 1, float(p) + 0.5, vol)
        for (s, m), (p, vol) in bars.items()
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts_ns long, open double, high double, low double, close double, volume long"
    )
    out = resample_intraday(df, 300).collect()
    assert sum(r.volume for r in out) == sum(v for _, (_, v) in bars.items())
    assert len(out) <= len(rows)
    for r in out:
        members = [
            p for (s, m), (p, _v) in bars.items()
            if s == r.symbol and (m * ns_min) // (300 * 10**9) * 300 * 10**9 == r.ts_ns
        ]
        assert r.high == max(p + 1 for p in members)
        assert r.low == min(p - 1 for p in members)
        assert r.high >= r.open >= r.low and r.high >= r.close >= r.low


docs_st = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@_settings
@given(docs=docs_st)
def test_duplicated_spans_matches_python_model(spark, docs):
    """duplicated_spans vs a brute-force model: for window=3 over a tiny
    alphabet, per-doc window totals and cross-doc duplicated positions."""
    from marketpipe_spark.operators.textclean import duplicated_spans

    W = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_windows, r.n_dup) for r in duplicated_spans(df, window=W).collect()}

    # python model (mirror the operator's tokenizer: split on whitespace runs
    # of the trimmed, lowered text — empty text yields one empty token)
    spans = {}  # doc -> list of span tuples
    for i, toks in enumerate(docs):
        text_toks = " ".join(toks).strip().lower().split()
        if " ".join(toks).strip() == "":
            text_toks = [""]
        if len(text_toks) < W:
            continue
        spans[i] = [tuple(text_toks[j : j + W]) for j in range(len(text_toks) - W + 1)]
    owners = {}
    for i, ss in spans.items():
        for s in ss:
            owners.setdefault(s, set()).add(i)
    want = {
        i: (len(ss), sum(1 for s in ss if len(owners[s]) >= 2)) for i, ss in spans.items()
    }
    assert got == want


@_settings
@given(docs=docs_st)
def test_tfidf_top_terms_matches_python_model(spark, docs):
    """tfidf_top_terms (registry plan, micro-fixed-point) vs a pure-Python
    TF-IDF: same ranking keys (score_micro desc, token) per document."""
    import math as m

    import marketpipe_spark.plans.queries_docs as qd

    rows = [(i, " ".join(toks) if toks else "x") for i, toks in enumerate(docs)]
    # route through a temp view-free path: write parquet and reuse the entry
    import tempfile

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "lang", F.lit("en")
        ).withColumn("source", F.lit("s")).withColumn(
            "n_chars", F.length("text").cast("long")
        ).write.parquet(f"{td}/documents.parquet")
        got = {}
        for r in qd.q_tfidf_top_terms(spark, td).collect():
            got.setdefault(r.doc_id, []).append((r.rk, r.token, r.tf, r.score_micro))

    # python model
    tf = {}
    for i, _ in enumerate(docs):
        toks = rows[i][1].strip().lower().split()
        for tok in toks:
            tf[(i, tok)] = tf.get((i, tok), 0) + 1
    df_ = {}
    for (i, tok), _n in tf.items():
        df_[tok] = df_.get(tok, 0) + 1
    n_docs = float(len(rows))
    per_doc = {}
    for (i, tok), n in tf.items():
        micro = m.floor(n * m.log(n_docs / df_[tok]) * 1000000)
        per_doc.setdefault(i, []).append((tok, n, micro))
    want = {}
    for i, terms in per_doc.items():
        ranked = sorted(terms, key=lambda x: (-x[2], x[0]))[:5]
        want[i] = [(rk + 1, tok, n, micro) for rk, (tok, n, micro) in enumerate(ranked)]
    got_sorted = {k: sorted(v) for k, v in got.items()}
    want_sorted = {k: sorted(v) for k, v in want.items()}
    assert got_sorted == want_sorted


# ---------------------------------------------------------------------------
# KLL sketch: rank error and mass conservation on randomized inputs


@_settings
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=10,
        max_size=600,
    ),
    p=st.sampled_from([0.1, 0.5, 0.9]),
)
def test_kll_rank_error_and_mass_property(spark, vals, p):
    from marketpipe_spark.operators.sketches import kll_partial_sketch, kll_quantiles
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    sk = kll_partial_sketch(df, "value", k=64).cache()
    # Mass conservation holds for ANY input, not just the nice ones.
    assert sk.agg(F.sum("weight")).collect()[0][0] == len(vals)
    est = {r["p"]: r["value"] for r in kll_quantiles(sk, [p]).collect()}
    # Tie-aware rank interval: the estimate's value may carry a large
    # probability atom (duplicates), so the property is that p falls inside
    # [F(v-), F(v)] up to the compaction error bound (loose: levels/k plus
    # discretization on tiny inputs).
    eps = max(0.1, 3.0 / len(vals))
    rank_lo = sum(1 for v in vals if v < est[p]) / len(vals)
    rank_hi = sum(1 for v in vals if v <= est[p]) / len(vals)
    assert rank_lo - eps <= p <= rank_hi + eps


def test_ema_weights_invariants():
    """The inlined MACD weights must behave like truncated EMA weights."""
    from marketpipe_spark.plans.queries_ta import _ema_weights

    for span in (12, 26):
        w = _ema_weights(span)
        a = 2.0 / (span + 1)
        assert len(w) == 40
        assert all(x > 0 for x in w[: span * 2])  # head strictly positive
        assert all(w[i] >= w[i + 1] for i in range(len(w) - 1))  # monotone
        # Leading weight is alpha (scaled 1e6); the retained mass equals
        # 1 - (1-a)^40 (the truncation is renormalized at query time, so
        # this only characterizes the window, it is not an error term).
        assert abs(w[0] - round(1_000_000 * a)) <= 1
        retained = 1.0 - (1.0 - a) ** 40
        assert abs(sum(w) / 1_000_000 - retained) < 0.001


word_st = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Cc", "Cs")),
    min_size=1,
    max_size=12,
)


@_settings
@given(words=st.dictionaries(word_st, st.integers(1, 50), min_size=1, max_size=30),
       n_merges=st.integers(0, 40))
def test_bpe_encoding_lossless_for_any_vocabulary(spark, words, n_merges):
    """For ANY word-frequency table (arbitrary unicode, arbitrary merges),
    training must terminate and encoding must be total and lossless —
    re-joining a word's tokens (EOW stripped) reproduces the word."""
    from marketpipe_spark.operators.tokenizer import EOW, bpe_encode_word, bpe_train

    wf = spark.createDataFrame(list(words.items()), "word string, freq long")
    merges = bpe_train(wf, n_merges=n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        enc = bpe_encode_word(w, ranks)
        assert "".join(enc)[: -len(EOW)] == w
        # a word is never more symbols than characters + the EOW marker
        assert len(enc) <= len(w) + 1


# --- Winnowing (MOSS) guarantees as properties -----------------------------
#
# 1. Coverage: every window of `w` consecutive gram positions contains at
#    least one selected fingerprint (the density guarantee).
# 2. Matching: two documents sharing a run of >= w+k-1 tokens share at
#    least one selected fingerprint VALUE (the detection guarantee) —
#    provided the run's grams don't collide with surrounding context, which
#    disjoint vocabularies ensure here.

_tok = st.integers(min_value=0, max_value=6)


@_settings
@given(
    doc=st.lists(_tok, min_size=3, max_size=40),
    shared=st.lists(st.integers(min_value=100, max_value=104), min_size=6, max_size=12),
    pre1=st.lists(_tok, min_size=0, max_size=8),
    pre2=st.lists(st.integers(min_value=200, max_value=206), min_size=0, max_size=8),
)
def test_winnowing_coverage_and_matching_properties(spark, doc, shared, pre1, pre2):
    from marketpipe_spark.operators.dedup import winnow_fingerprints

    k, w = 3, 4
    texts = [
        (1, " ".join(map(str, doc))),
        (2, " ".join(map(str, pre1 + shared + pre1))),
        (3, " ".join(map(str, pre2 + shared + pre2))),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = winnow_fingerprints(df, k=k, window=w)
    by_doc: dict[int, list] = {}
    fp_vals: dict[int, set] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r.pos)
        fp_vals.setdefault(r.doc_id, set()).add(r.gram_hash)

    # Coverage: for each doc with n >= k tokens, every w-window of gram
    # positions [t, t+w-1] holds a selected position.
    for did, text in texts:
        n_grams = len(text.split()) - k + 1
        if n_grams < 1:
            assert did not in by_doc
            continue
        sel = sorted(by_doc[did])
        assert sel, (did, text)
        for t in range(1, max(n_grams - w + 1, 1) + 1):
            assert any(t <= p <= t + w - 1 for p in sel), (did, t, sel)

    # Matching: docs 2 and 3 share a >= w+k-1 = 6-token run from a vocab
    # disjoint with their prefixes, so they must share a fingerprint value.
    if len(shared) >= w + k - 1:
        assert fp_vals[2] & fp_vals[3], (texts[1], texts[2])


edges_st = st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=14,
)


@_settings
@given(edges=edges_st, rounds=st.integers(1, 4))
def test_bounded_sssp_matches_python_bellman_ford(spark, edges, rounds):
    from marketpipe_spark.operators.graph import bounded_sssp

    wedges = [(u, v, (u + v) % 5 + 1) for u, v in edges]
    df = spark.createDataFrame(wedges, "u long, v long, w long")
    seeds_py = {min(min(u, v) for u, v in edges)}
    seeds = spark.createDataFrame([(s,) for s in seeds_py], "id long")
    got = {r["id"]: r["dist"] for r in bounded_sssp(df, seeds, rounds=rounds).collect()}

    # python reference: bellman-ford limited to `rounds` relaxation rounds
    # over the symmetrized min-weight edge list
    wmap = {}
    for u, v, w in wedges:
        for a, b in ((u, v), (v, u)):
            wmap[(a, b)] = min(w, wmap.get((a, b), w))
    dist = {s: 0 for s in seeds_py}
    for _ in range(rounds):
        new = dict(dist)
        for (a, b), w in wmap.items():
            if a in dist and dist[a] + w < new.get(b, float("inf")):
                new[b] = dist[a] + w
        dist = new
    assert got == dist


@_settings
@given(edges=edges_st, rounds=st.integers(1, 4))
def test_kcore_layers_matches_python_peel(spark, edges, rounds):
    from marketpipe_spark.operators.graph import kcore_layers

    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {
        r["id"]: (r["peel_round"], r["last_deg"])
        for r in kcore_layers(df, k=2, rounds=rounds).collect()
    }

    und = {tuple(sorted(e)) for e in edges}
    nodes = {x for e in und for x in e}
    alive = set(nodes)
    expect = {}
    deg = {}
    for rnd in range(1, rounds + 1):
        deg = {
            x: sum(1 for a, b in und if (a == x and b in alive) or (b == x and a in alive))
            for x in alive
        }
        dropped = {x for x in alive if deg[x] < 2}
        for x in dropped:
            expect[x] = (rnd, deg[x])
        alive -= dropped
    # survivors report their DECISION-TIME degree: the degree they held
    # among the previous round's survivors when the final keep was decided
    # (the operator's documented semantics), not the degree among the
    # final survivor set.
    for x in alive:
        expect[x] = (0, deg[x])
    assert got == expect


# ---------------------------------------------------------------------------
# Lake upsert: randomized batch sequences vs a dict model. upsert_bars is
# the mutation every ingestion path funnels through; its contract is
# keep-last per (symbol, ts_ns) with within-batch later-row-wins, empty
# batches as no-ops, and untouched partitions left intact. The model is a
# plain dict applied batch by batch in order.

_upsert_batch_st = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),          # symbol
        st.integers(min_value=0, max_value=5),  # minute slot (collisions likely)
        st.integers(min_value=1, max_value=99),  # close marker
    ),
    max_size=6,
)


@_settings
@given(batches=st.lists(_upsert_batch_st, min_size=1, max_size=4))
def test_upsert_bars_matches_dict_model(spark, tmp_path_factory, batches):
    from marketpipe_spark.lake import read_bars, upsert_bars

    root = str(tmp_path_factory.mktemp("upsert_lake"))
    DAY = 1_704_153_600_000_000_000
    NS_MIN = 60_000_000_000
    model: dict[tuple, float] = {}
    for i, batch in enumerate(batches):
        rows = [
            (sym, DAY + slot * NS_MIN, 1.0, 2.0, 0.5, float(v), 1)
            for (sym, slot, v) in batch
        ]
        df = spark.createDataFrame(
            rows,
            "symbol string, ts_ns long, open double, high double, low double, "
            "close double, volume long",
        )
        upsert_bars(df, root, "1m", ingest_id=f"job-{i}")
        for sym, slot, v in batch:  # later row in batch order wins
            model[(sym, DAY + slot * NS_MIN)] = float(v)
    if not model:
        import os as _os

        assert not _os.path.exists(_os.path.join(root, "frame=1m"))
        return
    got = {
        (r.symbol, r.ts_ns): r.close
        for r in read_bars(spark, root, frame="1m").collect()
    }
    assert got == model


@_settings
@given(trades=trades_st, quotes=quotes_st, tolerance=st.integers(0, 10))
def test_asof_tolerance_boundary_matches_python_model(spark, trades, quotes, tolerance):
    """Tolerance is INCLUSIVE of left.ts - tolerance (stale means strictly
    older): the boundary class of bug the r6 streaming sweep caught (>= vs >)
    — pinned here against a pure-Python nearest-backward model. Also covers
    equal-timestamp ties (ts domain is 0..40, collisions constant) and empty
    right sides per symbol."""
    tdf = spark.createDataFrame(
        [(s, t, float(v)) for (s, t), v in trades.items()],
        "symbol string, ts_ns long, trade_value double",
    )
    qdf = spark.createDataFrame(
        [(s, t, float(v)) for (s, t), v in quotes.items()] or [("Z", 0, 0.0)],
        "symbol string, ts_ns long, quote_value double",
    )
    got = {
        (r.symbol, r.ts_ns): (r.ts_ns_right, r.quote_value_right)
        for r in asof_join(tdf, qdf, tolerance=tolerance).collect()
    }
    for (s, t), _v in trades.items():
        eligible = [
            (qt, qv)
            for (qs, qt), qv in quotes.items()
            if qs == s and qt <= t and t - qt <= tolerance
        ]
        if eligible:
            qt, qv = max(eligible)
            assert got[(s, t)] == (qt, float(qv)), f"tolerance mismatch at {(s, t)}"
        else:
            assert got[(s, t)] == (None, None), f"stale match leaked at {(s, t)}"


intervals_st = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(0, 40),  # start
        st.integers(1, 25),  # length -> end = start + length (end exclusive)
        st.integers(1, 9),  # payload
    ),
    max_size=10,
)


@_settings
@given(points=trades_st, raw_intervals=intervals_st, slab=st.sampled_from([1, 7, 64]))
def test_interval_join_matches_python_model(spark, points, raw_intervals, slab):
    """interval_join's slab bucketing must be invisible: for any slab width
    (1 = every point its own slab, 7 = intervals straddle slabs, 64 = all in
    one slab) the result equals the brute-force start <= ts < end model —
    including points exactly AT start (kept) and AT end (dropped), and empty
    sides."""
    from marketpipe_spark.operators.asof import interval_join

    pdf = spark.createDataFrame(
        [(s, t, float(v)) for (s, t), v in points.items()],
        "symbol string, ts_ns long, pval double",
    )
    idf = spark.createDataFrame(
        [(s, a, a + ln, float(v)) for s, a, ln, v in raw_intervals]
        or [("Z", 0, 1, 0.0)],
        "symbol string, start_ns long, end_ns long, ival double",
    )
    got = sorted(
        (r.symbol, r.ts_ns, r.start_ns, r.end_ns, r.ival)
        for r in interval_join(pdf, idf, slab=slab).collect()
    )
    want = sorted(
        (s, t, a, a + ln, float(v))
        for (ps, t), _pv in points.items()
        for s, a, ln, v in raw_intervals
        if ps == s and a <= t < a + ln
    )
    assert got == want


bars_skew_st = st.lists(
    st.tuples(
        st.sampled_from(["HOT", "B"]),
        st.integers(0, 300),  # ts
        st.integers(1, 400),  # close (scaled)
        st.integers(0, 30),  # volume (small -> zero-volume rules fire)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),  # unique (symbol, ts): row-frame order well-defined
)


@_settings
@given(rows=bars_skew_st, span=st.sampled_from([1, 7, 64, 1000]))
def test_chunked_trailing_frame_is_invisible(spark, rows, span):
    """validate_bars over skew.chunked_trailing_frame must be bit-identical
    to the single-window plan for ANY chunk span — including span 1 (every
    row its own chunk, everything travels via carries) and a span larger
    than the data (one chunk, no carries). The generated bars are ~90% one
    hot symbol, tiny volumes (so the trailing-10/trailing-20 volume rules
    actually fire), and include lag-boundary rows at chunk edges."""
    from marketpipe_spark.operators.validation import validate_bars

    df = spark.createDataFrame(
        [(s, t, float(c), float(c), float(c), float(c), v) for s, t, c, v in rows],
        "symbol string, ts_ns long, open double, high double, low double, "
        "close double, volume long",
    )
    plain = sorted(map(tuple, validate_bars(df, market_hours=False).collect()))
    chunked = sorted(
        map(tuple, validate_bars(df, market_hours=False, skew_span=span).collect())
    )
    assert chunked == plain


events_skew_st = st.lists(
    st.tuples(
        st.sampled_from(["HOT", "u2"]),
        st.integers(0, 400),  # ts
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),  # unique (user, ts): order well-defined
)


@_settings
@given(rows=events_skew_st, span=st.sampled_from([1, 7, 64, 1000]), gap=st.sampled_from([3, 10]))
def test_chunked_sessionize_matches_plain_and_python_model(spark, rows, span, gap):
    """The two-phase skew-safe sessionizer must be bit-identical to the
    single-window plan for ANY chunk span — span 1 (every timestamp its own
    chunk, every boundary decided via the chunk-summary carry), spans that
    land mid-gap, and a span larger than the data (one chunk, offsets
    degenerate) — and BOTH must match a pure-Python sessionizer. Gaps that
    EQUAL the threshold must not split (strict > semantics, the boundary
    class the r6 streaming sweep caught)."""
    from marketpipe_spark.operators.sessions import session_stats

    df = spark.createDataFrame(list(rows), "user_id string, ts_ns long")

    def run(skew_span):
        out = session_stats(df, key="user_id", ts="ts_ns", gap=gap, skew_span=skew_span)
        return sorted(
            (r.user_id, r.session_seq, r.start_ns, r.end_ns, r.duration_ns, r.n_events)
            for r in out.collect()
        )

    # Pure-Python model: walk each user's sorted timestamps.
    want = []
    by_user: dict[str, list[int]] = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    for u, tss in by_user.items():
        tss.sort()
        seq, cur = 0, []
        for i, t in enumerate(tss):
            if i == 0 or t - tss[i - 1] > gap:
                if cur:
                    want.append((u, seq, cur[0], cur[-1], cur[-1] - cur[0], len(cur)))
                seq += 1
                cur = []
            cur.append(t)
        want.append((u, seq, cur[0], cur[-1], cur[-1] - cur[0], len(cur)))
    want.sort()

    plain = run(None)
    chunked = run(span)
    assert plain == want
    assert chunked == want


# ---------------------------------------------------------------------------
# Link prediction vs a pure-Python scorer: random graphs, every score field
# (cn / ra_micro / jaccard_micro), hub-cap semantics, adjacency exclusion.

edges_st = st.sets(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@_settings
@given(raw=edges_st, cap=st.sampled_from([2, 4, 100]))
def test_link_prediction_matches_python_model(spark, raw, cap):
    from marketpipe_spark.operators.graph import link_prediction

    edges = {(min(a, b), max(a, b)) for a, b in raw}
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {z: len(ns) for z, ns in adj.items()}

    want = {}
    for z, ns in adj.items():  # wedge centers, cap applied
        if deg[z] > cap:
            continue
        ns_sorted = sorted(ns)
        for i, b in enumerate(ns_sorted):
            for c in ns_sorted[i + 1:]:
                if (b, c) in edges:
                    continue
                cn, ra = want.get((b, c), (0, 0))
                want[(b, c)] = (cn + 1, ra + 1_000_000 // deg[z])
    expect = {
        k: (cn, ra, cn * 1_000_000 // (deg[k[0]] + deg[k[1]] - cn))
        for k, (cn, ra) in want.items()
    }

    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {
        (r["b"], r["c"]): (r["cn"], r["ra_micro"], r["jaccard_micro"])
        for r in link_prediction(df, max_center_deg=cap, top_n=10_000).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# snapshot tables: upsert/overwrite composition + CDC vs a dict model

_snap_batch_st = st.dictionaries(
    st.integers(0, 6),
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=2),
    max_size=5,
)

_snap_ops_st = st.lists(
    st.tuples(st.sampled_from(["upsert", "overwrite"]), _snap_batch_st),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(first=_snap_batch_st, ops=_snap_ops_st)
# an upsert that keeps a key's value but not its kept seq is an update
@example(first={}, ops=[("upsert", {0: ["a"]}), ("upsert", {0: ["a", "a"]})])
def test_snapshot_versions_and_cdc_match_dict_model(spark, first, ops):
    """Apply a random op sequence (overwrite bootstrap, then upsert/
    overwrite with intra-batch duplicate values resolved by dedup_order)
    to a real snapshot table AND to a pure-Python keep-last dict model;
    every historical version's read-back and every adjacent-version CDC
    diff must match the model. Covers: empty batches, all-keys-affected,
    none-affected, dup keys in batch, interleaved overwrite resets.

    ``upsert_table`` stores the ``seq`` dedup column as data, so the CDC
    half of the model carries each upserted key's kept ``seq`` too. The
    diff compares the columns of the version's new files: overwrites land
    ``(id, v)``; an upsert lands ``seq`` unless it rewrites a file, whose
    columns it then keeps (and whose other rows then lose ``seq``)."""
    import shutil
    import tempfile

    from marketpipe_spark.snapshots import (
        read_table,
        table_changes,
        upsert_table,
        write_table,
    )

    def _df(batch):
        # one row per (key, i-th value); seq = position, keep-last = max seq
        rows = [(k, v, i) for k, vs in batch.items() for i, v in enumerate(vs)]
        return spark.createDataFrame(rows or [(None, None, None)], "id long, v string, seq long").where(
            "id IS NOT NULL" if not rows else "1=1"
        )

    def _model(batch):
        return {k: vs[-1] for k, vs in batch.items()}

    def _dedup_df(batch):
        # write_table is a RAW commit (no key semantics) — overwrite ops
        # pre-resolve intra-batch dups themselves, like a real caller.
        m = _model(batch)
        return spark.createDataFrame(
            list(m.items()) or [(None, None)], "id long, v string"
        ).where("id IS NOT NULL" if not m else "1=1")

    root = tempfile.mkdtemp(prefix="mp_snap_prop_")
    try:
        states = []  # model state per committed version, index 0 == v1
        write_table(_dedup_df(first), root, mode="overwrite")
        state = dict(_model(first))
        states.append(dict(state))
        for kind, batch in ops:
            if kind == "overwrite":
                write_table(_dedup_df(batch), root, mode="overwrite")
                state = _model(batch)
            else:
                upsert_table(
                    spark, _df(batch), root, keys=["id"], dedup_order="seq"
                )
                state.update(_model(batch))
            states.append(dict(state))

        for i, want in enumerate(states):
            try:
                got = {
                    r["id"]: r["v"]
                    for r in read_table(spark, root, version=i + 1)
                    .select("id", "v")
                    .collect()
                }
            except FileNotFoundError:
                got = {}  # an all-empty version has no data files
            assert got == want, f"v{i+1} read-back != model"

        # key -> the seq values its stored row may hold (None: no seq). Which
        # rows a rewritten file carries is not modelled, so a row that may
        # have lost its seq holds both.
        seqs = {k: {None} for k in states[0]}
        for i, (kind, batch) in enumerate(ops):
            old, new = states[i], states[i + 1]
            want_diff = {}
            for k in set(old) | set(new):
                if k not in old:
                    want_diff[k] = ("insert", new[k])
                elif k not in new:
                    want_diff[k] = ("delete", None)
                elif old[k] != new[k]:
                    want_diff[k] = ("update", new[k])
            try:
                changes = table_changes(spark, root, ["id"], v_from=i + 1, v_to=i + 2)
                rows = changes.collect()
                with_seq = "seq" in changes.schema["_new"].dataType.names
            except FileNotFoundError:
                assert not want_diff or not old or not new
                rows, with_seq = None, False
            either = set()  # keys whose update the model cannot decide
            if kind == "overwrite":
                seqs = {k: {None} for k in new}
            else:
                if not with_seq:
                    seqs = {k: held | {None} for k, held in seqs.items()}
                for k, vs in batch.items():
                    kept = len(vs) - 1 if with_seq else None
                    if k in old and old[k] == new[k] and with_seq and seqs[k] != {kept}:
                        if kept in seqs[k]:
                            either.add(k)
                        else:
                            want_diff[k] = ("update", new[k])
                    seqs[k] = {kept}
            if rows is None:
                continue
            got_diff = {
                r["id"]: (r["_change"], r["_new"]["v"] if r["_new"] else None)
                for r in rows
            }
            # a delete row carries a NULL payload struct field
            got_diff = {
                k: (c, None if c == "delete" else v) for k, (c, v) in got_diff.items()
            }
            for k in either:
                assert got_diff.pop(k, ("update", new[k])) == ("update", new[k])
            assert got_diff == want_diff, f"CDC v{i+1}->v{i+2} != model"
    finally:
        shutil.rmtree(root, ignore_errors=True)


_cow_batches_st = st.lists(
    st.sets(st.integers(0, 5), min_size=1, max_size=3), min_size=2, max_size=4
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(file_keys=_cow_batches_st, batch=st.sets(st.integers(0, 5), min_size=1, max_size=4))
def test_snapshot_upsert_cow_is_file_granular(spark, file_keys, batch):
    """COW granularity invariant: an upsert rewrites EXACTLY the live files
    whose key sets intersect the batch — every other file is carried by
    reference (same path in the next manifest), and the rewritten rows
    equal (survivors ∪ batch) keep-last. Model: per-file key sets."""
    import json
    import os
    import shutil
    import tempfile

    from marketpipe_spark.snapshots import read_table, upsert_table, write_table

    root = tempfile.mkdtemp(prefix="mp_snap_cow_")
    try:
        # One single-file commit per key set (keys can repeat across files;
        # later files win nothing yet — write_table is raw append — so make
        # them disjoint across files to keep per-version key uniqueness).
        seen: set[int] = set()
        per_file: list[set[int]] = []
        for ks in file_keys:
            ks = set(ks) - seen
            if not ks:
                continue
            seen |= ks
            per_file.append(ks)
            write_table(
                spark.createDataFrame(
                    [(k, f"v{k}") for k in sorted(ks)], "id long, v string"
                ).coalesce(1),
                root,
                mode="append",
            )
        if not per_file:
            return
        vN = len(per_file)
        live = json.load(
            open(os.path.join(root, "_snapshots", f"v{vN}.json"))
        )["files"]
        # Map each live file to its key set by reading it back.
        file_of = {}
        for f in live:
            ids = {
                r["id"]
                for r in spark.read.parquet(os.path.join(root, f)).collect()
            }
            file_of[f] = ids
        v2 = upsert_table(
            spark,
            spark.createDataFrame(
                [(k, f"u{k}") for k in sorted(batch)], "id long, v string"
            ),
            root,
            keys=["id"],
        )
        m2 = json.load(open(os.path.join(root, "_snapshots", f"v{v2}.json")))
        carried = set(m2["files"]) & set(live)
        rewritten = set(live) - set(m2["files"])
        for f in live:
            if file_of[f] & batch:
                assert f in rewritten, f"file with matching keys was carried: {f}"
            else:
                assert f in carried, f"key-free file was rewritten: {f}"
        # Read-back = keep-last merge of the model.
        want = {k: f"v{k}" for k in seen}
        want.update({k: f"u{k}" for k in batch})
        got = {r["id"]: r["v"] for r in read_table(spark, root).collect()}
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)
