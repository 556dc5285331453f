"""PageRank operator: golden structures, exactness, and distribution
invariants (the oracle-parity harness covers the registry entry; these pin
the operator's semantics on graphs small enough to reason about)."""

from __future__ import annotations

from pyspark.sql import functions as F

from marketpipe_spark.operators.graph import bipartite_edges, pagerank

SCALE = 1_000_000_000_000


def _scores(df):
    return {r["id"]: r["score"] for r in df.collect()}


def test_pagerank_star_center_dominates(spark):
    # Undirected star: center 0, leaves 1..4. Center receives from every
    # leaf; each leaf only from the center's split mass.
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    s = _scores(pagerank(df, iterations=5))
    assert len(s) == 5
    leaves = [s[i] for i in range(1, 5)]
    assert len(set(leaves)) == 1  # symmetry → identical leaf scores
    assert s[0] > 2 * leaves[0]  # hub authority


def test_pagerank_cycle_is_uniform_and_conserves_mass(spark):
    edges = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    s = _scores(pagerank(df, iterations=4))
    assert len(set(s.values())) == 1  # rotational symmetry
    # deg=1 everywhere → the only losses are the ppm damping truncations:
    # mass stays within a few ppm of scale.
    assert abs(sum(s.values()) - SCALE) < 1_000_000 * 6


def test_pagerank_matches_float_reference(spark):
    # Small directed graph vs a plain float PageRank with the same
    # teleport/damping: integer truncation must not disturb the RANKING.
    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (4, 3), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    s = _scores(pagerank(df, iterations=20))

    nodes = sorted({x for e in edges for x in e})
    deg = {n: sum(1 for a, _ in edges if a == n) for n in nodes}
    fs = {n: 1 / len(nodes) for n in nodes}
    for _ in range(20):
        nxt = {n: 0.15 / len(nodes) for n in nodes}
        for a, b in edges:
            nxt[b] += 0.85 * fs[a] / deg[a]
        fs = nxt
    assert sorted(nodes, key=lambda n: s[n]) == sorted(nodes, key=lambda n: fs[n])
    # and the values agree to ~ppm of scale (truncation is one unit per DIV)
    for n in nodes:
        # node 4 is a source (never a dst): its float mass also decays
        assert abs(s[n] / SCALE - fs[n]) < 1e-3


def test_pagerank_partition_invariant(spark):
    edges = [(i % 17, (i * 7) % 17) for i in range(200) if i % 17 != (i * 7) % 17]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = _scores(pagerank(df, iterations=3))
    b = _scores(pagerank(df.repartition(13, "dst"), iterations=3))
    assert a == b


def test_triangle_stats_k4_and_path(spark):
    from marketpipe_spark.operators.graph import triangle_stats

    # K4: every node has deg 3 and sits in 3 triangles -> lcc exactly 1e6.
    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    df = spark.createDataFrame(k4, "u long, v long")
    rows = {r["id"]: r for r in triangle_stats(df).collect()}
    assert all(
        (rows[i]["deg"], rows[i]["triangles"], rows[i]["lcc_micro"]) == (3, 3, 1_000_000)
        for i in range(4)
    )
    # path 0-1-2-3: no triangles anywhere, lcc 0 (deg<2 endpoints included)
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    prows = triangle_stats(path).collect()
    assert all(r["triangles"] == 0 and r["lcc_micro"] == 0 for r in prows)


def test_triangle_stats_pendant_and_partition_invariance(spark):
    from marketpipe_spark.operators.graph import triangle_stats

    # triangle 0-1-2 plus pendant 3 hanging off 2
    edges = [(0, 1), (0, 2), (1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "u long, v long")
    rows = {r["id"]: r for r in triangle_stats(df).collect()}
    assert rows[0]["triangles"] == rows[1]["triangles"] == rows[2]["triangles"] == 1
    assert rows[3] and rows[3]["triangles"] == 0
    # deg(2)=3 -> lcc = 2*1*1e6 DIV 6 = 333333 (truncating)
    assert rows[2]["lcc_micro"] == 333_333
    assert rows[0]["lcc_micro"] == 1_000_000
    b = {r["id"]: r for r in triangle_stats(df.repartition(7, "v")).collect()}
    assert {k: (v["deg"], v["triangles"], v["lcc_micro"]) for k, v in rows.items()} == {
        k: (v["deg"], v["triangles"], v["lcc_micro"]) for k, v in b.items()
    }


def test_label_propagation_two_cliques_converge_to_min_ids(spark):
    from marketpipe_spark.operators.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique([1, 2, 3]) + clique([10, 11, 12, 13])
    df = spark.createDataFrame(edges, "u long, v long")
    s = {r["id"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    assert {s[1], s[2], s[3]} == {1}
    assert {s[10], s[11], s[12], s[13]} == {10}
    # deterministic under repartitioning
    s2 = {
        r["id"]: r["label"]
        for r in label_propagation(df.repartition(5, "u"), iterations=4).collect()
    }
    assert s == s2


def test_kcore_star_peels_to_empty(spark):
    from marketpipe_spark.operators.graph import kcore_peel

    # star: leaves die in round 1 (deg 1 < 2), the center in round 2.
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    assert kcore_peel(df, k=2, rounds=3).count() == 0


def test_kcore_clique_survives_tail_peels(spark):
    from marketpipe_spark.operators.graph import kcore_peel

    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    tail = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + tail, "u long, v long")
    rows = {r["id"]: r["deg"] for r in kcore_peel(df, k=3, rounds=4).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_auto_threshold_is_avg_degree_ceiling(spark):
    from marketpipe_spark.operators.graph import kcore_peel

    # K4 + disjoint edge: degrees 3,3,3,3,1,1 -> k = ceil(14/6) = 3
    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    df = spark.createDataFrame(k4 + [(10, 11)], "u long, v long")
    rows = {r["id"]: r["deg"] for r in kcore_peel(df, k=None, rounds=3).collect()}
    assert rows == {0: 3, 1: 3, 2: 3, 3: 3}
    # partition invariance
    rows2 = {
        r["id"]: r["deg"]
        for r in kcore_peel(
            spark.createDataFrame(k4 + [(10, 11)], "u long, v long").repartition(5, "u"),
            k=None,
            rounds=3,
        ).collect()
    }
    assert rows == rows2


def test_kcore_layers_star_records_peel_rounds(spark):
    from marketpipe_spark.operators.graph import kcore_layers

    # star k=2: leaves peel in round 1 with deg 1; the center survives
    # round 1 (deg 5) and peels in round 2 isolated (deg 0).
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    rows = {r["id"]: (r["peel_round"], r["last_deg"]) for r in kcore_layers(df, k=2, rounds=3).collect()}
    assert rows[0] == (2, 0)
    assert all(rows[i] == (1, 1) for i in range(1, 6))
    # K4 + tail at k=3: clique survives (peel_round 0, deg 3 at final round)
    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    df2 = spark.createDataFrame(k4 + [(3, 10), (10, 11)], "u long, v long")
    rows2 = {r["id"]: (r["peel_round"], r["last_deg"]) for r in kcore_layers(df2, k=3, rounds=4).collect()}
    assert all(rows2[i] == (0, 3) for i in range(4))
    assert rows2[10] == (1, 2) and rows2[11] == (1, 1)
    # partition invariance
    rows3 = {
        r["id"]: (r["peel_round"], r["last_deg"])
        for r in kcore_layers(df2.repartition(7, "v"), k=3, rounds=4).collect()
    }
    assert rows2 == rows3


def test_khop_reach_path_graph_distances(spark):
    from marketpipe_spark.operators.graph import khop_reach

    # path 0-1-2-3-4-5, seed {0}: hop = index, capped at 3
    edges = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["hop"] for r in khop_reach(df, seeds, hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    # two seeds meet in the middle: min distance wins
    seeds2 = spark.createDataFrame([(0,), (5,)], "id long")
    got2 = {r["id"]: r["hop"] for r in khop_reach(df, seeds2, hops=3).collect()}
    assert got2 == {0: 0, 5: 0, 1: 1, 4: 1, 2: 2, 3: 2}
    # partition invariance
    got3 = {
        r["id"]: r["hop"]
        for r in khop_reach(df.repartition(7, "u"), seeds2, hops=3).collect()
    }
    assert got2 == got3


def test_bounded_sssp_weighted_path(spark):
    from marketpipe_spark.operators.graph import bounded_sssp

    # 0 -5- 1 -1- 2 and direct 0 -10- 2: within 2 rounds the two-edge
    # route (6) beats the direct edge (10); node 3 hangs off 2.
    wedges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 1), (0, 2, 10), (2, 3, 4)], "u long, v long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["dist"] for r in bounded_sssp(wedges, seeds, rounds=2).collect()}
    assert got == {0: 0, 1: 5, 2: 6, 3: 14}
    # one round only: relaxation is bounded — direct edge wins for node 2
    got1 = {r["id"]: r["dist"] for r in bounded_sssp(wedges, seeds, rounds=1).collect()}
    assert got1 == {0: 0, 1: 5, 2: 10}
    # partition invariance
    got2 = {
        r["id"]: r["dist"]
        for r in bounded_sssp(wedges.repartition(7, "v"), seeds, rounds=2).collect()
    }
    assert got == got2


def test_association_rules_exact_micro_math(spark):
    from marketpipe_spark.operators.baskets import capped_basket_arrays, association_rules, capped_baskets

    # baskets: {1,2} x3, {1,3} x1, {2,3} x1  (bk, item) rows
    raw = []
    for bk, items in [(10, [1, 2]), (11, [1, 2]), (12, [1, 2]), (13, [1, 3]), (14, [2, 3])]:
        raw += [(bk, i) for i in items]
    df = spark.createDataFrame(raw, "bk long, item long")
    rules = association_rules(capped_basket_arrays(df, "bk", "item", 8), min_support=2, top_n=10)
    got = {(r["antecedent"], r["consequent"]): r for r in rules.collect()}
    # only the (1,2) pair has support >= 2; n=5 baskets, cnt(1)=4, cnt(2)=4
    assert set(got) == {(1, 2), (2, 1)}
    r = got[(1, 2)]
    assert r["support_cnt"] == 3
    assert r["conf_micro"] == 3 * 1_000_000 // 4  # 750000
    assert r["lift_micro"] == (3 * 1_000_000 // 4) * 5 // 4  # 937500


def test_capped_baskets_keeps_lowest_items(spark):
    from marketpipe_spark.operators.baskets import capped_basket_arrays, capped_baskets

    df = spark.createDataFrame(
        [(1, i) for i in [9, 3, 7, 5, 1]] + [(2, 4)], "bk long, item long"
    )
    kept = {(r["bk"], r["item"]) for r in capped_baskets(df, "bk", "item", 3).collect()}
    assert kept == {(1, 1), (1, 3), (1, 5), (2, 4)}


def test_bipartite_edges_disjoint_namespaces_and_symmetry(spark):
    pairs = spark.createDataFrame([(1, 1), (1, 2), (3, 2)], "c long, p long")
    e = bipartite_edges(pairs, "c", "p")
    rows = {(r["src"], r["dst"]) for r in e.collect()}
    assert (2, 3) in rows and (3, 2) in rows  # c=1 ↔ p=1, both directions
    srcs = {s for s, _ in rows} | {d for _, d in rows}
    assert {x % 2 for x in srcs} == {0, 1}
    assert len(rows) == 6


def test_pin_modes_all_match_and_release(spark, monkeypatch, tmp_path):
    """The three MP_PIN_MODE execution modes (local / persist / reliable)
    must be result-identical across the loop family, persist-mode pins must
    be RELEASED when a loop returns (ADVICE r6: no cached-block accumulation
    across invocations), and reliable mode must actually write checkpoint
    state under MP_CHECKPOINT_DIR (the executor-loss-proof storage)."""
    import os

    from marketpipe_spark.operators.dedup import dedup_clusters
    from marketpipe_spark.operators.graph import khop_reach, label_propagation

    edges = [(i % 29, (i * 11 + 3) % 29) for i in range(150) if i % 29 != (i * 11 + 3) % 29]
    df = spark.createDataFrame(edges, "src long, dst long")
    sym = df.selectExpr("src as u", "dst as v")
    pairs = df.selectExpr("src as id_a", "dst as id_b")
    seeds = spark.createDataFrame([(0,)], "id long")

    def snapshot():
        return (
            _scores(pagerank(df, iterations=3)),
            {(r.id, r.label) for r in label_propagation(sym, iterations=3).collect()},
            {(r.id, r.hop) for r in khop_reach(sym, seeds, hops=2).collect()},
            {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()},
        )

    def disk_only_rdds():
        return {
            rid
            for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
            if rdd.getStorageLevel().useDisk() and not rdd.getStorageLevel().useMemory()
        }

    base = snapshot()

    # Other tests in the shared session may hold legitimate non-loop pins
    # (caller-managed lifetime, e.g. minhash's shingle pin under persist) —
    # the release contract here covers the LOOP operators only, so diff
    # against the pre-existing set.
    pre_existing = disk_only_rdds()
    monkeypatch.setenv("MP_PIN_MODE", "persist")
    assert snapshot() == base
    # Release discipline: no NEW DISK_ONLY pin may survive the loop calls.
    # (localCheckpoint's internal MEMORY_AND_DISK persists are still
    # registered until the ContextCleaner GCs them — those are Spark's to
    # clean; the scoped _pin/_pin_keyed DISK_ONLY frames are ours.)
    leaked = disk_only_rdds() - pre_existing
    assert not leaked, f"DISK_ONLY pins leaked after loop operators: {leaked}"

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("MP_PIN_MODE", "reliable")
    monkeypatch.setenv("MP_CHECKPOINT_DIR", str(ckpt))
    assert snapshot() == base
    assert any(os.scandir(ckpt)), "reliable mode wrote no checkpoint state"


def test_capped_basket_arrays_salted_two_stage_identical(spark):
    """The salt_buckets two-stage cap (mega-basket buffer guard) must be
    result-identical to the single-stage form: winner-preservation means a
    globally-lowest item is also its salt group's lowest, so the merged
    slice reproduces the exact cap. Synthetic mega-basket: one basket holds
    the whole item universe; a second is narrow."""
    from marketpipe_spark.operators.baskets import (
        association_rules,
        capped_basket_arrays,
    )

    rows = [(1, i * 13 % 5000) for i in range(5000)] + [(2, j) for j in (4, 9, 2)]
    df = spark.createDataFrame(rows, "bk long, item long")
    plain = {r.bk: r.items for r in capped_basket_arrays(df, "bk", "item", 8).collect()}
    for s in (1, 4, 64):
        salted = {
            r.bk: r.items
            for r in capped_basket_arrays(df, "bk", "item", 8, salt_buckets=s).collect()
        }
        assert salted == plain, f"salt_buckets={s} diverged"
    assert plain[1] == sorted({i * 13 % 5000 for i in range(5000)})[:8]
    assert plain[2] == [2, 4, 9]
    # downstream consumer parity: association rules over salted arrays
    # match the unsalted plan row-for-row
    plain_rules = association_rules(
        capped_basket_arrays(df, "bk", "item", 8), min_support=1, top_n=20
    ).collect()
    salted_rules = association_rules(
        capped_basket_arrays(df, "bk", "item", 8, salt_buckets=16),
        min_support=1,
        top_n=20,
    ).collect()
    assert sorted(map(tuple, salted_rules)) == sorted(map(tuple, plain_rules))


# ---------------------------------------------------------------------------
# Link prediction (resource-allocation / common-neighbors / Jaccard)


def test_link_prediction_path_scores_endpoints(spark):
    from marketpipe_spark.operators.graph import link_prediction

    # Path 1-2-3: the only non-adjacent pair with a common neighbor is
    # (1, 3) through center 2 (deg 2): ra = 1e6 DIV 2, jaccard = 1e6 DIV
    # (1 + 1 - 1) = 1e6 (their whole neighborhoods coincide).
    e = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    rows = link_prediction(e).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["b"], r["c"], r["cn"]) == (1, 3, 1)
    assert r["ra_micro"] == 1_000_000 // 2
    assert r["jaccard_micro"] == 1_000_000


def test_link_prediction_excludes_existing_edges_and_hub_centers(spark):
    from marketpipe_spark.operators.graph import link_prediction

    # Square with one diagonal: 1-2, 2-3, 3-4, 4-1, 1-3.
    # (2, 4) share centers 1 (deg 3) and 3 (deg 3): cn=2.
    # (1, 3) share 2 and 4 but ARE adjacent -> excluded.
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    e = spark.createDataFrame(sq, "u long, v long")
    rows = {(r["b"], r["c"]): r for r in link_prediction(e).collect()}
    assert (1, 3) not in rows
    assert rows[(2, 4)]["cn"] == 2
    assert rows[(2, 4)]["ra_micro"] == 2 * (1_000_000 // 3)
    # jaccard: |N(2) ∪ N(4)| = 2 + 2 - 2 = 2 -> 1e6
    assert rows[(2, 4)]["jaccard_micro"] == 1_000_000

    # Cap at deg 2: both centers of (2,4) have deg 3 -> pair disappears.
    rows2 = {(r["b"], r["c"]) for r in link_prediction(e, max_center_deg=2).collect()}
    assert (2, 4) not in rows2


def test_link_prediction_partition_invariant(spark):
    from marketpipe_spark.operators.graph import link_prediction

    import random

    rng = random.Random(7)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(30), rng.randrange(30)) for _ in range(120))
                  if a != b})
    e1 = spark.createDataFrame(edges, "u long, v long").repartition(1)
    e2 = spark.createDataFrame(edges, "u long, v long").repartition(13)
    r1 = sorted(map(tuple, link_prediction(e1, top_n=50).collect()))
    r2 = sorted(map(tuple, link_prediction(e2, top_n=50).collect()))
    assert r1 == r2 and len(r1) > 0


# ---------------------------------------------------------------------------
# Personalized PageRank


def test_ppr_seed_mass_localizes(spark):
    from marketpipe_spark.operators.graph import personalized_pagerank

    # Two disjoint symmetric triangles {1,2,3} and {4,5,6}; seed = {1}.
    # All mass must stay in the seed's component; the other triangle is 0.
    tri = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)]
    edges = tri + [(b, a) for a, b in tri]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    s = {r["id"]: r["score"] for r in personalized_pagerank(df, seeds).collect()}
    assert s[4] == s[5] == s[6] == 0
    assert s[1] > s[2] > 0 and s[2] == s[3]  # symmetry around the seed


def test_ppr_matches_python_reference(spark):
    from marketpipe_spark.operators.graph import personalized_pagerank

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (1, 4), (4, 1), (2, 4), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (3,)], "id long")
    got = {r["id"]: r["score"] for r in
           personalized_pagerank(df, seeds, iterations=6).collect()}

    # Pure-Python integer replica of the documented recurrence.
    SCALE, PPM, D = 1_000_000_000_000, 1_000_000, 850_000
    nodes = sorted({x for e in edges for x in e})
    deg = {n: sum(1 for a, _ in edges if a == n) for n in nodes}
    seed_set = {1, 3}
    s0 = SCALE // len(seed_set)
    base = (PPM - D) * s0 // PPM
    s = {n: (s0 if n in seed_set else 0) for n in nodes}
    for _ in range(6):
        acc = {n: 0 for n in nodes}
        for a, b in edges:
            acc[b] += s[a] // deg[a]
        s = {n: (base if n in seed_set else 0) + acc[n] * D // PPM for n in nodes}
    assert got == s


def test_ppr_rejects_disconnected_seed_set(spark):
    import pytest as _pytest

    from marketpipe_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "id long")
    with _pytest.raises(ValueError):
        personalized_pagerank(df, seeds)


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality


def test_hyperball_small_balls_near_exact(spark):
    from marketpipe_spark.operators.graph import hyperball_harmonic

    # Path 0-1-2-...-9. Balls are tiny vs m=32, so linear counting is in
    # its high-accuracy regime: est within ~15% of the exact ball size.
    e = spark.createDataFrame([(i, i + 1) for i in range(9)], "u long, v long")
    rows = {r["id"]: r for r in hyperball_harmonic(e, rounds=3).collect()}
    assert len(rows) == 10
    # middle node 5: ball(3) = {2..8} = 7 nodes
    assert abs(rows[5]["ball_x1000"] - 7000) < 1100
    # endpoint 0: ball(3) = {0,1,2,3} = 4 nodes
    assert abs(rows[0]["ball_x1000"] - 4000) < 700


def test_hyperball_array_state_matches_row_form_reference(spark):
    """The register state is one array row per node (0 = empty slot); this
    pins the array internals — one-hot init, element-wise MAX merge,
    empty-slot filtering before the estimate — against an independent
    row-form reference computed in Python for a graph whose balls saturate
    mid-rounds (triangle + pendant), at every round's estimate."""
    from marketpipe_spark.operators.dedup import _hash64
    from marketpipe_spark.operators.graph import HB_RHO_CAP, hyperball_harmonic
    from marketpipe_spark.operators.sketches import hll_estimate
    from pyspark.sql import functions as F

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    e = spark.createDataFrame(edges, "u long, v long")
    got = {r["id"]: r for r in hyperball_harmonic(e, rounds=2).collect()}

    # Row-form reference: per-node register dict, dense max propagation.
    p, m = 5, 32
    max_rho = 60 - p + 1
    hv = {
        r["id"]: r["h"]
        for r in spark.createDataFrame([(i,) for i in range(4)], "id long")
        .select("id", _hash64(F.col("id").cast("string"), None, "md5_60").alias("h"))
        .collect()
    }
    regs = {}
    for i, h in hv.items():
        w = h >> p
        rho = min(HB_RHO_CAP, max_rho if w == 0 else max_rho - w.bit_length())
        regs[i] = {h & (m - 1): rho}
    adj = {0: [1, 2], 1: [0, 2], 2: [0, 1, 3], 3: [2]}
    snaps = [dict((i, dict(r)) for i, r in regs.items())]
    for _ in range(2):
        nxt = {i: dict(r) for i, r in regs.items()}
        for u, nbrs in adj.items():
            for v in nbrs:
                for b, rho in regs[u].items():
                    if rho > nxt[v].get(b, 0):
                        nxt[v][b] = rho
        regs = nxt
        snaps.append(dict((i, dict(r)) for i, r in regs.items()))
    ests = []
    for snap in snaps:
        rows = [(i, b, r) for i, d in snap.items() for b, r in d.items()]
        df = spark.createDataFrame(rows, "id long, bucket long, reg long")
        ests.append(
            {r["id"]: r["hll_est_x1000"] for r in hll_estimate(df, ["id"], p, 697_000).collect()}
        )
    for i in range(4):
        ball = ests[2][i]
        harm = max(0, ests[1][i] - ests[0][i]) // 1 + max(0, ests[2][i] - ests[1][i]) // 2
        assert got[i]["ball_x1000"] == ball, (i, got[i], ball)
        assert got[i]["harmonic_x1000"] == harm, (i, got[i], harm)


def test_hyperball_star_hub_most_central(spark):
    from marketpipe_spark.operators.graph import hyperball_harmonic

    edges = [(0, i) for i in range(1, 13)]
    e = spark.createDataFrame(edges, "u long, v long")
    rows = {r["id"]: r for r in hyperball_harmonic(e, rounds=2).collect()}
    hub, leaves = rows[0], [rows[i] for i in range(1, 13)]
    # hub reaches everything in 1 hop; leaves pay 1/2 for 11 of 12 others
    assert all(hub["harmonic_x1000"] > l["harmonic_x1000"] for l in leaves)
    assert len({l["harmonic_x1000"] for l in leaves}) == 1  # symmetry


def test_hyperball_partition_invariant(spark):
    from marketpipe_spark.operators.graph import hyperball_harmonic

    import random

    rng = random.Random(11)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(150))
                  if a != b})
    e1 = spark.createDataFrame(edges, "u long, v long").repartition(1)
    e2 = spark.createDataFrame(edges, "u long, v long").repartition(17)
    r1 = sorted(map(tuple, hyperball_harmonic(e1, rounds=2).collect()))
    r2 = sorted(map(tuple, hyperball_harmonic(e2, rounds=2).collect()))
    assert r1 == r2 and len(r1) > 0


# ---------------------------------------------------------------------------
# Deterministic random walks


def test_walks_conservation_and_partition_invariance(spark):
    from marketpipe_spark.operators.graph import deterministic_walks

    import random

    rng = random.Random(3)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(25), rng.randrange(25)) for _ in range(80))
                  if a != b})
    nodes = {x for e in edges for x in e}
    W_, L_ = 2, 4
    e1 = spark.createDataFrame(edges, "u long, v long").repartition(1)
    e2 = spark.createDataFrame(edges, "u long, v long").repartition(9)
    r1 = sorted(map(tuple, deterministic_walks(e1, W_, L_).collect()))
    r2 = sorted(map(tuple, deterministic_walks(e2, W_, L_).collect()))
    assert r1 == r2
    # walks never die: every position of every walk is counted exactly once
    assert sum(v for _, v in r1) == len(nodes) * W_ * (L_ + 1)


def test_walks_follow_the_documented_hash_rule(spark):
    from marketpipe_spark.operators.dedup import _hash64  # noqa: F401  (documented family)
    import hashlib

    from marketpipe_spark.operators.graph import deterministic_walks

    # Tiny fixed graph; replicate the walk in pure Python and compare
    # visit counts exactly.
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    adj = {z: sorted(ns) for z, ns in adj.items()}

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    W_, L_ = 2, 4
    visits: dict[int, int] = {}
    for start in adj:
        for w in range(W_):
            cur = start
            visits[cur] = visits.get(cur, 0) + 1
            for s in range(1, L_ + 1):
                ns = adj[cur]
                cur = ns[h60(f"{start}:{w}:{s}:{cur}") % len(ns)]
                visits[cur] = visits.get(cur, 0) + 1

    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["id"]: r["visits"] for r in deterministic_walks(df, W_, L_).collect()}
    assert got == visits


def test_basket_triples_enumerates_all_combinations(spark):
    from itertools import combinations

    from marketpipe_spark.operators.baskets import (
        basket_triples,
        capped_basket_arrays,
        frequent_triples,
    )

    rows = [(1, i) for i in (5, 3, 9, 1)] + [(2, i) for i in (7, 7, 2)] + [(3, 4)]
    df = spark.createDataFrame(rows, "bk long, item long")
    arrays = capped_basket_arrays(df, "bk", "item", 10)
    got = sorted(tuple(r) for r in basket_triples(arrays).collect())
    want = sorted(combinations(sorted({5, 3, 9, 1}), 3))  # bk 2/3 too small
    assert got == [tuple(t) for t in want]

    # The cap keeps the LOWEST items: with cap 3 only (1, 3, 5) survives.
    capped = capped_basket_arrays(df, "bk", "item", 3)
    got3 = [tuple(r) for r in basket_triples(capped).collect()]
    assert got3 == [(1, 3, 5)]

    # frequent_triples ranking is (support desc, a, b, c) with min support.
    many = spark.createDataFrame(
        [(b, i) for b in range(4) for i in (1, 2, 3)]  # (1,2,3) x4
        + [(b, i) for b in range(10, 12) for i in (1, 2, 4)],  # (1,2,4) x2
        "bk long, item long",
    )
    top = frequent_triples(
        capped_basket_arrays(many, "bk", "item", 5), min_support=2, top_n=1
    ).collect()
    assert [tuple(r) for r in top] == [(1, 2, 3, 4)]


def test_hits_matches_integer_reference(spark):
    from marketpipe_spark.operators.graph import hits

    # Bipartite: hub u1 points at 3 parts, u2 at 1 of them.
    edges = [(1, 10), (1, 11), (1, 12), (2, 10)]
    SCALE, IT = 10_000, 4

    def ref():
        nodes = sorted({x for e in edges for x in e})
        n = len(nodes)
        h = {v: SCALE for v in nodes}
        a = {}
        for _ in range(IT):
            ra = {v: 0 for v in nodes}
            for s, d in edges:
                ra[d] += h[s]
            tot = sum(ra.values())
            a = {v: ra[v] * n * SCALE // tot for v in nodes}
            rh = {v: 0 for v in nodes}
            for s, d in edges:
                rh[s] += a[d]
            tot = sum(rh.values())
            h = {v: rh[v] * n * SCALE // tot for v in nodes}
        return {v: (h[v], a[v]) for v in nodes}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(df, iterations=IT, scale=SCALE).collect()}
    assert got == ref()
    # Sanity: the 3-edge hub dominates; the doubly-cited part is top authority.
    assert got[1][0] > got[2][0]
    assert got[10][1] > got[11][1]
    # Pure hubs have zero authority, pure authorities zero hub.
    assert got[1][1] == 0 and got[10][0] == 0


def test_pagerank_weighted_uniform_equals_plain(spark):
    from marketpipe_spark.operators.graph import pagerank, pagerank_weighted

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    plain = {r["id"]: r["score"] for r in pagerank(e, iterations=4).collect()}
    ew = e.withColumn("w", e.src * 0 + 1)
    wtd = {r["id"]: r["score"] for r in pagerank_weighted(ew, iterations=4).collect()}
    # Unit weights: score * 1 DIV outdeg == score DIV outdeg — bit-identical.
    assert wtd == plain

    # Non-uniform weights shift mass: double the 1->3 edge and node 3 must
    # gain strictly over its uniform score while node 2 loses.
    ew2 = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 3, 3), (4, 1, 1)],
        "src long, dst long, w long",
    )
    wtd2 = {r["id"]: r["score"] for r in pagerank_weighted(ew2, iterations=4).collect()}
    assert wtd2[3] > wtd[3] and wtd2[2] < wtd[2]


def test_pagerank_weighted_guards(spark, monkeypatch):
    """r8 ADVICE: empty edge list and NULL/non-positive weights fail loudly
    instead of ZeroDivisionError / silent NULL propagation, and the pins
    taken before the guard raised are released — by pagerank_weighted and
    by the guards of pagerank and personalized_pagerank too."""
    import pytest

    from marketpipe_spark.operators.graph import pagerank, pagerank_weighted, personalized_pagerank

    def disk_only_rdds():
        return {
            rid
            for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
            if rdd.getStorageLevel().useDisk() and not rdd.getStorageLevel().useMemory()
        }

    pre_existing = disk_only_rdds()
    monkeypatch.setenv("MP_PIN_MODE", "persist")
    empty = spark.createDataFrame([], "src long, dst long, w long")
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank_weighted(empty, iterations=1)
    bad = spark.createDataFrame([(1, 2, 0), (2, 1, 3)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="positive"):
        pagerank_weighted(bad, iterations=1)
    null_w = spark.createDataFrame([(1, 2, None)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="positive"):
        pagerank_weighted(null_w, iterations=1)
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(empty.select("src", "dst"), iterations=1)
    no_seed = spark.createDataFrame([(9,)], "id long")
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(bad.select("src", "dst"), no_seed, iterations=1)
    leaked = disk_only_rdds() - pre_existing
    assert not leaked, f"DISK_ONLY pins leaked by the raising calls: {leaked}"


def test_hits_renorm_bound_enforced(spark):
    """(N*scale)^2 must fit int64: an unsafe scale raises instead of
    silently wrapping (r8 ADVICE: the old docstring claimed 9.2e12)."""
    import pytest

    from marketpipe_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="overflow"):
        hits(e, iterations=1, scale=2_000_000_000)  # 3 nodes * 2e9 > bound
    out = {r["id"]: r for r in hits(e, iterations=1).collect()}
    assert len(out) == 3  # default scale is safe here
