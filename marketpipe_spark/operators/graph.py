"""Iterative graph centrality — PageRank over an edge list.

The registry's graph coverage so far is connectivity (``dedup_clusters``'s
min-label connected components); this adds the other canonical dataflow
graph algorithm: fixed-iteration PageRank, the scoring pass a curation
pipeline runs over a link / co-occurrence / co-purchase graph to pick
authoritative nodes (CommonCrawl-style harmonic/PageRank domain ranking).

Everything is INTEGER arithmetic so the result is bit-stable across
engines, partitionings, and summation orders (the registry's parity bar):
scores are fixed-point fractions of ``scale`` (default 1e12), every
division is truncating integer ``DIV``, and the damping split is ppm.
Doubles never appear — ``sum(score DIV deg) * damping_ppm`` reaches ~8.5e17,
past double's 2^53 exact-integer range, so float math here would not just
risk parity, it would lose real bits.

Scale design (100 TB): per iteration exactly one shuffle join of the score
vector against the (pinned) degree-annotated edge list on ``src`` plus one
hash aggregation on ``dst`` — the textbook distributed PageRank step, linear
in |E| per round with map-side partial sums. The edge list is pinned once
(``_pin``: localCheckpoint, or DISK_ONLY persist under ``MP_PIN_MODE=persist``)
and each iteration's score frame is checkpointed (``_pin_state``:
localCheckpoint, or reliable ``df.checkpoint()`` under
``MP_PIN_MODE=reliable`` — the executor-loss-proof mode) so plans do not
nest across rounds. No driver-side collection of nodes or edges; the only
driver scalar is |N| (one count, needed as a literal in the init/teleport
expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (  # noqa: F401
    BROADCAST_STATE_MAX_NODES,
    _pin,
    _pin_keyed,
    _pin_state,
    _release,
    _state,
)

PPM = 1_000_000

# Per-round state frames (scores, labels, survivor/frontier/distance sets)
# are NODE-sized but surface from localCheckpoint with unknown statistics;
# `_state` (shared with dedup_clusters, see dedup.BROADCAST_STATE_MAX_NODES)
# broadcast-hints them below the 5M-node gate so the pinned edge list is
# never re-shuffled or re-sorted per round (measured: 4 exchanges + 2 sorts
# per round -> 1 exchange). Beyond the gate: plain shuffle joins.


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    Returns ``(id, score)`` for every node appearing in ``edges``; scores
    are fixed-point fractions of ``scale``. Semantics (replicated literally
    by the SQL oracle):

    - ``s0(v) = scale DIV n`` for all ``n`` distinct nodes;
    - each round, ``v`` sends ``s(v) DIV outdeg(v)`` along every out-edge;
    - ``s'(u) = base + (sum of arrivals) * damping_ppm DIV 1e6`` with
      ``base = (1e6 - damping_ppm) * (scale DIV n) DIV 1e6`` (teleport);
      nodes with no in-edges keep just ``base``.

    Sink handling: nodes that appear only as ``dst`` have no out-edges and
    leak their mass (the "dangling mass is dropped" PageRank variant) —
    callers wanting the symmetric variant pass an edge list with both
    directions, as :func:`bipartite_edges` does, where no node is a sink.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # NOTE (measured, not assumed): pre-partitioning before a
    # localCheckpoint does NOT help — the checkpoint surfaces as `Scan
    # ExistingRDD` with UNKNOWN output partitioning, so EnsureRequirements
    # re-exchanges regardless (verified with an explicit plan check:
    # repartition+checkpoint join still plans 2 exchanges). `_pin_keyed`
    # therefore only co-partitions under MP_PIN_MODE=persist, where the
    # persisted plan KEEPS its outputPartitioning and the per-round
    # exchange on this (big) side disappears — the cluster upgrade path;
    # scripts/graph_plan_probe.py records the exchange counts per mode.
    pins: list = []
    try:
        ed = _pin_keyed(e.join(deg, "src"), "src", scope=pins)
        # Derive the node set from the PINNED edge frame, not from `e`: ed
        # carries every edge row, so the id sets are identical — but reading
        # the pinned blocks makes this pin a cheap distinct instead of a
        # second full evaluation of the corpus-scale edge distinct (two
        # separate pin jobs cannot share exchanges, so the old form ran the
        # edge dedup twice; guide §2.4). Same r11 change across the loop
        # family (ppr/hits/weighted/hyperball/walks).
        nodes = _pin_keyed(
            ed.select(F.col("src").alias("id"))
            .unionByName(ed.select(F.col("dst").alias("id")))
            .distinct(),
            "id",
            scope=pins,
        )
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty edge list (no nodes)")
        s0 = scale // n
        base = (PPM - damping_ppm) * s0 // PPM

        scores = nodes.withColumn("score", F.lit(s0).cast("long"))
        for _ in range(iterations):
            arrived = (
                ed.join(_state(scores, n), ed.src == scores.id)
                .select("dst", F.expr("score DIV deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("acc"))
            )
            scores = (
                nodes.join(_state(arrived, n), nodes.id == arrived.dst, "left_outer")
                .select(
                    "id",
                    (
                        F.lit(base)
                        + F.expr(f"coalesce(acc, 0L) * {damping_ppm} DIV {PPM}")
                    ).cast("long").alias("score"),
                )
            )
            scores = _pin_state(scores)
    finally:
        _release(pins)
    return scores


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 5,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
    n_nodes_sql: str | None = None,
) -> str:
    """DuckDB CTE chain reproducing :func:`pagerank` literally, one unrolled
    CTE per iteration (``s0`` .. ``s{iterations}``). ``edges_sql`` must
    select ``src, dst``; the caller embeds the result after its own WITH
    clauses. |N| cannot be inlined as a Python literal (it depends on the
    scale factor), so ``s0``/``base`` are computed with the same integer
    expressions over a one-row ``cnt`` CTE.
    """
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, dg.deg FROM e JOIN dg USING (src))",
        "nd AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd)",
        f"k AS (SELECT {scale} // n AS s0, ({PPM} - {damping_ppm}) * ({scale} // n) // {PPM} AS base FROM cnt)",
        "s0 AS (SELECT id, (SELECT s0 FROM k) AS s FROM nd)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""s{i} AS (
  SELECT nd.id,
         CAST((SELECT base FROM k)
              + COALESCE(x.acc, 0) * {damping_ppm} // {PPM} AS BIGINT) AS s
  FROM nd LEFT JOIN (
    SELECT ed.dst AS id, CAST(SUM(p.s // ed.deg) AS BIGINT) AS acc
    FROM ed JOIN s{i - 1} p ON ed.src = p.id GROUP BY ed.dst
  ) x USING (id)
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, s AS score FROM s{iterations}"


def cooccurrence_edges(arrays: DataFrame) -> DataFrame:
    """Distinct undirected item–item edges (``u < v``) from capped
    ``(bk, items)`` basket ARRAYS (:func:`baskets.capped_basket_arrays`).
    Pair enumeration is the map-side array expression — no self-join; the
    cap bounds the per-basket fan-out at C(cap, 2), same contract as the
    r5 join form (the unchanged oracles prove the equivalence)."""
    from .baskets import basket_pairs

    return basket_pairs(arrays).distinct()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected edge list (either orientation accepted; canonicalized to ``u < v`` internally).

    Degree-ordered enumeration (the scalable standard): each edge is
    oriented from its lower-(degree, id) endpoint to the higher, so every
    node's oriented out-neighborhood is bounded (~sqrt(|E|)) and the wedge
    join cannot blow up on hub nodes — the textbook skew bound. Each
    triangle is found exactly once (at its lowest-ranked vertex) and then
    attributed to all three corners via a 3-way explode.

    Returns ``(id, deg, triangles, lcc_micro)`` for every node;
    ``lcc_micro = 2 * triangles * 1e6 DIV (deg * (deg-1))`` (truncating,
    0 when deg < 2) — exact int64 as long as deg <= ~2e6 (beyond that the
    numerator would overflow; a 100 TB caller with larger hubs should cap
    degrees upstream the way the LSH paths cap buckets).
    """
    e = _pin(
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )  # canonicalize: tolerate either-orientation duplicates in the input
    deg = _pin(
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    # orient lower (deg, id) -> higher (deg, id)
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eo = _pin(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("da"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    e1 = eo.select(
        F.col("a").alias("w_a"), F.col("b").alias("w_b"),
        F.col("db").alias("w_db"),
    )
    e2 = eo.select(
        F.col("a").alias("w_a"), F.col("b").alias("w_c"),
        F.col("db").alias("w_dc"),
    )
    # The wedge join is compute-dense but byte-tiny (|E| two-long rows in,
    # sum C(outdeg, 2) rows out), so AQE's byte-based coalescing folds it
    # onto one task (measured at sf0.1). spread_on repartitions both sides
    # on the join key with an explicit count AQE won't re-coalesce — the
    # join's own required distribution, guarded to a no-op at scale.
    # Triangle counts are partition-independent, so results are unchanged.
    from .similarity import spread_on

    e1 = spread_on(e1, "w_a")
    e2 = spread_on(e2, "w_a")
    wedges = e1.join(e2, "w_a").where(
        (F.col("w_db") < F.col("w_dc"))
        | ((F.col("w_db") == F.col("w_dc")) & (F.col("w_b") < F.col("w_c")))
    )
    closing = eo.select(F.col("a").alias("w_b"), F.col("b").alias("w_c"))
    # The semi-join probe side is the WEDGE stream — the largest
    # intermediate of the whole pass (sum_a C(outdeg(a), 2) rows). Left to
    # the planner it became Exchange + Sort + SortMergeJoin LeftSemi on
    # the wedges (the pinned closing side has no stats, so auto-broadcast
    # never fires). The closing side is only |E| two-long rows: broadcast
    # it through the size-gated `_state` helper (same 5M-row gate +
    # MP_BROADCAST_STATE_MAX_NODES override as every iterative loop here;
    # above the gate it degrades to the shuffle form, never an OOM). The
    # count runs over the already-pinned canonical edge frame. Measured
    # at sf0.1: exec 13.3 s -> see OPTIMIZATION_r10.md §14.
    from .dedup import _state

    n_edges = e.count()
    tri = wedges.join(_state(closing, n_edges), ["w_b", "w_c"], "left_semi")
    per_node = (
        tri.select(
            F.explode(F.array("w_a", "w_b", "w_c")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "id", "left_outer")
        .select(
            "id",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "2 * coalesce(triangles, 0) * 1000000 DIV (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )


def triangle_oracle_sql(edges_sql: str) -> str:
    """CTE list reproducing :func:`triangle_stats`; ``edges_sql`` selects
    distinct ``u, v`` with ``u < v``. Exposes ``tstats(id, deg, triangles,
    lcc_micro)``."""
    return f"""te AS (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}) GROUP BY 1, 2),
tdeg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS id FROM te UNION ALL SELECT v FROM te) GROUP BY id
),
teo AS (
  SELECT CASE WHEN fwd THEN u ELSE v END AS a,
         CASE WHEN fwd THEN du ELSE dv END AS da,
         CASE WHEN fwd THEN v ELSE u END AS b,
         CASE WHEN fwd THEN dv ELSE du END AS db
  FROM (
    SELECT te.u, te.v, x.deg AS du, y.deg AS dv,
           (x.deg < y.deg OR (x.deg = y.deg AND te.u < te.v)) AS fwd
    FROM te JOIN tdeg x ON te.u = x.id JOIN tdeg y ON te.v = y.id
  )
),
ttri AS (
  SELECT w.a, w.b, w.c FROM (
    SELECT p.a, p.b AS b, q.b AS c, p.db, q.db AS dc
    FROM teo p JOIN teo q ON p.a = q.a
    WHERE p.db < q.db OR (p.db = q.db AND p.b < q.b)
  ) w
  WHERE EXISTS (SELECT 1 FROM teo z WHERE z.a = w.b AND z.b = w.c)
),
tper AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM (SELECT a AS id FROM ttri UNION ALL SELECT b FROM ttri UNION ALL SELECT c FROM ttri)
  GROUP BY id
),
tstats AS (
  SELECT d.id, d.deg,
         CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
         CAST(CASE WHEN d.deg >= 2
              THEN 2 * COALESCE(p.triangles, 0) * 1000000 // (d.deg * (d.deg - 1))
              ELSE 0 END AS BIGINT) AS lcc_micro
  FROM tdeg d LEFT JOIN tper p ON d.id = p.id
)"""


def kcore_peel(
    edges: DataFrame, k: int | None = None, rounds: int = 6
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list.

    Each round drops every surviving node whose degree AMONG SURVIVORS is
    below ``k``; after ``rounds`` rounds the result is the R-round peel
    (equal to the true k-core once a round removes nothing). ``k=None``
    derives the threshold from the graph itself — the ceiling of the
    average degree, ``(2|E| + |N| - 1) DIV |N|`` — so the peel stays live
    at any corpus scale instead of hard-coding a degree that a 100 TB
    graph would make degenerate (everything or nothing surviving).

    Returns ``(id, deg)`` for surviving nodes, where ``deg`` is the node's
    degree among the previous round's survivors (the quantity the final
    keep-decision was made on — identical on both engines by definition).

    Scale: per round two semi-joins of the (pinned) symmetric edge list
    against the survivor set plus one hash aggregation — linear in |E|;
    survivor frames are checkpointed so plans do not nest. The only driver
    scalars are |N| and 2|E| (two counts, used to derive ``k``).
    """
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )  # canonicalize: tolerate either-orientation duplicates in the input
    pins: list = []
    sym = _pin_keyed(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "u",
        scope=pins,
    )
    alive = _pin(sym.select(F.col("u").alias("id")).distinct(), scope=pins)
    n = alive.count()
    if k is None:
        m = sym.count()  # == 2|E|
        k = (m + n - 1) // n
    out = alive.withColumn("deg", F.lit(None).cast("long"))
    for _ in range(rounds):
        au = _state(out.select(F.col("id").alias("u")), n)
        av = _state(out.select(F.col("id").alias("v")), n)
        out = _pin_state(
            sym.join(au, "u", "left_semi")
            .join(av, "v", "left_semi")
            .groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
        )
    _release(pins)  # result is materialized (eager state pin) — pins done
    return out


def kcore_layers(
    edges: DataFrame, k: int | None = None, rounds: int = 6
) -> DataFrame:
    """Onion decomposition: the round at which each node is peeled.

    Runs the same fixed-round peel as :func:`kcore_peel` but returns EVERY
    node with ``(id, peel_round, last_deg)``: ``peel_round`` is the round
    (1-based) in which the node's survivor-degree first fell below ``k``
    (0 if it survived all ``rounds``), and ``last_deg`` is the degree it
    held among the previous round's survivors when that decision was made
    (0 for a node isolated by earlier peels). Unlike the bare core — which
    is legitimately EMPTY on near-regular graphs peeled at the average
    degree — the layer assignment is a non-degenerate statistic on any
    graph, so a correctness oracle over it exercises every round's join
    logic even when the final core is empty.

    Scale: identical per-round cost to :func:`kcore_peel` (two semi-joins
    + one hash agg on the pinned symmetric edge list), plus ``rounds``
    id->deg left joins at the end — each at most node-cardinality and
    shuffle-partitioned on the same id key.
    """
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )  # canonicalize: tolerate either-orientation duplicates in the input
    pins: list = []
    sym = _pin_keyed(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "u",
        scope=pins,
    )
    # The node set is consumed after the loop too (the final layer joins):
    # pin it as STATE (eager) so it is already materialized when the
    # loop-invariant pins are released below.
    alive = _pin_state(sym.select(F.col("u").alias("id")).distinct())
    n = alive.count()
    if k is None:
        m = sym.count()  # == 2|E|
        k = (m + n - 1) // n
    degs = []  # per-round survivor-degree frames d1..d{rounds}
    surv = alive
    for _ in range(rounds):
        au = _state(surv.select(F.col("id").alias("u")), n)
        av = _state(surv.select(F.col("id").alias("v")), n)
        d = _pin_state(
            sym.join(au, "u", "left_semi")
            .join(av, "v", "left_semi")
            .groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        degs.append(d)
        surv = d.where(F.col("deg") >= k)
    _release(pins)  # every d{i} + alive is materialized — sym is done
    out = alive
    for i, d in enumerate(degs, start=1):
        out = out.join(
            d.select("id", F.col("deg").alias(f"d{i}")), "id", "left_outer"
        )
    peel = F.lit(0)
    last = F.col(f"d{rounds}")
    # build the CASE from the last round backwards so round 1 wins
    for i in range(rounds, 0, -1):
        dropped = F.col(f"d{i}").isNull() | (F.col(f"d{i}") < F.lit(k))
        peel = F.when(dropped, F.lit(i)).otherwise(peel)
        last = F.when(dropped, F.coalesce(F.col(f"d{i}"), F.lit(0))).otherwise(last)
    return out.select(
        "id",
        peel.cast("long").alias("peel_round"),
        last.cast("long").alias("last_deg"),
    )


def kcore_layers_oracle_sql(edges_sql: str, rounds: int = 6) -> str:
    """CTE list reproducing :func:`kcore_layers` with ``k=None``: unrolled
    per-round survivor-degree CTEs ``d1..d{rounds}`` left-joined back onto
    the node set with the identical first-drop CASE; exposes
    ``layers(id, peel_round, last_deg)``. Every CTE is ``MATERIALIZED``:
    each ``d{{i}}`` is consumed by both ``s{{i}}`` and the final layer
    joins, so DuckDB's default CTE inlining would re-evaluate the whole
    round chain exponentially (2^rounds) without it."""
    parts = [
        f"ke AS MATERIALIZED (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}) GROUP BY 1, 2)",
        "ks AS MATERIALIZED (SELECT u, v FROM ke UNION ALL SELECT v AS u, u AS v FROM ke)",
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM ks)",
        "kv AS MATERIALIZED (SELECT ((SELECT COUNT(*) FROM ks) + (SELECT COUNT(*) FROM a0) - 1)"
        " // (SELECT COUNT(*) FROM a0) AS k)",
    ]
    for i in range(1, rounds + 1):
        prev = "a0" if i == 1 else f"s{i - 1}"
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT ks.u AS id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM ks
  WHERE ks.u IN (SELECT id FROM {prev}) AND ks.v IN (SELECT id FROM {prev})
  GROUP BY ks.u
)"""
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT id, deg FROM d{i} WHERE deg >= (SELECT k FROM kv))"
        )
    drop = [
        f"WHEN d{i}.deg IS NULL OR d{i}.deg < (SELECT k FROM kv)" for i in range(1, rounds + 1)
    ]
    peel = " ".join(
        f"{w} THEN {i}" for i, w in enumerate(drop, start=1)
    )
    last = " ".join(
        f"{w} THEN COALESCE(d{i}.deg, 0)" for i, w in enumerate(drop, start=1)
    )
    joins = " ".join(
        f"LEFT JOIN d{i} ON a0.id = d{i}.id" for i in range(1, rounds + 1)
    )
    parts.append(
        f"""layers AS (
  SELECT a0.id,
         CAST(CASE {peel} ELSE 0 END AS BIGINT) AS peel_round,
         CAST(CASE {last} ELSE d{rounds}.deg END AS BIGINT) AS last_deg
  FROM a0 {joins}
)"""
    )
    return ",\n".join(parts)


def khop_reach(edges: DataFrame, seeds: DataFrame, hops: int = 3) -> DataFrame:
    """Breadth-first reachability: minimum hop distance (<= ``hops``) from a
    seed set over an undirected edge list.

    The frontier-expansion loop every distributed BFS uses: per hop one
    semi-join of the pinned symmetric edge list against the current
    frontier (neighbors), one anti-join against the visited set (novelty),
    and a checkpointed union. Work per hop is O(edges incident to the
    frontier); the visited set is the only growing state and it is bounded
    by the node count. ``seeds`` is a DataFrame with an ``id`` column.

    Returns ``(id, hop)`` for every node reachable within ``hops`` hops,
    ``hop`` being the true BFS distance (0 for seeds) — deterministic
    regardless of partitioning because a node joins the visited set at the
    first hop that reaches it, and hops are sequential.
    """
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )  # canonicalize: tolerate either-orientation duplicates in the input
    pins: list = []
    sym = _pin_keyed(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "u",
        scope=pins,
    )
    # Loop STATE must truncate lineage every round in EVERY pin mode: under
    # MP_PIN_MODE=persist a lineage-keeping pin would nest each round's plan
    # into the next (measured: per-round stage count ballooned 9 -> 21).
    # Lazy (eager=False) pins here: the whole hop chain materializes in one
    # job at the caller's first action instead of one job per hop.
    visited = _pin_state(
        seeds.select("id").distinct().withColumn("hop", F.lit(0).cast("long")),
        eager=False,
    )
    n = sym.select(F.col("u").alias("id")).distinct().count()
    frontier = visited.select("id")
    for i in range(1, hops + 1):
        nbrs = (
            sym.join(_state(frontier.withColumnRenamed("id", "u"), n), "u", "left_semi")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        new = nbrs.join(_state(visited.select("id"), n), "id", "left_anti")
        visited = _pin_state(
            visited.unionByName(new.withColumn("hop", F.lit(i).cast("long"))),
            eager=False,
        )
        frontier = new
    if pins:
        # persist mode: the lazy hop chain references the pinned edge list —
        # materialize the result while the pins are still cached, THEN free
        # them (otherwise each hop's join would recompute sym on first use).
        visited = _pin_state(visited)
        _release(pins)
    return visited


def khop_reach_oracle_sql(edges_sql: str, seeds_sql: str, hops: int = 3) -> str:
    """CTE list reproducing :func:`khop_reach`: MATERIALIZED per-hop
    frontier/visited CTEs (each is consumed twice — novelty anti-join and
    union — so default inlining would re-expand the chain exponentially);
    exposes ``reach(id, hop)``. ``seeds_sql`` must select ``id``."""
    parts = [
        f"ge AS MATERIALIZED (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}) GROUP BY 1, 2)",
        "gs AS MATERIALIZED (SELECT u, v FROM ge UNION ALL SELECT v AS u, u AS v FROM ge)",
        f"v0 AS MATERIALIZED (SELECT DISTINCT id, CAST(0 AS BIGINT) AS hop FROM ({seeds_sql}))",
        "f0 AS MATERIALIZED (SELECT id FROM v0)",
    ]
    for i in range(1, hops + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT DISTINCT gs.v AS id FROM gs"
            f" WHERE gs.u IN (SELECT id FROM f{i - 1}))"
        )
        parts.append(
            f"f{i} AS MATERIALIZED (SELECT id FROM n{i}"
            f" WHERE id NOT IN (SELECT id FROM v{i - 1}))"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT id, hop FROM v{i - 1}"
            f" UNION ALL SELECT id, CAST({i} AS BIGINT) AS hop FROM f{i})"
        )
    parts.append(f"reach AS (SELECT id, hop FROM v{hops})")
    return ",\n".join(parts)


def bounded_sssp(
    wedges: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Bounded single-source(-set) shortest paths: minimum total edge
    weight from a seed set using at most ``rounds`` edges — fixed-round
    Bellman-Ford relaxation over the min-plus semiring (the weighted
    counterpart of :func:`khop_reach`'s hop counting).

    ``wedges`` is an UNDIRECTED weighted edge list ``(u, v, w)`` with
    integer weights (symmetrized internally); ``seeds`` has an ``id``
    column. Each round relaxes every edge out of the currently-reached
    set (one shuffle join + one min aggregation over the union with the
    previous distances) — linear in |E| per round, the textbook dataflow
    SSSP step. Distances are exact integer sums, so the per-round MIN is
    order- and partition-independent.

    Returns ``(id, dist)`` for every node reachable within ``rounds``
    edges (0 for seeds).
    """
    e = (
        wedges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"), "w"
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))  # canonicalized: min weight across duplicates/orientations
    )
    pins: list = []
    sym = _pin_keyed(
        e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        ),
        "u",
        scope=pins,
    )
    # dist is loop STATE: lineage-truncate every round in every pin mode
    # (see khop_reach note; lazy pins — one materializing job at the end).
    dist = _pin_state(
        seeds.select("id").distinct().withColumn("dist", F.lit(0).cast("long")),
        eager=False,
    )
    n = sym.select(F.col("u").alias("id")).distinct().count()
    for _ in range(rounds):
        cand = (
            sym.join(_state(dist.withColumnRenamed("id", "u"), n), "u")
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = _pin_state(
            dist.unionByName(cand).groupBy("id").agg(F.min("dist").alias("dist")),
            eager=False,
        )
    if pins:
        # persist mode: materialize the lazy relax chain before freeing the
        # pinned edge list it references (see khop_reach note).
        dist = _pin_state(dist)
        _release(pins)
    return dist


def bounded_sssp_oracle_sql(
    wedges_sql: str, seeds_sql: str, rounds: int = 4
) -> str:
    """CTE list reproducing :func:`bounded_sssp`: MATERIALIZED per-round
    relax/min CTEs (each distance frame is consumed by both the next
    relax join and the min union, so default CTE inlining would re-expand
    the chain exponentially); exposes ``sdist(id, dist)``. ``wedges_sql``
    must select ``u, v, w``; ``seeds_sql`` must select ``id`` and may
    reference the ``ws`` symmetric edge CTE."""
    parts = [
        f"wde AS MATERIALIZED (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v,"
        f" CAST(MIN(w) AS BIGINT) AS w FROM ({wedges_sql}) GROUP BY 1, 2)",
        "ws AS MATERIALIZED (SELECT u, v, w FROM wde"
        " UNION ALL SELECT v AS u, u AS v, w FROM wde)",
        f"wd0 AS MATERIALIZED (SELECT DISTINCT id, CAST(0 AS BIGINT) AS dist"
        f" FROM ({seeds_sql}))",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"wc{i} AS MATERIALIZED (SELECT ws.v AS id, d.dist + ws.w AS dist"
            f" FROM ws JOIN wd{i - 1} d ON ws.u = d.id)"
        )
        parts.append(
            f"wd{i} AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM"
            f" (SELECT id, dist FROM wd{i - 1} UNION ALL SELECT id, dist FROM wc{i})"
            f" GROUP BY id)"
        )
    parts.append(f"sdist AS (SELECT id, dist FROM wd{rounds})")
    return ",\n".join(parts)


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected edge list, deterministic by construction.

    Every node starts labeled with its own id. Each round, node ``v``'s
    votes are its neighbors' current labels plus its own (the self-vote
    damps the flip-flop oscillation synchronous LPA is known for); the new
    label is the smallest label among those with maximal count — a total
    order, so the result is independent of partitioning and schedule,
    unlike classic async LPA. Fixed ``iterations`` rounds.

    Scale: per round one shuffle join of labels against the (pinned)
    symmetric edge list plus one count aggregation and one per-node
    argmax — linear in |E|; label frames are checkpointed between rounds
    so plans do not nest. Returns ``(id, label)``.
    """
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )  # canonicalize: tolerate either-orientation duplicates in the input
    pins: list = []
    sym = _pin_keyed(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        "v",
        scope=pins,
    )
    # initial labels are round-0 STATE (consumed only by the loop)
    labels = _pin_state(
        sym.select(F.col("u").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
    )
    n = labels.count()
    # The per-round (id, label) vote count is the loop's one EDGE-scale
    # aggregation, and its exchange is byte-tiny (two longs/row), so AQE's
    # byte-based coalescing folds it onto ~3 tasks at sf0.1 while the
    # count work is per-edge CPU. When the pinned edge frame itself has
    # fewer partitions than the cluster (the coarse-input regime — probed
    # ONCE on the materialized pin, no job), repartition the vote rows on
    # the full groupBy key with an explicit count AQE won't re-coalesce:
    # measured 8.0 -> 6.5 s on copurchase_communities, labels identical.
    # (A broader variant — re-pinning the edge frame itself spread to
    # cluster parallelism — measured WORSE on every loop entry (e.g.
    # pagerank 4.3 -> 8.4 s): the extra pin materialization plus 32-task
    # overhead on node-scale rounds exceeds the map-parallelism gain.)
    P = sym.sparkSession.sparkContext.defaultParallelism
    spread_votes = sym.rdd.getNumPartitions() < P
    for _ in range(iterations):
        nbr = (
            sym.join(_state(labels, n), sym.v == labels.id)
            .select(F.col("u").alias("id"), "label")
        )
        allv = nbr.unionByName(labels.select("id", "label"))
        if spread_votes:
            allv = allv.repartition(P, F.col("id"), F.col("label"))
        votes = allv.groupBy("id", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = _pin_state(
            votes.groupBy("id")
            .agg(F.expr("max_by(label, struct(cnt, -label))").alias("label"))
        )
    _release(pins)  # result is materialized (eager state pin) — pins done
    return labels


def label_propagation_oracle_sql(edges_sql: str, iterations: int = 4) -> str:
    """CTE list reproducing :func:`label_propagation` with one unrolled CTE
    per round (``l0`` .. ``l{iterations}``); exposes the final labels as
    ``l{iterations}(id, label)``."""
    parts = [
        f"le AS (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}) GROUP BY 1, 2)",
        "ls AS (SELECT u, v FROM le UNION ALL SELECT v AS u, u AS v FROM le)",
        "l0 AS (SELECT DISTINCT u AS id, u AS label FROM ls)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""l{i} AS (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
    FROM (
      SELECT id, label, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT ls.u AS id, p.label FROM ls JOIN l{i - 1} p ON ls.v = p.id
        UNION ALL SELECT id, label FROM l{i - 1}
      ) GROUP BY id, label
    )
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


def bipartite_edges(
    pairs: DataFrame, left: str, right: str
) -> DataFrame:
    """Symmetric edge list for a bipartite relation: left nodes get even ids
    (``2*key``), right nodes odd (``2*key+1``) so the two key spaces cannot
    collide, and every pair is emitted in both directions (no sinks, so
    :func:`pagerank` conserves mass up to integer truncation)."""
    lid = (F.col(left).cast("long") * 2).alias("src")
    rid = (F.col(right).cast("long") * 2 + 1).alias("dst")
    fwd = pairs.select(lid, rid)
    rev = pairs.select(
        (F.col(right).cast("long") * 2 + 1).alias("src"),
        (F.col(left).cast("long") * 2).alias("dst"),
    )
    return fwd.unionByName(rev)


def link_prediction(
    edges: DataFrame,
    max_center_deg: int = 32,
    top_n: int = 100,
) -> DataFrame:
    """Neighborhood-overlap link prediction over an undirected edge list:
    score every NON-adjacent pair that shares at least one common neighbor
    with common-neighbor count, resource-allocation index (Zhou/Lu/Zhang
    2009 — RA outperforms Adamic-Adar because the 1/deg weight decays
    faster than 1/log deg), and Jaccard neighborhood overlap; return the
    deterministic top ``top_n``.

    Integer semantics (bit-stable across engines/partitionings):
    ``ra_micro = sum over common neighbors z of 1e6 DIV deg(z)``;
    ``jaccard_micro = cn * 1e6 DIV (deg(b) + deg(c) - cn)``. The top-N
    order (ra_micro DESC, cn DESC, b, c) is total — (b, c) is unique.

    Skew bound (the triangle_stats concern inverted): wedges are
    enumerated at their CENTER, whose fan-out is C(deg, 2) — a hub center
    would be quadratic, so centers with ``deg > max_center_deg`` are
    EXCLUDED (not truncated: a partial neighbor list would make ``cn``
    partition-dependent). That is also the semantically standard cut —
    a hub's RA contribution is at most 1e6/deg, vanishing exactly when
    the enumeration cost explodes. ``cn`` therefore counts common
    neighbors of degree <= the cap while ``deg(b)``/``deg(c)`` in the
    Jaccard denominator stay TRUE degrees; the oracle replicates both
    choices literally. Plan: one hash agg to per-center sorted neighbor
    arrays (buffer <= cap), map-side pair enumeration (the PAIRS_EXPR
    pattern — no self-join materializes), one hash agg on (b, c), an
    anti-join against the edge list, and a TakeOrderedAndProject.
    """
    e = _pin(
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )
    adj = e.select(F.col("u").alias("z"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("z"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = (
        adj.join(deg.where(F.col("deg") <= max_center_deg), "z")
        .groupBy("z", "deg")
        .agg(F.sort_array(F.collect_set("nb")).alias("nbs"))
    )
    pairs = centers.select(
        "deg",
        F.explode(
            F.expr(
                "flatten(transform(nbs, (x, i) -> "
                "transform(slice(nbs, i + 2, size(nbs)), "
                "y -> struct(x AS b, y AS c))))"
            )
        ).alias("p"),
    ).select("p.b", "p.c", F.expr("1000000 DIV deg").alias("ra"))
    cand = (
        pairs.groupBy("b", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("ra").cast("long").alias("ra_micro"),
        )
        .join(e, (F.col("b") == e.u) & (F.col("c") == e.v), "left_anti")
    )
    db = deg.select(F.col("z").alias("b"), F.col("deg").alias("db"))
    dc = deg.select(F.col("z").alias("c"), F.col("deg").alias("dc"))
    scored = (
        cand.join(db, "b")
        .join(dc, "c")
        .select(
            "b",
            "c",
            "cn",
            "ra_micro",
            F.expr("cn * 1000000 DIV (db + dc - cn)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )
    return scored.orderBy(
        F.desc("ra_micro"), F.desc("cn"), "b", "c"
    ).limit(top_n)


def link_prediction_oracle_sql(
    edges_sql: str, max_center_deg: int = 32
) -> str:
    """CTE list reproducing :func:`link_prediction` scoring; ``edges_sql``
    selects ``u, v`` (either orientation). Exposes
    ``lp_scored(b, c, cn, ra_micro, jaccard_micro)``; the caller appends
    its own ORDER BY / LIMIT (total order: ra_micro DESC, cn DESC, b, c).
    """
    return f"""lp_e AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql})),
lp_adj AS (SELECT u AS z, v AS nb FROM lp_e UNION ALL SELECT v, u FROM lp_e),
lp_deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM lp_adj GROUP BY z),
lp_w AS (
  SELECT a.nb AS b, c.nb AS c, d.deg
  FROM lp_adj a JOIN lp_adj c ON a.z = c.z AND a.nb < c.nb
  JOIN lp_deg d ON d.z = a.z
  WHERE d.deg <= {max_center_deg}
),
lp_cand AS (
  SELECT b, c, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(1000000 // deg) AS BIGINT) AS ra_micro
  FROM lp_w GROUP BY b, c
),
lp_non AS (
  SELECT lp_cand.* FROM lp_cand
  ANTI JOIN lp_e ON lp_cand.b = lp_e.u AND lp_cand.c = lp_e.v
),
lp_scored AS (
  SELECT b, c, cn, ra_micro,
         CAST(cn * 1000000 // (db.deg + dc.deg - cn) AS BIGINT) AS jaccard_micro
  FROM lp_non JOIN lp_deg db ON db.z = lp_non.b
              JOIN lp_deg dc ON dc.z = lp_non.c
)"""


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Seeded (personalized) PageRank: identical integer recurrence to
    :func:`pagerank` except ALL teleport mass returns to the seed set —
    the relevance-propagation pass behind "related items" recommendation
    and seed-expansion curation (pick documents/domains near a trusted
    seed list).

    Semantics (replicated literally by the SQL oracle):

    - ``s0(v) = scale DIV |S|`` for seeds, 0 elsewhere;
    - each round ``s'(u) = [u in S] * base + (arrivals) * damping DIV 1e6``
      with ``base = (1e6 - damping_ppm) * (scale DIV |S|) DIV 1e6``.

    Same per-round shape as :func:`pagerank` (one shuffle join against the
    pinned degree-annotated edge list + one hash agg); sinks drop mass, so
    symmetric inputs (e.g. a co-occurrence graph emitted in both
    directions) conserve it up to truncation. Seeds not present in the
    edge list are ignored (they could neither send nor receive).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pins: list = []
    try:
        ed = _pin_keyed(e.join(deg, "src"), "src", scope=pins)
        sd = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
        # Node ids from the PINNED ed (identical id set; see pagerank) — the
        # nodes pin reads materialized blocks instead of re-running the edge
        # distinct as a second corpus pass.
        nodes = _pin_keyed(
            ed.select(F.col("src").alias("id"))
            .unionByName(ed.select(F.col("dst").alias("id")))
            .distinct()
            .join(sd.withColumn("_seed", F.lit(1)), "id", "left_outer")
            .select("id", F.coalesce("_seed", F.lit(0)).alias("is_seed")),
            "id",
            scope=pins,
        )
        n = nodes.count()
        ns = nodes.where(F.col("is_seed") == 1).count()
        if ns == 0:
            raise ValueError("personalized_pagerank: no seed appears in the edge list")
        s0 = scale // ns
        base = (PPM - damping_ppm) * s0 // PPM

        scores = nodes.select(
            "id",
            F.when(F.col("is_seed") == 1, F.lit(s0))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score"),
        )
        for _ in range(iterations):
            arrived = (
                ed.join(_state(scores, n), ed.src == scores.id)
                .select("dst", F.expr("score DIV deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("acc"))
            )
            scores = (
                nodes.join(_state(arrived, n), nodes.id == arrived.dst, "left_outer")
                .select(
                    "id",
                    (
                        F.when(F.col("is_seed") == 1, F.lit(base)).otherwise(F.lit(0))
                        + F.expr(f"coalesce(acc, 0L) * {damping_ppm} DIV {PPM}")
                    ).cast("long").alias("score"),
                )
            )
            scores = _pin_state(scores)
    finally:
        _release(pins)
    return scores


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    iterations: int = 4,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
) -> str:
    """CTE list reproducing :func:`personalized_pagerank` literally, one
    unrolled CTE per iteration; ``edges_sql`` selects ``src, dst``,
    ``seeds_sql`` selects ``id``. Exposes ``pp{iterations}(id, s)``."""
    parts = [
        f"pp_e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "pp_dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM pp_e GROUP BY src)",
        "pp_ed AS (SELECT pp_e.src, pp_e.dst, pp_dg.deg FROM pp_e JOIN pp_dg USING (src))",
        f"pp_sd AS (SELECT DISTINCT id FROM ({seeds_sql}))",
        "pp_nd AS (SELECT id, CASE WHEN id IN (SELECT id FROM pp_sd) THEN 1 ELSE 0 END AS is_seed "
        "FROM (SELECT src AS id FROM pp_e UNION SELECT dst FROM pp_e))",
        "pp_cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM pp_nd WHERE is_seed = 1)",
        f"pp_k AS (SELECT {scale} // ns AS s0, ({PPM} - {damping_ppm}) * ({scale} // ns) // {PPM} AS base FROM pp_cnt)",
        "pp0 AS (SELECT id, is_seed, CASE WHEN is_seed = 1 THEN (SELECT s0 FROM pp_k) ELSE 0 END AS s FROM pp_nd)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""pp{i} AS (
  SELECT pp_nd.id, pp_nd.is_seed,
         CAST(CASE WHEN pp_nd.is_seed = 1 THEN (SELECT base FROM pp_k) ELSE 0 END
              + COALESCE(x.acc, 0) * {damping_ppm} // {PPM} AS BIGINT) AS s
  FROM pp_nd LEFT JOIN (
    SELECT pp_ed.dst AS id, CAST(SUM(p.s // pp_ed.deg) AS BIGINT) AS acc
    FROM pp_ed JOIN pp{i - 1} p ON pp_ed.src = p.id GROUP BY pp_ed.dst
  ) x USING (id)
)"""
        )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# HyperBall — neighborhood function + harmonic centrality via per-node HLL
# registers (Boldi & Vigna 2013, "In-Core Computation of Geometric
# Centralities with HyperBall"). THE way centrality is computed on graphs
# too big for all-pairs BFS: each node keeps an HLL sketch of its ball,
# each round the ball absorbs the neighbors' sketches (per-bucket MAX — the
# HLL merge), and |ball(t)| - |ball(t-1)| estimates the nodes at exactly
# distance t, giving harmonic centrality sum_t |at distance t| / t.
# Composes the repo's two scalable primitives: the sketches.py HLL
# estimator and the pagerank-style pinned per-round join+agg loop.

HB_RHO_CAP = 51  # keeps 52 - reg >= 1 so the exact-integer 2^(52-reg)
#                  harmonic sum stays in int64 at ANY p; the cap only fires
#                  with probability 2^-(cap - log2(m)) per key (never at
#                  these corpus sizes) and both engines apply it identically.


def hyperball_harmonic(
    edges: DataFrame,
    rounds: int = 3,
    p: int = 5,
    alpha_ppm: int = 697_000,
    family: str = "md5_60",
) -> DataFrame:
    """Per-node ball-size estimate at ``rounds`` hops and harmonic
    centrality over an undirected edge list (either orientation accepted).

    Returns ``(id, ball_x1000, harmonic_x1000)``: ``ball_x1000`` is the
    HLL estimate (milli-units) of nodes within ``rounds`` hops (self
    included), ``harmonic_x1000 = sum_t greatest(0, est_t - est_{t-1})
    DIV t`` — the clamp absorbs the raw/linear-counting regime switch,
    which is not strictly monotone even though the registers are.

    Exactness: registers are md5_60 bucket/rho pairs (``HB_RHO_CAP``), the
    estimate is sketches.hll_estimate's micro-floored integer pipeline
    (``alpha_ppm`` must match ``m = 2**p``: 697000 for m=32), so every
    value is engine- and partition-exact and the SQL oracle replicates the
    whole loop literally.

    Scale: state is ONE array row per node (``regs[m]``, 0 = empty — real
    registers are >= 1), so each round joins the (pinned,
    co-partitionable) adjacency against |V| rows and aggregates with m
    element-wise MAX functions (map-side partial combine bounds the
    shuffle at |V| arrays per task). The earlier row-per-register state
    made the join fan out deg * occupied-buckets rows — ~40M three-long
    rows per round at sf0.1 — and the per-row machinery, not bytes, was
    the measured cost: the array form ran the identical loop 73.5 s ->
    29.7 s (rounds 2+3: 57 s -> 7 s) with 0 differing output rows.
    Per-round register DELTA propagation (Boldi & Vigna's systolic trick)
    was also prototyped and REJECTED: on this dense co-purchase graph
    83-100% of registers still change in every round before saturation,
    so the anti-join bookkeeping cost more than the re-sends it saved
    (110 s vs 73.5 s). m trades accuracy (sigma ~ 1.04/sqrt(m)) against
    the array width.
    """
    from .dedup import _hash64

    m = 1 << p
    max_rho = 60 - p + 1
    e = edges.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    pins: list = []
    ad = _pin_keyed(adj, "src", scope=pins)
    # Node ids from the PINNED ad (same rows as adj) — a cheap distinct
    # over materialized blocks instead of a second corpus-scale adjacency
    # build (see pagerank).
    nodes = _pin_keyed(ad.select(F.col("src").alias("id")).distinct(), "id", scope=pins)

    from .sketches import hll_estimate

    h = _hash64(F.col("id").cast("string"), None, family)
    w = F.shiftright(h, p)
    rho = F.least(
        F.lit(HB_RHO_CAP),
        F.when(w == F.lit(0).cast("long"), F.lit(max_rho)).otherwise(
            F.lit(max_rho) - F.length(F.bin(w))
        ),
    )
    # One-hot initial array: regs[i] = rho at the node's own bucket, 0
    # elsewhere. 0 is a safe empty marker because every real register is
    # >= 1 (rho >= 1 by construction), so element-wise MAX over arrays is
    # exactly the per-(id, bucket) MAX over present register rows.
    init = F.expr(
        f"transform(sequence(0, {m - 1}), "
        "i -> CASE WHEN i = _b THEN _r ELSE CAST(0 AS BIGINT) END)"
    )
    regs = _pin_state(
        nodes.select(
            "id",
            h.bitwiseAND(F.lit(m - 1)).alias("_b"),
            rho.cast("long").alias("_r"),
        ).select("id", init.alias("regs"))
    )

    def _est(regs_arr: DataFrame, alias: str) -> DataFrame:
        # hll_estimate consumes the row form; exploding the array and
        # dropping empty slots reproduces the register multiset exactly
        # (a slot is > 0 iff some ball member hashed to that bucket).
        rows = regs_arr.select(
            "id", F.posexplode("regs").alias("bucket", "reg")
        ).filter(F.col("reg") > 0)
        return hll_estimate(rows, ["id"], p, alpha_ppm).select(
            "id", F.col("hll_est_x1000").alias(alias)
        )

    ests = [_est(regs, "e0")]
    elem_max = F.array(*[F.max(F.col("regs")[i]) for i in range(m)]).alias("regs")
    for t in range(1, rounds + 1):
        moved = ad.join(regs, ad.src == regs.id).select(
            F.col("dst").alias("id"), "regs"
        )
        regs = _pin_state(
            regs.unionByName(moved).groupBy("id").agg(elem_max)
        )
        ests.append(_est(regs, f"e{t}"))
    out = nodes
    for fr in ests:
        out = out.join(fr, "id")
    harm = " + ".join(
        f"(greatest(CAST(0 AS BIGINT), e{t} - e{t - 1}) DIV {t})"
        for t in range(1, rounds + 1)
    )
    res = out.select(
        "id",
        F.col(f"e{rounds}").alias("ball_x1000"),
        F.expr(harm).cast("long").alias("harmonic_x1000"),
    )
    res = _pin_state(res)  # materialize before releasing the pinned inputs
    _release(pins)
    return res


def hyperball_oracle_sql(
    edges_sql: str,
    rounds: int = 3,
    p: int = 5,
    alpha_ppm: int = 697_000,
) -> str:
    """CTE list reproducing :func:`hyperball_harmonic` literally (register
    init, per-round merge, per-round estimate, harmonic sum); ``edges_sql``
    selects ``u, v``. Exposes ``hb_out(id, ball_x1000, harmonic_x1000)``."""
    m = 1 << p
    max_rho = 60 - p + 1

    def est(r: int) -> str:
        return f"""hb_a{r} AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS nr,
         CAST(SUM(1::BIGINT << CAST(52 - reg AS INTEGER)) AS BIGINT) AS s_nonzero
  FROM hb_r{r} GROUP BY id
),
hb_e{r} AS (
  SELECT id,
         CASE WHEN ({m} - nr) > 0 AND raw_x1000 <= {2500 * m} THEN lin_x1000
              ELSE raw_x1000 END AS e{r}
  FROM (
    SELECT id, nr,
           CAST(FLOOR(CAST({alpha_ppm}::BIGINT * {m * m} AS DOUBLE) * 4503599627370496.0
                      / CAST(s_nonzero + ({m} - nr) * (1::BIGINT << 52) AS DOUBLE)
                      / 1000.0) AS BIGINT) AS raw_x1000,
           CAST(FLOOR({float(m)} * ln({float(m)} / CAST(greatest({m} - nr, 1) AS DOUBLE))
                      * 1000.0) AS BIGINT) AS lin_x1000
    FROM hb_a{r})
)"""

    parts = [
        f"hb_eg AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}))",
        "hb_adj AS (SELECT u AS src, v AS dst FROM hb_eg UNION ALL SELECT v, u FROM hb_eg)",
        "hb_nd AS (SELECT DISTINCT src AS id FROM hb_adj)",
        "hb_h AS (SELECT id, CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM hb_nd)",
        f"""hb_r0 AS (
  SELECT id, h & {m - 1} AS bucket,
         CAST(LEAST({HB_RHO_CAP},
                    CASE WHEN (h >> {p}) = 0 THEN {max_rho}
                         ELSE {max_rho} - length(bin(h >> {p})) END) AS BIGINT) AS reg
  FROM hb_h)""",
        est(0),
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""hb_r{r} AS (
  SELECT id, bucket, MAX(reg) AS reg FROM (
    SELECT id, bucket, reg FROM hb_r{r - 1}
    UNION ALL
    SELECT a.dst AS id, x.bucket, x.reg
    FROM hb_adj a JOIN hb_r{r - 1} x ON a.src = x.id
  ) GROUP BY id, bucket)"""
        )
        parts.append(est(r))
    harm = " + ".join(
        f"greatest(0, hb_e{t}.e{t} - hb_e{t - 1}.e{t - 1}) // {t}"
        for t in range(1, rounds + 1)
    )
    joins = " ".join(f"JOIN hb_e{t} USING (id)" for t in range(1, rounds + 1))
    parts.append(
        f"""hb_out AS (
  SELECT id, hb_e{rounds}.e{rounds} AS ball_x1000,
         CAST({harm} AS BIGINT) AS harmonic_x1000
  FROM hb_e0 {joins})"""
    )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# Deterministic random walks — the walk-corpus generator behind
# DeepWalk/node2vec-style graph embeddings (Perozzi 2014 / Grover 2016):
# sample fixed-length walks from every node, feed the visit sequences to a
# skip-gram trainer. The "randomness" is the repo's cross-engine parity
# hash (the dsir_resample / bootstrap precedent): the step choice is a pure
# md5_60 function of (start, walk, step, current node), so the walk corpus
# is bit-identical on any engine or partitioning — reproducible training
# data, and an exact SQL oracle.


def deterministic_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    steps: int = 4,
    family: str = "md5_60",
) -> DataFrame:
    """Per-node visit counts over a deterministic walk corpus.

    From EVERY node, ``walks_per_node`` walks of ``steps`` hops; at each
    hop the walker at ``cur`` moves to neighbor #``md5_60(start:w:s:cur)
    % deg(cur) + 1`` under the (ascending neighbor id) index — uniform
    over neighbors, deterministic everywhere. Returns ``(id, visits)``
    counting every position including starts, so ``sum(visits) =
    |V| * walks_per_node * (steps + 1)`` — a live conservation invariant.

    Scale: walk state is ``|V| * walks_per_node`` rows ALWAYS (walks never
    die — every node in an edge list has deg >= 1). Each hop is one
    broadcast-gated join against the node-sized degree table (computes the
    neighbor index) + ONE two-key equi-join (cur, idx) against the pinned
    indexed adjacency — no per-hop fan-out: the index equality selects
    exactly one neighbor row per walker BEFORE any filter.
    """
    from .dedup import _hash64

    e = edges.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    adj = e.select(F.col("u").alias("z"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("z"), F.col("u").alias("nb"))
    )
    from pyspark.sql.window import Window as W

    pins: list = []
    ia = _pin_keyed(
        adj.select(
            "z",
            "nb",
            F.row_number().over(W.partitionBy("z").orderBy("nb")).cast("long").alias("idx"),
        ),
        "z",
        scope=pins,
    )
    # Degrees from the PINNED indexed adjacency (same rows as adj, plus
    # idx) — the dg pin aggregates materialized blocks instead of
    # re-running the corpus-scale adjacency build a second time (see
    # pagerank).
    dg = _pin_keyed(
        ia.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("deg")),
        "z",
        scope=pins,
    )
    n = dg.count()

    ws = [F.lit(w).alias("w") for w in range(walks_per_node)]
    state = dg.select(F.col("z").alias("start")).select(
        "start", F.explode(F.array(*ws)).alias("w")
    ).select("start", "w", F.col("start").alias("cur"))
    state = _pin_state(state)
    visits = [state.select(F.col("cur").alias("id"))]
    for s in range(1, steps + 1):
        key = F.concat_ws(
            ":",
            F.col("start").cast("string"),
            F.col("w").cast("string"),
            F.lit(str(s)),
            F.col("cur").cast("string"),
        )
        stepped = (
            state.join(_state(dg, n), state.cur == dg.z)
            .select(
                "start",
                "w",
                "cur",
                (F.pmod(_hash64(key, None, family), F.col("deg")) + 1).alias("_idx"),
            )
            .join(ia, (F.col("cur") == ia.z) & (F.col("_idx") == ia.idx))
            .select("start", "w", F.col("nb").alias("cur"))
        )
        state = _pin_state(stepped)
        visits.append(state.select(F.col("cur").alias("id")))
    allv = visits[0]
    for v in visits[1:]:
        allv = allv.unionByName(v)
    out = allv.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("visits"))
    out = _pin_state(out)
    _release(pins)
    return out


def deterministic_walks_oracle_sql(
    edges_sql: str, walks_per_node: int = 2, steps: int = 4
) -> str:
    """CTE list reproducing :func:`deterministic_walks`; exposes
    ``wk_out(id, visits)``."""
    wlist = ", ".join(str(w) for w in range(walks_per_node))
    parts = [
        f"wk_e AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM ({edges_sql}))",
        "wk_adj AS (SELECT u AS z, v AS nb FROM wk_e UNION ALL SELECT v, u FROM wk_e)",
        "wk_ia AS (SELECT z, nb, CAST(ROW_NUMBER() OVER (PARTITION BY z ORDER BY nb) AS BIGINT) AS idx FROM wk_adj)",
        "wk_dg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM wk_adj GROUP BY z)",
        f"wk_s0 AS (SELECT z AS start, k.w, z AS cur FROM wk_dg CROSS JOIN (SELECT unnest([{wlist}]) AS w) k)",
    ]
    for s in range(1, steps + 1):
        h = (
            "CAST(('0x' || substr(md5(CAST(st.start AS VARCHAR) || ':' || "
            f"CAST(st.w AS VARCHAR) || ':' || '{s}' || ':' || "
            "CAST(st.cur AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        parts.append(
            f"""wk_s{s} AS (
  SELECT st.start, st.w, a.nb AS cur
  FROM wk_s{s - 1} st
  JOIN wk_dg d ON d.z = st.cur
  JOIN wk_ia a ON a.z = st.cur AND a.idx = ({h} % d.deg) + 1
)"""
        )
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT cur AS id FROM wk_s{s}" for s in range(0, steps + 1)
    )
    parts.append(
        f"""wk_out AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS visits FROM (
    {unions}
  ) GROUP BY id)"""
    )
    return ",\n".join(parts)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    scale: int = 10_000,
) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg hubs & authorities) over a
    directed edge list. Returns ``(id, hub, auth)`` for every node.

    Per round (replicated literally by :func:`hits_oracle_sql`):

    - raw authority ``a'(v) = Σ_{u→v} h(u)``, then mean-1 renormalize:
      ``a(v) = a'(v) * N * scale DIV Σ a'`` (exact integer; the classic
      L2 norm would need sqrt — the L1/mean norm is the deterministic
      fixed-point variant and preserves the ranking);
    - raw hub ``h'(u) = Σ_{u→v} a(v)`` with the same renormalization.

    Nodes with no in-edges keep authority 0 (and pure-sink nodes hub 0) —
    on a bipartite customer→part list that is exactly the expected shape
    (customers are hubs, parts are authorities). Initial ``h = scale``.

    Scale: one shuffle join + one hash agg per half-round on the pinned
    edge list (the pagerank discipline: `_pin_keyed` co-partitions under
    persist mode, `_state` broadcast-gates the node-sized score frames);
    normalization totals ride a non-foldable 0-key BroadcastHashJoin.
    Integer bound (ENFORCED): the renormalization computes
    ``raw * N * scale`` where ``raw`` can itself reach ~``N * scale``
    (total mass concentrated on one node), so int64 requires
    ``(N * scale)^2 < 2^63`` ⇔ ``N * scale <= 3_037_000_499``. The
    default ``scale`` 1e4 is safe to ~300k nodes; the constructor raises
    past the bound rather than silently wrapping in non-ANSI mode.
    """
    from .ranking import _check_renorm_bound, _zero_key

    if iterations < 1:
        raise ValueError("hits needs iterations >= 1 (authority is undefined at round 0)")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    pins: list = []
    ed = _pin_keyed(e, "src", scope=pins)
    # Node ids from the PINNED ed (identical id set; see pagerank).
    nodes = _pin_keyed(
        ed.select(F.col("src").alias("id"))
        .unionByName(ed.select(F.col("dst").alias("id")))
        .distinct(),
        "id",
        scope=pins,
    )
    n = nodes.count()
    _check_renorm_bound(n, scale, "hits")

    def _mean_norm(scored: DataFrame, col: str) -> DataFrame:
        tot = scored.agg(F.sum(col).cast("long").alias("_tot"))
        return (
            scored.withColumn("_k", _zero_key(F.col("id")))
            .join(F.broadcast(tot.withColumn("_k", _zero_key(F.col("_tot")))), "_k")
            .select(
                "id",
                F.expr(f"{col} * {n} * {scale} DIV _tot").alias(col),
            )
        )

    h = nodes.withColumn("h", F.lit(scale).cast("long"))
    a = None
    for _ in range(iterations):
        raw_a = (
            ed.join(_state(h, n), ed.src == h.id)
            .select("dst", "h")
            .groupBy("dst")
            .agg(F.sum("h").alias("ra"))
        )
        a = _pin_state(
            _mean_norm(
                nodes.join(_state(raw_a, n), nodes.id == raw_a.dst, "left_outer")
                .select("id", F.coalesce("ra", F.lit(0)).cast("long").alias("a")),
                "a",
            ).select("id", F.col("a"))
        )
        raw_h = (
            ed.join(_state(a.select(F.col("id").alias("aid"), "a"), n), ed.dst == F.col("aid"))
            .select("src", "a")
            .groupBy("src")
            .agg(F.sum("a").alias("rh"))
        )
        h = _pin_state(
            _mean_norm(
                nodes.join(_state(raw_h, n), nodes.id == raw_h.src, "left_outer")
                .select("id", F.coalesce("rh", F.lit(0)).cast("long").alias("h")),
                "h",
            ).select("id", F.col("h"))
        )
    out = _pin_state(
        h.join(a.select(F.col("id").alias("_aid"), "a"), h.id == F.col("_aid"))
        .select("id", F.col("h").alias("hub"), F.col("a").alias("auth"))
    )
    _release(pins)
    return out


def hits_oracle_sql(
    edges_sql: str, iterations: int = 4, scale: int = 10_000
) -> str:
    """DuckDB CTE chain reproducing :func:`hits` literally — one unrolled
    (authority, hub) CTE pair per round, MATERIALIZED fences on the
    doubly-referenced state CTEs (the bradley_terry oracle lesson:
    inlined chains re-expand exponentially)."""
    parts = [
        f"he AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "hnd AS MATERIALIZED (SELECT src AS id FROM he UNION SELECT dst FROM he)",
        "hcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hnd)",
        f"h0 AS (SELECT id, CAST({scale} AS BIGINT) AS h FROM hnd)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS (
  SELECT hnd.id, CAST(COALESCE(x.ra, 0) AS BIGINT) AS a
  FROM hnd LEFT JOIN (
    SELECT he.dst AS id, CAST(SUM(p.h) AS BIGINT) AS ra
    FROM he JOIN h{i - 1} p ON he.src = p.id GROUP BY he.dst
  ) x USING (id)
)"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT id, a * (SELECT n FROM hcnt) * {scale}
           // (SELECT CAST(SUM(a) AS BIGINT) FROM ar{i}) AS a
  FROM ar{i}
)"""
        )
        parts.append(
            f"""hr{i} AS (
  SELECT hnd.id, CAST(COALESCE(x.rh, 0) AS BIGINT) AS h
  FROM hnd LEFT JOIN (
    SELECT he.src AS id, CAST(SUM(p.a) AS BIGINT) AS rh
    FROM he JOIN a{i} p ON he.dst = p.id GROUP BY he.src
  ) x USING (id)
)"""
        )
        parts.append(
            f"""h{i} AS MATERIALIZED (
  SELECT id, h * (SELECT n FROM hcnt) * {scale}
           // (SELECT CAST(SUM(h) AS BIGINT) FROM hr{i}) AS h
  FROM hr{i}
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT h{iterations}.id, h{iterations}.h AS hub, a{iterations}.a AS auth
FROM h{iterations} JOIN a{iterations} ON h{iterations}.id = a{iterations}.id
"""
    )


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 5,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Weighted PageRank: :func:`pagerank` with per-edge integer weights —
    each round ``v`` sends ``score(v) * w_e DIV wsum(v)`` along every
    out-edge (mass splits by weight share instead of uniformly). The
    real-graph variant: co-purchase multiplicity, link frequency, citation
    counts. Duplicate (src, dst) rows are weight-summed up front.

    Contract (ENFORCED): the edge list must be non-empty and every
    aggregated weight must be a positive non-NULL integer — a NULL or
    non-positive weight would silently propagate NULL/garbage through
    ``score * w DIV wsum``, so the constructor raises instead (one cheap
    first-hit probe on the deduped edge list). Integer bound (documented,
    not enforced): ``score * w_e`` must stay inside int64 — with the
    default ``scale`` 1e12 that means per-edge weights <= ~9.2e6;
    normalize weights upstream for heavier multiplicities. Plan shape is
    identical to :func:`pagerank` (pinned weighted edge list, one shuffle
    join + one hash agg per round, broadcast-gated state), replicated
    literally by :func:`pagerank_weighted_oracle_sql`.
    """
    e = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    ws = e.groupBy("src").agg(F.sum("w").cast("long").alias("wsum"))
    pins: list = []
    # Released on every exit: the weight probe and the empty-graph guard
    # raise after pins exist.
    try:
        ed = _pin_keyed(e.join(ws, "src"), "src", scope=pins)
        # The weight-contract probe runs against the PINNED ed, not against
        # `e`: the inner join on src preserves every aggregated edge row (ws
        # is keyed by e's own src values), so the w column is the same row
        # set — but the probe now scans materialized blocks instead of paying
        # a dedicated corpus-scale aggregation job before any pin exists.
        if ed.where(F.col("w").isNull() | (F.col("w") <= 0)).limit(1).count() > 0:
            raise ValueError(
                "pagerank_weighted: edge weights must be positive and non-NULL "
                "(a NULL/<=0 weight would propagate NULL scores)"
            )
        # Node ids from the PINNED ed (identical id set; see pagerank).
        nodes = _pin_keyed(
            ed.select(F.col("src").alias("id"))
            .unionByName(ed.select(F.col("dst").alias("id")))
            .distinct(),
            "id",
            scope=pins,
        )
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank_weighted: empty edge list (no nodes)")
        s0 = scale // n
        base = (PPM - damping_ppm) * s0 // PPM

        scores = nodes.withColumn("score", F.lit(s0).cast("long"))
        for _ in range(iterations):
            arrived = (
                ed.join(_state(scores, n), ed.src == scores.id)
                .select("dst", F.expr("score * w DIV wsum").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("acc"))
            )
            scores = _pin_state(
                nodes.join(_state(arrived, n), nodes.id == arrived.dst, "left_outer")
                .select(
                    "id",
                    (
                        F.lit(base)
                        + F.expr(f"coalesce(acc, 0L) * {damping_ppm} DIV {PPM}")
                    ).cast("long").alias("score"),
                )
            )
    finally:
        _release(pins)
    return scores


def pagerank_weighted_oracle_sql(
    edges_sql: str,
    iterations: int = 5,
    damping_ppm: int = 850_000,
    scale: int = 1_000_000_000_000,
) -> str:
    """DuckDB CTE chain reproducing :func:`pagerank_weighted` literally.
    ``edges_sql`` must select ``src, dst, w``."""
    parts = [
        f"we AS MATERIALIZED (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM ({edges_sql}) GROUP BY src, dst)",
        "wdg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM we GROUP BY src)",
        "wed AS MATERIALIZED (SELECT we.src, we.dst, we.w, wdg.wsum FROM we JOIN wdg USING (src))",
        "wnd AS MATERIALIZED (SELECT src AS id FROM we UNION SELECT dst FROM we)",
        "wcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wnd)",
        f"wk AS (SELECT {scale} // n AS s0, ({PPM} - {damping_ppm}) * ({scale} // n) // {PPM} AS base FROM wcnt)",
        "ws0 AS (SELECT id, (SELECT s0 FROM wk) AS s FROM wnd)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ws{i} AS MATERIALIZED (
  SELECT wnd.id,
         CAST((SELECT base FROM wk)
              + COALESCE(x.acc, 0) * {damping_ppm} // {PPM} AS BIGINT) AS s
  FROM wnd LEFT JOIN (
    SELECT wed.dst AS id, CAST(SUM(p.s * wed.w // wed.wsum) AS BIGINT) AS acc
    FROM wed JOIN ws{i - 1} p ON wed.src = p.id GROUP BY wed.dst
  ) x USING (id)
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, s AS score FROM ws{iterations}"
