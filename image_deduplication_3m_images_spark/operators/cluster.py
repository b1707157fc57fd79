"""Connected components over verified duplicate pairs — distributed union-find.

Reference analog: in-memory path-compressed union-find + four BFS variants
(``/root/reference/modules/deduplication.py:284-346,454-481,1258-1283``;
``memory_efficient_deduplication.py:531-582`` — the reference has ~5 copies;
we have exactly one implementation reused by every caller, SURVEY.md §2.4 G1/G2).

Algorithm: iterative minimum-label propagation on DataFrames.  Each node's
label is the min id seen in its neighborhood; iterate until fixpoint.
Converges in O(graph diameter) rounds — LSH duplicate components are
overwhelmingly tiny/star-shaped (the reference observed mostly singletons,
``OPTIMIZATION_SUMMARY.md:93-97``), so 3-5 rounds in practice; a pointer-
jumping step (label -> label-of-label) halves long chains so worst-case
rounds are O(log d).

Driver-action budget (the scaling runs measured CC as a flat, parallelism-
independent 25-30 s report-stage cost when every iteration paid an eager
checkpoint job PLUS a separate convergence-probe job): each iteration now
runs exactly ONE job — a full-scan max-aggregate convergence probe whose
side effect materializes the iteration's persisted labels.  Lineage is
truncated with a checkpoint only every ``_TRUNCATE_EVERY`` iterations
(plan-depth bound), and once more for the returned frame; pass
``checkpoint_dir`` for RELIABLE (executor-loss-tolerant) checkpoints on a
real cluster, default localCheckpoint for local/dev speed.  Between
truncations fault tolerance comes from lineage: a lost executor recomputes
from the last checkpoint, not from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# iteration bound of the distributed loop (pointer jumping converges in
# O(log diameter) rounds, so real dedup graphs stop far below it)
_MAX_ITERATIONS = 25
# cluster mode: lineage-truncating checkpoint every this many iterations
_TRUNCATE_EVERY = 5


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_local_edges: int = 2_000_000,
) -> DataFrame:
    """edges (id_a, id_b) -> assignments (id, cluster_id).

    cluster_id = min node id in the component — deterministic under any
    partitioning (FIXTURES.md hard part #2: never partition-dependent values).
    Only nodes that appear in an edge are returned; callers re-attach
    singletons with a left join (reference analog: singleton re-merge,
    ``memory_efficient_deduplication.py:79-99``).

    Two-level design (the standard large-scale CC shape): one probe action
    (limit + Arrow transfer — it both sizes the graph and, when small,
    already IS the collected edge list) routes graphs at or below
    ``max_local_edges`` to a DRIVER-SIDE path-compressed union-find — ONE
    Spark job total instead of one per iteration.  Dedup graphs are tiny relative to their
    corpora (edges ≈ duplicate pairs, a few percent of rows even on
    duplicate-heavy web data), so this path covers most real runs, every
    micro-batch of the streaming loop, and removes the iteration-count ×
    driver-round-trip fixed cost entirely; the guard is EDGES, not corpus
    size, so a 100 TB corpus with a billion-edge graph still takes the
    distributed loop below.  2M edges ≈ 32 MB collected — far under any
    sane driver heap.  The reference's union-find is the same algorithm
    driver-side, without the distributed escape hatch
    (``/root/reference/modules/deduplication.py:284-346``).

    ``checkpoint_dir``: when set, lineage-truncation breaks in the
    distributed loop use RELIABLE checkpoints written under it (survives
    executor loss on a real cluster, where localCheckpoint blocks live only
    on executors).  When None (local/dev), the cheaper localCheckpoint is
    used.  The caller owns cleanup of the directory once the result is
    materialized downstream.
    """
    # ONE job decides the level AND fetches the small-graph edge list:
    # limit(max+1).toPandas() returns the COMPLETE edge set whenever the
    # graph is at or below the guard (a limit larger than the row count is
    # the identity), so the common small case pays a single Arrow-transfer
    # action instead of the old count-then-collect pair.  Only a guard-
    # exceeding graph (rare) pays the probe twice — and for it the probe
    # cost is trivial next to the iterative loop it routes to.
    edges_c = edges.persist()
    probe = (
        edges_c.select("id_a", "id_b").limit(max_local_edges + 1).toPandas()
    )
    if len(probe) <= max_local_edges:
        try:
            return _cc_local(probe, edges_c.schema, edges.sparkSession)
        finally:
            edges_c.unpersist(blocking=False)
    edges = edges_c
    if checkpoint_dir:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

        # cluster mode: keep lineage between the periodic reliable
        # checkpoints (an executor loss recomputes from the last one);
        # per-iteration lineage cost is bounded by _TRUNCATE_EVERY
        iter_truncate = False
    else:

        def ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

        # local mode (single JVM — executors cannot die independently of
        # the driver): truncate lineage EVERY iteration with a LAZY
        # localCheckpoint, materialized as a side effect of the iteration's
        # one probe action.  Without this, Catalyst re-analyzes a plan that
        # nests one join-tree per iteration — measured 2.6-3.5 s/iteration
        # of pure planning on a 1k-node/8-iteration chain graph vs ~1 s
        # flat once truncated (still exactly ONE job per iteration).
        iter_truncate = True

    # AQE OFF for the loop's queries (restored in the finally below): AQE
    # materializes every exchange as its own stage-job, turning each tiny
    # fixed-shape iteration (~6 exchanges) into ~7 sequential driver
    # round-trips — measured as the report stage's flat, parallelism-
    # independent 25-30 s in the 2M scaling runs.  The iteration plans gain
    # nothing from runtime re-planning (shape is fixed, skew is contracted
    # away by pointer jumping, partition counts come from
    # spark.sql.shuffle.partitions which the session sizes to the cluster),
    # so each probe action runs as exactly ONE job.
    # Broadcast joins are also disabled for the loop: each BroadcastExchange
    # is its own driver-submitted build job (2 more round-trips per
    # iteration on tiny frames), and at scale the label/neighbor frames are
    # shuffle-join-sized anyway — with both off, one iteration = exactly ONE
    # job.
    session = edges.sparkSession
    aqe_before = session.conf.get("spark.sql.adaptive.enabled", "true")
    bcast_before = session.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    shuf_before = session.conf.get("spark.sql.shuffle.partitions", "8")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # With AQE off nothing coalesces these small iterative shuffles, so the
    # session's big-shuffle partition count (4x cores) would cost 4x task
    # launches per exchange per iteration.  The label/edge frames are
    # shuffle-light: one wave of cluster-wide parallelism is the right size.
    session.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(session.sparkContext.defaultParallelism, 4)),
    )
    try:
        return _cc_loop(edges, ckpt, iter_truncate)
    finally:
        session.conf.set("spark.sql.adaptive.enabled", aqe_before)
        session.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)
        session.conf.set("spark.sql.shuffle.partitions", shuf_before)


def _cc_loop(edges: DataFrame, ckpt, iter_truncate: bool) -> DataFrame:
    # sym and the initial labels are persisted LAZILY: the first iteration's
    # single probe job materializes both as a side effect — no setup actions.
    # In local mode sym's LOGICAL plan is also truncated (lazy
    # localCheckpoint): sym is referenced by every iteration's join, and
    # when the incoming edge frame carries a heavy plan (e.g. an 8-table
    # LSH self-join union), Catalyst would otherwise re-analyze that whole
    # tree once per iteration — measured as a near-constant ~2 s/iteration
    # planning tax on a 1k-node graph.
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=False) if iter_truncate else sym.persist()

    # neighbor-min per node, including self -> initial labels.  This first
    # aggregation already resolves every star/bucket component (the common
    # case by far); iterations below only chase multi-hop chains.
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("cluster_id"))
        .withColumnRenamed("src", "id")
        .persist()
    )

    to_unpersist = [edges, sym, labels]
    since_truncate = 0
    for _ in range(_MAX_ITERATIONS):
        # hash-min + pointer jumping in ONE plan per iteration:
        #   label(v) <- min(label(v), min_{u in N(v)} label(u), label(label(v)))
        # The jump term (label-of-label) gives O(log diameter) convergence on
        # chains; `labels` is persisted, so referencing it three times scans
        # cached data instead of recomputing.
        neigh = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("neigh_min"))
            .withColumnRenamed("src", "id")
        )
        jump = labels.select(
            F.col("id").alias("cluster_id"), F.col("cluster_id").alias("jump_min")
        )
        updated = (
            labels.join(neigh, "id", "left")
            .join(jump, "cluster_id", "left")
            .select(
                "id",
                F.col("cluster_id").alias("old_cluster"),
                F.least(
                    F.col("cluster_id"), F.col("neigh_min"), F.col("jump_min")
                ).alias("cluster_id"),
            )
        )
        # lazy localCheckpoint persists AND truncates lineage when the probe
        # below computes it — flat plans at one job per iteration (local
        # mode); cluster mode persists only, keeping lineage for recovery
        updated = (
            updated.localCheckpoint(eager=False)
            if iter_truncate
            else updated.persist()
        )
        # The ONE action per iteration: a full-scan aggregate that IS the
        # convergence probe AND (via persist) the materialization of this
        # iteration's labels — the fused form of the old eager-checkpoint +
        # limit(1).count() pair (two jobs -> one; VERDICT r4 item 1a).
        shrunk = updated.agg(
            F.max((F.col("cluster_id") < F.col("old_cluster")).cast("int")).alias("c")
        ).first()["c"]
        to_unpersist.append(updated)
        labels = updated.select("id", "cluster_id")
        if not shrunk:
            break
        since_truncate += 1
        if not iter_truncate and since_truncate >= _TRUNCATE_EVERY:
            # bound plan depth: without an occasional lineage break the
            # logical plan nests one join-tree per iteration and Catalyst
            # analysis cost grows without bound on pathological diameters
            labels = ckpt(labels)
            since_truncate = 0

    # freeze the result (one narrow (long,long) materialization), then drop
    # every intermediate cache — callers consume a lineage-free frame whose
    # blocks no longer pin executor memory for the rest of the job
    final = ckpt(labels.select("id", "cluster_id"))
    for df in to_unpersist:
        df.unpersist(blocking=False)
    return final


def _cc_local(pdf, schema, spark) -> DataFrame:
    """Driver-side finish for small graphs: the caller hands over the
    complete (narrow, two-column) edge list as a pandas frame — fetched
    via Arrow (toPandas), not collect(): at the 2M-edge guard limit
    collect() would build ~2M driver Row objects (~100s of MB) while the
    Arrow path moves two flat columns (~32 MB of longs).  Runs
    path-halving union-find and returns the SAME (id, cluster_id) frame
    the distributed loop would — cluster_id = min member id, only
    edge-touched nodes present.  Works for any orderable id type (the
    loop's contract); collection size is pre-guarded by the caller.

    The result goes back as a pandas frame, which Arrow turns into a
    JVM-side local table: a list of tuples would plan a scan of pickled
    rows, and every consumer would re-run Python workers to read it."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    a_type = schema["id_a"].dataType
    if pdf.empty:
        # an empty pandas frame falls back to the pickled-row scan
        return spark.range(0).select(
            F.col("id").cast(a_type).alias("id"),
            F.col("id").cast(a_type).alias("cluster_id"),
        )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] is not root:
            root = parent[root]
        while parent[x] is not root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id keeps the root the component minimum, so the
            # final labels are deterministic for any edge arrival order
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = pd.DataFrame(
        {"id": list(parent), "cluster_id": [find(node) for node in parent]}
    )
    out_schema = StructType(
        [StructField("id", a_type, False), StructField("cluster_id", a_type, False)]
    )
    return spark.createDataFrame(out, out_schema)


def attach_singletons(
    assignments: DataFrame, all_ids: DataFrame, id_col: str
) -> DataFrame:
    """Every input id appears exactly once in the output (row-preservation
    invariant, FIXTURES.md §4); ids without edges become their own cluster.
    """
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(assignments, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", "id").alias("cluster_id"),
        )
    )
