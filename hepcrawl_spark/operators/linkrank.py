"""Link-authority ranking for frontier prioritization (PageRank).

The reference crawls publisher feeds where priority is editorial (seed
order, FIFO — wsp_spider yield order); an open-web frontier at 10^10 urls
needs link-structure priority so high-authority hosts surface first (the
OPIC/PageRank role in production crawlers). This module computes damped
PageRank to feed ``frontier.priority``:

    ranks = pagerank(extract_outlinks(...))      # (node, rank)
    frontier.join(ranks, url==node, 'left')      # priority = rank

Two paths, one update rule, chosen by the size of the edge list:

- **NumPy kernel** (the edge list fits the session's
  ``spark.sql.autoBroadcastJoinThreshold``: the optimizer's size estimate
  of the edges is at most the size Spark itself would ship whole to every
  task): ONE ``applyInPandas`` task dedupes the edges, ``pd.factorize``s
  the nodes and runs every power round with ``np.bincount`` — one Spark
  job instead of a join + aggregation + checkpoint per round. A crawl's
  accumulated link graph (tens of thousands of edges) sits here, where the
  relational rounds were pure per-job latency.
- **Relational fixpoint** (above the threshold, or with it disabled):
  per round one join + one aggregation (map-side combinable sum),
  dangling mass folded in analytically as a one-row broadcast inside the
  same job, lineage truncated per round. No collect of ranks — the only
  driver value is the optional L1 delta when ``tol`` is set. At 10^10
  edges each round is one shuffle of (dst, contribution) pairs; AQE
  handles the hub skew the same way it handles the hot-host fetch join.

The gate reads the plan's statistics and runs no job (one aggregation when
the plan has none). Both paths agree to float rounding (pinned by test),
stop after the same number of rounds under ``tol`` and return
materialized ranks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
    tol: float | None = None,
) -> DataFrame:
    """-> (node, rank), sum(rank) == 1, materialized (read it any number
    of times without re-running the rounds). Fixed ``iterations`` by
    default (deterministic, oracle-friendly); pass ``tol`` to stop early
    when the L1 delta drops below it. Edges with a null endpoint are
    ignored; duplicate edges count once."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropna()
    try:
        bcast_thresh = int(
            edges.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        )
    except ValueError:
        bcast_thresh = 10 * 1024 * 1024
    if 0 < bcast_thresh and _edge_list_bytes(e) <= bcast_thresh:
        return _pagerank_kernel(e, damping, iterations, tol)
    return _pagerank_relational(e, damping, iterations, tol, bcast_thresh)


def _edge_list_bytes(e: DataFrame) -> int:
    """Size of the (src, dst) edge list as Spark's planner sees it: the
    optimizer's estimate — the number it compares with
    ``autoBroadcastJoinThreshold`` before shipping a relation whole to
    every task — read from the plan without running a job. A plan without
    statistics (an RDD-backed or checkpointed input) estimates as
    ``spark.sql.defaultSizeInBytes``; such an edge list is measured
    instead, by one aggregation: UnsafeRow framing (null bitset + two
    8-byte slots) plus the bytes of string ids."""
    spark = e.sparkSession
    est = int(str(e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    unknown = int(
        spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1))
    )
    if est < unknown:
        return est
    id_bytes = sum(
        (
            F.octet_length(c)
            for c in ("src", "dst")
            if isinstance(e.schema[c].dataType, StringType)
        ),
        F.lit(0),
    )
    n_rows, n_bytes = e.agg(
        F.count(F.lit(1)), F.coalesce(F.sum(id_bytes), F.lit(0))
    ).first()
    return 24 * n_rows + n_bytes


def pagerank_arrays(
    src: np.ndarray,
    dst: np.ndarray,
    damping: float = 0.85,
    iterations: int = 10,
    tol: float | None = None,
) -> tuple[np.ndarray, np.ndarray, int]:
    """The kernel's in-memory PageRank over an edge list -> (nodes, ranks,
    rounds run). Same update rule and stopping rule as the relational
    path: rank' = (1-d)/n + d * (inflow + dangling mass / n)."""
    codes, nodes = pd.factorize(np.concatenate([src, dst]))
    n, m = len(nodes), len(src)
    # dedupe on the integer codes: one sort of int64 pair keys
    pairs = np.unique(codes[:m].astype(np.int64) * n + codes[m:])
    s, t = pairs // n, pairs % n
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    base = (1.0 - damping) / n
    rank = np.full(n, 1.0 / n)
    rounds = 0
    for _ in range(iterations):
        # rank / deg per edge, the relational path's exact IEEE division
        inflow = np.bincount(t, weights=rank[s] / deg[s], minlength=n)
        new = base + damping * (inflow + rank[dangling].sum() / n)
        rounds += 1
        delta = np.abs(new - rank).sum()
        rank = new
        if tol is not None and delta < tol:
            break
    return np.asarray(nodes), rank, rounds


def _pagerank_kernel(
    e: DataFrame, damping: float, iterations: int, tol: float | None
) -> DataFrame:
    """Single-task path: every edge to one group, one ``applyInPandas``."""
    node_type = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .schema["node"]
        .dataType
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes, rank, _ = pagerank_arrays(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy(), damping, iterations, tol
        )
        return pd.DataFrame({"node": nodes, "rank": rank})

    schema = StructType(
        [StructField("node", node_type), StructField("rank", DoubleType())]
    )
    # one input partition satisfies the single group's distribution, so no
    # shuffle: the scan, the kernel and the checkpoint are ONE job
    return (
        e.select(F.col("src").cast(node_type), F.col("dst").cast(node_type))
        .coalesce(1)
        .groupBy(F.lit(0).alias("_g"))
        .applyInPandas(run, schema)
        .localCheckpoint(eager=True)
    )


def _pagerank_relational(
    edges: DataFrame,
    damping: float,
    iterations: int,
    tol: float | None,
    bcast_thresh: int,
) -> DataFrame:
    e = edges.distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # edges annotated once with the source out-degree; reused every round
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    dang_nodes = (
        deg.select(F.col("src").alias("node")).localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    # Deliberate join strategy (guide §3.1): the rank table is n rows of
    # (id, double); checkpointed RDD scans carry no stats, so Catalyst
    # never auto-broadcasts them and every power iteration pays two full
    # shuffle joins. When the measured n says the rank/degree tables fit
    # the session's own broadcast threshold, hint the broadcast explicitly
    # — the per-iteration join goes map-side. Above the threshold (true
    # 10^9-node graphs) the shuffle join remains, unchanged.
    # per-row estimate depends on the node type: numeric ids are ~48 B of
    # framed row; URL-string node ids (the crawl's rank refresh) average
    # far more, so estimate conservatively — a wrong "small" verdict here
    # bypasses Spark's own size check and re-broadcasts the rank table
    # every power iteration
    from pyspark.sql.types import NumericType

    node_numeric = isinstance(nodes.schema["node"].dataType, NumericType)
    row_bytes = 48 if node_numeric else 256
    small = 0 < bcast_thresh and n * row_bytes < bcast_thresh
    _b = F.broadcast if small else (lambda df: df)
    for i in range(iterations):
        # One shuffle join + ONE aggregation per power iteration: instead of
        # left-joining `nodes` back onto the inflow aggregate (a second
        # shuffle join), every node contributes an identity 0.0 row into the
        # SAME groupBy via a free union — zero-inflow nodes come out with
        # inflow 0.0 exactly as the old coalesce produced (x + 0.0 == x for
        # the strictly positive contributions, so values are unchanged at
        # the ppm rounding the x13 oracle checks).
        contribs = (
            ed.join(_b(ranks), ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .unionByName(nodes.select("node", F.lit(0.0).alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling nodes (no out-edges) spread their rank uniformly. The
        # mass rides the SAME job as the rank update — a one-row broadcast
        # (BroadcastNestedLoopJoin) instead of the former per-iteration
        # driver collect; the arithmetic (`_dang / n` in-plan vs the
        # collected scalar) is the identical IEEE double division.
        dang_df = (
            ranks.join(_b(dang_nodes), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        new_ranks = contribs.crossJoin(F.broadcast(dang_df)).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * (F.col("inflow") + F.col("_dang") / F.lit(float(n)))
            ).alias("rank"),
        )
        # lineage truncation every round is mandatory here: `ranks` feeds
        # two subtrees per round (contribs + dangling), so an unchecked
        # round would be evaluated twice by its consumer.
        new_ranks = new_ranks.localCheckpoint(eager=True)
        if tol is not None:
            delta = (
                new_ranks.join(ranks.withColumnRenamed("rank", "prev"), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))))
                .collect()[0][0]
            )
            ranks = new_ranks
            if delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def rank_seeds(
    seeds: DataFrame, ranks: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Overwrite seed priority with link rank (unranked urls keep their
    existing priority). Broadcast if ranks is small; at full scale this is
    an equi-join both sides bucketed by url."""
    r = ranks.select(F.col("node").alias(url_col), F.col("rank").alias("_rank"))
    return (
        seeds.join(r, url_col, "left")
        .withColumn("priority", F.coalesce(F.col("_rank"), F.col("priority")))
        .drop("_rank")
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) — the directional
    complement to :func:`pagerank` for crawl scheduling: a high-authority
    url is worth fetching, a high-hub url is worth re-parsing for
    outlinks.

    Per iteration: authority(v) = Σ hub(u) over u→v, L1-normalized;
    then hub(u) = Σ authority(v) over u→v, L1-normalized (L1 keeps the
    arithmetic a plain sum — same convergence, oracle-friendlier than an
    L2 sqrt). Fixed iteration count, deterministic. Returns
    (node, hub, authority), each column summing to 1.

    Scale shape: the deduped edge set is checkpointed once and reused;
    each half-step is one join + one groupBy shuffle on the edge key it
    aggregates — identical plan family to pagerank.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    ed = e.localCheckpoint(eager=True)
    hub = nodes.select("node", F.lit(1.0 / n).alias("v"))
    auth = None
    for _ in range(iterations):
        # checkpoint each RAW aggregate (the shuffle output) exactly once:
        # the scalar total, the normalized view, and the next half-step all
        # read the materialized rows instead of re-running the join+groupBy
        # (also truncates lineage, like pagerank)
        a_raw = (
            ed.join(hub, ed["src"] == hub["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("v").alias("raw"))
            .localCheckpoint(eager=True)
        )
        a_tot = a_raw.agg(F.sum("raw")).collect()[0][0] or 1.0
        auth = nodes.join(a_raw, "node", "left").select(
            "node", (F.coalesce(F.col("raw"), F.lit(0.0)) / a_tot).alias("v")
        )
        h_raw = (
            ed.join(auth, ed["dst"] == auth["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("v").alias("raw"))
            .localCheckpoint(eager=True)
        )
        h_tot = h_raw.agg(F.sum("raw")).collect()[0][0] or 1.0
        hub = nodes.join(h_raw, "node", "left").select(
            "node", (F.coalesce(F.col("raw"), F.lit(0.0)) / h_tot).alias("v")
        )
    return (
        nodes.join(hub.select("node", F.col("v").alias("hub")), "node")
        .join(auth.select("node", F.col("v").alias("authority")), "node")
    )
