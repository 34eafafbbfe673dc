"""The frontier fixpoint: the engine's crawl driver loop.

Replaces the reference's Twisted-reactor + Scrapy-scheduler pipeline
(docs/overview.rst lifecycle; scheduler order = yield order per callback)
with an iterative DataFrame fixpoint — each iteration ("wave") is one
Catalyst query:

  1. politeness wave select   (P1/P2/P4: salted per-host window cap)
  2. robots gate              (P5: broadcast rules anti-join)
  3. crawl-once gate          (D1: bloom/cuckoo prefilter + exact anti-join)
  4. fetch                    (J5: equi-join wave vs pages on url)
  5. parse + outlink explode  (F5/UDTF: regexp link extraction, JVM-side)
  6. state merge              (frontier', url_seen', metrics)
  7. snapshot                 (parquet dir per iteration = Iceberg-snapshot
                               stand-in; manifest.json -> checkpoint/resume)

Scale shape: the shuffles per wave are (a) the politeness window on the
salted host key, (b) the fetch join on url (bucketable at 100 TB so it
becomes a storage-partitioned join), (c) the url_seen merge (hash dedup;
with Iceberg this is MERGE INTO on a bucket(url)-partitioned table and
only delta buckets rewrite). The Bloom filter is built ONCE and updated
incrementally with each wave's delta — per iteration only the newly
fetched hashes ship their partial bitmaps to the driver, never the full
url_seen history. Lineage is truncated every iteration by the snapshot
write+read — mandatory in any DataFrame fixpoint or plans grow unboundedly.

Driver-side work per iteration is O(#partitions + bitmap bytes); row data
never leaves the executors except the tiny metrics rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textstats as X
from ..operators.bloom import (
    BLOOM_TABLE_SCHEMA,
    ShardedBloom,
    bloom_merge_delta_cogroup,
    bloom_probe_cogroup,
    build_bloom_sharded,
    sharded_might_contain_udf,
)
from ..operators.cuckoo import (
    ShardedCuckoo,
    build_cuckoo,
    cuckoo_might_contain_udf,
)
from ..operators.dedup import crawl_once_gate
from ..operators.politeness import (
    adaptive_host_salt,
    decay_priority,
    robots_gate,
    select_wave,
)
from .robots import robots_gate_rfc
from ..sources import merge_store


@dataclass
class CrawlConfig:
    max_iterations: int = 10
    max_per_host: int = 100          # politeness cap per host per wave
    salt: int = 4                    # hot-host salting factor (salt_mode=
                                     # 'static': uniform for every host;
                                     # 'adaptive': the base for cold hosts)
    salt_mode: str = "adaptive"      # DEFAULT since round 5: per-host salt
                                     # factors recomputed from the live
                                     # frontier's skew (adaptive_host_salt:
                                     # hot host shards ~ pending count /
                                     # (k x median)) — SURVEY §7(e), the
                                     # arxiv.org hotspot. The round-5 cost
                                     # story (BENCH/BASELINE.md): leaving
                                     # the pressure aggregation as a
                                     # subplan re-executed it inside every
                                     # job touching the wave (-25% at the
                                     # 2.4M-page corpus, pinned A/B); the
                                     # loop now COLLECTS the tiny hot-host
                                     # set once per refresh and joins a
                                     # literal — re-measured par with
                                     # static at 2.4M (44.4k vs 44.2k
                                     # URLs/s), +12% steady on the skewed
                                     # bench corpus, and literally zero
                                     # extra work when no host is hot.
                                     # 'static' restores uniform salting.
    adaptive_salt_k: int = 8         # hot threshold: pending > k x median
    adaptive_max_salt: int = 256     # per-host shard cap in adaptive mode
    adaptive_salt_every: int = 1     # recompute the per-host factors every
                                     # K-th iteration (skew drifts slowly;
                                     # the pressure agg is the main
                                     # adaptive cost, so K=2-3 halves it
                                     # while staying within one wave of
                                     # the true skew)
    adaptive_max_hot_hosts: int = 10_000  # bound on the collected hot-host
                                     # set: a bimodal frontier can push
                                     # O(n_hosts) rows over the k x median
                                     # threshold, and the collect must
                                     # stay O(bound), not O(hosts). The
                                     # hottest hosts (largest salt) win
                                     # the slots; hosts beyond the bound
                                     # fall back to the uniform base salt
                                     # — politeness caps still hold, they
                                     # just shard coarser.
    filter_mode: str = "auto"        # 'auto' (the DEFAULT: bloom under
                                     # auto_filter_threshold expected urls,
                                     # bloom_table above — a deployment
                                     # declaring 10^10 urls lands on the
                                     # zero-driver path without opting in)
                                     # | 'bloom' (broadcast sharded filter,
                                     # wave-hash deltas via the driver)
                                     # | 'bloom_table' (filter lives as a
                                     # (shard, bits) parquet table; probe +
                                     # delta merge are cogroups — ZERO
                                     # filter bytes on the driver, the
                                     # 10^10-URL path)
                                     # | 'cuckoo' (resident delete-capable
                                     # filter, per-wave delta inserts)
                                     # | 'none'
    auto_filter_threshold: int = 5_000_000
                                     # 'auto' cutover: above this expected
                                     # total the broadcast-bloom mode's
                                     # driver costs (full shard dict
                                     # resident + re-broadcast, 8 B/url/wave
                                     # of delta hashes collected) stop being
                                     # trivial, so the filter must live as a
                                     # cogroup-probed table instead
    parse_mode: str = "stats"        # 'stats' (per-page feature extraction
                                     # -> records snapshot) | 'none'
    bloom_fpp: float = 0.01
    n_expected_urls: int = 1_000_000  # bloom sizing (total urls over the run)
    bloom_shards: int = 32           # shard count; at 10^10 urls use ~1024 so
                                     # each shard bitmap stays ~12 MB
    state_dir: str | None = None     # snapshots + manifest for resume
    keep_snapshots: int = 2          # older ones are vacuumed
    detailed_stats: bool = False     # exact frontier/seen sizes per iteration
                                     # (2 extra jobs/iteration; loop control
                                     # only needs scheduled==0)
    link_meta: dict | None = None    # {key: Column over the fetched parent
                                     # row} merged into every outlink's
                                     # inherited meta map (reference
                                     # Request.meta threading —
                                     # pos_spider.py:118-126)
    recrawl_cutoff: str | None = None  # ISO timestamp: url_seen entries with
                                     # last_ts < cutoff are INVALIDATED at
                                     # run start (removed from url_seen;
                                     # cuckoo mode also deletes their
                                     # fingerprints) so they re-crawl — the
                                     # middlewares.py:134-155 newer-capture
                                     # semantics as a periodic policy sweep
    rank_priorities_every: int = 0   # >0: every K-th iteration, recompute
                                     # frontier priorities as PageRank over
                                     # the crawl's accumulated link graph
                                     # (operators/linkrank) — the OPIC-style
                                     # authority-first dispatch an open-web
                                     # frontier runs. Forces meta threading
                                     # (the edge log needs parent urls).
                                     # 0 = off (seed/FIFO priorities).
    rank_iterations: int = 5         # power iterations per refresh
    trap_detect_every: int = 0       # >0: every K-th iteration, run the
                                     # URL-template explosion detector
                                     # (operators/traps) over the seen set
                                     # and drop frontier rows whose
                                     # (host, template) is flagged — the
                                     # calendar/session-id trap guard an
                                     # open-web frontier needs. The flagged
                                     # set is collected to a LITERAL
                                     # broadcast (tiny, bounded) so the
                                     # per-iteration gate join never
                                     # re-executes the detection subplan
                                     # (the adaptive-salt lesson). Not
                                     # persisted: resume recomputes at the
                                     # next refresh from url_seen, which IS
                                     # durable. 0 = off (historical).
    trap_min_urls: int = 100         # template flag floor (distinct urls)
    trap_min_share_ppm: int = 500_000  # ...and min share of the host's urls
    trap_max_templates: int = 10_000  # bound on the collected flag set
    max_attempts: int = 1            # P6 retry/backoff in the live loop:
                                     # a gated url whose fetch FAILS (no
                                     # corpus row) re-enters the frontier
                                     # with attempt+1 and priority*decay
                                     # until max_attempts, then drops — the
                                     # reference RetryMiddleware semantics.
                                     # 1 = historical behavior (failures
                                     # retire immediately, zero extra jobs)
    retry_decay: float = 0.5
    max_depth: int | None = None     # Scrapy DEPTH_LIMIT parity: outlinks
                                     # discovered more than max_depth hops
                                     # from a seed never enter the frontier.
                                     # Rides the meta map ('depth' key), so
                                     # enabling it forces meta threading;
                                     # None = unlimited (historical)
    host_budget: int | None = None   # SURVEY §7(d) token-bucket with carry-
                                     # over ACROSS iterations, batch twin of
                                     # streaming/politeness.py: each host
                                     # may fetch at most this many pages
                                     # over the WHOLE run. Consumption state
                                     # (host, used) persists with every
                                     # durable snapshot and survives resume;
                                     # exhausted hosts admit nothing (their
                                     # frontier rows idle until the crawl
                                     # ends). None = unlimited (historical)
    seen_store: str = "snapshot"     # 'snapshot' (url_seen fully rewritten
                                     # per durable iteration) | 'merge'
                                     # (sources/merge_store.py: Iceberg-
                                     # shaped bucketed MERGE INTO — each
                                     # iteration upserts the WAVE into a
                                     # bucket(url)-partitioned table and
                                     # rewrites only touched buckets; the
                                     # O(|seen|) full rewrite disappears,
                                     # the 10^10-URL url_seen design)
    seen_buckets: int = 16           # merge-store bucket count; at 10^10
                                     # urls use ~2^14 so a bucket stays
                                     # ~100 GB raw / a few GB parquet
    snapshot_every: int = 1          # durable parquet snapshot cadence; in
                                     # between, state is localCheckpoint'ed
                                     # (lineage truncated, NOT durable) and
                                     # the manifest still points at the last
                                     # durable iteration — resume replays
                                     # from there. Raises steady throughput
                                     # by removing 2 write+read job commits
                                     # per non-snapshot iteration


@dataclass
class IterationStats:
    iteration: int
    scheduled: int
    fetched: int
    parsed: int
    frontier_size: int
    seen_size: int
    wall_s: float


@dataclass
class CrawlResult:
    iterations: list[IterationStats] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(i.fetched for i in self.iterations)

    @property
    def total_scheduled(self) -> int:
        return sum(i.scheduled for i in self.iterations)

    @property
    def total_wall_s(self) -> float:
        return sum(i.wall_s for i in self.iterations)


_LINK_RE = r'href="([^"]+)"'


def extract_outlinks(
    fetched: DataFrame,
    text_col: str = "text",
    link_meta: dict[str, "F.Column"] | None = None,
    thread_meta: bool = True,
) -> DataFrame:
    """UDTF-like link extraction (SURVEY §2.12): one page -> N outlinks.
    JVM regexp_extract_all + explode — no Python in the loop.

    Meta threading (schemas.FRONTIER_SCHEMA ``meta``; reference
    pos_spider.py:118-126 / edp_spider.py:246-259 chain callback state
    through ``Request.meta``): every outlink INHERITS its parent page's
    ``meta`` map, and ``link_meta`` — {key: Column over the parent row} —
    merges additional entries in (e.g. the PoS conference id extracted on
    hop 1, read back when hop 2 parses). ``_parent`` (the parent url) rides
    along as the deterministic dedup tiebreak.

    ``thread_meta=False`` is the pay-for-use fast path for crawls with no
    chained-harvest state anywhere (no seed meta, no link_meta): the map
    and parent columns are omitted so the per-link shuffle rows stay
    minimal; run_crawl re-attaches an empty map after the links groupBy."""
    if not thread_meta:
        return (
            fetched.select(
                F.col("warc_ts").alias("discovered_ts"),
                F.explode(
                    F.regexp_extract_all(F.col(text_col), F.lit(_LINK_RE), 1)
                ).alias("url"),
            )
            .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
            .filter(F.col("host").isNotNull())
        )
    meta_col = (
        F.col("meta")
        if "meta" in fetched.columns
        else F.expr("CAST(map() AS map<string,string>)")
    )
    if link_meta:
        add = F.map_from_arrays(
            F.array(*[F.lit(k) for k in link_meta]),
            F.array(*[v for v in link_meta.values()]),
        )
        # dict.update semantics (last wins), independent of the session's
        # mapKeyDedupPolicy: drop inherited entries the new keys overwrite
        # (a hop-2 page re-stamping hop1_url would otherwise trip ANSI's
        # DUPLICATED_MAP_KEY in map_concat)
        keys = list(link_meta.keys())
        inherited = F.map_filter(
            F.coalesce(meta_col, F.expr("map()")), lambda k, _: ~k.isin(keys)
        )
        meta_col = F.map_concat(inherited, add)
    return (
        fetched.select(
            F.col("warc_ts").alias("discovered_ts"),
            F.col("url").alias("_parent"),
            meta_col.alias("meta"),
            F.explode(F.regexp_extract_all(F.col(text_col), F.lit(_LINK_RE), 1)).alias(
                "url"
            ),
        )
        .withColumn("host", F.lower(F.parse_url("url", F.lit("HOST"))))
        .filter(F.col("host").isNotNull())
    )


def _snapshot(df: DataFrame, path: str) -> DataFrame:
    """Write a parquet snapshot and read it back (lineage truncation +
    checkpoint). The write is the 'Iceberg snapshot commit' stand-in."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _persist_cuckoo(spark: SparkSession, ccf: ShardedCuckoo, path: str) -> None:
    """Persist the resident filter's shard blobs so resume restores it in
    O(filter bytes). The blobs live on the driver in this mode (they are the
    broadcast source), so the write is a small driver-built DataFrame — at
    10^10 urls the filter would instead live as a (shard, table) Iceberg
    table maintained executor-side, like bloom_table."""
    spark.createDataFrame(
        [(s, nb, tb) for s, (nb, tb) in ccf.to_blobs().items()],
        "shard int, n_buckets long, table binary",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _load_cuckoo(spark: SparkSession, path: str) -> ShardedCuckoo:
    rows = spark.read.parquet(path).collect()
    return ShardedCuckoo.from_blobs(
        {r["shard"]: (r["n_buckets"], bytes(r["table"])) for r in rows},
        n_shards=len(rows),
    )


def _write_manifest(state_dir: str, iteration: int, extra: dict | None = None) -> None:
    manifest = {"iteration": iteration, **(extra or {})}
    tmp = os.path.join(state_dir, "_manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(state_dir, "manifest.json"))  # atomic commit


def _vacuum_snapshots(state_dir: str, keep: int) -> None:
    """Remove all but the newest ``keep`` iter_NNNN snapshot dirs. Called
    only after a durable manifest commit, so the manifest target (the newest
    dir) always survives — index arithmetic would delete the resume point
    when snapshot_every skips iterations."""
    dirs = sorted(
        (d for d in os.listdir(state_dir) if d.startswith("iter_")),
        key=lambda d: int(d[5:]),  # numeric: 'iter_10000' > 'iter_9999'
    )
    for d in dirs[: max(0, len(dirs) - keep)]:
        shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)


def read_manifest(state_dir: str) -> dict | None:
    p = os.path.join(state_dir, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    resume: bool = False,
) -> CrawlResult:
    """Run the crawl fixpoint to exhaustion or ``max_iterations``.

    ``pages``: the corpus (url, warc_ts, html, text, lang[, host]).
    ``seeds``: initial frontier (url, host, priority, discovered_ts).
    ``robots``: a parsed rules table (host, allow, path_prefix[,
    crawl_delay]) — or the string ``"auto"`` to derive the rules from the
    corpus's own ``/robots.txt`` pages (the Scrapy RobotsTxtMiddleware
    fetch-and-obey flow: a real crawl fetches robots.txt like any page;
    here those bodies already sit in the corpus snapshot).
    Returns per-iteration stats; all state lives in config.state_dir when
    set (making the run checkpoint-resumable), else in a temp dir.
    """
    cfg = config or CrawlConfig()
    if isinstance(robots, str):
        if robots != "auto":
            raise ValueError(f"robots must be a DataFrame, 'auto', or None: {robots!r}")
        from .robots import parse_robots_txt

        rpages = pages.filter(F.parse_url("url", F.lit("PATH")) == "/robots.txt")
        # robots.txt's grammar is LINE-oriented; the corpus's `text` column
        # may have gone through html_to_text, which collapses newlines to
        # spaces and turns the body into one directive-free line. Prefer
        # the raw fetched bytes (`html`, cast utf-8) whenever they are
        # non-empty and fall back to `text` only for byte-less corpora.
        body = F.col("text")
        if "html" in pages.columns:
            raw = F.col("html").cast("string")
            body = F.coalesce(F.when(F.length(raw) > 0, raw), F.col("text"))
        robots = parse_robots_txt(
            rpages.select(
                F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
                body.alias("text"),
            )
        ).persist()  # one small row per rule per host; reused every wave
        if robots.limit(1).count() == 0:
            # warn only when a body LOOKS like robots.txt (carries a
            # directive token) yet yields zero rules — a genuinely empty
            # or comment-only robots.txt is valid allow-all and silent
            directive_like = (
                rpages.filter(
                    F.lower(body).rlike("(user-agent|disallow|allow)\\s*:")
                )
                .limit(1)
                .count()
            )
            if directive_like > 0:
                warnings.warn(
                    "robots='auto': the corpus has /robots.txt pages whose "
                    "bodies carry directives but zero rules parsed — bodies "
                    "are likely whitespace-collapsed extractions; the crawl "
                    "will obey no robots rules",
                    stacklevel=2,
                )
            # zero rules == allow-all: dropping the table entirely removes
            # one broadcast-join stage from EVERY wave (and the RFC
            # precedence probe below) with identical gating behavior
            robots.unpersist()
            robots = None
    # rules with Allow rows OR RFC 9309 special characters ('*' wildcards,
    # '$' end anchors) need the longest-match gate; the cheap prefix
    # anti-join only handles plain disallow prefixes. Checked once (the
    # rules table is tiny) so the per-wave choice is a plain branch.
    robots_needs_rfc = (
        robots is not None
        and "allow" in robots.columns
        and robots.filter(
            (F.col("allow") == "allow")
            | F.col("path_prefix").contains("*")
            | F.col("path_prefix").endswith("$")
        ).limit(1).count()
        > 0
    )
    if cfg.filter_mode == "auto":
        from dataclasses import replace as _dc_replace

        cfg = _dc_replace(
            cfg,
            filter_mode="bloom"
            if cfg.n_expected_urls <= cfg.auto_filter_threshold
            else "bloom_table",
        )
    state_dir = cfg.state_dir or f"/tmp/hepcrawl_spark_state_{os.getpid()}_{id(seeds)}"
    os.makedirs(state_dir, exist_ok=True)

    seen_dir = f"{state_dir}/url_seen_merge"
    # pay-for-use meta threading: the chained-harvest state machinery (map +
    # parent columns through the link explosion and groupBy) only runs when
    # some source of meta exists — link_meta stamping, seed-borne meta, or a
    # resumed run that had it (persisted in the manifest). Otherwise links
    # shuffle minimal rows and records skip the map column.
    meta_live = (
        cfg.link_meta is not None
        or (seeds is not None and "meta" in seeds.columns)
        or cfg.rank_priorities_every > 0
        or cfg.max_depth is not None
    )
    # DEPTH_LIMIT (Scrapy DepthMiddleware parity): every outlink's meta is
    # stamped with depth = parent depth + 1 (seeds count as depth 0);
    # over-deep candidates are filtered before they enter the frontier
    link_meta = cfg.link_meta
    if cfg.max_depth is not None:
        depth_stamp = (
            F.coalesce(
                F.element_at(F.col("meta"), F.lit("depth")).cast("int"),
                F.lit(0),
            )
            + 1
        ).cast("string")
        link_meta = {**(link_meta or {}), "depth": depth_stamp}
    start_iter = 0
    frontier = url_seen = None
    host_used = None  # (host, used) budget-consumption state
    trap_tpls = None  # collected (host, template) trap flags (trap_detect_every)
    resumed_seen_size = 0
    if resume:
        m = read_manifest(state_dir)
        if m is not None:
            start_iter = m["iteration"] + 1
            meta_live = meta_live or bool(m.get("meta_live"))
            if cfg.host_budget is not None and m.get("host_used"):
                host_used = spark.read.parquet(m["host_used"])
            frontier = spark.read.parquet(f"{state_dir}/iter_{m['iteration']:04d}/frontier")
            if m.get("seen_store") == "merge":
                # the merge table commits every iteration but the manifest
                # only every snapshot_every-th: rebase the table onto the
                # manifest's snapshot so lost-iteration merges are abandoned
                # (their frontier rows are lost too — state must agree)
                if "seen_snapshot" in m:
                    merge_store.rollback(seen_dir, m["seen_snapshot"])
                url_seen = merge_store.read_table(spark, seen_dir)
            else:
                url_seen = spark.read.parquet(f"{state_dir}/iter_{m['iteration']:04d}/url_seen")
            # the url_seen cardinality must survive the restart: the cuckoo
            # rebuild is sized from it, and a filter sized for 0 items would
            # silently overflow -> false negatives -> re-fetching seen URLs.
            resumed_seen_size = m.get("seen_size") or url_seen.count()
    if frontier is None:
        frontier = seeds.select(
            "url",
            "host",
            F.coalesce(F.col("priority"), F.lit(0.0)).alias("priority"),
            F.coalesce(F.col("discovered_ts"), F.current_timestamp()).alias(
                "discovered_ts"
            ),
            *(["meta"] if "meta" in seeds.columns else []),
        ).withColumn("attempt", F.lit(0))
        url_seen = spark.createDataFrame([], "url string, last_ts timestamp")
    if cfg.host_budget is not None and host_used is None:
        host_used = spark.createDataFrame([], "host string, used long")
    # meta threading (FRONTIER_SCHEMA): tolerate meta-less seeds and
    # pre-meta resume snapshots by adding an empty map
    if "meta" not in frontier.columns:
        frontier = frontier.withColumn(
            "meta", F.expr("CAST(map() AS map<string,string>)")
        )
    if cfg.rank_priorities_every > 0 and not resume:
        # a fresh run must not rank against a previous run's link graph;
        # the append-only edge log is only valid within one run lineage.
        # (Edges appended by crash-lost non-durable iterations of THIS run
        # survive a resume — a slight, conservative over-weighting of
        # already-seen links that only biases the priority heuristic.)
        shutil.rmtree(f"{state_dir}/edges", ignore_errors=True)
    if cfg.seen_store == "merge" and not os.path.exists(f"{seen_dir}/HEAD"):
        # fresh run (or migration from snapshot layout): seed the bucketed
        # table once; every later iteration is a touched-buckets-only MERGE
        merge_store.create_table(
            url_seen, seen_dir, key="url", n_buckets=cfg.seen_buckets
        )

    # pages projected once; at 100 TB this scan is partition-pruned by the
    # fetch join keys (bucket(url)).
    corpus = pages.select("url", "warc_ts", "text")

    # --- membership filter state (built once, delta-updated) ----------------
    # SHARDED bloom (round-2): the filter is S independent shard bitmaps.
    # 10^10-URL math: 1% fpp needs ~9.6e10 bits (~12 GB) total — a monolithic
    # bitmap is un-buildable (full-size per-partition partials) and
    # un-broadcastable. With S=1024 each shard is ~12 MB: builds are one
    # task per shard, deltas touch only the shards a wave's hashes route to,
    # and at full scale the filter lives as a (shard, bits) parquet/Iceberg
    # table probed via bloom_probe_cogroup — zero driver state. In-sandbox
    # the driver keeps the (small) shard dict and broadcasts it.
    # --- re-crawl policy sweep (reference middlewares.py:134-155: a newer
    # capture invalidates the stored entry). Entries older than the cutoff
    # leave url_seen — and, in cuckoo mode below, their fingerprints are
    # DELETED from the resident filter (the delete capability that justifies
    # cuckoo over bloom). The driver sees ONE scalar here (the invalidated
    # count); the hash list itself is only collected in the cuckoo branch
    # below, and only when that count is under `auto_filter_threshold` —
    # a coarse cutoff over a 10^10-URL seen set invalidates billions of
    # rows, where collecting them would OOM the driver (round-5 verdict
    # What's-wrong #1) and rebuilding the filter from the surviving rows
    # is strictly cheaper.
    invalidated_df = None
    n_invalidated = 0
    if cfg.recrawl_cutoff is not None and start_iter > 0:
        cut = F.to_timestamp(F.lit(cfg.recrawl_cutoff))
        invalidated_df = url_seen.filter(F.col("last_ts") < cut).select(
            F.xxhash64("url").alias("h")
        )
        n_invalidated = invalidated_df.count()
        url_seen = url_seen.filter(F.col("last_ts") >= cut)
        if cfg.seen_store == "merge":
            # MERGE ... WHEN MATCHED AND stale THEN DELETE: rewrites only
            # buckets that actually hold an invalidated row
            merge_store.merge_delete(
                spark, seen_dir, f"last_ts < timestamp '{cfg.recrawl_cutoff}'"
            )
            url_seen = merge_store.read_table(spark, seen_dir)
        seen_size = max(0, resumed_seen_size - n_invalidated)
        resumed_seen_size = seen_size

    bf: ShardedBloom | None = None
    bloom_tbl: DataFrame | None = None
    bloom_size = dict(
        n_shards=cfg.bloom_shards, n_items=cfg.n_expected_urls, fpp=cfg.bloom_fpp
    )
    ccf: ShardedCuckoo | None = None
    if cfg.filter_mode == "bloom":
        seen_now = url_seen if resume and start_iter > 0 else None
        if seen_now is not None:
            bf = build_bloom_sharded(
                seen_now.select(F.xxhash64("url").alias("url_hash")),
                n_items=cfg.n_expected_urls,
                fpp=cfg.bloom_fpp,
                n_shards=cfg.bloom_shards,
            )
        else:
            bf = ShardedBloom.sized_for(
                cfg.n_expected_urls, cfg.bloom_fpp, cfg.bloom_shards
            )
    elif cfg.filter_mode == "bloom_table":
        # filter-as-table: resume from the manifest's bloom snapshot if
        # present, else start from an EMPTY (shard, n_bits, k, bits) table.
        # The delta merge creates a shard's zero bitmap when its first
        # hashes arrive and the probe reads a missing shard as "not seen",
        # so a fresh run writes no all-zero table; a resume without a bloom
        # snapshot rebuilds from url_seen through the same merge. The
        # driver only ever plans these jobs — no bitmap/hash bytes cross
        # to it.
        m = read_manifest(state_dir) if resume else None
        if m is not None and m.get("bloom") and os.path.exists(m["bloom"]):
            bloom_tbl = spark.read.parquet(m["bloom"])
        else:
            bloom_tbl = spark.createDataFrame([], BLOOM_TABLE_SCHEMA)
            if resume and start_iter > 0:
                bloom_tbl = _snapshot(
                    bloom_merge_delta_cogroup(
                        url_seen.select(F.xxhash64("url").alias("url_hash")),
                        bloom_tbl,
                        **bloom_size,
                    ),
                    f"{state_dir}/bloom_init",
                )
    elif cfg.filter_mode == "cuckoo":
        # ONE resident filter for the whole run, sized for the expected
        # total; every iteration applies the wave DELTA (insert_batch of
        # new keys) instead of the round-2 full O(|seen|) rebuild. Durable
        # commits persist the shard blobs, so resume restores the filter in
        # O(filter bytes) — no O(|seen|) rebuild at all.
        m = read_manifest(state_dir) if resume else None
        if (
            m is not None
            and m.get("cuckoo")
            and os.path.exists(m["cuckoo"])
            and n_invalidated <= cfg.auto_filter_threshold
        ):
            ccf = _load_cuckoo(spark, m["cuckoo"])
            if n_invalidated:
                # legit delete: the restored filter really contains every
                # url_seen entry of its snapshot, invalidated ones included.
                # Bounded collect — the n_invalidated > threshold case takes
                # the rebuild branch below instead (collecting billions of
                # hashes to delete one-by-one would OOM the driver and cost
                # more than rebuilding from the surviving rows).
                import numpy as np

                hashes = np.array(
                    [r["h"] for r in invalidated_df.collect()], dtype=np.int64
                )
                ccf.delete_batch(hashes)
        elif resume and start_iter > 0:
            # pre-persistence snapshot: rebuild from url_seen — which the
            # recrawl sweep above ALREADY filtered, so there is nothing to
            # delete. Deleting never-inserted keys here would evict
            # colliding fingerprints of live keys and turn them into false
            # negatives (round-3 ADVICE).
            ccf = build_cuckoo(
                url_seen.select(F.xxhash64("url").alias("url_hash")),
                n_items=max(resumed_seen_size, cfg.n_expected_urls, 64),
            )
        else:
            ccf = ShardedCuckoo.sized_for(max(cfg.n_expected_urls, 64))

    def _metrics_and_filter_delta(fetched: DataFrame):
        """ONE pass over the fetched wave yields per-partition metrics AND
        (broadcast bloom / resident cuckoo modes) the wave's url hashes for
        the filter's delta update — instead of two separate jobs. Driver
        receives (partition_id, count, hash-bytes) rows: delta bytes are
        proportional to the WAVE (8 bytes per fetched url), never to the
        filter size. In 'bloom_table' mode NO hashes are collected at all —
        the delta merges executor-side via bloom_merge_delta_cogroup (the
        zero-driver 10^10-URL path)."""
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        with_delta = bf is not None or ccf is not None

        def per_partition(batches):
            pid = TaskContext.get().partitionId()
            chunks = []
            n = 0
            for pdf in batches:
                if len(pdf):
                    n += len(pdf)
                    if with_delta:
                        chunks.append(pdf.iloc[:, 0].to_numpy(dtype=np.int64))
            if n:
                blob = np.concatenate(chunks).tobytes() if with_delta else b""
                yield pd.DataFrame(
                    {"partition_id": [pid], "n": [n], "hashes": [blob]}
                )

        rows = (
            fetched.select(F.xxhash64("url").alias("url_hash"))
            .mapInPandas(per_partition, "partition_id int, n long, hashes binary")
            .collect()
        )
        if with_delta:
            import numpy as np

            h = (
                np.concatenate(
                    [np.frombuffer(r["hashes"], dtype=np.int64) for r in rows]
                )
                if rows
                else np.zeros(0, dtype=np.int64)
            )
            if bf is not None:
                bf.add(h)
            elif ccf is not None and len(h):
                # delta insert: EVERY wave key gets its own fingerprint copy
                # (multiset semantics). The round-3 code pre-filtered with
                # might_contain to skip "already present" keys — but a skip
                # on a FALSE-POSITIVE collision meant that key was never
                # actually inserted, and a later delete of it (recrawl
                # sweep) would evict the colliding fingerprint of a LIVE
                # key -> false negative -> crawl-once violated. Inserting
                # unconditionally costs ~fpp extra load and makes
                # delete_batch of any inserted key always sound: n inserts
                # leave n copies, one delete removes one.
                failed = ccf.insert_batch(h)
                if failed:
                    raise ValueError(
                        f"resident cuckoo overflow: {failed} delta inserts "
                        f"failed at iteration — raise n_expected_urls"
                    )
        return [(r["partition_id"], r["n"]) for r in rows]

    result = CrawlResult()
    metrics_rows = []
    seen_size = resumed_seen_size
    _UNSET = object()  # adaptive-salt cache sentinel ("not yet computed";
    host_salts_df = _UNSET  # None is a valid cached value = no hot hosts)

    for it in range(start_iter, cfg.max_iterations):
        t0 = time.monotonic()

        # 1-2. politeness + robots. The PRE-robots wave is persisted and is
        # what later retires rows from the frontier — robots-disallowed URLs
        # must be removed too, or they are re-selected every iteration and
        # permanently starve allowed same-host URLs below the politeness cap.
        host_salts = None
        if cfg.salt_mode == "adaptive":
            # the hot-host set is small (hosts above k x median, capped at
            # adaptive_max_hot_hosts, hottest first): COLLECT it once and
            # build a literal DataFrame — leaving the aggregation as a
            # subplan re-executes the full-frontier groupBy inside every
            # job that touches the wave (measured 2.4 s/wave on an
            # 800k-row frontier). The literal DataFrame itself is CACHED
            # across iterations and only rebuilt on refresh. A corpus
            # with NO hot host skips the broadcast join entirely
            # (identical to the static path at zero extra cost).
            if host_salts_df is _UNSET or (
                (it - start_iter) % max(1, cfg.adaptive_salt_every) == 0
            ):
                salts_rows = [
                    (r["host"], r["salt"])
                    for r in adaptive_host_salt(
                        frontier,
                        k_times_median=cfg.adaptive_salt_k,
                        max_salt=cfg.adaptive_max_salt,
                    )
                    .orderBy(F.col("salt").desc(), "host")
                    .limit(cfg.adaptive_max_hot_hosts)
                    .collect()
                ]
                host_salts_df = (
                    spark.createDataFrame(salts_rows, "host string, salt int")
                    if salts_rows
                    else None
                )
            host_salts = host_salts_df
        fetch_caps = None
        eff_cap = cfg.max_per_host
        if cfg.host_budget is not None:
            # remaining budget per SEEN host; unseen hosts get the default,
            # which is itself clamped to the whole-run budget
            fetch_caps = host_used.select(
                "host",
                F.greatest(
                    F.lit(0), F.lit(cfg.host_budget) - F.col("used")
                ).alias("cap"),
            )
            eff_cap = min(cfg.max_per_host, cfg.host_budget)
        wave_pre = (
            select_wave(
                frontier, eff_cap, cfg.salt, host_salts=host_salts,
                host_fetch_caps=fetch_caps, rotation=it,
            )
            .drop("wave_rank")
            .persist()
        )
        # full RFC 9309 precedence when the rules carry Allow rows (an
        # 'Disallow: / + Allow: /public/' robots.txt must NOT black-hole
        # the whole host); the cheaper prefix anti-join covers the
        # disallow-only common case. Both gates are broadcast-side only.
        wave = (
            (robots_gate_rfc if robots_needs_rfc else robots_gate)(
                wave_pre, robots
            )
            if robots is not None
            else wave_pre
        )

        # 3. crawl-once gate with membership prefilter. The probed wave is
        # persisted: the gate's fresh/maybe split reads it twice, and without
        # the cache the politeness window (a shuffle) would run twice.
        use_filter = it > start_iter or (resume and start_iter > 0)
        wave_probed = None
        if cfg.filter_mode == "bloom" and use_filter:
            probe = sharded_might_contain_udf(spark, bf)
            wave_probed = (
                wave.withColumn("warc_ts", F.col("discovered_ts"))
                .withColumn("_maybe", probe(F.xxhash64("url")))
                .persist()
            )
            gated = crawl_once_gate(
                wave_probed, url_seen, might_be_seen=F.col("_maybe")
            ).drop("_maybe", "warc_ts")
        elif cfg.filter_mode == "bloom_table" and use_filter:
            # zero-driver probe: cogroup the wave with the shard table on
            # the shard key — one shuffle, no broadcast, no filter bytes on
            # the driver (this is the path a 10^10-URL filter must take:
            # ~12 GB of bitmaps can live only as a table).
            wave_probed = bloom_probe_cogroup(
                wave.withColumn("warc_ts", F.col("discovered_ts")).withColumn(
                    "url_hash", F.xxhash64("url")
                ),
                bloom_tbl,
                n_shards=cfg.bloom_shards,
            ).persist()
            gated = crawl_once_gate(
                wave_probed, url_seen, might_be_seen=F.col("_maybe")
            ).drop("_maybe", "warc_ts", "url_hash")
        elif cfg.filter_mode == "cuckoo" and use_filter:
            # resident filter probe — ccf was built ONCE (empty or from the
            # resume snapshot) and is delta-updated per wave; the round-2
            # O(|seen|) per-iteration rebuild is gone.
            probe = cuckoo_might_contain_udf(spark, ccf)
            wave_probed = (
                wave.withColumn("warc_ts", F.col("discovered_ts"))
                .withColumn("_maybe", probe(F.xxhash64("url")))
                .persist()
            )
            gated = crawl_once_gate(
                wave_probed, url_seen, might_be_seen=F.col("_maybe")
            ).drop("_maybe", "warc_ts")
        else:
            gated = crawl_once_gate(
                wave.withColumn("warc_ts", F.col("discovered_ts")), url_seen
            ).drop("warc_ts")

        gated = gated.persist()

        # 4. fetch join (J5)
        fetched = gated.join(corpus, "url", "inner").persist()

        # one action yields per-partition metrics (A2/north rule), the fetched
        # count, and the bloom delta bitmaps — fused into a single pass
        part_metrics = _metrics_and_filter_delta(fetched)
        fetched_n = sum(n for _, n in part_metrics)
        # exact scheduled count costs one more plan+job per iteration; in
        # fast mode approximate it by fetched (equal whenever every gated
        # url exists in the corpus — always true for the synthetic graph)
        scheduled = gated.count() if cfg.detailed_stats else fetched_n
        if scheduled == 0:
            # nothing fetched — but the wave may still be nonempty (all rows
            # robots-blocked or already-seen). Those rows must be RETIRED
            # from the frontier, not left to be re-selected forever; only an
            # empty wave terminates the crawl. The extra count() runs solely
            # on this rare path.
            wave_n = wave_pre.count()
            if wave_n == 0:
                gated.unpersist()
                fetched.unpersist()
                if wave_probed is not None:
                    wave_probed.unpersist()
                wave_pre.unpersist()
                break
            it_dir = f"{state_dir}/iter_{it:04d}"
            retired = frontier.join(wave_pre.select("url"), "url", "left_anti")
            if cfg.max_attempts > 1:
                # P6 must fire here too: a wave whose fetches ALL failed
                # lands on this branch (fetched_n == 0 in fast mode), and
                # without re-admission every url would silently drop at
                # attempt 0 instead of retrying to max_attempts — behavior
                # would diverge from detailed_stats=True runs, which route
                # the same wave through the main path's retry.
                failed = gated.join(corpus.select("url"), "url", "left_anti")
                retry0 = decay_priority(
                    failed.filter(F.col("attempt") < cfg.max_attempts - 1),
                    decay=cfg.retry_decay,
                )
                retired = retired.unionByName(
                    retry0.select(
                        "url", "host", "priority", "discovered_ts",
                        "attempt", "meta",
                    )
                )
            frontier = _snapshot(retired, f"{it_dir}/frontier")
            gated.unpersist()
            fetched.unpersist()
            if wave_probed is not None:
                wave_probed.unpersist()
            if cfg.seen_store == "merge":
                # url_seen unchanged this iteration and the merge table is
                # already durable — no rewrite, manifest keeps pointing at it
                seen_ref = seen_dir
            else:
                url_seen = _snapshot(url_seen, f"{it_dir}/url_seen")
                seen_ref = f"{it_dir}/url_seen"
            extra = {
                "frontier": f"{it_dir}/frontier",
                "url_seen": seen_ref,
                "seen_store": cfg.seen_store,
                "seen_size": seen_size,
                "meta_live": meta_live,
            }
            if cfg.seen_store == "merge":
                extra["seen_snapshot"] = merge_store.current_snapshot(seen_dir)
            if bloom_tbl is not None:
                # state unchanged this iteration, but the snapshot must move
                # with the manifest or the vacuum strands it
                bloom_tbl = _snapshot(bloom_tbl, f"{it_dir}/bloom")
                extra["bloom"] = f"{it_dir}/bloom"
            if ccf is not None:
                _persist_cuckoo(spark, ccf, f"{it_dir}/cuckoo")
                extra["cuckoo"] = f"{it_dir}/cuckoo"
            if cfg.host_budget is not None:
                host_used = _snapshot(host_used, f"{it_dir}/host_used")
                extra["host_used"] = f"{it_dir}/host_used"
            _write_manifest(state_dir, it, extra)
            wave_pre.unpersist()
            # vacuum old snapshots here too: consecutive empty-fetch
            # iterations (a long robots-blocked tail) would otherwise
            # accumulate iter_NNNN dirs past keep_snapshots unbounded
            # (round-2 ADVICE).
            _vacuum_snapshots(state_dir, cfg.keep_snapshots)
            result.iterations.append(
                IterationStats(it, 0, 0, 0, -1, seen_size, time.monotonic() - t0)
            )
            continue
        metrics_rows.extend(
            (it, pid, scheduled, n, n, 0) for pid, n in part_metrics
        )

        # 5. parse: per-page feature extraction (the HEPRecord-emission role;
        # on the synthetic corpus the record is the textstats feature row)
        # + outlink explosion
        it_dir = f"{state_dir}/iter_{it:04d}"
        records = None
        if cfg.parse_mode == "stats":
            # fused single-Arrow-pass feature extraction — bit-equal to the
            # individual column expressions (pinned by test) but the text
            # crosses to the python worker ONCE instead of being re-scanned
            # and re-allocated by several JVM regex expressions. `meta`
            # rides along: hop-2 records carry the hop-1 state that
            # discovered them (the PoS/EDP chained-harvest contract).
            records = X.record_features(
                fetched, keep_cols=("url", "meta") if meta_live else ("url",)
            )

        links = extract_outlinks(
            fetched, link_meta=link_meta, thread_meta=meta_live
        )
        if cfg.rank_priorities_every > 0:
            # append this wave's (parent -> url) edges to the crawl's link
            # graph log; the periodic rank refresh reads it back. One narrow
            # write over the cached wave — no shuffle.
            links.select(
                F.col("_parent").alias("src"), F.col("url").alias("dst")
            ).write.mode("append").parquet(f"{state_dir}/edges")
        meta_agg = (
            [
                # deterministic meta pick: the earliest (ts, parent) wins.
                # min_by keeps partial aggregation (map-side combine), unlike
                # a row_number window which would sort the full link set.
                F.min_by(
                    "meta", F.struct(F.col("discovered_ts"), F.col("_parent"))
                ).alias("meta")
            ]
            if meta_live
            else []
        )
        new_frontier_rows = (
            links.groupBy("url", "host")
            .agg(F.min("discovered_ts").alias("discovered_ts"), *meta_agg)
            .withColumn("priority", F.lit(0.0))
            .withColumn("attempt", F.lit(0))
        )
        if not meta_live:
            new_frontier_rows = new_frontier_rows.withColumn(
                "meta", F.expr("CAST(map() AS map<string,string>)")
            )

        # 6. state merge
        new_seen = (
            url_seen.unionByName(
                fetched.select("url", F.col("warc_ts").alias("last_ts"))
            )
            .groupBy("url")
            .agg(F.max("last_ts").alias("last_ts"))
        )
        # retire the PRE-robots wave from the frontier: both fetched rows and
        # robots-blocked rows leave for good (the reference's robots
        # middleware drops denied requests permanently). wave_pre is cached,
        # so this re-read costs no politeness-window shuffle.
        remaining = frontier.join(wave_pre.select("url"), "url", "left_anti")
        candidates = new_frontier_rows.join(new_seen, "url", "left_anti").join(
            remaining.select("url"), "url", "left_anti"
        )
        if cfg.max_depth is not None:
            candidates = candidates.filter(
                F.coalesce(
                    F.element_at(F.col("meta"), F.lit("depth")).cast("int"),
                    F.lit(0),
                )
                <= cfg.max_depth
            )
        frontier_cols = [
            "url", "host", "priority", "discovered_ts", "attempt", "meta"
        ]
        retry = None
        if cfg.max_attempts > 1:
            # P6 retry/backoff (reference RetryMiddleware; decay_priority is
            # the oracle-gated twin): gated urls with NO corpus row are this
            # wave's failed fetches. They were retired with wave_pre above;
            # re-admit them with attempt+1 and decayed priority until
            # max_attempts. Pay-for-use: one extra anti-join per iteration
            # only when enabled. The retry row WINS over a same-wave outlink
            # rediscovery of the same url (anti-join below) — otherwise the
            # frontier holds duplicate rows whose attempt=0 copy keeps
            # respawning fresh retries past max_attempts.
            failed = gated.join(corpus.select("url"), "url", "left_anti")
            retry = decay_priority(
                failed.filter(F.col("attempt") < cfg.max_attempts - 1),
                decay=cfg.retry_decay,
            )
            candidates = candidates.join(retry.select("url"), "url", "left_anti")
        next_frontier = remaining.unionByName(
            candidates.select(*frontier_cols)
        )
        if retry is not None:
            next_frontier = next_frontier.unionByName(
                retry.select(*frontier_cols)
            )
        rank_refresh = None
        if (
            cfg.rank_priorities_every > 0
            and (it + 1) % cfg.rank_priorities_every == 0
        ):
            # OPIC-style refresh: PageRank over the accumulated link graph,
            # normalized to [0, 1], becomes the dispatch priority — pages
            # many crawled pages point at move to the head of the politeness
            # queue. Urls not yet in the graph keep their current priority.
            # Deferred into the frontier-commit thunk below: pagerank runs
            # eagerly (a crawl-sized edge log is ONE NumPy task, a larger one
            # the checkpointed relational rounds), and executing it here
            # would SERIALIZE the refresh before the commit pool starts —
            # inside the thunk it overlaps the independent url_seen / bloom
            # / records commits (guide §2.6). The edge log is complete at
            # this point (this wave's links were appended above), so ranks
            # are identical either way.
            def rank_refresh(df):
                from ..operators.linkrank import pagerank

                ranks = pagerank(
                    spark.read.parquet(f"{state_dir}/edges"),
                    iterations=cfg.rank_iterations,
                )
                # pagerank returns MATERIALIZED ranks: the `_top` broadcast
                # and the frontier join both read them, neither re-runs the
                # rank computation. [0,1] normalization rides the frontier
                # join as a one-row broadcast instead of a separate max()
                # collect job; ranks are always > 0 (base mass), so coalesce
                # only covers the empty-graph null exactly like the old
                # `or 1.0`
                top_df = ranks.agg(
                    F.coalesce(F.max("rank"), F.lit(1.0)).alias("_top")
                )
                r = ranks.crossJoin(F.broadcast(top_df)).select(
                    F.col("node").alias("url"),
                    (F.col("rank") / F.col("_top")).alias("_r"),
                )
                return (
                    df.join(r, "url", "left")
                    .withColumn(
                        "priority", F.coalesce(F.col("_r"), F.col("priority"))
                    )
                    .drop("_r")
                )

        if (
            cfg.trap_detect_every > 0
            and (it + 1) % cfg.trap_detect_every == 0
        ):
            from ..functions.urls import host_of, path_of
            from ..operators.traps import detect_traps

            flagged = (
                detect_traps(
                    new_seen.select(
                        "url",
                        host_of("url").alias("host"),
                        path_of("url").alias("path"),
                    ),
                    min_urls=cfg.trap_min_urls,
                    min_share_ppm=cfg.trap_min_share_ppm,
                )
                .filter("is_trap")
                .orderBy(F.col("n_urls").desc(), "host", "template")
                .limit(cfg.trap_max_templates)
                .select("host", "template")
            )
            rows = flagged.collect()
            trap_tpls = (
                spark.createDataFrame(rows, "host string, template string")
                if rows
                else None
            )
        if trap_tpls is not None:
            from ..functions.urls import path_of
            from ..operators.traps import trap_gate

            next_frontier = trap_gate(
                next_frontier.withColumn("_path", path_of("url")),
                trap_tpls,
                host_col="host",
                path_col="_path",
            ).drop("_path")

        if cfg.host_budget is not None:
            # carry-over: fold this wave's per-host fetch counts into the
            # running consumption state (tiny: one row per host ever seen)
            # charge the budget by DISTINCT url: `fetched` is the gated
            # INNER join against the corpus on url, so a corpus holding
            # multiple captures per url (multiple warc_ts — the recrawl
            # scenario) multiplies the join and a plain count(*) would
            # charge one admitted fetch N times.
            host_used = (
                host_used.unionByName(
                    fetched.groupBy("host").agg(
                        F.countDistinct("url").alias("used")
                    )
                )
                .groupBy("host")
                .agg(F.sum("used").alias("used"))
            )

        # bloom_table delta: OR the wave's hashes into the shard bitmaps —
        # a cogroup job, still zero filter bytes on the driver
        new_bloom = None
        if bloom_tbl is not None:
            new_bloom = bloom_merge_delta_cogroup(
                fetched.select(F.xxhash64("url").alias("url_hash")),
                bloom_tbl,
                **bloom_size,
            )

        # 7. snapshot (data first, manifest last = atomic commit). The
        # writes (records sink, frontier/url_seen/bloom state) are
        # INDEPENDENT jobs over the already-cached `fetched` + the previous
        # parquet state, so they are submitted concurrently from driver
        # threads — the Spark scheduler interleaves them across the executor
        # pool. This removes per-iteration serial job-commit latencies that
        # dominated the round-1 fixed cost (~8-9 s/iteration of planning +
        # commit measured in BENCH/BASELINE.md).
        #
        # With snapshot_every=K only every K-th iteration is DURABLE
        # (parquet + manifest); in between, state is localCheckpoint'ed —
        # lineage still truncates (mandatory in any DataFrame fixpoint) but
        # the two write+read job commits are skipped. Resume replays from
        # the last durable manifest. At 100 TB durable = Iceberg snapshot
        # commit and K trades recovery replay depth against commit latency.
        durable = (
            cfg.snapshot_every <= 1
            or (it + 1) % cfg.snapshot_every == 0
            or it == cfg.max_iterations - 1  # final iteration always commits
        )
        def _merge_seen() -> DataFrame:
            # MERGE INTO url_seen USING wave: only the buckets the wave's
            # urls hash into are read+rewritten; the merged table read back
            # from the new manifest doubles as lineage truncation. Durable
            # EVERY iteration at O(|wave|+touched buckets) cost — the
            # merge store's whole point vs the O(|seen|) full rewrite.
            merge_store.merge_upsert(
                spark,
                seen_dir,
                fetched.select("url", F.col("warc_ts").alias("last_ts")),
                key="url",
            )
            return merge_store.read_table(spark, seen_dir)

        if rank_refresh is not None:
            # evaluated INSIDE the frontier future so the multi-job rank
            # refresh overlaps the other commits
            _nf = next_frontier

            def _frontier_df(df=_nf):
                return rank_refresh(df)
        else:
            def _frontier_df(df=next_frontier):
                return df

        with ThreadPoolExecutor(max_workers=4) as pool:
            if durable:
                futs = {
                    "frontier": pool.submit(
                        lambda: _snapshot(_frontier_df(), f"{it_dir}/frontier")
                    ),
                    "url_seen": pool.submit(_merge_seen)
                    if cfg.seen_store == "merge"
                    else pool.submit(_snapshot, new_seen, f"{it_dir}/url_seen"),
                }
                if new_bloom is not None:
                    futs["bloom"] = pool.submit(
                        _snapshot, new_bloom, f"{it_dir}/bloom"
                    )
            else:
                futs = {
                    "frontier": pool.submit(
                        lambda: _frontier_df().localCheckpoint(eager=True)
                    ),
                    "url_seen": pool.submit(_merge_seen)
                    if cfg.seen_store == "merge"
                    else pool.submit(
                        lambda df=new_seen: df.localCheckpoint(eager=True)
                    ),
                }
                if new_bloom is not None:
                    futs["bloom"] = pool.submit(
                        lambda df=new_bloom: df.localCheckpoint(eager=True)
                    )
            if records is not None:
                futs["records"] = pool.submit(
                    lambda: records.write.mode("overwrite").parquet(
                        f"{it_dir}/records"
                    )
                )
            next_frontier = futs["frontier"].result()
            new_seen = futs["url_seen"].result()
            if "bloom" in futs:
                bloom_tbl = futs["bloom"].result()
            if "records" in futs:
                futs["records"].result()
        if cfg.detailed_stats:
            new_frontier_size = next_frontier.count()
            seen_size = new_seen.count()
        else:
            new_frontier_size = -1
            seen_size += fetched_n  # upper bound (exact when urls are unique)

        if durable:
            manifest_extra = {
                "frontier": f"{it_dir}/frontier",
                "url_seen": seen_dir
                if cfg.seen_store == "merge"
                else f"{it_dir}/url_seen",
                "seen_store": cfg.seen_store,
                "seen_size": seen_size,
                "meta_live": meta_live,
            }
            if cfg.seen_store == "merge":
                manifest_extra["seen_snapshot"] = merge_store.current_snapshot(
                    seen_dir
                )
            if new_bloom is not None:
                manifest_extra["bloom"] = f"{it_dir}/bloom"
            if ccf is not None:
                # the resident filter already absorbed this wave's delta —
                # persist its blobs beside the snapshot for O(bytes) resume
                _persist_cuckoo(spark, ccf, f"{it_dir}/cuckoo")
                manifest_extra["cuckoo"] = f"{it_dir}/cuckoo"
            if cfg.host_budget is not None:
                host_used = _snapshot(host_used, f"{it_dir}/host_used")
                manifest_extra["host_used"] = f"{it_dir}/host_used"
            _write_manifest(state_dir, it, manifest_extra)

        if cfg.host_budget is not None and not durable:
            host_used = host_used.localCheckpoint(eager=True)
        gated.unpersist()
        fetched.unpersist()
        wave_pre.unpersist()
        if wave_probed is not None:
            wave_probed.unpersist()
        frontier, url_seen = next_frontier, new_seen

        if durable:
            _vacuum_snapshots(state_dir, cfg.keep_snapshots)
            if cfg.seen_store == "merge":
                # the merge table advances every iteration, the manifest
                # every snapshot_every-th — keep enough merge snapshots that
                # every retained manifest's seen_snapshot stays readable
                merge_store.vacuum(
                    seen_dir,
                    cfg.keep_snapshots * max(1, cfg.snapshot_every) + 1,
                )

        result.iterations.append(
            IterationStats(
                iteration=it,
                scheduled=scheduled,
                fetched=fetched_n,
                parsed=fetched_n,
                frontier_size=new_frontier_size,
                seen_size=seen_size,
                wall_s=time.monotonic() - t0,
            )
        )
        if new_frontier_size == 0:  # only hit with detailed_stats
            break

    if metrics_rows:
        spark.createDataFrame(
            metrics_rows,
            "iteration int, partition_id int, scheduled long, fetched long, parsed long, errors long",
        ).write.mode("overwrite").parquet(f"{state_dir}/metrics")
    return result
