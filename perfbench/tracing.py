"""Traced run: per-layer spans from calls into each layer's public functions.

A crawl workload first runs ``run_crawl`` once more (untimed by spans) and
reads its Spark job, stage and task counts from the status tracker. It then
replays the same seeds by calling each layer's public function in
``run_crawl``'s phase order on materialised inputs, forcing every output
with a count or a ``noop`` write. The replay must reproduce ``run_crawl``'s
per-iteration scheduled and fetched counts exactly, or the traced run fails.

feed_parse times each ``parsers/*`` entry point the same way.

Each span records name, start, end, parent span, workload, seed, rows in
and out, and the jobs / stages / tasks of its own Spark job group (one
unique group per span). Spans stay in memory and are written to
``perfbench/out/spans-<workload>-<seed>.jsonl`` at the end.

Metrics of a layer that the workload does not run read 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.inputs import FEED_SOURCES

# every per-layer metric, with its unit; BENCHMARK.json lists the same names
LAYER_METRICS = {
    "session.get_spark.s": "s",
    "session.inputs.s": "s",
    "politeness.select_wave.s": "s",
    "politeness.select_wave.jobs": "count",
    "politeness.wave_frac": "frac",
    "politeness.adaptive_salt.s": "s",
    "robots.gate.s": "s",
    "robots.blocked_frac": "frac",
    "bloom.probe.s": "s",
    "bloom.delta.s": "s",
    "bloom.maybe_frac": "frac",
    "bloom.fp_frac": "frac",
    "dedup.crawl_once_gate.s": "s",
    "dedup.gate_removed_frac": "frac",
    "dedup.gate_join_rows": "count",
    "frontier.fetch_join.s": "s",
    "frontier.fetch_failed_frac": "frac",
    "frontier.retry_rows": "count",
    "frontier.extract_outlinks.s": "s",
    "frontier.links_per_page": "count",
    "frontier.links_new_frac": "frac",
    "frontier.commit.s": "s",
    "frontier.commit_bytes_per_page": "bytes",
    "frontier.unattributed.s": "s",
    "textstats.record_features.s": "s",
    "textstats.arrow_transfer.s": "s",
    "textstats.kernel.s": "s",
    "textstats.pages_per_s": "1/s",
    "merge_store.upsert.s": "s",
    "merge_store.buckets_touched": "count",
    "merge_store.bytes_rewritten_per_row": "bytes",
    "linkrank.pagerank.s": "s",
    "linkrank.edges": "count",
    "linkrank.jobs": "count",
    **{f"parsers.{src}.s": "s" for src in FEED_SOURCES},
    **{f"parsers.{src}.mb_per_s": "MB/s" for src in FEED_SOURCES},
    "parsers.arrow_transfer.s": "s",
    "parsers.kernel.s": "s",
    "parsers.error_rows": "count",
    "spark.jobs_per_iter": "count",
    "spark.stages_per_iter": "count",
    "spark.tasks_per_iter": "count",
    "trace.overhead_s": "s",
    "host.peak_rss_mb": "MB",
}


class Tracer:
    """In-memory spans, each tagged with its own Spark job group."""

    def __init__(self, spark, workload: str, seed: int):
        self.sc = spark.sparkContext
        self.workload, self.seed = workload, seed
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rows_in: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "seed": self.seed,
            "rows_in": rows_in,
            "rows_out": None,
            "group": f"perfbench-{self.workload}-{sid}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_jobs(self) -> None:
        """Attach job / stage / task counts once the listener bus is idle."""
        time.sleep(1.0)
        for rec in self.spans:
            rec.update(job_counts(self.sc, self.sc.statusTracker().getJobIdsForGroup(rec["group"])))

    def total(self, name: str, key: str = "s") -> float:
        hit = [r for r in self.spans if r["name"] == name]
        if key == "s":
            return sum(r["end"] - r["start"] for r in hit)
        return sum(r.get(key) or 0 for r in hit)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def job_counts(sc, job_ids) -> dict:
    st = sc.statusTracker()
    jobs, stages, tasks = 0, 0, 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:  # skipped stages run no task
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _identity(batches):
    yield from batches


def arrow_round_trip(df: DataFrame) -> None:
    """The JVM <-> Python Arrow transfer of ``df``'s columns with no kernel:
    an identity ``mapInPandas`` forced by a noop write."""
    df.mapInPandas(_identity, df.schema).write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if not f.startswith("."))
    return total


def _snapshot(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


# -- crawl replay -------------------------------------------------------------

def replay_crawl(spark, tr: Tracer, corpus, seeds, robots, cfg) -> tuple[list, dict]:
    """``run_crawl``'s phases for the production profile (bloom_table filter,
    merge url_seen), one span per layer call. Returns the per-iteration
    (iteration, scheduled, fetched) counts and the row counters the ratios
    are built from."""
    from hepcrawl_spark.crawl.frontier import extract_outlinks
    from hepcrawl_spark.crawl.robots import robots_gate_rfc
    from hepcrawl_spark.operators import textstats as X
    from hepcrawl_spark.operators.bloom import (
        bloom_merge_delta_cogroup,
        bloom_probe_cogroup,
        empty_bloom_shard_table,
    )
    from hepcrawl_spark.operators.dedup import crawl_once_gate
    from hepcrawl_spark.operators.linkrank import pagerank
    from hepcrawl_spark.operators.politeness import (
        adaptive_host_salt,
        decay_priority,
        robots_gate,
        select_wave,
    )
    from hepcrawl_spark.sources import merge_store

    mode = cfg.filter_mode
    if mode == "auto":
        mode = "bloom" if cfg.n_expected_urls <= cfg.auto_filter_threshold else "bloom_table"
    if mode != "bloom_table" or cfg.seen_store != "merge" or cfg.host_budget is not None or (
        cfg.trap_detect_every or cfg.max_depth is not None or cfg.link_meta is not None
    ):
        raise ValueError("the replay covers the benchmark's production profile only")
    state_dir = cfg.state_dir
    seen_dir = f"{state_dir}/url_seen_merge"
    edges_dir = f"{state_dir}/edges"
    meta_live = cfg.rank_priorities_every > 0
    empty_meta = F.expr("CAST(map() AS map<string,string>)")
    c = dict.fromkeys(
        ("frontier", "wave", "allowed", "probed", "maybe", "fp", "gated", "join_rows",
         "fetched", "retry", "links", "new_rows", "candidates", "edges",
         "commit_bytes", "buckets", "merge_bytes", "merge_rows"), 0)
    counts = []

    corpus_sel = corpus.select("url", "warc_ts", "text")
    with tr.span("crawl.init"):
        frontier = seeds.select(
            "url", "host",
            F.coalesce(F.col("priority"), F.lit(0.0)).alias("priority"),
            F.coalesce(F.col("discovered_ts"), F.current_timestamp()).alias("discovered_ts"),
        ).withColumn("attempt", F.lit(0)).withColumn("meta", empty_meta)
        url_seen = spark.createDataFrame([], "url string, last_ts timestamp")
        rfc = robots is not None and robots.filter(
            (F.col("allow") == "allow")
            | F.col("path_prefix").contains("*")
            | F.col("path_prefix").endswith("$")
        ).limit(1).count() > 0
        merge_store.create_table(url_seen, seen_dir, key="url", n_buckets=cfg.seen_buckets)
        bloom_tbl = _snapshot(
            empty_bloom_shard_table(spark, cfg.n_expected_urls, cfg.bloom_fpp, cfg.bloom_shards),
            f"{state_dir}/bloom_init",
        )

    host_salts = None
    for it in range(cfg.max_iterations):
        it_dir = f"{state_dir}/iter_{it:04d}"
        with tr.span("iteration", iteration=it) as it_span:
            if cfg.salt_mode == "adaptive" and it % max(1, cfg.adaptive_salt_every) == 0:
                with tr.span("politeness.adaptive_salt"):
                    rows = (
                        adaptive_host_salt(frontier, k_times_median=cfg.adaptive_salt_k,
                                           max_salt=cfg.adaptive_max_salt)
                        .orderBy(F.col("salt").desc(), "host")
                        .limit(cfg.adaptive_max_hot_hosts)
                        .collect()
                    )
                    host_salts = spark.createDataFrame(rows, "host string, salt int") if rows else None
            with tr.span("_count.frontier"):
                n_frontier = frontier.count()
            with tr.span("politeness.select_wave", rows_in=n_frontier) as s:
                wave_pre = select_wave(
                    frontier, cfg.max_per_host, cfg.salt, host_salts=host_salts, rotation=it
                ).drop("wave_rank").persist()
                n_wave = s["rows_out"] = wave_pre.count()
            wave, n_allowed = wave_pre, n_wave
            if robots is not None:
                with tr.span("robots.gate", rows_in=n_wave) as s:
                    wave = (robots_gate_rfc if rfc else robots_gate)(wave_pre, robots).persist()
                    n_allowed = s["rows_out"] = wave.count()
            wave = wave.withColumn("warc_ts", F.col("discovered_ts"))

            probed = None
            if it > 0:
                with tr.span("bloom.probe", rows_in=n_allowed) as s:
                    probed = bloom_probe_cogroup(
                        wave.withColumn("url_hash", F.xxhash64("url")), bloom_tbl,
                        n_shards=cfg.bloom_shards,
                    ).persist()
                    n_maybe = s["rows_out"] = probed.filter("_maybe").count()
                with tr.span("_count.bloom_fp"):
                    n_fp = probed.filter("_maybe").join(url_seen, "url", "left_anti").count()
                c["probed"] += n_allowed
                c["maybe"] += n_maybe
                c["fp"] += n_fp
                c["join_rows"] += n_maybe
                with tr.span("dedup.crawl_once_gate", rows_in=n_allowed) as s:
                    gated = crawl_once_gate(probed, url_seen, might_be_seen=F.col("_maybe"))
                    gated = gated.drop("_maybe", "warc_ts", "url_hash").persist()
                    n_gated = s["rows_out"] = gated.count()
            else:
                c["join_rows"] += n_allowed
                with tr.span("dedup.crawl_once_gate", rows_in=n_allowed) as s:
                    gated = crawl_once_gate(wave, url_seen).drop("warc_ts").persist()
                    n_gated = s["rows_out"] = gated.count()

            with tr.span("frontier.fetch_join", rows_in=n_gated) as s:
                fetched = gated.join(corpus_sel, "url", "inner").persist()
                n_fetched = s["rows_out"] = fetched.count()
            c["frontier"] += n_frontier
            c["wave"] += n_wave
            c["allowed"] += n_allowed
            c["gated"] += n_gated
            c["fetched"] += n_fetched

            failed = gated.join(corpus_sel.select("url"), "url", "left_anti")
            retry = None
            if cfg.max_attempts > 1:
                retry = decay_priority(
                    failed.filter(F.col("attempt") < cfg.max_attempts - 1), decay=cfg.retry_decay
                )
            remaining = frontier.join(wave_pre.select("url"), "url", "left_anti")
            if n_fetched == 0:
                it_span["empty"] = True
                if n_wave == 0:
                    break
                frontier = remaining
                if retry is not None:
                    frontier = frontier.unionByName(retry.select(*frontier.columns))
                with tr.span("frontier.commit"):
                    frontier = frontier.localCheckpoint(eager=True)
                counts.append((it, 0, 0))
                continue

            with tr.span("bloom.delta", rows_in=n_fetched):
                hashes = fetched.select(F.xxhash64("url").alias("url_hash"))
                new_bloom = bloom_merge_delta_cogroup(hashes, bloom_tbl, n_shards=cfg.bloom_shards)

            keep = ("url", "meta") if meta_live else ("url",)
            with tr.span("textstats.record_features", rows_in=n_fetched):
                X.record_features(fetched, keep_cols=keep).write.format("noop").mode("overwrite").save()
            with tr.span("textstats.arrow_transfer", rows_in=n_fetched):
                arrow_round_trip(fetched.select(*keep, "text"))

            with tr.span("frontier.extract_outlinks", rows_in=n_fetched) as s:
                links = extract_outlinks(fetched, thread_meta=meta_live).persist()
                c["links"] += links.count()
                if cfg.rank_priorities_every > 0:
                    links.select(F.col("_parent").alias("src"), F.col("url").alias("dst")).write.mode(
                        "append").parquet(edges_dir)
                meta_agg = (
                    [F.min_by("meta", F.struct(F.col("discovered_ts"), F.col("_parent"))).alias("meta")]
                    if meta_live else []
                )
                new_rows = (
                    links.groupBy("url", "host")
                    .agg(F.min("discovered_ts").alias("discovered_ts"), *meta_agg)
                    .withColumn("priority", F.lit(0.0))
                    .withColumn("attempt", F.lit(0))
                )
                if not meta_live:
                    new_rows = new_rows.withColumn("meta", empty_meta)
                new_rows = new_rows.persist()
                c["new_rows"] += new_rows.count()
                new_seen = (
                    url_seen.unionByName(fetched.select("url", F.col("warc_ts").alias("last_ts")))
                    .groupBy("url").agg(F.max("last_ts").alias("last_ts"))
                )
                candidates = new_rows.join(new_seen, "url", "left_anti").join(
                    remaining.select("url"), "url", "left_anti")
                if retry is not None:
                    retry = retry.persist()
                    c["retry"] += retry.count()
                    candidates = candidates.join(retry.select("url"), "url", "left_anti")
                cols = ["url", "host", "priority", "discovered_ts", "attempt", "meta"]
                candidates = candidates.select(*cols).persist()
                n_cand = s["rows_out"] = candidates.count()
                c["candidates"] += n_cand
                next_frontier = remaining.unionByName(candidates)
                if retry is not None:
                    next_frontier = next_frontier.unionByName(retry.select(*cols))

            if cfg.rank_priorities_every > 0 and (it + 1) % cfg.rank_priorities_every == 0:
                with tr.span("linkrank.pagerank"):
                    edges = spark.read.parquet(edges_dir)
                    ranks = pagerank(edges, iterations=cfg.rank_iterations)
                    top = ranks.agg(F.coalesce(F.max("rank"), F.lit(1.0)).alias("_top"))
                    r = ranks.crossJoin(F.broadcast(top)).select(
                        F.col("node").alias("url"), (F.col("rank") / F.col("_top")).alias("_r")
                    ).localCheckpoint(eager=True)
                    next_frontier = (
                        next_frontier.join(r, "url", "left")
                        .withColumn("priority", F.coalesce(F.col("_r"), F.col("priority")))
                        .drop("_r")
                    )
                with tr.span("_count.edges"):
                    c["edges"] += edges.count()

            durable = (
                cfg.snapshot_every <= 1
                or (it + 1) % cfg.snapshot_every == 0
                or it == cfg.max_iterations - 1
            )
            with tr.span("frontier.commit", rows_in=n_fetched):
                if durable:
                    next_frontier = _snapshot(next_frontier, f"{it_dir}/frontier")
                    c["commit_bytes"] += _dir_bytes(f"{it_dir}/frontier")
                else:
                    next_frontier = next_frontier.localCheckpoint(eager=True)
            # the delta cogroup is lazy until its commit: both are bloom.delta
            with tr.span("bloom.delta", rows_in=n_fetched):
                if durable:
                    bloom_tbl = _snapshot(new_bloom, f"{it_dir}/bloom")
                    c["commit_bytes"] += _dir_bytes(f"{it_dir}/bloom")
                else:
                    bloom_tbl = new_bloom.localCheckpoint(eager=True)
            with tr.span("merge_store.upsert", rows_in=n_fetched):
                snap = merge_store.current_snapshot(seen_dir)
                merge_store.merge_upsert(
                    spark, seen_dir, fetched.select("url", F.col("warc_ts").alias("last_ts")), key="url"
                )
                url_seen = merge_store.read_table(spark, seen_dir)
            gen = f"{seen_dir}/data/gen-{snap + 1}"
            touched = [d for d in os.listdir(gen) if d.startswith("bucket=")]
            c["buckets"] += len(touched)
            c["merge_bytes"] += _dir_bytes(gen)
            c["merge_rows"] += n_fetched
            c["commit_bytes"] += _dir_bytes(gen)
            for df in (wave_pre, wave, probed, gated, fetched, links, new_rows, candidates, retry):
                if df is not None:
                    df.unpersist()
            frontier = next_frontier
            counts.append((it, n_fetched, n_fetched))
    return counts, c


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def trace_crawl(spark, ctx, args, corpus, seeds, robots, levels) -> dict:
    from perfbench.inputs import production_config
    from perfbench.run import crawl_check, crawl_once

    sc = spark.sparkContext
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    res, plain_wall = crawl_once(spark, corpus, seeds, robots, os.path.join(ctx["run_dir"], "plain"))
    errors = crawl_check(res, levels)
    time.sleep(1.0)
    plain_jobs = job_counts(sc, set(st.getJobIdsForGroup(None)) - before)

    tr = Tracer(spark, args.workload, args.seed)
    replay_dir = os.path.join(ctx["run_dir"], "replay")
    t0 = time.monotonic()
    counts, c = replay_crawl(spark, tr, corpus, seeds, robots, production_config(replay_dir))
    replay_wall = time.monotonic() - t0
    shutil.rmtree(replay_dir, ignore_errors=True)
    tr.resolve_jobs()

    want = [(i.iteration, i.scheduled, i.fetched) for i in res.iterations]
    replay_ok = counts == want
    failed = int(bool(errors)) + int(not replay_ok)
    if not replay_ok:
        errors.append(f"replay counts {counts} != run_crawl counts {want}")

    iters = [r for r in tr.spans if r["name"] == "iteration"]
    unattributed = []
    for r in iters:
        kids = sum(k["end"] - k["start"] for k in tr.spans if k["parent"] == r["id"])
        unattributed.append(r["end"] - r["start"] - kids)
    n_iter = max(1, len(res.iterations))
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update({
        "session.get_spark.s": ctx["get_spark_s"],
        "session.inputs.s": ctx["inputs_s"],
        "politeness.select_wave.s": tr.total("politeness.select_wave"),
        "politeness.select_wave.jobs": tr.total("politeness.select_wave", "jobs"),
        "politeness.wave_frac": _ratio(c["wave"], c["frontier"]),
        "politeness.adaptive_salt.s": tr.total("politeness.adaptive_salt"),
        "robots.gate.s": tr.total("robots.gate"),
        "robots.blocked_frac": _ratio(c["wave"] - c["allowed"], c["wave"]),
        "bloom.probe.s": tr.total("bloom.probe"),
        "bloom.delta.s": tr.total("bloom.delta"),
        "bloom.maybe_frac": _ratio(c["maybe"], c["probed"]),
        "bloom.fp_frac": _ratio(c["fp"], c["probed"]),
        "dedup.crawl_once_gate.s": tr.total("dedup.crawl_once_gate"),
        "dedup.gate_removed_frac": _ratio(c["allowed"] - c["gated"], c["allowed"]),
        "dedup.gate_join_rows": c["join_rows"],
        "frontier.fetch_join.s": tr.total("frontier.fetch_join"),
        "frontier.fetch_failed_frac": _ratio(c["gated"] - c["fetched"], c["gated"]),
        "frontier.retry_rows": c["retry"],
        "frontier.extract_outlinks.s": tr.total("frontier.extract_outlinks"),
        "frontier.links_per_page": _ratio(c["links"], c["fetched"]),
        "frontier.links_new_frac": _ratio(c["candidates"], c["new_rows"]),
        "frontier.commit.s": tr.total("frontier.commit"),
        "frontier.commit_bytes_per_page": _ratio(c["commit_bytes"], c["fetched"]),
        "frontier.unattributed.s": statistics.mean(unattributed) if unattributed else 0.0,
        "textstats.record_features.s": tr.total("textstats.record_features"),
        "textstats.arrow_transfer.s": tr.total("textstats.arrow_transfer"),
        "textstats.pages_per_s": _ratio(c["fetched"], tr.total("textstats.record_features")),
        "merge_store.upsert.s": tr.total("merge_store.upsert"),
        "merge_store.buckets_touched": c["buckets"],
        "merge_store.bytes_rewritten_per_row": _ratio(c["merge_bytes"], c["merge_rows"]),
        "linkrank.pagerank.s": tr.total("linkrank.pagerank"),
        "linkrank.edges": c["edges"],
        "linkrank.jobs": tr.total("linkrank.pagerank", "jobs"),
        "spark.jobs_per_iter": plain_jobs["jobs"] / n_iter,
        "spark.stages_per_iter": plain_jobs["stages"] / n_iter,
        "spark.tasks_per_iter": plain_jobs["tasks"] / n_iter,
        "trace.overhead_s": replay_wall - plain_wall,
    })
    m["textstats.kernel.s"] = m["textstats.record_features.s"] - m["textstats.arrow_transfer.s"]
    tr.write(os.path.join(os.path.dirname(__file__), "out", f"spans-{args.workload}-{args.seed}.jsonl"))
    return {
        "attempted": 2,  # the plain crawl and its replay
        "failed": failed,
        "errors": errors,
        "metrics": {k: (float(v), LAYER_METRICS[k]) for k, v in m.items()},
    }


# -- feed_parse ---------------------------------------------------------------

def trace_feed(spark, ctx, args, pages) -> dict:
    """Time every parser entry point on the cached replicated pages, forced
    as in a timed pass, beside an identity Arrow pass over the same input
    columns. An untraced pass of the same calls first gives the Spark counts
    and the tracing overhead. The caller's golden check vouches for the
    records."""
    from perfbench.run import parse_digests, parse_pass

    sc = spark.sparkContext
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    plain_wall, _ = parse_pass(pages)
    time.sleep(1.0)
    plain_jobs = job_counts(sc, set(st.getJobIdsForGroup(None)) - before)

    tr = Tracer(spark, args.workload, args.seed)
    errors_rows = 0
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    with tr.span("feed_pass"):
        for src, (df, nbytes, n_pages) in pages.items():
            with tr.span(f"parsers.{src}", rows_in=n_pages) as s:
                records = parse_digests(src, df)
                s["rows_out"] = len(records)
            errors_rows += sum(r[2] is not None for r in records)
            with tr.span(f"parsers.arrow_transfer.{src}"):
                arrow_round_trip(df.select("url", "html"))
            m[f"parsers.{src}.s"] = tr.total(f"parsers.{src}")
            m[f"parsers.{src}.mb_per_s"] = _ratio(nbytes / 1e6, m[f"parsers.{src}.s"])
            m["parsers.arrow_transfer.s"] += tr.total(f"parsers.arrow_transfer.{src}")
    traced_wall = sum(m[f"parsers.{src}.s"] for src in pages)
    tr.resolve_jobs()
    m.update({
        "session.get_spark.s": ctx["get_spark_s"],
        "session.inputs.s": ctx["inputs_s"],
        "parsers.kernel.s": traced_wall - m["parsers.arrow_transfer.s"],
        "parsers.error_rows": errors_rows,
        "spark.jobs_per_iter": plain_jobs["jobs"],
        "spark.stages_per_iter": plain_jobs["stages"],
        "spark.tasks_per_iter": plain_jobs["tasks"],
        "trace.overhead_s": traced_wall - plain_wall,
    })
    tr.write(os.path.join(os.path.dirname(__file__), "out", f"spans-{args.workload}-{args.seed}.jsonl"))
    return {
        "errors": [f"{errors_rows} parser error rows"] if errors_rows else [],
        "metrics": {k: (float(v), LAYER_METRICS[k]) for k, v in m.items()},
    }
