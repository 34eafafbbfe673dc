"""Repository benchmark of hepcrawl_spark.

    python3 perfbench/run.py --workload crawl_production --seed 1 --seconds 20 --trace 0

Run from the root of a checkout; ``--workload all`` runs every workload,
each in its own process. One Python process drives a ``local[4]`` session
built by ``get_spark``. The inputs come from ``inputs.py``: the seed picks
the seed pages, the missing pages, the robots hosts and rules, and the
feed's replica URL salt, never the corpus graph.

Workloads:

- crawl_production: the production profile (bloom_table filter, adaptive
  salt, merge url_seen, PageRank refresh, RFC 9309 robots, retries) over
  40,000 pages of ~1 KB from 4,200 seeds, two iterations (~10k URLs in
  the second wave);
- feed_parse: the five HEPRecord parser entry points over the golden
  fixture pages, replicated to ~12 MB per parser.

A run times its set-up as ``setup_s``: session start, input generation and
materialisation, and an untimed warm-up: a one-iteration crawl from 500 of
the seeds, or the golden check and one parse pass. Then the operation repeats while another one fits in
``--seconds``, at least once. End-to-end metrics (``--trace 0``):

- ``throughput_per_s``: crawls, (scheduled + fetched) URLs per second of
  ``run_crawl`` wall (frontier_urls_per_s); feed_parse, HEPRecords per
  second of a parse pass (records_per_s); median over the operations;
- ``step_p50_s``: crawls, the median ``IterationStats.wall_s``
  (iter_wall_p50_s); feed_parse, the median parse-pass wall;
- ``setup_s``.

Every operation, the warm-up included, is checked. A crawl is checked
against the breadth-first-search oracle of ``oracle.py``. For feed_parse
the registry's golden queries (f5v-f5z) check one copy of the pages against
the expected rows, record by record; then every parse pass over the
replicas must emit that copy's records exactly, once per replica (an MD5
digest per record).
``attempted`` counts the checked crawls, or the checked records;
``failed`` those that differ.

``--trace 1`` runs ``tracing.py`` and prints the per-layer metrics instead.
Human-readable lines (host state; each metric with its unit and sample
count; failed_frac) come first, and the last line of stdout is the JSON
result. Spans go to ``perfbench/out/``; run state lives under
``perfbench/_run/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_production", "feed_parse")


def _prepare_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package under test."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-defaults.conf: no console progress bar on the output; a traced
    # run's status store keeps every job and stage for the per-span counts
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
        if trace:
            f.write("spark.ui.retainedJobs 100000\nspark.ui.retainedStages 100000\n")
    os.environ["SPARK_CONF_DIR"] = conf
    sys.path.insert(0, ROOT)


def start_spark():
    from hepcrawl_spark.session import get_spark

    spark = get_spark(
        app_name="hepcrawl-perfbench", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def calibration_scan_s(df, col: str) -> float:
    """A fixed scan over the materialised input (min of 3): a host-speed
    reference to read beside the metrics."""
    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        df.select(F.sum(F.length(col))).collect()
        walls.append(time.monotonic() - t0)
    return min(walls)


# -- crawl_production ---------------------------------------------------------

def crawl_setup(spark, seed: int):
    """The inputs, with the BFS levels of the timed and the warm-up seeds."""
    from perfbench import inputs as I
    from perfbench import oracle as O

    corpus, seeds, warmup_seeds, robots = I.production_inputs(spark, seed)
    text, rules = O.collect_text(corpus), I.robots_rules(seed)

    def levels(df):
        return O.bfs_levels(text, [r["url"] for r in df.collect()], rules)

    return corpus, robots, (seeds, levels(seeds)), (warmup_seeds, levels(warmup_seeds))


def crawl_check(res, levels) -> list[str]:
    """Oracle verdict for one finished crawl: no per-host cap binds, so each
    iteration fetches exactly its BFS level. An empty list means correct."""
    fetched = [i.fetched for i in res.iterations]
    want = [len(lv) for lv in levels[: len(fetched)]]
    want += [0] * (len(fetched) - len(want))
    if fetched != want:
        return [f"per-iteration fetched {fetched} != BFS levels {want}"]
    return []


def crawl_once(spark, corpus, seeds, robots, state_dir: str, **cfg):
    from hepcrawl_spark.crawl.frontier import run_crawl
    from perfbench.inputs import production_config

    t0 = time.monotonic()
    res = run_crawl(spark, corpus, seeds, production_config(state_dir, **cfg), robots=robots)
    wall = time.monotonic() - t0
    shutil.rmtree(state_dir, ignore_errors=True)
    return res, wall


def run_crawl_workload(spark, ctx: dict, args) -> dict:
    from perfbench import inputs as I

    t0 = time.monotonic()
    corpus, robots, (seeds, levels), (warmup_seeds, warmup_levels) = crawl_setup(spark, args.seed)
    ctx["inputs_s"] = time.monotonic() - t0
    ctx["calib_scan_s"] = calibration_scan_s(corpus, "text")
    # warm-up: a short untimed crawl (JIT, codegen, Python workers), checked
    # like the timed ones
    t0 = time.monotonic()
    res, _ = crawl_once(spark, corpus, warmup_seeds, robots, os.path.join(ctx["run_dir"], "warmup"),
                        max_iterations=I.PROD_WARMUP_ITERATIONS)
    ctx["warmup_s"] = time.monotonic() - t0
    ctx["setup_s"] = time.monotonic() - ctx["t_start"]
    errors = crawl_check(res, warmup_levels)
    attempted, failed = 1, int(bool(errors))

    if args.trace:
        from perfbench import tracing as T

        out = T.trace_crawl(spark, ctx, args, corpus, seeds, robots, levels)
        out["attempted"] += attempted
        out["failed"] += failed
        out["errors"] = errors + out["errors"]
        return out

    walls, urls, iter_walls = [], [], []
    t_measure = time.monotonic()
    while not walls or (
        time.monotonic() - t_measure + statistics.mean(walls) <= args.seconds
    ):
        res, wall = crawl_once(spark, corpus, seeds, robots,
                               os.path.join(ctx["run_dir"], f"crawl{len(walls)}"))
        errs = crawl_check(res, levels)
        attempted += 1
        failed += bool(errs)
        errors += errs
        walls.append(wall)
        urls.append(res.total_scheduled + res.total_fetched)
        iter_walls += [i.wall_s for i in res.iterations]
    throughput = statistics.median(u / w for u, w in zip(urls, walls))
    step = statistics.median(iter_walls)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "throughput": throughput,
        "step_p50": step,
        "report": [
            ("frontier_urls_per_s", throughput, "1/s", len(walls)),
            ("iter_wall_p50_s", step, "s", len(iter_walls)),
            ("crawl_wall_p50_s", statistics.median(walls), "s", len(walls)),
            ("frontier_urls_per_crawl", statistics.median(urls), "count", len(urls)),
        ],
    }


# -- feed_parse ---------------------------------------------------------------

def feed_setup(spark, ctx: dict, seed: int):
    """Write the golden copy and the replicas of the pages, and point the
    registry's golden queries (f5v-f5z) at the golden copy."""
    import __spark_entry__ as E
    from perfbench import inputs as I

    pages, golden_dir = I.feed_inputs(spark, ROOT, seed, os.path.join(ctx["run_dir"], "feed"))
    E._FIXDIR = golden_dir
    return E, pages


def golden_check(spark, E) -> tuple[int, int, list]:
    """The registry's golden queries (f5v-f5z) over the golden copy of the
    pages, checked record by record against the expected rows. Returns the
    expected records, the records that differ from them (error rows
    included), and the reference of the timed passes: the golden copy's
    records, as ``parse_digests`` gives them, once per replica."""
    from perfbench import oracle as O
    from perfbench.inputs import FEED_REPLICAS, FEED_SOURCES

    expected = bad = 0
    reference = []
    for src, (_, _, query, cols) in FEED_SOURCES.items():
        rows = getattr(E, query)(spark, None).collect()
        want = E._golden_expected(src)
        expected += len(want)
        bad += O.golden_mismatches(rows, want, getattr(E, cols))
        copy = spark.read.parquet(os.path.join(E._FIXDIR, f"{src}_golden_pages.parquet"))
        reference += parse_digests(src, copy) * FEED_REPLICAS[src]
    return expected, bad, reference


def parse_digests(src: str, df) -> list[tuple]:
    """Run a parser entry point over its pages, forced by collecting, per
    record, its URL, an MD5 digest of its JSON and its error column."""
    from perfbench.inputs import parse_fn

    recs = parse_fn(src)(df)
    digest = F.md5(F.to_json(F.struct(*recs.columns)))
    return [tuple(r) for r in recs.select("url", digest, "error").collect()]


def parse_pass(pages) -> tuple[float, list]:
    """One pass of every parser over its cached replicated pages: (wall,
    [(url, digest, error)])."""
    t0 = time.monotonic()
    records = []
    for src, (df, _, _) in pages.items():
        records += parse_digests(src, df)
    return time.monotonic() - t0, records


def run_feed_workload(spark, ctx: dict, args) -> dict:
    from perfbench.oracle import record_mismatches

    t0 = time.monotonic()
    E, pages = feed_setup(spark, ctx, args.seed)
    ctx["inputs_s"] = time.monotonic() - t0
    ctx["calib_scan_s"] = calibration_scan_s(pages["aps"][0], "html")
    # warm-up: the golden check, then one untimed parse pass, checked like
    # the timed ones
    t0 = time.monotonic()
    attempted, failed, reference = golden_check(spark, E)
    errors = [f"golden check: {failed} records differ"] if failed else []
    _, records = parse_pass(pages)
    ctx["warmup_s"] = time.monotonic() - t0
    ctx["setup_s"] = time.monotonic() - ctx["t_start"]
    bad = record_mismatches(records, reference)
    attempted += len(reference)
    failed += bad
    if bad:
        errors.append(f"warm-up parse pass: {bad} records differ from the reference")

    if args.trace:
        from perfbench import tracing as T

        out = T.trace_feed(spark, ctx, args, pages)
        return {**out, "attempted": attempted, "failed": failed, "errors": errors + out["errors"]}

    walls, rates = [], []
    nbytes = sum(b for _, b, _ in pages.values())
    t_measure = time.monotonic()
    while not walls or (
        time.monotonic() - t_measure + statistics.mean(walls) <= args.seconds
    ):
        wall, digests = parse_pass(pages)
        bad = record_mismatches(digests, reference)
        walls.append(wall)
        rates.append(len(digests) / wall)
        attempted += len(reference)
        failed += bad
        if bad:
            errors.append(f"parse pass: {bad} records differ from the reference")
    throughput = statistics.median(rates)
    step = statistics.median(walls)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "throughput": throughput,
        "step_p50": step,
        "report": [
            ("records_per_s", throughput, "1/s", len(walls)),
            ("input_mb_per_s", nbytes / 1e6 / step, "MB/s", len(walls)),
            ("pass_wall_p50_s", step, "s", len(walls)),
        ],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        # one process per workload, as the benchmark's own runs use
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            rc |= subprocess.call(cmd)
        return rc

    missing = [d for d in ("hepcrawl_spark", "fixtures") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: not a hepcrawl_spark checkout (missing {missing})", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, "_run", f"{args.workload}-{os.getpid()}")
    _prepare_env(run_dir, bool(args.trace))
    from perfbench.host import PeakRss, cpu_ticks, load1, nproc

    ctx = {"run_dir": run_dir, "t_start": time.monotonic(), "load1_start": load1()}
    steal0, total0 = cpu_ticks()
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.monotonic()
            spark = start_spark()
            ctx["get_spark_s"] = time.monotonic() - t0
            run = run_feed_workload if args.workload == "feed_parse" else run_crawl_workload
            out = run(spark, ctx, args)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    steal1, total1 = cpu_ticks()
    host = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc(),
        "load1_start": ctx["load1_start"],
        "load1_end": load1(),
        "steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "calib_scan_s": round(ctx["calib_scan_s"], 4),
        "get_spark_s": round(ctx["get_spark_s"], 3),
        "inputs_s": round(ctx["inputs_s"], 3),
        "warmup_s": round(ctx["warmup_s"], 3),
    }
    print("host " + json.dumps(host))
    for e in out.get("errors", []):
        print(f"FAILED: {e}")
    if args.trace:
        metrics = out["metrics"]
        metrics["host.peak_rss_mb"] = (rss.peak_mb, "MB")
        for name, (value, unit) in sorted(metrics.items()):
            print(f"  {name:38s} {value:14.6g} {unit}")
    else:
        fail_frac = out["failed"] / out["attempted"]
        rows = out["report"] + [
            ("setup_s", ctx["setup_s"], "s", 1),
            ("peak_rss_mb", rss.peak_mb, "MB", 1),
            ("failed_frac", fail_frac, "frac", out["attempted"]),
        ]
        for name, value, unit, n in rows:
            print(f"  {name:24s} {value:14.6g} {unit:6s} n={n}")
        metrics = {
            "throughput_per_s": (out["throughput"], "1/s"),
            "step_p50_s": (out["step_p50"], "s"),
            "setup_s": (ctx["setup_s"], "s"),
        }
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
