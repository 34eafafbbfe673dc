"""Seeded workload inputs and the production crawl profile.

The corpus graph is fixed by ``synthesize_corpus``; the workload seed only
selects the seed pages, the pages missing from the corpus, the hosts that
publish robots rules (and their rules) and the replica URL salt of the
parser feed. The program under test receives the generated DataFrames and
nothing else.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hepcrawl_spark.crawl.frontier import CrawlConfig
from hepcrawl_spark.sources.pages import synthesize_corpus

N_HOSTS = 64

# crawl_production: production profile, fixed iteration count, no cap binds
# (4,200 seeds x 4 links give the second iteration a wave of ~10k URLs)
PROD_PAGES = 40_000
PROD_LINKS = 4
PROD_PADDING = 240  # ~1 KB of text per page
PROD_SEEDS = 4_200
# the warm-up crawl: one iteration from the first 500 of the seeds
PROD_WARMUP_SEEDS = 500
PROD_WARMUP_ITERATIONS = 1
PROD_MISSING_PER_MILLE = 20  # ~2 % of pages absent -> failed fetches, retries
PROD_ITERATIONS = 2

# feed_parse: golden fixture pages replicated under distinct URLs. Per
# source: its parser entry point, and the registry's golden query with the
# name of that query's column list (both in __spark_entry__)
FEED_SOURCES = {
    "arxiv": ("hepcrawl_spark.parsers.arxiv", "parse_arxiv_pages", "f5x_arxiv_golden", "_ARX_GOLD_COLS"),
    "aps": ("hepcrawl_spark.parsers.jats", "parse_jats_pages", "f5w_aps_golden", "_APS_GOLD_COLS"),
    "elsevier": ("hepcrawl_spark.parsers.elsevier", "parse_elsevier_pages", "f5y_elsevier_golden", "_ELS_GOLD_COLS"),
    "crossref": ("hepcrawl_spark.parsers.crossref", "parse_crossref_pages", "f5z_crossref_golden", "_CR_GOLD_COLS"),
    "hindawi": ("hepcrawl_spark.parsers.marcxml", "parse_marcxml_pages", "f5v_hindawi_golden", "_HW_GOLD_COLS"),
}
# replicas per source, so that every parser reads about 12 MB a pass (the
# fixtures hold 5 KB to 2.2 MB per source), written as FEED_FILES files:
# every parse job runs FEED_FILES tasks on the 4 cores
FEED_REPLICAS = {"arxiv": 360, "aps": 6, "elsevier": 6, "crossref": 450, "hindawi": 2700}
FEED_FILES = 8


def production_config(state_dir: str, max_iterations: int = PROD_ITERATIONS) -> CrawlConfig:
    return CrawlConfig(
        max_iterations=max_iterations,
        max_per_host=1_000_000,
        filter_mode="auto",
        # a declared production scale: 'auto' resolves to bloom_table
        n_expected_urls=6_000_000,
        salt_mode="adaptive",
        seen_store="merge",
        seen_buckets=32,
        snapshot_every=3,
        rank_priorities_every=2,
        max_attempts=2,
        state_dir=state_dir,
    )


def _seed_pick(col: str, seed: int, tag: str, per: int, of: int):
    """Deterministic per-seed sample: ``per`` out of every ``of`` keys."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(f"{tag}{seed}")), F.lit(of)) < per


def _seeds(corpus: DataFrame, seed: int, n: int) -> DataFrame:
    """Exactly ``n`` seed pages, drawn by a seeded hash order, so every seed
    starts the crawl from the same number of pages."""
    return corpus.orderBy(F.xxhash64(F.col("page_id"), F.lit(f"seed{seed}"))).limit(n).select(
        "url",
        "host",
        F.lit(1.0).alias("priority"),
        F.col("warc_ts").alias("discovered_ts"),
    )


def parse_fn(src: str):
    """The ``parsers/*`` entry point of a feed source."""
    import importlib

    mod, fn, _, _ = FEED_SOURCES[src]
    return getattr(importlib.import_module(mod), fn)


def robots_rules(seed: int) -> list[tuple[str, str, str, float | None]]:
    """Disallow + Allow rows on half the hosts, so the RFC 9309
    longest-match gate runs: ``Disallow: /p/<d>`` blocks every page id
    starting with digit d, ``Allow: /p/<d><e>`` re-opens a tenth of them.

    The rules go to cold hosts only and d is 1-3 (each of these leading
    digits covers 11,111 of the 40,000 page ids), so every seed blocks about
    the same share of the corpus."""
    rng = random.Random(seed)
    rows = []
    for h in sorted(rng.sample(range(1, N_HOSTS), N_HOSTS // 2)):
        host = f"host{h}.example.org"
        d, e = rng.randint(1, 3), rng.randint(0, 9)
        rows.append((host, "disallow", f"/p/{d}", None))
        rows.append((host, "allow", f"/p/{d}{e}", None))
    return rows


def production_inputs(spark: SparkSession, seed: int):
    full = synthesize_corpus(
        spark,
        n_pages=PROD_PAGES,
        n_hosts=N_HOSTS,
        links_per_page=PROD_LINKS,
        body_padding=PROD_PADDING,
    )
    missing = _seed_pick("page_id", seed, "missing", PROD_MISSING_PER_MILLE, 1000)
    corpus = full.filter(~missing).persist()
    corpus.count()
    seeds = _seeds(corpus, seed, PROD_SEEDS).persist()
    seeds.count()
    warmup_seeds = _seeds(corpus, seed, PROD_WARMUP_SEEDS).persist()
    warmup_seeds.count()
    robots = spark.createDataFrame(
        robots_rules(seed),
        "host string, allow string, path_prefix string, crawl_delay double",
    ).persist()
    robots.count()
    return corpus, seeds, warmup_seeds, robots


def feed_inputs(spark: SparkSession, root: str, seed: int, work_dir: str):
    """Move each source's golden pages under the seed's URL prefix
    (``/golden/`` -> ``/golden-s<seed>/``, keeping every URL suffix the
    golden field masks key on). Write them once as
    ``<work_dir>/golden/<source>_golden_pages.parquet``, beside the matching
    ``<source>_golden_expected.json``, where the golden queries read them;
    and ``FEED_REPLICAS[source]`` times over as
    ``<work_dir>/pages/<source>.parquet``, in ``FEED_FILES`` files.

    The replicas of a page keep its URL, so the records of the replicated
    pages are those of the golden copy, each ``FEED_REPLICAS[source]``
    times.

    Returns ({source: (cached replicated pages, input bytes, page count)},
    the golden directory)."""
    import json

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    golden_dir = os.path.join(work_dir, "golden")
    os.makedirs(golden_dir)
    out = {}
    for src, n_rep in FEED_REPLICAS.items():
        fx = os.path.join(root, "fixtures")
        base = pq.read_table(os.path.join(fx, f"{src}_golden_pages.parquet"))
        with open(os.path.join(fx, f"{src}_golden_expected.json")) as f:
            expected = json.load(f)
        tag = f"/golden-s{seed}/"
        urls = pc.replace_substring(base["url"], "/golden/", tag)
        copy = base.set_column(base.schema.get_field_index("url"), "url", urls)
        pq.write_table(copy, os.path.join(golden_dir, f"{src}_golden_pages.parquet"),
                       coerce_timestamps="us")
        with open(os.path.join(golden_dir, f"{src}_golden_expected.json"), "w") as f:
            json.dump([{**r, "url": r["url"].replace("/golden/", tag)} for r in expected], f)

        path = os.path.join(work_dir, "pages", f"{src}.parquet")
        os.makedirs(path)
        table = pa.concat_tables([copy] * n_rep)
        for i in range(FEED_FILES):
            # round-robin rows, so every file holds the same mix of pages
            part = table.take(list(range(i, table.num_rows, FEED_FILES)))
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           coerce_timestamps="us")
        df = spark.read.parquet(path).persist()
        df.count()
        nbytes = n_rep * sum(pc.binary_length(base["html"]).to_pylist())
        out[src] = (df, nbytes, n_rep * base.num_rows)
    return out, golden_dir
