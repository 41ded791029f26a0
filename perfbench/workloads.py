"""The workloads and the catalog layer.

Each workload is a closed loop from one driver process: an op (one wave) is
submitted only after the previous one finished. ``op`` is the timed part;
``feed`` stages the op's new input before it, ``check`` and ``cleanup`` run
after it and ``finish`` after the last op, all untimed."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from . import checks, inputs
from .trace import Tracer, layer_cuts, sink

# The 29 historical catalog queries (bench.py BENCH_QUERIES when this
# benchmark was defined), frozen here so the workload does not change when
# bench.py does.
CATALOG_QUERIES = (
    "tpch_q1_pricing_summary",
    "url_canonicalize",
    "seen_antijoin",
    "per_source_cap",
    "robots_parse",
    "reference_schedule",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_winnowing",
    "simhash_fingerprint",
    "text_quality",
    "ann_cosine_topk",
    "srp_ann_topk",
    "ivf_ann_topk",
    "ivf_kmeans_topk",
    "kmeans_clusters",
    "dedup_embedding_cosine",
    "phash_hamming_pairs",
    "bloom_seen_filter",
    "cuckoo_seen_filter",
    "fuzzy_date_parse",
    "html_text_extract",
    "token_budget_gate",
    "fetch_metadata",
    "rss_items_parse",
    "extraction_fallback",
    "crawl_embedding_neardup",
    "dup_detector_stats",
)

# wave_fetch sinks the wave's outputs in run_crawl's commit order
WAVE_COMMITS = (("corpus", "corpus"), ("seen", "seen_additions"), ("frontier", "spill"))
PAYLOAD_SAMPLE = 16


@dataclass
class Ctx:
    spark: object
    seed: int
    scale: inputs.Scale
    inp: str  # input directory of this run


@dataclass
class Done:
    """What one op left for its check: the handle, how many waves/commits/
    queries it attempted, and the workload's throughput numerators."""

    handle: object
    units: int
    fetched: float = 0.0  # URLs fetched by the op
    frontier: float = 0.0  # frontier URLs entering the op's waves
    tracer: Tracer | None = None
    info: dict = field(default_factory=dict)


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _parquet_files(root: str) -> int:
    """Parquet data files under ``root/tables``."""
    return sum(
        f.endswith(".parquet")
        for _, _, files in os.walk(os.path.join(root, "tables"))
        for f in files
    )


class WaveFetch:
    """One ``run_scale_wave`` over the frontier, outputs to the noop sink."""

    name = "wave_fetch"
    warmup_ops = 2
    # identical ops: as many as --seconds allows, at least 3
    steady_ops = (3, None)
    # (untraced, traced) op pairs of the traced run: min, max
    traced_pairs = (2, None)
    # its traced run also measures the queries layer: the shorter traced run
    # of the two, so that both stay well inside 180 s
    runs_catalog = True

    def prepare(self, ctx: Ctx) -> dict[str, float]:
        s = ctx.scale
        t = inputs.wave_inputs(ctx.spark, ctx.inp, ctx.seed, s)
        hot, per_host = inputs.wave_budgets(s)
        self.policies = inputs.host_policies(ctx.spark, s.wave_hosts, hot, per_host)
        self.frontier = ctx.spark.read.parquet(os.path.join(ctx.inp, "frontier"))
        self.seen = ctx.spark.read.parquet(os.path.join(ctx.inp, "seen"))
        return t

    def feed(self, ctx: Ctx) -> None:
        pass

    def op(self, ctx: Ctx, tracer: Tracer | None, first: bool) -> Done:
        from newsraag_crawler_spark.operators import wave as W

        with layer_cuts(tracer):
            out = W.run_scale_wave(
                self.frontier,
                self.policies,
                self.seen,
                wave=0,
                seed=ctx.seed,
                skew_threshold=inputs.wave_skew_threshold(ctx.scale),
            )
            if first and tracer is None:
                # the cold op is set-up, not a measured wave: caching its
                # corpus keeps the codec from running again in the checks
                out["corpus"].persist()
            for table, key in WAVE_COMMITS:
                if tracer is None:
                    sink(out[key])
                else:
                    with tracer.span(f"storage.commit_s.{table}"):
                        sink(out[key])
        return Done(out, units=1, tracer=tracer)

    def check(self, ctx: Ctx, done: Done, first: bool) -> list[str]:
        out, seen, fails = done.handle, self.seen, []
        if first:
            self.counts, fails = checks.funnel(out, seen, self.policies)
            fails += checks.seen_filter(out["corpus"], seen)
            urls = checks.sample_urls(out["due"], ctx.seed, PAYLOAD_SAMPLE)
            fails += checks.payloads(out["corpus"], urls, ctx.seed)
            done.info = self.counts
        done.fetched, done.frontier = self.counts["fetched"], self.counts["in"]
        return fails

    def finish(self, ctx: Ctx) -> list[str]:
        return []

    def cleanup(self, ctx: Ctx, done: Done) -> None:
        done.handle["corpus"].unpersist()
        done.handle["_due_cached"].unpersist()
        done.handle["_frontier_cached"].unpersist()
        if done.tracer is not None:
            done.tracer.release()


class CrawlRecrawl:
    """A ``run_crawl`` from a pre-committed seen table, one wave per op: each
    op calls ``run_crawl`` with ``max_waves`` one higher, so it resumes from
    the frontier table's lineage and runs the next wave with its four
    commits. Before each wave (untimed) the next batch of feed URLs, ~99%
    of them already seen, joins the frontier table next to the backlog, as
    the reference's revisit cycle rediscovers its sources' URLs."""

    name = "crawl_recrawl"
    warmup_ops = 1
    # waves 2 and 3 in every run (waves 3 and 4 in the traced run, after a
    # traced warm-up wave): later waves carry a longer backlog, so a
    # time-bound count would change what the median is taken over
    steady_ops = (2, 2)
    traced_pairs = (1, 1)
    runs_catalog = False
    TABLES = ("frontier", "corpus", "seen", "metrics")

    def prepare(self, ctx: Ctx) -> dict[str, float]:
        from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

        s = ctx.scale
        t = inputs.crawl_inputs(ctx.spark, ctx.inp, ctx.seed, s)
        self.policies = inputs.host_policies(
            ctx.spark, s.crawl_hosts, s.crawl_budget, s.crawl_budget
        )
        self.seeds = ctx.spark.read.parquet(os.path.join(ctx.inp, "seeds"))
        self.tables = {
            k: SnapshotTable(ctx.spark, os.path.join(ctx.inp, "tables", k))
            for k in self.TABLES
        }
        self.seen_version = self.tables["seen"].current_version()
        self.pre_seen_rows = int(self.tables["seen"].current_lineage()["rows"])
        self.files = _parquet_files(ctx.inp)
        self.frontier_rows = 0
        self.waves = 0
        return t

    def feed(self, ctx: Ctx) -> None:
        """Add the next wave's feed batch to the frontier table (wave 0
        reads it as ``run_crawl``'s seeds)."""
        from pyspark.sql import functions as F

        if self.waves >= ctx.scale.crawl_waves:
            raise RuntimeError(f"crawl_recrawl has inputs for {ctx.scale.crawl_waves} waves")
        batch = inputs.crawl_batch(self.seeds, self.waves, ctx.scale)
        self.frontier_rows = ctx.scale.crawl_batch
        if self.waves == 0:
            self.wave_seeds = batch
            return
        ft = self.tables["frontier"]
        lin = ft.current_lineage()
        schema = ft.read().schema
        batch = batch.withColumn("attempt", F.lit(0)).withColumn(
            "carried_offset", F.lit(None)
        ).withColumn("wave", F.lit(self.waves))
        ft.append(
            batch.select([F.col(f.name).cast(f.dataType) for f in schema]),
            lineage={**lin, "rows": lin["rows"] + ctx.scale.crawl_batch},
        )
        self.frontier_rows += lin["rows"]
        self.files = _parquet_files(ctx.inp)  # the wave's files_written excludes these

    def op(self, ctx: Ctx, tracer: Tracer | None, first: bool) -> Done:
        from newsraag_crawler_spark.operators import wave as W

        blocks: list[int] = []
        with layer_cuts(tracer, on_wave=lambda: blocks.append(persistent_rdds(ctx.spark))):
            W.run_crawl(
                ctx.spark,
                self.wave_seeds,
                self.policies,
                self.tables,
                max_waves=self.waves + 1,
                links_per_page=inputs.CRAWL_LINKS_PER_PAGE,
                n_articles=ctx.scale.crawl_batch * ctx.scale.crawl_waves,
                seed=ctx.seed,
            )
        self.waves += 1
        # one wave and its corpus, seen, frontier and metrics commits
        return Done(blocks, units=5, tracer=tracer)

    def check(self, ctx: Ctx, done: Done, first: bool) -> list[str]:
        if done.tracer is not None:
            done.tracer.release()
        # before the wave (= after the previous one) and after it
        blocks = done.handle + [persistent_rdds(ctx.spark)]
        # the seen count reads the whole history: once, in finish
        info, fails = checks.crawl_state(
            self.tables, self.pre_seen_rows, self.waves, blocks, count_seen=False
        )
        files = _parquet_files(ctx.inp)
        info["storage"] = {
            "storage.files_written": files - self.files,
            "storage.manifest_bytes": sum(
                os.path.getsize(os.path.join(ctx.inp, "tables", k, "manifest.json"))
                for k in self.TABLES
            ),
            "storage.persistent_blocks": max(blocks),
        }
        self.files = files
        done.fetched, done.frontier = info["fetched_per_wave"][-1], self.frontier_rows
        done.info = info
        return fails

    def finish(self, ctx: Ctx) -> list[str]:
        """After the run's last wave: seen = pre-committed + Σ fetched, no
        image_id was fetched twice across the waves, none of the
        pre-committed seen keys was fetched, and a seeded sample of the
        corpus matches the oracle kernel."""
        _, fails = checks.crawl_state(self.tables, self.pre_seen_rows, self.waves, [])
        corpus = self.tables["corpus"].read()
        fails += checks.crawl_corpus(corpus, self.tables["seen"].read(version=self.seen_version))
        return fails + checks.payloads(
            corpus, checks.sample_urls(corpus, ctx.seed, PAYLOAD_SAMPLE), ctx.seed
        )

    def cleanup(self, ctx: Ctx, done: Done) -> None:
        pass


def catalog_layer(ctx: Ctx) -> tuple[dict[str, float], int, list[str]]:
    """The ``queries`` layer: the 29 catalog queries over seeded catalog
    tables, a first pass (Catalyst analysis and code generation cold) then
    a steady pass, each result collected with ``toPandas`` and compared
    with its DuckDB oracle. Returns (catalog.<q>.{first,steady}_s, queries
    attempted, one message per failed query run)."""
    import time

    from newsraag_crawler_spark.queries import catalog

    root = os.path.join(ctx.inp, "catalog")
    inputs.catalog_tables(root, ctx.seed, ctx.scale.catalog_rows)
    want = _oracle(root)
    cat, out, fails = catalog(), {}, []
    for kind in ("first", "steady"):
        for q in CATALOG_QUERIES:
            t0 = time.perf_counter()
            try:
                got = cat[q](ctx.spark, root).toPandas()
            except Exception as e:  # noqa: BLE001 — a failed query is counted, the pass goes on
                got, err = None, f"{q}: {type(e).__name__}: {str(e)[:300]}"
            out[f"catalog.{q}.{kind}_s"] = time.perf_counter() - t0
            fails += [err] if got is None else checks.frames_equal(
                q, checks.normalize(got), want[q]
            )
    return out, 2 * len(CATALOG_QUERIES), fails


def _oracle(root: str) -> dict:
    """Each catalog query's ``oracle_sql`` mirror run by DuckDB over the
    same parquet tables, normalized."""
    import duckdb

    from newsraag_crawler_spark.queries import oracles
    from newsraag_crawler_spark.sources.tables import TPCH_TABLES

    con = duckdb.connect()
    try:
        for t in TPCH_TABLES:
            path = os.path.join(root, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sql = oracles()
        return {q: checks.normalize(con.sql(sql[q]).df()) for q in CATALOG_QUERIES}
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (WaveFetch, CrawlRecrawl)}
