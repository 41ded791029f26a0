"""Seeded inputs for the three workloads.

Every input is a pure function of the workload seed and a ``Scale``; the
program under test only ever sees what these functions write.

- ``wave_inputs``    — frontier, pre-seen keys and host policies for
  ``wave_fetch`` (parquet + a small policy frame).
- ``crawl_inputs``   — one batch of feed URLs per wave and a ``seen``
  SnapshotTable committed with ~99% of their SURT keys for
  ``crawl_recrawl``.
- ``catalog_tables`` — the ten tables the catalog queries read
  (TPC-H-shaped star schema, events, documents, embeddings; TESTDATA.md),
  written with pandas + pyarrow in the same physical types as the testdata.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``FULL`` is what the benchmark measures; ``TINY`` only
    keeps the smoke tests quick."""

    wave_urls: int
    wave_hosts: int
    crawl_batch: int  # feed URLs entering each crawl wave
    crawl_waves: int  # waves (and batches) a crawl_recrawl run can reach
    crawl_history: int  # seen keys of URLs no feed lists any more
    crawl_hosts: int
    crawl_budget: int
    catalog_rows: int  # lineitem rows; other tables scale with it
    codec_sample: int


FULL = Scale(
    wave_urls=12_000,
    wave_hosts=200,
    crawl_batch=20_000,
    crawl_waves=5,
    crawl_history=750_000,
    crawl_hosts=200,
    crawl_budget=1,
    catalog_rows=60_000,
    codec_sample=300,
)
TINY = Scale(
    wave_urls=1_500,
    wave_hosts=40,
    crawl_batch=1_500,
    crawl_waves=5,
    crawl_history=20_000,
    crawl_hosts=40,
    crawl_budget=3,
    catalog_rows=6_000,
    codec_sample=24,
)

# wave_fetch input properties (README.md "Workloads")
WAVE_HOT_HOST_PCT = 20
WAVE_SEEN_PCT = 25
# crawl_recrawl input properties
CRAWL_HOT_HOST_PCT = 20
CRAWL_SEEN_PCT = 99
CRAWL_LINKS_PER_PAGE = 2
# every ROBOTS_EVERY-th host disallows ROBOTS_PREFIX (~11% of its URLs)
ROBOTS_EVERY = 7
ROBOTS_PREFIX = "/articles/9"


def host_policies(spark, n_hosts: int, hot_budget: int, budget: int):
    """(host, crawl_delay_s, per_wave_budget, robots_disallow) for
    host0..host{n-1}; host0 is the hot host of ``synth_frontier_df``."""
    rows = [
        (
            f"host{i}.example.com",
            1.0,
            hot_budget if i == 0 else budget,
            [ROBOTS_PREFIX] if i % ROBOTS_EVERY == ROBOTS_EVERY - 1 else [],
        )
        for i in range(n_hosts)
    ]
    return spark.createDataFrame(
        rows,
        "host string, crawl_delay_s double, per_wave_budget int, "
        "robots_disallow array<string>",
    )


def seen_sample(col, seed: int, pct: int):
    """Seeded Bernoulli(pct%) row predicate over a URL column."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col, F.lit(seed + 1)), F.lit(100)) < pct


def wave_budgets(scale: Scale) -> tuple[int, int]:
    """(hot-host budget, per-host budget) for wave_fetch: the hot host keeps
    ~1/3 of its unseen rows, cold hosts ~4/5 — about half the frontier is
    due, and the hot host's due rows still exceed the skew threshold."""
    per_host = scale.wave_urls * (100 - WAVE_HOT_HOST_PCT) // 100 // scale.wave_hosts
    hot = scale.wave_urls * WAVE_HOT_HOST_PCT // 100
    return hot * (100 - WAVE_SEEN_PCT) // 300, max(1, per_host * 3 // 5)


def wave_skew_threshold(scale: Scale) -> int:
    """Rows above which a host is salted: 1/40 of the frontier, so the hot
    host (due rows = 1/20 of the frontier) is split in two while cold hosts
    (well under 1/40 each) are not."""
    return max(10, scale.wave_urls // 40)


def wave_inputs(spark, root: str, seed: int, scale: Scale) -> dict[str, float]:
    """Write the wave_fetch frontier and its pre-seen keys under ``root``.
    Returns the time of each step (synthetic.frontier_gen_s,
    synthetic.seen_state_s)."""
    import time

    from pyspark.sql import functions as F

    from newsraag_crawler_spark.functions.urlnorm import surt_url
    from newsraag_crawler_spark.sources.synthetic import synth_frontier_df

    t0 = time.perf_counter()
    synth_frontier_df(
        spark, scale.wave_urls, n_hosts=scale.wave_hosts,
        hot_host_pct=WAVE_HOT_HOST_PCT, seed=seed,
    ).write.mode("overwrite").parquet(os.path.join(root, "frontier"))
    t1 = time.perf_counter()
    fr = spark.read.parquet(os.path.join(root, "frontier"))
    fr.filter(seen_sample(F.col("url"), seed, WAVE_SEEN_PCT)).select(
        surt_url(F.col("url")).alias("key")
    ).write.mode("overwrite").parquet(os.path.join(root, "seen"))
    t2 = time.perf_counter()
    return {"synthetic.frontier_gen_s": t1 - t0, "synthetic.seen_state_s": t2 - t1}


def crawl_inputs(spark, root: str, seed: int, scale: Scale) -> dict[str, float]:
    """Write the crawl_recrawl feed URLs, ``crawl_waves`` batches of
    ``crawl_batch`` (batch k holds feed_rank k·batch … (k+1)·batch − 1), and
    commit the pre-crawl ``seen`` snapshot (lineage wave -1) with ~99% of
    their SURT keys under ``root``: every wave rediscovers a fresh batch of
    which all but ~1% was seen in earlier cycles. The snapshot also holds
    ``crawl_history`` keys of older URLs that no batch lists."""
    import time

    from pyspark.sql import functions as F

    from newsraag_crawler_spark.functions.urlnorm import surt_url
    from newsraag_crawler_spark.sources.synthetic import synth_frontier_df
    from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

    n_feed = scale.crawl_batch * scale.crawl_waves
    t0 = time.perf_counter()
    synth_frontier_df(
        spark, n_feed, n_hosts=scale.crawl_hosts,
        hot_host_pct=CRAWL_HOT_HOST_PCT, seed=seed,
    ).write.mode("overwrite").parquet(os.path.join(root, "seeds"))
    t1 = time.perf_counter()
    seeds = spark.read.parquet(os.path.join(root, "seeds"))
    seen = seeds.filter(seen_sample(F.col("url"), seed, CRAWL_SEEN_PCT)).select(
        surt_url(F.col("url")).alias("key")
    )
    SnapshotTable(spark, os.path.join(root, "tables", "seen")).append(
        seen.unionByName(history_keys(spark, n_feed, scale, seed)),
        lineage={"wave": -1},
        count_rows=True,
    )
    t2 = time.perf_counter()
    return {"synthetic.frontier_gen_s": t1 - t0, "synthetic.seen_state_s": t2 - t1}


def history_keys(spark, first_id: int, scale: Scale, seed: int):
    """``crawl_history`` SURT keys of older articles (ids from
    ``first_id`` on, past every feed batch and link target), in the form
    ``surt_url`` gives ``https://host<i>.example.com/articles/<id>``, built
    without its regexes so that a large history stays cheap to set up."""
    from pyspark.sql import functions as F

    ids = spark.range(first_id, first_id + scale.crawl_history)
    host = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(scale.crawl_hosts))
    return ids.select(
        F.concat(
            F.lit("com,example,host"), host.cast("string"), F.lit(")/articles/"),
            F.col("id").cast("string"),
        ).alias("key")
    )


def crawl_batch(seeds, k: int, scale: Scale):
    """Batch ``k`` of the crawl_recrawl feed URLs."""
    from pyspark.sql import functions as F

    lo = k * scale.crawl_batch
    return seeds.filter(F.col("feed_rank").between(lo, lo + scale.crawl_batch - 1))


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
_PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def catalog_tables(root: str, seed: int, n_lineitem: int) -> None:
    """Write the ten catalog tables as ``root/<name>.parquet``. Row counts
    follow the testdata's sf ratios (lineitem : orders : customer = 40:10:1)
    and every column carries the testdata's type and value shape:
    2-decimal money, TPC-H code lists, ~5% "dup" near-duplicate documents,
    unit-norm clustered 64-d embeddings."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_orders = n_lineitem // 4
    n_cust = max(n_lineitem // 40, 25)
    n_part = max(n_lineitem // 30, 64)
    n_supp = max(n_lineitem // 600, 10)
    n_docs = max(n_lineitem // 120, 100)
    n_events = n_lineitem // 6

    def write(name: str, df: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(root, f"{name}.parquet"),
        )

    os.makedirs(root, exist_ok=True)
    write("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS),
    }))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }))
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }))
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("P", "O", "F"), n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    }))
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_lineitem).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lineitem).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lineitem).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_lineitem),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": rng.choice(("R", "A", "N"), n_lineitem),
        "l_linestatus": rng.choice(("O", "F"), n_lineitem),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_lineitem),
    }))
    gaps = rng.exponential(259.0, n_events) * 1e6
    write("events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup queries' target)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    write("documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    centers *= 0.15 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n_docs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }))
