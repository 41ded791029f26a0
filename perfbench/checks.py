"""Correctness checks. Each returns a list of failure messages (empty =
pass) and runs outside every timed span."""

from __future__ import annotations


def funnel(out: dict, seen, policies) -> tuple[dict[str, int], list[str]]:
    """Row-count funnel of one ``run_scale_wave`` result, each term counted
    independently on the returned frames:

        in = blocked + seen-dropped + within-wave dups + spill + due,
        due = fetched.
    """
    from pyspark.sql import functions as F

    f = out["_frontier_cached"]
    keys = seen.select(F.col("key").alias("surt_url"))
    allowed = f.join(out["blocked"].select("url").distinct(), "url", "left_anti")
    unseen = allowed.join(keys, "surt_url", "left_anti")
    n_unseen = unseen.count()
    c = {
        "in": f.count(),
        "blocked": out["blocked"].count(),
        "seen_dropped": allowed.join(keys, "surt_url", "left_semi").count(),
        "dups": n_unseen - unseen.select("surt_url").distinct().count(),
        "spill": out["spill"].count(),
        "due": out["due"].count(),
        "fetched": out["corpus"].count(),
    }
    fails = []
    parts = c["blocked"] + c["seen_dropped"] + c["dups"] + c["spill"] + c["due"]
    if c["in"] != parts:
        fails.append(f"funnel: in={c['in']} != blocked+seen+dups+spill+due={parts} {c}")
    if c["due"] != c["fetched"]:
        fails.append(f"funnel: due={c['due']} != fetched={c['fetched']}")
    return c, fails


def seen_filter(corpus, seen) -> list[str]:
    """No fetched row's SURT key is in ``seen``."""
    from pyspark.sql import functions as F

    from newsraag_crawler_spark.functions.urlnorm import surt_url

    n = (
        corpus.select(surt_url(F.col("url")).alias("key"))
        .join(seen.select("key"), "key", "left_semi")
        .count()
    )
    return [f"seen filter: {n} fetched keys were already seen"] if n else []


def sample_urls(df, seed: int, k: int) -> list[str]:
    """A seeded sample of ``k`` URLs from ``df``."""
    from pyspark.sql import functions as F

    rows = (
        df.select("url")
        .orderBy(F.xxhash64("url", F.lit(seed)), "url")
        .limit(k)
        .collect()
    )
    return [r["url"] for r in rows]


def payloads(corpus, urls: list[str], seed: int) -> list[str]:
    """Corpus rows for ``urls`` equal the pure-Python oracle kernel
    ``fetch_payload_py``: image_id, caption, bytes and phash exactly."""
    from pyspark.sql import functions as F

    from newsraag_crawler_spark.sources.synthetic import fetch_payload_py

    rows = (
        corpus.filter(F.col("url").isin(urls))
        .select("url", "source_id", "image_id", "caption", "bytes", "phash")
        .collect()
    )
    fails = []
    if len({r["url"] for r in rows}) != len(set(urls)):
        fails.append(f"payloads: {len(rows)} corpus rows for {len(set(urls))} sampled urls")
    for r in rows:
        want = fetch_payload_py(r["url"], f"src{r['source_id']}", seed=seed)
        got = {**r.asDict(), "bytes": bytes(r["bytes"])}
        bad = [k for k in ("image_id", "caption", "bytes", "phash") if got[k] != want[k]]
        if bad:
            fails.append(f"payloads: {r['url']} differs from fetch_payload_py in {bad}")
    return fails


def crawl_state(tables: dict, pre_seen_rows: int, n_waves: int,
                blocks: list[int], count_seen: bool = True) -> tuple[dict, list[str]]:
    """After the crawl's latest wave: every wave ran and fetched, seen =
    pre-committed + Σ fetched (unless ``count_seen`` is false), and no RDD
    block stayed persistent between waves."""
    fetched = {
        r["wave"]: r["fetched"] for r in tables["metrics"].read().collect()
    }
    fails = []
    if sorted(fetched) != list(range(n_waves)) or min(fetched.values()) <= 0:
        fails.append(f"crawl: waves/fetched {fetched} (expected {n_waves} waves)")
    if count_seen:
        seen_rows = tables["seen"].read().count()
        if seen_rows != pre_seen_rows + sum(fetched.values()):
            fails.append(
                f"crawl: seen rows {seen_rows} != {pre_seen_rows} + {sum(fetched.values())}"
            )
    if any(blocks):
        fails.append(f"crawl: persistent RDDs before/after each wave {blocks}")
    return {"fetched_per_wave": [fetched[w] for w in sorted(fetched)]}, fails


def crawl_corpus(corpus, pre_seen) -> list[str]:
    """No image_id was fetched twice across the crawl's waves, and no
    fetched key was in the pre-committed seen set."""
    from pyspark.sql import functions as F

    dup_ids = corpus.groupBy("image_id").count().filter(F.col("count") > 1).count()
    fails = [f"crawl: {dup_ids} image_ids fetched more than once"] if dup_ids else []
    return fails + seen_filter(corpus, pre_seen)


def normalize(pdf):
    """Order-free, type-tolerant form of a result frame, as
    scripts/oracle_gate.py compares them."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object or str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(
        drop=True
    )


def frames_equal(name: str, got, want) -> list[str]:
    """Spark result ``got`` equals its DuckDB oracle ``want`` (both
    normalized): column names, row count, dtype kinds, exact values."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: rows {len(got)} vs {len(want)}"]
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if {gk, wk} <= {"i", "u"}:
            continue
        if gk != wk:
            return [f"{name}: dtype of {c} {got[c].dtype} vs {want[c].dtype}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"{name}: values differ: {str(e)[:300]}"]
    return []
