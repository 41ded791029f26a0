"""Smoke tests of the benchmark itself: each workload end to end on tiny
inputs, the contract's edge cases, and every correctness check failing on
a deliberately corrupted output.

    python -m pytest perfbench/tests -q     # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# metric names each workload's report prints, with their units
REPORTED = {
    "wave_fetch": ["wave_s", "fetched_urls_per_s", "frontier_urls_per_s"],
    "crawl_recrawl": ["crawl_s", "fetched_urls_per_s", "frontier_urls_per_s"],
}


def _bench(*args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        metrics.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(
        metrics.PER_LAYER
    )


def test_refuses_a_width_wider_than_the_box():
    p = _bench("--workload", "wave_fetch", "--seed", "1", "--seconds", "1",
               "--cpus", str(len(os.sched_getaffinity(0)) + 1), timeout=60)
    assert p.returncode != 0
    assert "nproc" in p.stderr
    assert not p.stdout.strip()


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench("--workload", "wave_fetch", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_runs_and_reports_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", trace, "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = metrics.PER_LAYER if trace == "1" else metrics.END_TO_END
    assert {n: u for n, u, _ in spec} == {
        n: m["unit"] for n, m in result["metrics"].items()
    }
    text = "\n".join(lines[:-1])
    assert "cpu_probe_ms=" in text and f"cpus={len(os.sched_getaffinity(0))}" in text
    assert "scaling_efficiency_N_to_4N: unmeasured" in text
    assert "metric error_rate 0 ratio" in text
    assert "heap_peak_used=" in text
    if trace == "0":
        for name, unit, _ in metrics.END_TO_END:
            assert f"metric {name}" in text and f" {unit}" in text
        for name in REPORTED[workload]:
            assert f"[{name}]" in text or f"metric {name} " in text
    else:
        assert result["metrics"]["wave.fetched_rows"]["value"] > 0
        assert result["metrics"]["images.phash64_us"]["value"] > 0
        if workload == "wave_fetch":
            assert result["metrics"]["catalog.dedup_exact.steady_s"]["value"] > 0
        else:
            assert result["metrics"]["storage.commit_s.seen"]["value"] > 0


# ---------------------------------------------------------------------------
# every correctness check fails on a corrupted output
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from newsraag_crawler_spark.session import build_session

    return build_session("perfbench-tests", cpus=2, shuffle_partitions=4)


@pytest.fixture(scope="module")
def wave(spark, tmp_path_factory):
    """A tiny wave_fetch wave, outputs not yet sunk."""
    from newsraag_crawler_spark.operators.wave import run_scale_wave

    root = str(tmp_path_factory.mktemp("wave"))
    inputs.wave_inputs(spark, root, 7, inputs.TINY)
    hot, per_host = inputs.wave_budgets(inputs.TINY)
    policies = inputs.host_policies(spark, inputs.TINY.wave_hosts, hot, per_host)
    seen = spark.read.parquet(os.path.join(root, "seen"))
    out = run_scale_wave(
        spark.read.parquet(os.path.join(root, "frontier")), policies, seen,
        wave=0, seed=7, skew_threshold=inputs.wave_skew_threshold(inputs.TINY),
    )
    corpus = out["corpus"].persist()
    yield {"out": out, "seen": seen, "policies": policies, "corpus": corpus}
    corpus.unpersist()
    out["_due_cached"].unpersist()
    out["_frontier_cached"].unpersist()


def test_funnel_fails_on_lost_or_extra_rows(wave):
    out, seen, pol = wave["out"], wave["seen"], wave["policies"]
    counts, fails = checks.funnel(out, seen, pol)
    assert not fails and counts["due"] > 0 and counts["seen_dropped"] > 0
    assert checks.funnel({**out, "spill": out["spill"].limit(1)}, seen, pol)[1]
    assert checks.funnel({**out, "corpus": out["corpus"].limit(1)}, seen, pol)[1]


def test_seen_filter_fails_on_an_injected_key(spark, wave):
    from pyspark.sql import functions as F

    from newsraag_crawler_spark.functions.urlnorm import surt_url

    corpus, seen = wave["corpus"], wave["seen"]
    assert not checks.seen_filter(corpus, seen)
    leaked = corpus.limit(1).select(surt_url(F.col("url")).alias("key"))
    assert checks.seen_filter(corpus, seen.unionByName(leaked))


def test_payloads_fail_on_tampered_bytes_phash_or_caption(wave):
    from pyspark.sql import functions as F

    corpus = wave["corpus"]
    urls = checks.sample_urls(corpus, 7, 4)
    assert not checks.payloads(corpus, urls, 7)
    for col, bad in (
        ("bytes", F.concat(F.col("bytes"), F.lit(b"\x00"))),
        ("phash", F.col("phash") + 1),
        ("caption", F.concat(F.col("caption"), F.lit("!"))),
    ):
        assert checks.payloads(corpus.withColumn(col, bad), urls, 7), col
    assert checks.payloads(corpus.filter(F.col("url") != urls[0]), urls, 7)


def test_crawl_checks_fail_on_refetch_extra_seen_or_leaked_blocks(spark, tmp_path):
    from pyspark.sql import functions as F

    from newsraag_crawler_spark.functions.urlnorm import surt_url
    from newsraag_crawler_spark.operators.wave import run_crawl
    from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

    s, waves = inputs.TINY, 2
    root = str(tmp_path)
    inputs.crawl_inputs(spark, root, 7, s)
    tables = {k: SnapshotTable(spark, os.path.join(root, "tables", k))
              for k in ("frontier", "corpus", "seen", "metrics")}
    pre_version = tables["seen"].current_version()
    pre_rows = int(tables["seen"].current_lineage()["rows"])
    policies = inputs.host_policies(spark, s.crawl_hosts, s.crawl_budget, s.crawl_budget)
    seeds = inputs.crawl_batch(spark.read.parquet(os.path.join(root, "seeds")), 0, s)
    run_crawl(spark, seeds, policies, tables,
              max_waves=waves, links_per_page=inputs.CRAWL_LINKS_PER_PAGE,
              n_articles=s.crawl_batch * s.crawl_waves, seed=7)
    corpus, pre_seen = tables["corpus"].read(), tables["seen"].read(version=pre_version)
    assert not checks.crawl_state(tables, pre_rows, waves, [0, 0, 0])[1]
    assert not checks.crawl_corpus(corpus, pre_seen)
    assert checks.crawl_state(tables, pre_rows, waves, [0, 1, 0])[1]
    assert checks.crawl_state(tables, pre_rows, waves + 1, [0, 0, 0])[1]
    assert checks.crawl_corpus(corpus.unionByName(corpus.limit(1)), pre_seen)
    leaked = corpus.limit(1).select(surt_url(F.col("url")).alias("key"))
    assert checks.crawl_corpus(corpus, pre_seen.unionByName(leaked))
    tables["seen"].append(leaked, lineage={"wave": waves})
    assert checks.crawl_state(tables, pre_rows, waves, [0, 0, 0])[1]


def test_history_keys_are_surt_keys_of_no_feed_url(spark):
    from newsraag_crawler_spark.functions.urlnorm import surt_py

    s = inputs.TINY
    first = s.crawl_batch * s.crawl_waves
    rows = inputs.history_keys(spark, first, s, 7).limit(50).collect()
    assert len(rows) == 50
    for r in rows:
        host, art = r["key"].split(",")[2].split(")/articles/")
        assert int(art) >= first  # past every feed batch and link target
        assert surt_py(f"https://{host}.example.com/articles/{art}") == r["key"]


def test_oracle_comparison_fails_on_a_changed_value():
    import pandas as pd

    want = checks.normalize(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
    assert not checks.frames_equal("q", want.copy(), want)
    bad = want.copy()
    bad.loc[1, "v"] = 1.5000001
    assert checks.frames_equal("q", bad, want)
    assert checks.frames_equal("q", want.iloc[:1], want)
    assert checks.frames_equal("q", want.rename(columns={"v": "w"}), want)


def test_codec_checks_fail_on_a_corrupted_kernel(monkeypatch):
    from newsraag_crawler_spark.functions import images
    from newsraag_crawler_spark.sources import synthetic

    from perfbench import codec

    kernels, fails = codec.microbench(7, 8)
    assert not fails and kernels["images.phash64_us"] > 0
    assert not codec.golden_check()
    # a wrong kernel, as both the fetch stage and the oracle see it
    phash64 = images.phash64
    for mod in (images, synthetic):
        monkeypatch.setattr(mod, "phash64", lambda img: phash64(img) ^ 1)
    assert not codec.microbench(7, 8)[1]  # the oracle cannot see it
    assert codec.golden_check()
    monkeypatch.undo()
    encode_image = images.encode_image
    for mod in (images, synthetic):
        monkeypatch.setattr(mod, "encode_image", lambda img, fmt: encode_image(img, fmt) + b"\0")
    assert codec.golden_check()
