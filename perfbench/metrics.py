"""Metric names, units and how each is computed from a run's records.

End-to-end metrics are reported by every workload with tracing off; the
layer metrics by every workload's traced run, 0 where the workload does not
exercise the layer (``storage.commit_s.metrics`` in ``wave_fetch``, whose
outputs go to the noop sink; ``catalog.*`` outside ``wave_fetch``'s
traced run).
"""

from __future__ import annotations

import statistics

from .trace import EXCLUDED, Tracer
from .workloads import CATALOG_QUERIES

# name, unit, better
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
    ("fetched_urls_per_s", "urls/s", "higher"),
    ("frontier_urls_per_s", "urls/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("synthetic.frontier_gen_s", "s", "lower"),
    ("synthetic.seen_state_s", "s", "lower"),
    ("urlnorm.canonicalize_s", "s", "lower"),
    ("urlnorm.rows", "rows", "lower"),
    ("dedup.seen_filter_s", "s", "lower"),
    ("dedup.seen_dropped_rows", "rows", "lower"),
    ("dedup.seen_drop_ratio", "ratio", "lower"),
    ("dedup.within_wave_s", "s", "lower"),
    ("dedup.dup_rows", "rows", "lower"),
    ("frontier.rank_s", "s", "lower"),
    ("politeness.robots_s", "s", "lower"),
    ("politeness.blocked_rows", "rows", "lower"),
    ("politeness.budget_s", "s", "lower"),
    ("politeness.due_rows", "rows", "higher"),
    ("politeness.spill_rows", "rows", "lower"),
    ("politeness.salt_s", "s", "lower"),
    ("politeness.hot_hosts", "count", "lower"),
    ("politeness.fetch_task_skew", "ratio", "lower"),
    ("wave.plan_build_s", "s", "lower"),
    ("wave.fetch_meta_s", "s", "lower"),
    ("wave.codec_s", "s", "lower"),
    ("wave.codec_us_per_row", "us", "lower"),
    ("wave.udf_overhead_ratio", "ratio", "lower"),
    ("wave.fetched_rows", "rows", "higher"),
    ("wave.payload_mb", "MB", "lower"),
    ("images.synth_image_us", "us", "lower"),
    ("images.encode_png_us", "us", "lower"),
    ("images.encode_lossy_us", "us", "lower"),
    ("images.lossy_roundtrip_us", "us", "lower"),
    ("images.phash64_us", "us", "lower"),
    ("storage.commit_s.corpus", "s", "lower"),
    ("storage.commit_s.seen", "s", "lower"),
    ("storage.commit_s.frontier", "s", "lower"),
    ("storage.commit_s.metrics", "s", "lower"),
    ("storage.files_written", "count", "lower"),
    ("storage.manifest_bytes", "bytes", "lower"),
    ("storage.persistent_blocks", "count", "lower"),
    *(
        (f"catalog.{q}.{kind}_s", "s", "lower")
        for q in CATALOG_QUERIES
        for kind in ("first", "steady")
    ),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.layer_sum_ratio", "ratio", "higher"),
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}

# spans whose self time is a layer metric of the same name
_SPAN_METRICS = (
    "urlnorm.canonicalize_s", "dedup.seen_filter_s", "dedup.within_wave_s",
    "frontier.rank_s", "politeness.robots_s", "politeness.budget_s",
    "politeness.salt_s", "wave.plan_build_s", "storage.commit_s.corpus",
    "storage.commit_s.seen", "storage.commit_s.frontier",
    "storage.commit_s.metrics",
)
_COUNT_METRICS = (
    "urlnorm.rows", "dedup.dup_rows", "politeness.blocked_rows",
    "politeness.due_rows", "politeness.spill_rows", "politeness.hot_hosts",
    "wave.fetched_rows", "wave.payload_mb",
)


def tail(values: list[float]) -> str:
    """Median plus the highest percentile that has at least ten samples
    beyond it, with the sample count."""
    n = len(values)
    s = f"median {statistics.median(values):.4g} of n={n}"
    if n > 10:
        p = 100 * (n - 10) // n
        s += f", p{p} {statistics.quantiles(values, n=100)[p - 1]:.4g}"
    else:
        s += ", no percentile above the median has 10 samples beyond it"
    return s


def wave_layers(tracer: Tracer, cpus: int, kernel_us_per_row: float) -> dict[str, float]:
    """Layer metrics of one traced wave or crawl op."""
    st, c = tracer.self_times(), tracer.counts
    out = {k: st.get(k, 0.0) for k in _SPAN_METRICS}
    out.update({k: float(c.get(k, 0)) for k in _COUNT_METRICS})
    allowed = c.get("_allowed_rows", 0)
    out["dedup.seen_dropped_rows"] = float(allowed - c.get("_unseen_rows", 0))
    out["dedup.seen_drop_ratio"] = out["dedup.seen_dropped_rows"] / allowed if allowed else 0.0
    out["politeness.fetch_task_skew"] = c.get("_skew_sum", 0) / max(c.get("_skew_n", 0), 1)
    meta = st.get(EXCLUDED + "wave.fetch_meta_s", 0.0)
    out["wave.fetch_meta_s"] = meta
    out["wave.codec_s"] = max(st.get("wave.fetch_s", 0.0) - meta, 0.0)
    rows = out["wave.fetched_rows"]
    # core-µs per fetched row: codec wall time × the cores running it
    out["wave.codec_us_per_row"] = out["wave.codec_s"] * cpus * 1e6 / rows if rows else 0.0
    out["wave.udf_overhead_ratio"] = (
        out["wave.codec_us_per_row"] / kernel_us_per_row if rows and kernel_us_per_row else 0.0
    )
    return out


def median_dict(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*dicts) if dicts else set()
    return {k: statistics.median([d.get(k, 0.0) for d in dicts]) for k in keys}
