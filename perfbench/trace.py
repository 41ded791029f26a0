"""Spans around calls into each layer, recorded from the benchmark's side.

Spark is lazy, so a span around a call that only builds a plan measures
nothing. ``layer_cuts`` therefore wraps the layer functions the production
wave looks up at call time (``operators.wave``'s imported names,
``operators.dedup.exact_dedup`` and ``SnapshotTable.append/overwrite``).
The wrappers only note each layer's output frame; once ``run_scale_wave``
has built its plan, the wave is *cut* at each stage boundary: every noted
frame, in pipeline order, is materialised to the noop sink inside a span of
its own.

A stage's span recomputes the stages above it back to the nearest frame the
program itself persists (the canonicalized frontier, the budgeted frontier),
so a stage's self time is its span minus the span of the stage it reads
from. The self times of a chain therefore add up to the time of
materialising the chain once, as the untraced wave does; no stage output is
cached except the corpus, which the wave's commits read next. The
recomputation is tracing overhead: it shows in the traced op time, not in
the self times. Funnel counts are taken in ``untimed`` intervals, excluded
from every span and from the traced op time.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

NOOP = "noop"
# span-name prefix of intervals that are not a layer's own work
EXCLUDED = "~"
CHECKS = EXCLUDED + "checks"
STAGE = EXCLUDED + "stage"


def sink(df) -> None:
    """Materialise ``df`` to Spark's noop sink (runs the plan, keeps
    nothing)."""
    df.write.format(NOOP).mode("overwrite").save()


class Tracer:
    """In-memory spans, stage cuts and per-layer counts of one traced op."""

    def __init__(self) -> None:
        # [name, start, end, parent index]
        self.spans: list[list] = []
        # (name, seconds, name of the stage it recomputes, or None)
        self.stages: list[tuple[str, float, str | None]] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._cached: list = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def untimed(self):
        """Interval spent on counts and checks: excluded from every
        enclosing span, from the layer sum and from the traced op time."""
        return self.span(CHECKS)

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def stage(self, name: str, df, base: str | None = None, persist: bool = False) -> None:
        """Materialise stage output ``df``; ``base`` names the stage it
        recomputes. ``persist`` caches the output for the caller."""
        if persist:
            df.persist()
            self._cached.append(df)
        with self.span(STAGE):
            t0 = time.perf_counter()
            sink(df)
            self.stages.append((name, time.perf_counter() - t0, base))

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def self_times(self) -> dict[str, float]:
        """Name → summed self time: a span's duration minus its direct
        children, a stage's duration minus its base stage's duration."""
        child = [0.0] * len(self.spans)
        for _, t0, t1, parent in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _) in enumerate(self.spans):
            if name != STAGE:
                out[name] = out.get(name, 0.0) + (t1 - t0) - child[i]
        latest: dict[str, float] = {}
        for name, secs, base in self.stages:
            out[name] = out.get(name, 0.0) + secs - (latest[base] if base else 0.0)
            latest[name] = secs
        return out

    def untimed_total(self) -> float:
        return sum(t1 - t0 for name, t0, t1, _ in self.spans if name == CHECKS)

    def layer_sum(self) -> float:
        """Σ self time of every layer span and stage of the op."""
        return sum(v for k, v in self.self_times().items() if not k.startswith(EXCLUDED))


def _partition_skew(df) -> float:
    """max / median rows per partition of ``df`` (empty partitions
    included; median floored at 1 row)."""
    from pyspark.sql import functions as F

    n_parts = df.rdd.getNumPartitions()
    rows = {
        r["pid"]: r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sizes = [rows.get(p, 0) for p in range(n_parts)]
    return max(sizes) / max(statistics.median(sizes), 1)


def _cut_wave(t: Tracer, fr: dict, out: dict) -> None:
    """Materialise the noted stage outputs of one wave in pipeline order,
    then take the funnel counts."""
    from pyspark.sql import functions as F

    t.stage("urlnorm.canonicalize_s", fr["frontier"])  # the wave persists it
    t.stage("politeness.robots_s", fr["allowed"])
    t.stage("dedup.seen_filter_s", fr["unseen"], base="politeness.robots_s")
    t.stage("dedup.within_wave_s", fr["deduped"], base="dedup.seen_filter_s")
    t.stage("frontier.rank_s", fr["ranked"], base="dedup.within_wave_s")
    t.stage("politeness.budget_s", fr["budgeted"], base="frontier.rank_s")  # persisted
    # due filter, skew census, salting and the fetch_key exchange
    t.stage("politeness.salt_s", fr["scheduled"])
    # side measurement: without the codec columns Catalyst prunes the pixel
    # UDF, leaving the JVM-side metadata columns
    t.stage(EXCLUDED + "wave.fetch_meta_s", fr["corpus"].drop("bytes", "phash"),
            base="politeness.salt_s")
    t.stage("wave.fetch_s", fr["corpus"], base="politeness.salt_s", persist=True)
    with t.untimed():
        t.count("urlnorm.rows", fr["frontier"].count())
        t.count("politeness.blocked_rows", out["blocked"].count())
        allowed, unseen = fr["allowed"].count(), fr["unseen"].count()
        t.count("_allowed_rows", allowed)
        t.count("_unseen_rows", unseen)
        t.count("dedup.dup_rows", unseen - fr["deduped"].count())
        t.count("politeness.due_rows", out["due"].count())
        t.count("politeness.spill_rows", out["spill"].count())
        t.count("politeness.hot_hosts", fr["census"].count())
        t.count("_skew_sum", _partition_skew(fr["scheduled"]))
        t.count("_skew_n", 1)
        r = fr["corpus"].agg(
            F.count("*").alias("n"), F.sum(F.length("bytes")).alias("b")
        ).first()
        t.count("wave.fetched_rows", r["n"])
        t.count("wave.payload_mb", (r["b"] or 0) / 1e6)


@contextmanager
def layer_cuts(tracer: Tracer | None, on_wave=None):
    """Patch the layer entry points for the duration of the block.

    ``on_wave()`` runs (untimed) at the start of every ``run_scale_wave``
    call, after the tracer released the previous wave's cached corpus — the
    hook the crawl check uses to read the program's persistent RDD blocks
    between waves. With ``tracer=None`` only that hook is installed."""
    from newsraag_crawler_spark.operators import dedup as D
    from newsraag_crawler_spark.operators import wave as W
    from newsraag_crawler_spark.storage import snapshot_store as S

    names = ("run_scale_wave", "apply_robots", "priority_frontier",
             "budget_waves", "skew_census", "fetch_images")
    orig = {n: getattr(W, n) for n in names}
    orig["exact_dedup"] = D.exact_dedup
    orig["append"] = S.SnapshotTable.append
    orig["overwrite"] = S.SnapshotTable.overwrite
    t, fr = tracer, {}

    def run_scale_wave(*a, **k):
        if t is None:
            if on_wave is not None:
                on_wave()
            return orig["run_scale_wave"](*a, **k)
        t.release()
        if on_wave is not None:
            with t.untimed():
                on_wave()
        fr.clear()
        with t.span("wave.plan_build_s"):
            out = orig["run_scale_wave"](*a, **k)
        _cut_wave(t, fr, out)
        return out

    def apply_robots(frontier, *a, **k):
        fr["frontier"] = frontier
        fr["allowed"], blocked = orig["apply_robots"](frontier, *a, **k)
        return fr["allowed"], blocked

    def exact_dedup(df, *a, **k):
        # the wave's input here is robots-allowed ▷ seen, repartitioned by key
        fr["unseen"] = df
        fr["deduped"] = orig["exact_dedup"](df, *a, **k)
        return fr["deduped"]

    def noting(key, name):
        def wrapped(*a, **k):
            fr[key] = orig[name](*a, **k)
            return fr[key]

        return wrapped

    def fetch_images(scheduled, *a, **k):
        fr["scheduled"] = scheduled
        fr["corpus"] = orig["fetch_images"](scheduled, *a, **k)
        return fr["corpus"]

    def commit(kind):
        def wrapped(self, df, *a, **k):
            with t.span(f"storage.commit_s.{os.path.basename(self.path)}"):
                return orig[kind](self, df, *a, **k)

        return wrapped

    W.run_scale_wave = run_scale_wave
    if t is not None:
        W.apply_robots = apply_robots
        W.priority_frontier = noting("ranked", "priority_frontier")
        W.budget_waves = noting("budgeted", "budget_waves")
        W.skew_census = noting("census", "skew_census")
        W.fetch_images = fetch_images
        D.exact_dedup = exact_dedup
        S.SnapshotTable.append = commit("append")
        S.SnapshotTable.overwrite = commit("overwrite")
    try:
        yield
    finally:
        for n in names:
            setattr(W, n, orig[n])
        D.exact_dedup = orig["exact_dedup"]
        S.SnapshotTable.append = orig["append"]
        S.SnapshotTable.overwrite = orig["overwrite"]
