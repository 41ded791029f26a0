"""Crawl benchmark on the production wave path.

    python3 perfbench/run.py --workload {wave_fetch,crawl_recrawl} \
        --seed N --seconds S --trace {0,1} [--cpus N] [--scale {full,tiny}]

Run from the root of a checkout. One driver process builds the production
session (``session.build_session``) at local[nproc], generates the
workload's inputs from ``--seed``, then runs the workload's op in a closed
loop — a cold op and warm-up ops (counted in the set-up time), then steady
ops until ``--seconds`` have passed — and checks the ops' outputs.
``--trace 1`` instead alternates untraced and layer-cut traced ops after the
warm-up and reports the per-layer metrics. The human-readable
report goes to stdout first; the last stdout line is the JSON result
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed at
exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# start no op beyond the minimum after this long, so a slow box still ends
# inside 180 s
RUN_BUDGET_S = 110.0
# Driver heap sized for a 4-vCPU / 15 GB host (the package default, 12g, is
# sized for a 128 GB one), read by session.build_session. The heap is fixed
# and touched up front, so its resident size is the constant heap size: a
# heap that grows with G1's timing made the JVM's RSS swing by ±15% between
# identical runs. peak_rss_mb therefore counts the heap by its peak bytes in
# use instead (see peak_memory_mb).
DRIVER_MEM = "2g"
DRIVER_JAVA_OPTS = "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("wave_fetch", "crawl_recrawl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] width; default and maximum: nproc")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny inputs are for the smoke tests only")
    return ap.parse_args(argv)


class Loop:
    """Runs ops of one workload and keeps the error tally."""

    def __init__(self, wl, ctx) -> None:
        self.wl, self.ctx = wl, ctx
        self.attempted = self.failed = 0
        self.broken = False
        self.check_s = self.feed_s = 0.0
        self.messages: list[str] = []

    def one(self, tracer=None, first: bool = False):
        """(elapsed_s, Done) of one op, or None once an op has raised."""
        if self.broken:
            return None
        t0 = time.perf_counter()
        try:
            self.wl.feed(self.ctx)
            self.feed_s += time.perf_counter() - t0
            t0 = time.perf_counter()
            done = self.wl.op(self.ctx, tracer, first)
        except Exception:  # noqa: BLE001 — the run reports it and stops
            self.broken = True
            self.tally(1, 1, [traceback.format_exc()])
            return None
        elapsed = time.perf_counter() - t0
        if tracer is not None:
            elapsed -= tracer.untimed_total()
        t1 = time.perf_counter()
        try:
            fails = self.wl.check(self.ctx, done, first)
        except Exception:  # noqa: BLE001 — a check that raises is a failed op
            fails = [traceback.format_exc()]
        finally:
            self.wl.cleanup(self.ctx, done)
            self.check_s += time.perf_counter() - t1
        self.tally(done.units, done.units if fails else 0, fails)
        return elapsed, done

    def tally(self, attempted: int, failed: int, messages: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.messages += messages


def warm_up(loop: Loop) -> dict:
    """The cold op, then the workload's warm-up ops: JIT compilation of the
    op's generated code goes on for several ops, and timing it would
    measure the compiler, not the op."""
    first = loop.one(first=True)
    return {"first": first, "warm": [loop.one() for _ in range(loop.wl.warmup_ops)]}


def untraced(loop: Loop, seconds: float, t_run: float) -> dict:
    rec = warm_up(loop)
    steady = []
    lo, hi = loop.wl.steady_ops
    t_end = time.perf_counter() + seconds
    while not loop.broken and len(steady) != hi and (
        len(steady) < lo or time.perf_counter() < min(t_end, t_run + RUN_BUDGET_S)
    ):
        r = loop.one()
        if r is not None:
            steady.append(r)
    return {**rec, "steady": steady}


def traced(loop: Loop, seconds: float, t_run: float) -> dict:
    """Warm-up, then untraced and traced ops alternately."""
    from perfbench.trace import Tracer

    rec = warm_up(loop)
    # each stage cut is a query plan of its own, cold on first use: one
    # traced op warms them before the measured one
    rec["warm"].append(loop.one(tracer=Tracer(), first=True))
    plain, cut = [], []
    n_min, n_max = loop.wl.traced_pairs
    t_end = time.perf_counter() + seconds
    while not loop.broken and len(cut) != n_max and (
        len(cut) < n_min or time.perf_counter() < min(t_end, t_run + RUN_BUDGET_S)
    ):
        r = loop.one()
        if r is not None:
            plain.append(r)
        r = loop.one(tracer=Tracer())
        if r is not None:
            cut.append(r)
    return {**rec, "plain": plain, "cut": cut}


def peak_memory_mb(pss_mb: float, heap: dict[str, float]) -> float:
    """Peak memory of the run: the peak summed PSS of the Python driver, the
    JVM and the Python workers, with the JVM's resident heap replaced by
    the heap's peak bytes in use — so what grows or shrinks inside the
    heap (cached blocks, broadcast relations, shuffle buffers) shows."""
    return pss_mb - heap["committed"] + heap["used"]


def end_to_end(rec: dict, setup_s: float, peak_mb: float) -> dict[str, float]:
    steady = rec["steady"]
    if rec["first"] is None or not steady:
        return {}
    return {
        "setup_s": setup_s,
        "op_s": statistics.median(t for t, _ in steady),
        "fetched_urls_per_s": statistics.median(d.fetched / t for t, d in steady),
        "frontier_urls_per_s": statistics.median(d.frontier / t for t, d in steady),
        "peak_rss_mb": peak_mb,
    }


def per_layer(rec: dict, known: dict[str, float], cpus: int) -> dict[str, float]:
    """Every layer metric: ``known`` (set-up, kernel and catalog numbers)
    plus the medians over the traced ops; 0 for a layer the workload does
    not run."""
    from perfbench import metrics

    out = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
    out.update({k: v for k, v in known.items() if k in out})
    plain, cut = rec["plain"], rec["cut"]
    if rec["first"] is None or not plain or not cut:
        return out
    base = statistics.median(t for t, _ in plain)
    out["trace.overhead_ratio"] = statistics.median(t for t, _ in cut) / base - 1
    out["trace.layer_sum_ratio"] = (
        statistics.median(d.tracer.layer_sum() for _, d in cut) / base
    )
    out.update(metrics.median_dict([
        metrics.wave_layers(d.tracer, cpus, known["_kernel_us_per_row"]) for _, d in cut
    ]))
    out.update(metrics.median_dict([d.info["storage"] for _, d in cut if "storage" in d.info]))
    return out


def report(args, cpus: int, probes: tuple[float, float], rec: dict,
           values: dict[str, float], loop: Loop, phases: dict[str, float]) -> list[str]:
    """Human-readable lines: the run's stamp, then each metric by name with
    its unit."""
    from perfbench.metrics import UNITS, tail

    lines = [
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"scale={args.scale} cpus={cpus} nproc={len(os.sched_getaffinity(0))} "
        f"cpu_probe_ms={probes[0]:.1f}/{probes[1]:.1f} (before/after)",
        "scaling_efficiency_N_to_4N: unmeasured (a 1->4 core pair would "
        "roughly quadruple the cost of each run)",
        "phases_s: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()
                                if k not in ("catalog_blocks_left", "memory")),
    ]
    if "memory" in phases:
        lines.append(f"memory: {phases['memory']}")
    if "catalog_blocks_left" in phases:
        lines.append(
            f"catalog: {phases['catalog_blocks_left']:.0f} persistent RDDs left "
            "after the 29 queries"
        )
    if rec["first"] is not None:
        warm = " ".join(f"{r[0]:.3f}" for r in rec["warm"] if r is not None)
        lines.append(f"warm-up ops_s (part of setup_s): cold {rec['first'][0]:.3f} "
                     f"then {warm or '-'}; first op {rec['first'][1].info}")
    steady = rec.get("steady") or rec.get("plain") or []
    lines.append("steady ops_s: " + " ".join(f"{t:.3f}" for t, _ in steady))
    op_name = {"wave_fetch": "wave_s", "crawl_recrawl": "crawl_s"}[args.workload]
    samples = {
        "setup_s": None,
        "op_s": [t for t, _ in steady],
        "fetched_urls_per_s": [d.fetched / t for t, d in steady],
        "frontier_urls_per_s": [d.frontier / t for t, d in steady],
        "peak_rss_mb": None,
    }
    for name, sample in samples.items():
        if name in values:
            alias = f" [{op_name}]" if name == "op_s" else ""
            detail = f" ({tail(sample)})" if sample else ""
            lines.append(f"metric {name}{alias} {values[name]:.6g} {UNITS[name]}{detail}")
    for name in ("trace.overhead_ratio", "trace.layer_sum_ratio"):
        if args.trace and name in values:
            lines.append(f"metric {name} {values[name]:.4g} {UNITS[name]}")
    lines.append(
        f"metric error_rate {loop.failed / max(loop.attempted, 1):.6g} ratio "
        f"({loop.failed} failed of {loop.attempted} waves, commits and queries attempted)"
    )
    return lines


def run(args, cpus: int, work: str) -> tuple[dict, list[str]]:
    from newsraag_crawler_spark.session import build_session
    from perfbench import box, codec, inputs, metrics, workloads

    scale = inputs.TINY if args.scale == "tiny" else inputs.FULL
    probe_before = box.cpu_probe_ms()
    wl = workloads.WORKLOADS[args.workload]()
    t_run = time.perf_counter()
    with box.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = build_session(
            f"perfbench-{args.workload}",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {DRIVER_JAVA_OPTS}"
                ),
            },
        )
        try:
            session_s = time.perf_counter() - t0
            ctx = workloads.Ctx(spark, args.seed, scale, os.path.join(work, "in"))
            preps = []
            # set-up time is an end-to-end metric: the traced run needs one
            for _ in range(1 if args.trace else SETUP_REPS):
                shutil.rmtree(ctx.inp, ignore_errors=True)
                t0 = time.perf_counter()
                parts = wl.prepare(ctx)
                preps.append((time.perf_counter() - t0, parts))
            known = {"session.start_s": session_s}
            known.update(metrics.median_dict([p for _, p in preps]))
            loop = Loop(wl, ctx)
            phases = {"session": session_s, "prepare": sum(t for t, _ in preps)}
            t0 = time.perf_counter()
            rec = (traced if args.trace else untraced)(loop, args.seconds, t_run)
            phases["ops"] = time.perf_counter() - t0 - loop.check_s - loop.feed_s
            phases["feed"] = loop.feed_s
            t0 = time.perf_counter()
            fails = wl.finish(ctx)
            # a wrong final state puts every op of the run in doubt
            loop.tally(0, loop.attempted - loop.failed if fails else 0, fails)
            # the payload checks compare with an oracle that shares the
            # kernels; the golden values pin both
            fails = codec.golden_check()
            loop.tally(1, bool(fails), fails)
            phases["checks"] = loop.check_s + time.perf_counter() - t0
            if args.trace and wl.runs_catalog:
                # after the waves, so that the catalog's own left-over RDD
                # blocks and cached plans do not reach them
                t0 = time.perf_counter()
                cat, n, fails = workloads.catalog_layer(ctx)
                known.update(cat)
                loop.tally(n, len(fails), fails)
                phases["catalog"] = time.perf_counter() - t0
                phases["catalog_blocks_left"] = workloads.persistent_rdds(spark)
            if args.trace:
                kernels, fails = codec.microbench(args.seed, scale.codec_sample)
                known.update(kernels)
                loop.tally(1, bool(fails), fails)
            heap = box.jvm_heap_mb(spark)
            peak_mb = peak_memory_mb(rss.peak_mb, heap)
            phases["memory"] = (
                f"pss_peak={rss.peak_mb:.0f}MB heap_committed={heap['committed']:.0f}MB "
                "heap_peak_used=" + "+".join(
                    f"{v:.0f}" for k, v in heap.items() if k not in ("committed", "used")
                ) + f"={heap['used']:.0f}MB"
            )
        finally:
            t0 = time.perf_counter()
            box.stop_spark(spark)
    phases["stop"] = time.perf_counter() - t0
    phases["total"] = time.perf_counter() - t_run
    probe_after = box.cpu_probe_ms()
    if args.trace:
        values, spec = per_layer(rec, known, cpus), metrics.PER_LAYER
    else:
        # the warm-up ops belong to the set-up: analysis, codegen, JIT and
        # Python worker start land there, so work moved into them shows
        setup_s = session_s + statistics.median(t for t, _ in preps)
        setup_s += sum(r[0] for r in [rec["first"], *rec["warm"]] if r is not None)
        values, spec = end_to_end(rec, setup_s, peak_mb), metrics.END_TO_END
    lines = report(args, cpus, (probe_before, probe_after), rec, values, loop, phases)
    for m in loop.messages:
        print(f"perfbench check failed: {m}", file=sys.stderr)
    names = [n for n, _, _ in spec]
    result = {
        "correct": loop.failed == 0 and all(n in values for n in names),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            n: {"value": values[n], "unit": metrics.UNITS[n]} for n in names if n in values
        },
    }
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "newsraag_crawler_spark", "__init__.py")):
        print(
            "perfbench: no newsraag_crawler_spark package next to perfbench/ — "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.box import BoxError, resolve_cpus

    try:
        cpus = resolve_cpus(args.cpus)
    except BoxError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process, the JVM and the Python workers
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no JVM perf-data files under the system /tmp (spark-submit's launcher
    # JVM; the Spark JVM gets the flag through extraJavaOptions)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        result, lines = run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
