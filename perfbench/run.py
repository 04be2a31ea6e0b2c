"""kgflow benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last line of
stdout is the result JSON with every end-to-end metric; with
``--trace 1`` it carries every per-layer metric, and the span trace is
written to ``.perfbench_out/``. The line before the result is a report
with the environment, load, per-workload figures and check failures.
Everything the run writes stays under the checkout and is removed at
exit, except the trace file.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CORES = 4

END_TO_END = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s"}


# per-layer figures where more is better; every other one is a cost
HIGHER_IS_BETTER = {
    "convert.sentences", "parse.rows", "forward.rows", "dedup.triples", "linking.entities",
    "linking.edges", "linking.merged", "tables.rows_written", "stage.hits",
    "tokenize.memo_hit_ratio", "fused.busy_frac", "linking.pair_yield", "linking.cc_path",
    "linking.broadcast", "workload.docs_per_s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import LANES, PHASES, REGISTRY_QUERIES

    u = {
        "convert.s": "s", "convert.sentences": "count",
        "parse.self_s": "s", "parse.rows": "count", "parse.skipped": "count",
        "parse.tag_memo_new": "count",
        "preprocess.self_s": "s", "preprocess.skipped": "count",
        "tokenize.self_s": "s", "tokenize.unique_words": "count", "tokenize.memo_new": "count",
        "tokenize.memo_hit_ratio": "ratio",
        "forward.self_s": "s", "forward.rows": "count", "forward.macs": "count",
        "fused.s": "s", "fused.jobs": "count", "fused.tasks": "count", "fused.busy_s": "s",
        "fused.busy_frac": "ratio",
        "dedup.s": "s", "dedup.shuffle_bytes": "B", "dedup.triples": "count",
        "linking.canonical_map_s": "s", "linking.entities": "count",
        "linking.candidate_pairs": "count", "linking.edges": "count", "linking.pair_yield": "ratio",
        "linking.merged": "count", "linking.jobs": "count", "linking.cc_path": "flag",
        "linking.broadcast": "flag",
        "tables.write_s": "s", "tables.bytes_written": "B", "tables.files_written": "count",
        "tables.rows_written": "count", "tables.read_s": "s",
        "stage.builds": "count", "stage.hits": "count", "stage.build_s": "s",
    }
    for phase in PHASES:
        u[f"gate.{phase}.driver_paths"] = "count"
        u[f"gate.{phase}.distributed_paths"] = "count"
    for q in REGISTRY_QUERIES:
        for phase in PHASES:
            u[f"query.{q}.{phase}_s"] = "s"
    for lane in LANES:
        u.update({f"lane.{lane}.jobs": "count", f"lane.{lane}.shuffle_bytes": "B",
                  f"lane.{lane}.spill_bytes": "B", f"lane.{lane}.busy_s": "s"})
    u.update({
        "trace.overhead_s": "s", "trace.overhead_frac": "ratio", "trace.self_time_gap_s": "s",
        "workload.docs_per_s": "1/s", "workload.resume_s": "s",
        "workload.stored_bytes_per_triple": "B", "workload.registry_cold_s": "s",
        "workload.registry_warm_s": "s", "workload.registry_capsoff_s": "s",
        "workload.error_rate": "ratio",
        # not end to end: JVM heap growth makes it vary 13-17% run to run
        "memory.peak_rss_mb": "MB",
    })
    return u


class Ctx:
    """What the workloads share: session, directories, run settings,
    the active tracer/counters/probes, and the check tally."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        from perfbench.trace import NullTracer

        self.spark, self.root, self.work = spark, str(ROOT), work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer, self.counters, self.probes = NullTracer(), None, None
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {traceback.format_exc(limit=8)}")


def prepare_environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program from it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")


def start_spark(name: str, work: Path):
    from deepref_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cores=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every
    Python worker below it have exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_passes(ctx, wl, passes: list, traced_passes: list, tracing) -> None:
    """Timed loop: at least ``min_passes`` passes, then until the run's
    seconds are spent. In a traced run, untraced and traced passes
    alternate so the two can be compared."""
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < wl.max_passes:
        traced = ctx.trace and (i % 2 == 1 or wl.min_passes == 1)
        done = traced_passes if traced else passes
        # a traced run alternates, and two of each is enough to compare
        need = min(wl.min_passes, 2) if ctx.trace else wl.min_passes
        enough = len(passes) >= need and (not ctx.trace or len(traced_passes) >= need)
        if enough and time.perf_counter() >= deadline:
            break
        if ctx.trace and wl.min_passes == 1 and traced_passes:
            break
        with tracing(traced):
            ctx.attempted += 1
            try:
                dt, items = wl.run_pass(i)
            except Exception:  # noqa: BLE001 - a failed pass is reported, not fatal
                ctx.fail(f"pass {i}")
                return
        done.append((dt, items))
        i += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "deepref_spark" / "__init__.py").is_file():
        print(f"perfbench: no deepref_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    from perfbench.workloads import WORKLOADS, SETUP_ROUNDS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_environment(work)
    from contextlib import contextmanager

    from perfbench import probes as pr
    from perfbench.sparkstats import SparkCounters
    from perfbench.trace import NullTracer, Tracer, subtree_self_sum

    load_start = pr.load_now()
    t0 = time.perf_counter()
    spark = start_spark(args.workload, work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, str(work), args.seed, args.seconds, bool(args.trace))
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(run_id) if args.trace else NullTracer()
        counters = SparkCounters(spark) if args.trace else None
        probes = pr.Probes(tracer) if args.trace else None

        @contextmanager
        def tracing(on: bool):
            if not on:
                ctx.tracer, ctx.counters, ctx.probes = NullTracer(), None, None
                yield
                return
            ctx.tracer, ctx.counters, ctx.probes = tracer, counters, probes
            probes.install()
            try:
                yield
            finally:
                probes.uninstall()

        wl = WORKLOADS[args.workload](ctx)
        rounds = []
        for k in range(SETUP_ROUNDS):
            r0 = time.perf_counter()
            wl.setup_round(k)
            rounds.append(time.perf_counter() - r0)
        w0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - w0
        # session start and warmup happen once; input set-up is repeated
        # and the median round stands for each share of the inputs
        setup_s = session_s + SETUP_ROUNDS * statistics.median(rounds) + warmup_s
        wl.start()

        passes: list = []
        traced: list = []
        with tracer.span("run") as root_counts:
            run_passes(ctx, wl, passes, traced, tracing)
            pass_probe_counts = probes.take() if probes else {}
            peak = pr.peak_rss_mb()
            try:
                wl.check()
            except Exception:  # noqa: BLE001 - a failed check is reported, not fatal
                ctx.fail("output checks")
            layers = {}
            if args.trace and traced:
                with tracing(True):
                    wl.pass_probe_counts, wl.n_traced = pass_probe_counts, len(traced)
                    try:
                        layers = wl.layers()
                    except Exception:  # noqa: BLE001
                        ctx.fail("layer probes")
            root_counts["passes"] = len(passes) + len(traced)
        load_end = pr.load_now()
        env = pr.environment(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    times = [p[0] for p in passes or traced]
    summary = wl.summary(times) if times else {}
    items = (passes or traced)[0][1] if times else 0
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(times) if times else float("nan"),
        "items_per_s": items / statistics.median(times) if times else 0.0,
    }
    error_rate = ctx.failed / max(ctx.attempted, 1)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "load_start": load_start, "load_end": load_end,
        "session_start_s": session_s, "setup_rounds_s": rounds, "warmup_s": warmup_s,
        "pass_times_s": times, "traced_pass_times_s": [p[0] for p in traced],
        "end_to_end": e2e, "peak_rss_mb": peak, "workload_figures": summary,
        "error_rate": error_rate,
        "failures": ctx.failures, **wl.extras,
    }
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update({k: v for k, v in layers.items() if k in units})
        if passes and traced:
            u_med = statistics.median(p[0] for p in passes)
            values["trace.overhead_s"] = statistics.median(p[0] for p in traced) - u_med
            values["trace.overhead_frac"] = values["trace.overhead_s"] / u_med
        elif "warm_untraced_s" in wl.extras:
            warm = summary["registry_warm_s"]
            values["trace.overhead_s"] = warm - wl.extras["warm_untraced_s"]
            values["trace.overhead_frac"] = values["trace.overhead_s"] / wl.extras["warm_untraced_s"]
        root = tracer.spans[0]
        values["trace.self_time_gap_s"] = abs(
            subtree_self_sum(tracer.spans, 0) - (root["end"] - root["start"]))
        for k, v in summary.items():
            if f"workload.{k}" in units:
                values[f"workload.{k}"] = v
        values["workload.error_rate"] = error_rate
        values["memory.peak_rss_mb"] = peak
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        trace_path = out_dir / f"trace-{run_id}.json"
        tracer.dump(str(trace_path), {"report": report, "per_layer": values,
                                      "stage_build_s": probes.stage_build_s})
        report["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0 and bool(times),
        "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
