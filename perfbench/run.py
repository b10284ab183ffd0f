"""Host-baselined benchmark of the engine's kNN, range, tile and geodesic
joins.

    python3 perfbench/run.py --workload flagship_uniform --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One client issues calls one after another
(a closed loop) on local[<cores>]. The input is made from --seed; input
generation and the untimed warm-up calls make up setup_s. Every call's
output is checked outside the timed region. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, measured untraced. With
--trace 1 the run first measures untraced for half the time, then restarts
the Spark context with the event log on and measures traced calls, and the
metrics are the per-layer ones. Exits 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

from measure import (
    RssSampler,
    descendants,
    driver_memory_mb,
    loadavg,
    mem_total_mb,
    median,
    nproc,
    tail,
)
from spans import (
    Tracer,
    layer_metrics,
    parse_event_log,
    read_events,
    span_records,
    sum_layers,
)

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.start_s": "s",
    "synth.generate_s": "s",
    "joins.call_s": "s",
    "joins.materialize_s": "s",
    "joins.kernel_stage_s": "s",
    "joins.pack_stage_s": "s",
    "joins.halo_stage_s": "s",
    "joins.window_stage_s": "s",
    "joins.python_run_s": "s",
    "joins.python_in_mb": "MiB",
    "joins.python_out_mb": "MiB",
    "joins.jobs": "count",
    "joins.rounds": "count",
    "joins.unresolved_frac": "ratio",
    "joins.driver_gap_s": "s",
    "joins.shuffle_write_mb": "MiB",
    "joins.shuffle_read_mb": "MiB",
    "joins.spill_mb": "MiB",
    "joins.gc_s": "s",
    "joins.executor_cpu_s": "s",
    "joins.tasks": "count",
    "tiling.scan_s": "s",
    "geo.call_s": "s",
    "geo.jobs": "count",
    "geo.window_stage_s": "s",
    "geo.shuffle_write_mb": "MiB",
    "geo.executor_cpu_s": "s",
    "geo.driver_gap_s": "s",
    "trace.overhead_s": "s",
}

GENERATE_PASSES = 3
# a traced call whose shuffle write falls below this share of the first
# traced call's read a cached plan instead of recomputing
SHUFFLE_DROP = 0.5


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def configure_env(tmp: Path, mem_mb: int) -> None:
    """Size Spark from the host and keep every scratch file under ``tmp``.
    Must run before the first session starts the JVM."""
    for sub in ("local", "jvm", "py", "eventlog", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{path}" if path else str(ROOT)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb(mem_mb)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "py")
    os.environ["MSK_RUN_TOKEN"] = tmp.name
    # the JVM's temp files, and no hsperfdata file under /tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp / 'jvm'} -XX:-UsePerfData".strip()
    )


def start_session(tmp: Path, cores: int, event_log: bool):
    from metric_search_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (tmp / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session(cpus=cores, app_name="perfbench", extra_conf=conf)


def stop_spark() -> None:
    """Stop the Spark context and the JVM this process launched, and wait
    for every process below this one to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            # a run interrupted inside a JVM call: stop the JVM below anyway
            log(f"stopping the Spark context failed:\n{traceback.format_exc()}")
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


class Run:
    """One workload run: setup, warm-up, timed calls, checks."""

    def __init__(self, wl, seed: int, tmp: Path, cores: int):
        self.wl = wl
        self.seed = seed
        self.tmp = tmp
        self.cores = cores
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        for p in problems[:10]:
            log(f"{self.wl.name} {what}: {p}")

    def setup(self, event_log: bool, passes: int, warmups: int) -> dict:
        """Session start, ``passes`` generate-and-persist passes (all but the
        last dropped again) and ``warmups`` untimed calls, the first checked
        in full."""
        t0 = time.perf_counter()
        self.spark = start_session(self.tmp, self.cores, event_log)
        start_s = time.perf_counter() - t0
        gen = []
        tbl = None
        for _ in range(passes):
            if tbl is not None:
                tbl.unpersist()
            t0 = time.perf_counter()
            tbl = self.wl.make_input(self.spark, self.seed).persist()
            tbl.count()
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.prepare(tbl, self.seed)
        check_s = time.perf_counter() - t0
        warm_s = 0.0
        for i in range(warmups):
            self.attempted += 1
            res = None
            try:
                t0 = time.perf_counter()
                res = self.wl.run(Tracer())
                warm_s += time.perf_counter() - t0
                t0 = time.perf_counter()
                problems = self.wl.check_full(res) if i == 0 else self.wl.check(res)
                check_s += time.perf_counter() - t0
            except Exception:
                problems = [traceback.format_exc()]
            finally:
                if res is not None:
                    release_result(res)
            if problems:
                self.fail("warm-up call", problems)
        # drain the warm-up's garbage in both heaps, so the first timed call
        # does not pay for it
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return {
            "session.start_s": start_s,
            "synth.generate_s": median(gen),
            "generate_passes_s": gen,
            "warmup_s": warm_s,
            "check_s": check_s,
        }

    def measure(self, tracer: Tracer, seconds: float) -> list[dict]:
        """Timed calls until ``seconds`` have passed (the last call started
        in time runs to the end). One record per call that passed."""
        ops = []
        deadline = time.perf_counter() + seconds
        while True:
            now = time.perf_counter()
            # past the deadline, go on only while no call has passed yet
            if now >= deadline and (ops or now >= deadline + seconds):
                break
            self.attempted += 1
            res = None
            try:
                with tracer.span("op") as span:
                    t0 = time.perf_counter()
                    res = self.wl.run(tracer)
                    dt = time.perf_counter() - t0
                problems = self.wl.check(res)
                values = self.wl.layer_values(res)
            except Exception:
                problems = [traceback.format_exc()]
            finally:
                if res is not None:
                    release_result(res)
            if problems:
                self.fail("timed call", problems)
                continue
            ops.append({"s": dt, "span": span, "values": values})
        return ops


def release_result(res) -> None:
    from workloads import release

    release(res)
    gc.collect()


def op_layers(ops: list[dict], tracer: Tracer, stages, jobs) -> list[dict[str, float]]:
    """Per-layer metrics of each traced call, named <layer>.<metric>."""
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    tables = []
    for op in ops:
        by_layer: dict[str, list] = {}
        row = dict(op["values"])
        for s in children.get(op["span"].sid, []):
            row[f"{s.name}_s"] = s.end - s.start
            by_layer.setdefault(s.name.split(".")[0], []).append(
                layer_metrics(s, stages, jobs)
            )
        for layer, parts in by_layer.items():
            for k, v in sum_layers(parts).items():
                if k != "wall_s":
                    row[f"{layer}.{k}"] = v
        tables.append(row)
    return tables


def shuffle_drop(tables: list[dict[str, float]]) -> list[str]:
    """Traced calls whose shuffle write fell well below the first's."""
    key = next(
        (k for k in ("joins.shuffle_write_mb", "geo.shuffle_write_mb") if k in tables[0]),
        None,
    )
    if key is None:
        return []
    first = tables[0][key]
    return [
        f"traced call {i}: {key} {t[key]:.1f} vs {first:.1f} on the first call "
        "(a cached plan was read instead of recomputed)"
        for i, t in enumerate(tables)
        if t[key] < SHUFFLE_DROP * first
    ]


def run_workload(args, wl, tmp: Path, cores: int) -> tuple[dict, dict, Run]:
    run = Run(wl, args.seed, tmp, cores)
    setup = run.setup(False, GENERATE_PASSES, wl.warmup_calls)
    untraced_s = args.seconds / 2 if args.trace else args.seconds
    ops = run.measure(Tracer(), untraced_s)
    times = [o["s"] for o in ops]
    p50 = median(times) if times else 0.0
    tail_s, tail_pct = tail(times) if times else (0.0, 0.0)
    detail = {
        "setup": setup,
        "op_s": times,
        "op_samples": len(times),
        "op_s_tail_percentile": tail_pct,
        "rounds": sorted({o["values"].get("joins.rounds", 0.0) for o in ops}),
    }
    metrics = {
        "setup_s": setup["session.start_s"] + setup["synth.generate_s"] + setup["warmup_s"],
        "op_s_p50": p50,
        "op_s_tail": tail_s,
        "rows_per_s": wl.n / p50 if p50 else 0.0,
    }
    if args.trace:
        # a new context in the same JVM, now writing the event log
        run.spark.stop()
        trace_setup = run.setup(True, 1, 1)
        tracer = Tracer(run.spark.sparkContext)
        traced = run.measure(tracer, args.seconds / 2)
        stop_spark()
        stages, jobs = parse_event_log(read_events(str(tmp / "eventlog")))
        tables = op_layers(traced, tracer, stages, jobs)
        if tables:
            drops = shuffle_drop(tables)
            if drops:
                run.fail("traced call", drops)
        layers = {
            name: median([t.get(name, 0.0) for t in tables]) if tables else 0.0
            for name in PER_LAYER
        }
        layers["session.start_s"] = setup["session.start_s"]
        layers["synth.generate_s"] = setup["synth.generate_s"]
        traced_p50 = median([o["s"] for o in traced]) if traced else 0.0
        layers["trace.overhead_s"] = traced_p50 - p50
        metrics = layers
        detail["traced"] = {
            "setup": trace_setup,
            "op_s": [o["s"] for o in traced],
            "layers_per_call": tables,
        }
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        spans_path = out / f"spans_{wl.name}_s{args.seed}.json"
        spans_path.write_text(json.dumps(span_records(tracer.spans, stages)))
        detail["spans"] = str(spans_path.relative_to(ROOT))
    return metrics, detail, run


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input rows (default: the workload's own size)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import pyspark
        import pyarrow

        import metric_search_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](args.rows)

    cores, mem_mb = nproc(), mem_total_mb()
    host = {
        "nproc": cores,
        "mem_total_mb": mem_mb,
        "driver_memory_mb": driver_memory_mb(mem_mb),
        "loadavg_before": loadavg(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}-{time.time_ns()}"
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        configure_env(tmp, mem_mb)
        with RssSampler() as rss:
            metrics, detail, run = run_workload(args, wl, tmp, cores)
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                tmp.parent.rmdir()
            except OSError:
                pass
    host["loadavg_after"] = loadavg()
    catalogue = PER_LAYER if args.trace else END_TO_END
    correct = run.failed == 0
    print(json.dumps({
        "perfbench": {
            "workload": wl.name,
            "rows": wl.n,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "failed_frac": run.failed / max(1, run.attempted),
            "peak_rss_mb": rss.peak_mb,
            **detail,
        }
    }, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in catalogue.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
