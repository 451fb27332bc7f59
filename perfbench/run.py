"""Benchmark: the product build, incremental append and registry query
mix, timed end to end and (with ``--trace 1``) layer by layer.

    python3 perfbench/run.py --workload product_build --seed 1 --seconds 5 --trace 0

Run it from the repository root.  Workloads (see workloads.py):

- ``product_build``: the paper's pipeline on seeded HuBMAP-shaped inputs
  (12 datasets, two modalities, one parquet file per dataset);
- ``product_append``: idempotent re-adds of one dataset at a time into
  a built product;
- ``registry_mix``: passes over a fixed list of registry keys on a
  seeded star schema, executed to the ``noop`` sink.

Every run pins its environment (``local[nproc]``, 2g driver, all Spark
scratch, spill and product output under a temp root inside the checkout
that is removed at exit), checks its outputs outside the timed window,
prints one detail line with every workload metric (name, unit, sample
count) and the environment, and ends with the result line:
``{"correct", "attempted", "failed", "metrics"}``.  The metrics are the
end-to-end set with ``--trace 0`` and the per-layer set with
``--trace 1``.  Exit code 1 when an output check fails, 2 when the
engine is not there to benchmark.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
TMP_PARENT = ".perfbench_tmp"

# product_append runs from this command but is not in BENCHMARK.json:
# 22 runs of each listed workload must fit the benchmark's time budget
# even when the host runs at half speed.
WORKLOAD_NAMES = ("product_build", "product_append", "registry_mix")
END_TO_END = {  # name -> unit; reported by every workload
    "op_s": "s",
    "first_op_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.jobs": "count",
    "sources.load_table.s": "s",
    "sources.matrix_read_s": "s",
    "sources.scan_tsv_manifest_s": "s",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "plan.scan_nodes": "count",
    "plan.exchange_nodes": "count",
    "plans.build_product_s": "s",
    "plans.finalize_count_s": "s",
    "plans.append_s": "s",
    "sinks.write_product_s": "s",
    "sinks.parquet_writes": "count",
    "sinks.parquet_write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "spill.writes": "count",
    "spill.write_s": "s",
    "spill.reuse_ratio": "ratio",
    "spill.ckpt_calls": "count",
    "spill.ckpt_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_disk_bytes": "bytes",
    "exec.failed_tasks": "count",
    "bench.self_s": "s",
    "traced.op_s": "s",
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (falls back to the
    import time of this module)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return T_IMPORT


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class Context:
    def __init__(self, args, tmp: str, tracer) -> None:
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.tmp = tmp
        self.tracer = tracer
        self.spark = None
        self.op_times: list[float] = []
        self.plan_scans = 0
        self.plan_exchanges = 0

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def plan_shapes(self, dfs) -> None:
        """Catalyst planning of ``dfs`` as its own span (traced run, inside
        an operation only)."""
        import layers

        if not self.tracer.stack:
            return
        with self.tracer.span("catalyst.plan"):
            shapes = [layers.plan_shape(df) for df in dfs]
        self.plan_scans += sum(s for s, _ in shapes)
        self.plan_exchanges += sum(e for _, e in shapes)

    @staticmethod
    def check_correctness():
        """tools/check_correctness.py, imported for its normalise/compare."""
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join("tools", "check_correctness.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod


def pin_environment(tmp: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "spill", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # every JVM (launcher and driver): temp files inside the temp root,
    # no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": nproc, "driver_memory": DRIVER_MEM}


def start_session(tmp: str, traced: bool):
    from atac_data_products_spark.session import get_spark

    conf = {
        "adp.spill.root": os.path.join(tmp, "spill"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("adp.spill.root", conf["adp.spill.root"])
    return spark


def stop_session(spark) -> float:
    """Stop Spark and its JVM child; wait for every descendant process.
    Returns the peak RSS (MB) of this process plus the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    rss = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(proc.pid) if proc else 0.0)
    kids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in kids:
            while _alive(pid):
                if time.time() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)
    return rss


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def collect_garbage(spark) -> None:
    """Full GC in both processes before a timed operation, so that no
    operation pays for the garbage of the one before it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def versions(spark) -> dict:
    import platform

    import pyspark

    jvm = spark._jvm.java.lang.System
    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
    }


def layer_metrics(ctx, stats: dict, session_s: float, op_s: float) -> tuple[dict, dict]:
    """Per-layer metrics (per operation, except the session start and
    the ratios) and the trace detail for the detail line."""
    import layers

    tracer = ctx.tracer
    n = len(ctx.op_times)
    ops = [o["op"] for o in tracer.ops]
    self_s: dict[str, float] = {}
    for op in ops:
        for layer, s in tracer.op_self[op].items():
            self_s[layer] = self_s.get(layer, 0.0) + s
    c = tracer.counters

    def per_op(x: float) -> float:
        return x / n

    groups = [g for op in ops for g in tracer.op_groups[op]]
    ex = layers.exec_metrics(stats, groups, sum(ctx.op_times),
                             int(os.environ["SPARK_GRAFT_CPUS"]))
    spill_calls = c.get("spill.calls", 0)
    m = {
        "session.start_s": session_s,
        "sources.load_table.calls": per_op(tracer.calls.get("sources.load_table", 0)),
        "sources.load_table.jobs": per_op(tracer.jobs_in(stats, "sources.load_table")),
        "sources.load_table.s": per_op(self_s.get("sources.load_table", 0.0)),
        "sources.matrix_read_s": per_op(self_s.get("sources.matrix_read", 0.0)),
        "sources.scan_tsv_manifest_s": per_op(self_s.get("sources.scan_tsv_manifest", 0.0)),
        "registry.construct_s": per_op(self_s.get("registry.construct", 0.0)),
        "registry.construct_jobs": per_op(
            tracer.jobs_in(stats, "registry.construct", inclusive=True)),
        "catalyst.plan_s": per_op(self_s.get("catalyst.plan", 0.0)),
        "plan.scan_nodes": per_op(ctx.plan_scans),
        "plan.exchange_nodes": per_op(ctx.plan_exchanges),
        "plans.build_product_s": per_op(self_s.get("plans.build_product", 0.0)),
        "plans.finalize_count_s": per_op(self_s.get("plans.finalize_and_write", 0.0)),
        "plans.append_s": per_op(self_s.get("plans.append", 0.0)),
        "sinks.write_product_s": per_op(self_s.get("sinks.write_product", 0.0)),
        "sinks.parquet_writes": per_op(tracer.calls.get("sinks.parquet_write", 0)),
        "sinks.parquet_write_s": per_op(self_s.get("sinks.parquet_write", 0.0)),
        "sinks.bytes_written": per_op(c.get("sinks.bytes_written", 0)),
        "sinks.files_written": per_op(c.get("sinks.files_written", 0)),
        "spill.writes": per_op(c.get("spill.writes", 0)),
        "spill.write_s": per_op(c.get("spill.write_s", 0.0)),
        "spill.reuse_ratio": (spill_calls - c.get("spill.writes", 0)) / spill_calls
        if spill_calls else 0.0,
        "spill.ckpt_calls": per_op(tracer.calls.get("spill.ckpt", 0)),
        "spill.ckpt_s": per_op(self_s.get("spill.ckpt", 0.0)),
        "bench.self_s": per_op(self_s.get(layers.BENCH, 0.0)),
        "traced.op_s": op_s,
    }
    for k, v in ex.items():
        m[k] = v if k == "exec.busy_ratio" else per_op(v)
    detail = {
        "self_s_per_op": {k: v / n for k, v in sorted(self_s.items())},
        "ops": [
            {**o, "layers": dict(sorted(tracer.op_self[o["op"]].items())),
             "residual_s": o["wall_s"] - sum(tracer.op_self[o["op"]].values())}
            for o in tracer.ops
        ],
        "spill_once_calls": spill_calls,
    }
    return m, detail


def run(args, tmp: str, t_start: float) -> tuple[dict, int]:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    env = pin_environment(tmp)

    import layers

    tracer = layers.Tracer()
    if args.trace:
        layers.install(tracer)
    import workloads

    ctx = Context(args, tmp, tracer)
    t0 = time.perf_counter()
    spark = ctx.spark = start_session(tmp, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    env.update(versions(spark))
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        # set-up = process start to ready, with the repeatable part
        # (input generation + verification) counted once, at its median
        setup_s = time.time() - t_start - wl.gen_total_s + wl.gen_median_s
        oks: list[bool] = []
        t_window = time.perf_counter()
        i = 0
        while i < wl.MIN_OPS or time.perf_counter() - t_window < args.seconds:
            collect_garbage(spark)
            t_op = time.perf_counter()
            try:
                with tracer.operation(f"op{i}") if args.trace else contextlib.nullcontext():
                    ok = wl.op(i)
            except Exception:  # counted in failed_frac; the loop goes on
                ctx.log(f"op {i} raised:\n{traceback.format_exc()}")
                ok = False
            ctx.op_times.append(time.perf_counter() - t_op)
            if hasattr(wl, "after_op"):
                ok = wl.after_op(i) and ok
            oks.append(ok)
            i += 1
        checked = wl.check()
        oks = [a and b for a, b in zip(oks, checked)]
        stats = tracer.job_stats() if args.trace else None
    finally:
        rss = stop_session(spark)

    failed = sum(1 for ok in oks if not ok)
    wl_metrics = wl.metrics()
    wl_metrics["failed_frac"] = (failed / len(oks), "fraction", len(oks))
    wl_metrics["setup_s"] = (setup_s, "s", 1)
    wl_metrics["peak_rss_mb"] = (rss, "MB", 1)
    e2e = {
        "op_s": statistics.median(wl.steady(ctx.op_times)),
        "first_op_s": ctx.op_times[0],
        "setup_s": setup_s,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "op_times_s": ctx.op_times,
        **wl.detail(),
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in wl_metrics.items()},
    }
    if args.trace:
        per_layer, detail["trace"] = layer_metrics(ctx, stats, session_s, e2e["op_s"])
        detail["trace"]["traced_end_to_end"] = e2e
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail), flush=True)
    result = {"correct": failed == 0, "attempted": len(oks), "failed": failed,
              "metrics": metrics}
    return result, 0 if failed == 0 else 1


def main(argv=None) -> int:
    t_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("atac_data_products_spark", "session.py")):
        print("perfbench: run from the repository root; the engine package "
              "atac_data_products_spark/ is not here", file=sys.stderr)
        return 2
    os.makedirs(TMP_PARENT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.abspath(TMP_PARENT))
    try:
        result, code = run(args, tmp, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
