"""Layer attribution for the traced run, measured from outside the engine.

Three sources, combined per operation:

- **Spans**: wrappers around the engine's public functions (installed
  by ``install`` *before* ``plans.product`` and the registries import,
  because those modules bind ``write_product``, ``ckpt_eager``,
  ``spill_once`` and ``load_table`` by name).  Spans nest; each one's
  *self time* is its wall time minus its child spans, so the self
  times of one operation's spans plus the benchmark's own time add up
  to the operation's wall time.
- **Job groups**: every span runs under its own ``setJobGroup`` id
  (unique per span instance: the status tracker accumulates job ids
  across reuse of a group name), so the status tracker maps each Spark
  job to the innermost span that submitted it.
- **UI REST API**: after the measured window, per-stage task time,
  shuffle bytes, spill bytes and failed tasks, and per-job submission
  and completion times (``exec.s`` is the union of the job intervals).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from functools import wraps

BENCH = "bench"  # the benchmark's own time inside an operation


class Tracer:
    """Span stack plus per-layer accumulators for one process."""

    def __init__(self) -> None:
        self.sc = None  # set once the session is up
        self.stack: list[dict] = []
        self.op_self: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.calls: dict[str, int] = defaultdict(int)
        self.counters: dict[str, float] = defaultdict(float)
        self.groups: dict[str, str] = {}  # job group id -> layer
        self.parent: dict[str, str] = {}  # job group id -> enclosing group
        self.op_groups: dict[str, list[str]] = defaultdict(list)
        self.ops: list[dict] = []
        self._n = 0

    # -- spans ------------------------------------------------------------
    def layer(self) -> str | None:
        return self.stack[-1]["layer"] if self.stack else None

    @contextmanager
    def span(self, layer: str):
        if not self.stack:  # outside an operation: untraced
            yield
            return
        self._n += 1
        op = self.stack[0]["op"]
        group = f"{op}/{layer}#{self._n}"
        frame = {"layer": layer, "op": op, "child": 0.0, "group": group}
        parent_group = self.stack[-1]["group"]
        self._set_group(group)
        self.groups[group] = layer
        self.parent[group] = parent_group
        self.op_groups[op].append(group)
        self.stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield frame
        finally:
            dur = time.perf_counter() - t0
            self.stack.pop()
            self._set_group(parent_group)
            self.op_self[op][layer] += dur - frame["child"]
            self.calls[layer] += 1
            self.stack[-1]["child"] += dur

    @contextmanager
    def own(self):
        """Bookkeeping inside a span, charged to the benchmark itself."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            if self.stack:
                self.stack[-1]["child"] += dur
                self.op_self[self.stack[0]["op"]][BENCH] += dur

    @contextmanager
    def operation(self, op: str):
        """Root span of one operation; its self time is the benchmark's."""
        frame = {"layer": BENCH, "op": op, "child": 0.0, "group": f"{op}/{BENCH}"}
        self.groups[frame["group"]] = BENCH
        self.op_groups[op].append(frame["group"])
        self._set_group(frame["group"])
        self.stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield frame
        finally:
            wall = time.perf_counter() - t0
            self.stack.pop()
            self._set_group(None)
            self.op_self[op][BENCH] += wall - frame["child"]
            self.ops.append({"op": op, "wall_s": wall})

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(group, group)

    def wrap(self, layer: str, fn):
        """A wrapper timing ``fn`` as ``layer``.  Re-entry into the same
        layer (``ckpt_eager`` calling ``lineage_checkpoint``) is one span."""
        @wraps(fn)
        def inner(*a, **kw):
            if self.layer() == layer:
                return fn(*a, **kw)
            with self.span(layer):
                return fn(*a, **kw)
        return inner

    # -- Spark-side attribution ------------------------------------------
    def jobs_in(self, stats: dict, layer: str, inclusive: bool = False) -> int:
        """Jobs submitted under ``layer``'s spans; with ``inclusive``,
        also those of the spans nested inside them."""
        def under(g: str) -> bool:
            while g is not None:
                if self.groups.get(g) == layer:
                    return True
                g = self.parent.get(g) if inclusive else None
            return False

        return sum(len(j) for g, j in stats["jobs_by_group"].items() if under(g))

    def job_stats(self) -> dict:
        """Per layer and per op: job ids (status tracker), then stage and
        job metrics from the UI REST API."""
        st = self.sc.statusTracker()
        jobs_by_group = {g: list(st.getJobIdsForGroup(g)) for g in self.groups}
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        stages: dict[int, list[dict]] = defaultdict(list)
        for s in _get(f"{base}/stages"):
            stages[s["stageId"]].append(s)
        return {"jobs_by_group": jobs_by_group, "jobs": jobs, "stages": stages}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def exec_metrics(stats: dict, groups: list[str], wall_s: float, cores: int) -> dict:
    """exec.* over the jobs of ``groups`` (one operation or several)."""
    job_ids = sorted({j for g in groups for j in stats["jobs_by_group"].get(g, [])})
    intervals, stage_ids = [], set()
    for jid in job_ids:
        j = stats["jobs"].get(jid)
        if j is None:
            continue
        a, b = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if a is not None and b is not None:
            intervals.append((a, b))
        stage_ids.update(j.get("stageIds", []))
    out = defaultdict(float)
    for sid in stage_ids:
        for s in stats["stages"].get(sid, []):
            if s.get("status") == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            out["exec.failed_tasks"] += s.get("numFailedTasks", 0)
            out["exec.task_s"] += s.get("executorRunTime", 0) / 1000.0
            out["exec.shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            out["exec.shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            out["exec.spill_disk_bytes"] += s.get("diskBytesSpilled", 0)
    out["exec.jobs"] = len(job_ids)
    out["exec.s"] = interval_union(intervals)
    out["exec.busy_ratio"] = out["exec.task_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return dict(out)


def files_since(path: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of regular files under a local ``path`` modified at
    or after ``since_ns`` — what one parquet write left behind."""
    path = path[len("file:"):] if path.startswith("file:") else path
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime_ns >= since_ns:
                n_bytes += st.st_size
                n_files += 1
    return n_bytes, n_files


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points.  Must run before
    ``plans.product``, ``__spark_entry__``'s registries or anything else
    that binds these functions by name is imported."""
    import sys

    from pyspark.sql.readwriter import DataFrameWriter

    from atac_data_products_spark import spill
    from atac_data_products_spark.sinks import writers
    from atac_data_products_spark.sources import tables, tsv

    bound = [m for m in ("atac_data_products_spark.plans.product",
                         "atac_data_products_spark.registry") if m in sys.modules]
    if bound:
        raise RuntimeError(f"layers.install after import of {bound}: wrappers would be bypassed")

    tables.load_table = tracer.wrap("sources.load_table", tables.load_table)
    tsv.scan_tsv_manifest = tracer.wrap("sources.scan_tsv_manifest", tsv.scan_tsv_manifest)
    writers.write_product = tracer.wrap("sinks.write_product", writers.write_product)
    for name in ("lineage_checkpoint", "ckpt_eager", "ckpt_lazy"):
        setattr(spill, name, tracer.wrap("spill.ckpt", getattr(spill, name)))

    raw_spill_once = spill.spill_once

    @wraps(raw_spill_once)
    def spill_once(df, spark, path):
        before = spill.SPILL_WRITE_SECONDS.get(path, 0.0)
        with tracer.span("spill.spill_once"):
            out = raw_spill_once(df, spark, path)
        wrote = spill.SPILL_WRITE_SECONDS.get(path, 0.0) - before
        if tracer.stack:
            tracer.counters["spill.calls"] += 1
            if wrote > 0:
                tracer.counters["spill.writes"] += 1
                tracer.counters["spill.write_s"] += wrote
        return out

    spill.spill_once = spill_once

    raw_parquet = DataFrameWriter.parquet

    @wraps(raw_parquet)
    def parquet(self, path, *a, **kw):
        # materialisation writes belong to the spill layer, not sinks
        if not tracer.stack or tracer.layer() in ("spill.spill_once", "spill.ckpt"):
            return raw_parquet(self, path, *a, **kw)
        since = time.time_ns()
        with tracer.span("sinks.parquet_write"):
            raw_parquet(self, path, *a, **kw)
        with tracer.own():
            b, f = files_since(path, since)
            tracer.counters["sinks.bytes_written"] += b
            tracer.counters["sinks.files_written"] += f

    DataFrameWriter.parquet = parquet

    # plans.product binds the wrapped write_product / ckpt_eager on import
    from atac_data_products_spark.plans import product

    product.build_product = tracer.wrap("plans.build_product", product.build_product)
    product.finalize_and_write = tracer.wrap("plans.finalize_and_write",
                                             product.finalize_and_write)
    product.append_dataset_to_product = tracer.wrap("plans.append",
                                                    product.append_dataset_to_product)


def plan_shape(df) -> tuple[int, int]:
    """(scan nodes, exchange nodes) of a DataFrame's executed plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = text.splitlines()
    scans = sum(1 for ln in lines if "FileScan" in ln or "Scan parquet" in ln
                or "Scan csv" in ln or "Scan ExistingRDD" in ln or "LocalTableScan" in ln)
    exchanges = sum(1 for ln in lines if "Exchange" in ln and "ReusedExchange" not in ln)
    return scans, exchanges
