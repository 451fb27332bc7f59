"""The three benchmark workloads.

Each is a closed loop with one client on one Spark session: ``setup``
once, then ``op(i)`` until the measuring window is over (and at least
``MIN_OPS`` times), then ``check`` outside the timed window.  An op
returns ``True`` when its output passed its check.

Engine entry points are always called through their module attribute
(``product.build_product``, not a bound name), so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import duckdb
import numpy as np

import gen
import twin

# Input shapes, sized so one run fits the benchmark's time budget on a
# 4-core host.  The D-way input is what makes the pipeline slow, and
# the time per build is per-dataset overhead, not data: on a 4-core host
# a warm build of 16 datasets takes 35 s at 10 cells per dataset and
# 37 s at 40.  So the build uses 12 datasets, where the build time still
# grows faster than the dataset count (warm: 8 -> 16 s, 12 -> 26 s,
# 16 -> 39 s) and a run is ~15 s shorter than at 16.
BUILD_SHAPE = gen.ProductShape(datasets=12, cells_per_dataset=40)
WARMUP_SHAPE = gen.ProductShape(datasets=1, cells_per_dataset=20, unmanifested=0)
APPEND_SHAPE = gen.ProductShape(datasets=5, cells_per_dataset=40, unmanifested=1)
MIX_SF = 0.002

# One or more keys of each class: scan-bound, spill-writing,
# construction-heavy with eager checkpoints, and the Arrow lane.  The
# list is trimmed to fit the run length.  vector_kmeans_lloyd is left
# out: its centroid_d0 rounds a double that can sit exactly on a
# half-unit, where Spark and DuckDB round differently (one seed in 40
# at this scale), which would fail the output check of a whole run.
MIX_KEYS = {
    "join_donor_metadata": "scan",
    "tpch_q6_forecast_revenue": "scan",
    "dedup_minhash_lsh": "spill",
    "graph_pagerank": "construct",
    "ml_score_batch": "arrow",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _timed_median(fn, repeats: int) -> tuple[float, float, object]:
    """Run ``fn`` ``repeats`` times; (median seconds, total seconds,
    last result)."""
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), sum(times), out


class Workload:
    MIN_OPS = 1
    SETUP_REPEATS = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx  # run.Context: spark, tmp, seed, tracer, traced
        self.spark = ctx.spark

    def read_matrices(self, files: dict[str, str]) -> dict:
        with self.ctx.tracer.span("sources.matrix_read"):
            return {m: self.spark.read.parquet(p) for m, p in files.items()}

    def inputs(self, shape: gen.ProductShape) -> tuple[dict, dict]:
        """Generate + verify the product inputs SETUP_REPEATS times into
        fresh directories (timed into gen_median_s / gen_total_s);
        (layout, expected facts)."""
        n = [0]

        def once():
            n[0] += 1
            root = os.path.join(self.ctx.tmp, f"inputs{n[0]}")
            layout = gen.product_inputs(root, self.ctx.seed, shape)
            expected = twin.expected_product(layout)
            if expected["cell_count"] <= 0 or expected["dataset_count"] != len(layout["manifested"]):
                raise RuntimeError(f"generated inputs are degenerate: {expected}")
            return layout, expected

        self.gen_median_s, self.gen_total_s, (layout, expected) = _timed_median(
            once, self.SETUP_REPEATS)
        for i in range(1, n[0]):
            shutil.rmtree(os.path.join(self.ctx.tmp, f"inputs{i}"))
        return layout, expected

    def build(self, layout: dict, out: str, product_uuid: str) -> dict:
        from atac_data_products_spark.plans import product
        from atac_data_products_spark.sources import tsv

        manifest = tsv.scan_tsv_manifest(self.spark, layout["manifest"])
        with self.ctx.tracer.span("sources.matrix_read"):
            mats = {
                m: [self.spark.read.parquet(p) for _, p in sorted(files.items())]
                for m, files in layout["files"].items()
            }
        result = product.build_product(manifest, mats, product_uuid=product_uuid)
        if self.ctx.traced:
            self.ctx.plan_shapes([result.obs] + [df for xv in result.modalities.values()
                                                 for df in xv])
        return product.finalize_and_write(result, manifest, out)

    def steady(self, op_times: list[float]) -> list[float]:
        """The op times that op_s is the median of."""
        return op_times

    def metrics(self) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit, n)."""
        return {}

    def detail(self) -> dict:
        """Extra per-run detail for the detail line."""
        return {}


class ProductBuild(Workload):
    """One op = manifest scan → per-dataset matrix reads → build_product
    → finalize_and_write into a fresh directory."""

    def setup(self) -> None:
        self.layout, self.expected = self.inputs(BUILD_SHAPE)
        self.input_bytes = gen.input_bytes(self.layout)
        self.product_uuid = f"bench-build-{self.ctx.seed}"
        self.results: list[tuple[str, dict]] = []
        self.sizes: list[int] = []
        # JIT/codegen warm-up on a separate one-dataset product
        warm = gen.product_inputs(os.path.join(self.ctx.tmp, "warm"), self.ctx.seed + 1,
                                  WARMUP_SHAPE)
        self.build(warm, os.path.join(self.ctx.tmp, "warm_product"), "warm")

    def op(self, i: int) -> bool:
        out = os.path.join(self.ctx.tmp, "products", f"build{i}")
        meta = self.build(self.layout, out, self.product_uuid)
        self.results.append((out, meta))
        return True

    def check(self) -> list[bool]:
        oks = []
        mods = sorted(self.layout["files"])
        for out, meta in self.results:
            facts = twin.product_facts(out, mods)
            ok = facts == self.expected and meta["cell_count"] == self.expected["cell_count"] \
                and meta["dataset_count"] == self.expected["dataset_count"]
            if not ok:
                self.ctx.log(f"product check failed: got {facts} meta "
                             f"{meta['cell_count']}/{meta['dataset_count']}, "
                             f"expected {self.expected}")
            self.sizes.append(_dir_bytes(out))
            shutil.rmtree(out)
            oks.append(ok)
        return oks

    def metrics(self) -> dict:
        t = self.ctx.op_times
        return {
            "build_s": (statistics.median(t), "s", len(t)),
            "product_bytes_ratio": (statistics.median(self.sizes) / self.input_bytes,
                                    "ratio", len(self.sizes)),
        }


class ProductAppend(Workload):
    """Setup builds one product; one op re-adds one dataset (seeded
    rotation) with append_dataset_to_product.  Re-adds are idempotent,
    so product.json must not change and the final tables must equal the
    fresh build's."""

    MIN_OPS = 4

    def setup(self) -> None:
        self.layout, self.expected = self.inputs(APPEND_SHAPE)
        self.pdir = os.path.join(self.ctx.tmp, "product")
        self.mods = sorted(self.layout["files"])
        meta = self.build(self.layout, self.pdir, f"bench-append-{self.ctx.seed}")
        facts = twin.product_facts(self.pdir, self.mods)
        if facts != self.expected or meta["cell_count"] != self.expected["cell_count"]:
            raise RuntimeError(f"initial product wrong: {facts} vs {self.expected}")
        with open(os.path.join(self.pdir, "product.json")) as f:
            self.product_json = json.load(f)
        self.fresh_hashes = twin.table_hashes(self.pdir, self.mods)
        rng = np.random.default_rng(self.ctx.seed)
        self.rotation = [str(d) for d in rng.permutation(self.layout["manifested"])]
        # warm-up: one re-add of the last dataset of the rotation
        self.op(len(self.rotation) - 1)
        if not self.after_op(-1):
            raise RuntimeError("warm-up re-add changed product.json")

    def op(self, i: int) -> bool:
        from atac_data_products_spark.plans import product
        from atac_data_products_spark.sources import tsv

        ds = self.rotation[i % len(self.rotation)]
        manifest = tsv.scan_tsv_manifest(self.spark, self.layout["manifest"])
        new = self.read_matrices({m: self.layout["files"][m][ds] for m in self.mods})
        product.append_dataset_to_product(self.spark, self.pdir, manifest, ds, new)
        return True

    def after_op(self, i: int) -> bool:
        with open(os.path.join(self.pdir, "product.json")) as f:
            ok = json.load(f) == self.product_json
        if not ok:
            self.ctx.log(f"product.json changed after re-add {i}")
        return ok

    def check(self) -> list[bool]:
        hashes = twin.table_hashes(self.pdir, self.mods)
        if hashes != self.fresh_hashes:
            self.ctx.log(f"appended product differs from the fresh build: {hashes} vs "
                         f"{self.fresh_hashes}")
            return [False] * len(self.ctx.op_times)
        return [True] * len(self.ctx.op_times)

    def metrics(self) -> dict:
        t = self.ctx.op_times
        return {"append_s": (statistics.median(t), "s", len(t))}


class RegistryMix(Workload):
    """One op = one full pass over MIX_KEYS in a seeded order; each key
    is built with ``queries()[key](spark, sf_dir)`` and executed to the
    ``noop`` sink.  The first pass pays spill writes and lazy set-up.
    The output check runs right after it, untimed, so that it also
    warms the JIT for the steady passes that follow."""

    MIN_OPS = 3  # the first pass plus two steady ones

    def setup(self) -> None:
        import __spark_entry__ as entry

        n = [0]

        def once():
            n[0] += 1
            d = os.path.join(self.ctx.tmp, f"sf{n[0]}")
            counts = gen.star_schema(d, self.ctx.seed, MIX_SF)
            con = duckdb.connect()
            try:
                for t, rows in counts.items():
                    got = con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
                    if got != rows:
                        raise RuntimeError(f"{t}: wrote {rows} rows, read {got}")
            finally:
                con.close()
            return d

        self.gen_median_s, self.gen_total_s, self.sf_dir = _timed_median(
            once, self.SETUP_REPEATS)
        for i in range(1, n[0]):
            shutil.rmtree(os.path.join(self.ctx.tmp, f"sf{i}"))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [k for k in MIX_KEYS if k not in self.queries or k not in self.oracles]
        if missing:
            raise RuntimeError(f"registry keys without query or oracle: {missing}")
        self.key_times: dict[str, list[float]] = {k: [] for k in MIX_KEYS}
        self.raised: set[str] = set()
        self.bad: set[str] = set()
        self.check_s = 0.0
        # start the executor side once; no key runs before the first pass
        self.spark.range(1000).selectExpr("sum(id)").collect()

    def op(self, i: int) -> bool:
        order = list(MIX_KEYS)
        np.random.default_rng([self.ctx.seed, i]).shuffle(order)
        tr = self.ctx.tracer
        ok = True
        for key in order:
            t0 = time.perf_counter()
            try:
                with tr.span("registry.construct"):
                    df = self.queries[key](self.spark, self.sf_dir)
                if self.ctx.traced:
                    self.ctx.plan_shapes([df])
                with tr.span("exec.noop_write"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted in failed_frac
                self.ctx.log(f"{key} raised: {type(e).__name__}: {e}")
                self.raised.add(key)
                ok = False
                continue
            if i > 0:
                self.key_times[key].append(time.perf_counter() - t0)
        return ok

    def after_op(self, i: int) -> bool:
        if i == 0:
            t0 = time.perf_counter()
            self.bad = self.compare_with_oracles()
            self.check_s = time.perf_counter() - t0
        return True

    def compare_with_oracles(self) -> set[str]:
        """Keys whose result differs from their ``oracle_sql()`` twin."""
        cc = self.ctx.check_correctness()
        con = cc.duck_connect(self.sf_dir)
        bad = set()
        try:
            for key in MIX_KEYS:
                try:
                    verdict = cc.compare(
                        key,
                        self.queries[key](self.spark, self.sf_dir).toPandas(),
                        con.execute(self.oracles[key]).df(),
                    )
                except Exception as e:
                    verdict = f"{type(e).__name__}: {e}"
                if verdict != "OK":
                    self.ctx.log(f"{key}: {verdict.splitlines()[0]}")
                    bad.add(key)
        finally:
            con.close()
        return bad

    def check(self) -> list[bool]:
        # every pass ran every key: a bad key fails every pass
        return [not (self.bad | self.raised)] * len(self.ctx.op_times)

    def steady(self, op_times: list[float]) -> list[float]:
        return op_times[1:]  # the first pass is cold by design

    def _per_key(self) -> list[float]:
        return [x for v in self.key_times.values() for x in v]

    def detail(self) -> dict:
        out = {"key_times_s": self.key_times, "key_class": MIX_KEYS, "sf": MIX_SF,
               "check_s": self.check_s}
        if len(self._per_key()) < 100:
            out["dropped"] = {"query_s_p90": "fewer than 100 per-key samples in one run"}
        return out

    def metrics(self) -> dict:
        t = self.ctx.op_times
        per_key = self._per_key()
        out = {
            "mix_first_pass_s": (t[0], "s", 1),
            "mix_pass_s": (statistics.median(t[1:]), "s", len(t) - 1),
            "query_s_p50": (statistics.median(per_key), "s", len(per_key)),
        }
        if len(per_key) >= 100:
            out["query_s_p90"] = (statistics.quantiles(per_key, n=10)[-1], "s", len(per_key))
        return out


WORKLOADS = {
    "product_build": ProductBuild,
    "product_append": ProductAppend,
    "registry_mix": RegistryMix,
}
