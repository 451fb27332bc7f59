"""Tests of the benchmark itself: generator determinism, the DuckDB twin
against the engine's product build, metric naming and the self-time
arithmetic of the layer tracer.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import twin  # noqa: E402

TINY = gen.ProductShape(datasets=4, cells_per_dataset=12, nnz_bin=6, nnz_gene=4,
                        unmanifested=1, bins=300, genes=80)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_product_inputs_deterministic_per_seed(tmp_path):
    a = gen.product_inputs(str(tmp_path / "a"), 5, TINY)
    b = gen.product_inputs(str(tmp_path / "b"), 5, TINY)
    c = gen.product_inputs(str(tmp_path / "c"), 6, TINY)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a["datasets"] == b["datasets"] and a["datasets"] != c["datasets"]
    assert len(a["manifested"]) == TINY.datasets - TINY.unmanifested


def test_product_inputs_shape(tmp_path):
    layout = gen.product_inputs(str(tmp_path), 3, TINY)
    with open(layout["manifest"]) as f:
        header = f.readline().rstrip("\n").split("\t")
    assert header == ["Unnamed: 0"] + gen.MANIFEST_COLUMNS
    exp = twin.expected_product(layout)
    assert exp["dataset_count"] == len(layout["manifested"])
    # some cells are single-modality, so fewer survive than were generated
    assert 0 < exp["cell_count"] < len(layout["manifested"]) * TINY.cells_per_dataset
    assert exp["x_rows"]["cell_by_bin"] == exp["cell_count"] * TINY.nnz_bin


def test_star_schema_deterministic_per_seed(tmp_path):
    a = gen.star_schema(str(tmp_path / "a"), 9, sf=0.0005)
    b = gen.star_schema(str(tmp_path / "b"), 9, sf=0.0005)
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    gen.star_schema(str(tmp_path / "c"), 10, sf=0.0005)
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from atac_data_products_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    yield s


def test_twin_matches_build_product(spark, tmp_path):
    from atac_data_products_spark.plans.product import build_product, finalize_and_write
    from atac_data_products_spark.sources.tsv import scan_tsv_manifest

    layout = gen.product_inputs(str(tmp_path / "in"), 1, TINY)
    manifest = scan_tsv_manifest(spark, layout["manifest"])
    mats = {m: [spark.read.parquet(p) for p in files.values()]
            for m, files in layout["files"].items()}
    out = str(tmp_path / "product")
    meta = finalize_and_write(build_product(manifest, mats), manifest, out)
    expected = twin.expected_product(layout)
    assert twin.product_facts(out, sorted(layout["files"])) == expected
    assert meta["cell_count"] == expected["cell_count"]
    assert meta["dataset_count"] == expected["dataset_count"]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    names = list(e2e) + list(per_layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    assert set(run.WORKLOAD_NAMES) == set(__import__("workloads").WORKLOADS)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_self_times_sum_to_operation_wall():
    tr = layers.Tracer()
    with tr.operation("op0"):
        time.sleep(0.01)
        with tr.span("plans.build_product"):
            time.sleep(0.02)
            with tr.span("sinks.write_product"):
                time.sleep(0.03)
                with tr.own():
                    time.sleep(0.005)
        with tr.span("catalyst.plan"):
            time.sleep(0.01)
    op = tr.ops[0]
    self_s = tr.op_self["op0"]
    assert sum(self_s.values()) == pytest.approx(op["wall_s"], abs=1e-9)
    assert self_s["plans.build_product"] == pytest.approx(0.02, abs=0.01)
    assert self_s["sinks.write_product"] == pytest.approx(0.03, abs=0.01)
    # the root's self time plus own() bookkeeping is the benchmark's
    assert self_s[layers.BENCH] == pytest.approx(0.015, abs=0.01)
    assert tr.parent[next(g for g, l in tr.groups.items() if l == "sinks.write_product")] \
        == next(g for g, l in tr.groups.items() if l == "plans.build_product")


def test_wrapper_reentry_is_one_span():
    tr = layers.Tracer()

    def inner():
        return 1

    wrapped_inner = tr.wrap("spill.ckpt", inner)

    def outer():
        return wrapped_inner() + 1

    wrapped_outer = tr.wrap("spill.ckpt", outer)
    with tr.operation("op0"):
        assert wrapped_outer() == 2
    assert tr.calls["spill.ckpt"] == 1
    wrapped_outer()  # outside an operation: not traced
    assert tr.calls["spill.ckpt"] == 1


def test_interval_union():
    assert layers.interval_union([]) == 0
    assert layers.interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert layers.interval_union([(0, 5), (1, 2)]) == pytest.approx(5.0)
