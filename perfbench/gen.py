"""Seeded input generators for the benchmark.

Two families, both pure functions of their arguments (same seed, same
bytes):

- ``product_inputs``: HuBMAP-shaped product-build inputs.  A reference-
  layout manifest TSV (with the ``Unnamed: 0`` index artifact and the
  donor fields) plus, per dataset, one long/COO parquet file per
  modality: ``cell_by_bin`` (wide, sparse: many bins, few hits per cell)
  and ``cell_by_gene``.  Barcodes carry the ``BAM_data#`` prefix, a
  share of cells appears in only one modality, and some generated
  datasets are left out of the manifest.
- ``star_schema``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` tables the registry keys read, with
  the same column names, parquet types and value domains as the
  engine's reference test data, at a chosen scale.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BARCODE_PREFIX = "BAM_data#"
MODALITIES = ("cell_by_bin", "cell_by_gene")
MANIFEST_COLUMNS = [
    "uuid", "hubmap_id", "age", "sex", "height", "weight", "bmi",
    "cause_of_death", "race",
]


@dataclass(frozen=True)
class ProductShape:
    """The traffic dimensions of one generated product input set."""

    datasets: int = 16
    cells_per_dataset: int = 60
    nnz_bin: int = 24
    nnz_gene: int = 12
    single_modality_share: float = 0.15
    unmanifested: int = 2
    bins: int = 20_000
    genes: int = 2_000


def _uuid(rng: np.random.Generator) -> str:
    return "".join(rng.choice(list("0123456789abcdef"), 32))


def _hubmap_id(rng: np.random.Generator) -> str:
    letters = "".join(rng.choice(list("BCDFGHJKLMNPQRSTVWXZ"), 4))
    return f"HBM{rng.integers(100, 1000)}.{letters}.{rng.integers(100, 1000)}"


def _coo_table(dataset: str, barcodes: list[str], features: np.ndarray,
               nnz: int, rng: np.random.Generator) -> pa.Table:
    n = len(barcodes)
    # distinct features per cell: a sorted sample without replacement
    idx = np.sort(
        np.stack([rng.choice(len(features), nnz, replace=False) for _ in range(n)]),
        axis=1,
    )
    values = rng.integers(1, 5, size=(n, nnz)).astype("float64")
    return pa.table({
        "dataset": pa.array([dataset] * (n * nnz), pa.string()),
        "barcode": pa.array(np.repeat(barcodes, nnz).tolist(), pa.string()),
        "feature_id": pa.array(features[idx.ravel()].tolist(), pa.string()),
        "value": pa.array(values.ravel(), pa.float64()),
    })


def product_inputs(root: str, seed: int, shape: ProductShape = ProductShape()) -> dict:
    """Write one product input set under ``root`` and return its layout:
    ``{"manifest": path, "datasets": [uuid...], "manifested": [uuid...],
    "files": {modality: {uuid: path}}, "shape": {...}}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    bins = np.array(
        [f"chr{1 + i % 22}:{(i // 22) * 5000}-{(i // 22) * 5000 + 4999}"
         for i in range(shape.bins)]
    )
    genes = np.array([f"ENSG{100000 + i:011d}" for i in range(shape.genes)])
    feats = {"cell_by_bin": (bins, shape.nnz_bin),
             "cell_by_gene": (genes, shape.nnz_gene)}

    datasets = [_uuid(rng) for _ in range(shape.datasets)]
    files: dict[str, dict[str, str]] = {m: {} for m in MODALITIES}
    for ds in datasets:
        n = shape.cells_per_dataset
        barcodes = np.array([
            BARCODE_PREFIX + "".join(rng.choice(list("ACGT"), 16))
            for _ in range(n)
        ])
        # single-modality cells: alternate which modality keeps them
        single = rng.random(n) < shape.single_modality_share
        side = rng.integers(0, 2, n)
        for m_i, mod in enumerate(MODALITIES):
            keep = ~single | (side == m_i)
            features, nnz = feats[mod]
            table = _coo_table(ds, barcodes[keep].tolist(), features, nnz, rng)
            path = os.path.join(root, mod, f"{ds}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table, path)
            files[mod][ds] = path

    left_out = set(rng.choice(datasets, shape.unmanifested, replace=False).tolist())
    manifested = [d for d in datasets if d not in left_out]
    rows = []
    for i, ds in enumerate(manifested):
        height = rng.uniform(150, 195)
        weight = rng.uniform(50, 110)
        rows.append([
            str(i), ds, _hubmap_id(rng), str(int(rng.integers(18, 80))),
            str(rng.choice(["Male", "Female"])), f"{height:.1f}", f"{weight:.1f}",
            f"{weight / (height / 100) ** 2:.1f}",
            str(rng.choice(["Natural causes", "Accident", "Cerebrovascular event"])),
            str(rng.choice(["White", "Black or African American", "Asian"])),
        ])
    manifest = os.path.join(root, "manifest.tsv")
    with open(manifest, "w") as f:
        f.write("\t".join(["Unnamed: 0"] + MANIFEST_COLUMNS) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    return {
        "manifest": manifest,
        "datasets": datasets,
        "manifested": manifested,
        "files": files,
        "shape": asdict(shape),
    }


def input_bytes(layout: dict) -> int:
    """Bytes of the generated input matrices (the manifest excluded)."""
    return sum(
        os.path.getsize(p) for mod in layout["files"].values() for p in mod.values()
    )


# -- star schema --------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["large", "red", "hot", "cold", "old", "new", "small", "blue"]
_PART_NOUN = ["anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "nut"]
_US_PER_DAY = 86_400_000_000


def _days_to_ts(days: np.ndarray, base: str) -> pa.Array:
    us = (np.datetime64(base, "us").astype("int64") + days.astype("int64") * _US_PER_DAY)
    return pa.array(us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the ten registry tables for scale ``sf`` under ``out_dir``;
    returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(2_000 * (sf / 0.1) ** 0.6))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "P", "O"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days_to_ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ord)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    flag_status = rng.integers(0, 6, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[flag_status // 2].tolist(),
        "l_linestatus": np.array(["O", "F"])[flag_status % 2].tolist(),
        "l_shipdate": _days_to_ts(rng.integers(0, 2498, n_li), "1995-01-02"),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype("int64") + ev_us,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev
        ).tolist(),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, tagged like the
            # reference data's dup rows
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "fr", "zh", "de", "es"], n_doc,
                           p=[0.44, 0.13, 0.15, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
