"""DuckDB twin of the product semantics, and the product-side readers it
is compared with.

The twin re-derives, from the generated input files alone, what a
product built by ``plans.product.build_product`` + ``finalize_and_write``
must contain:

- cells: barcode prefix stripped, ``cell_id = dataset-barcode``, kept
  only if present in every modality (intersect-obs) and if the dataset
  is in the manifest (inner donor join);
- x rows per modality: the input rows of surviving cells;
- obs: one row per surviving cell with the donor fields, ``age`` cast
  to double.

``obs_hash`` is order-free: a sum of per-row hashes over a canonical
string form, computed by the same SQL on both sides.
"""

from __future__ import annotations

import os

import duckdb

OBS_COLUMNS = [
    "cell_id", "dataset", "barcode", "tissue", "hubmap_id", "age", "sex",
    "height", "weight", "bmi", "cause_of_death", "race",
]


def _row_hash_sql(rel: str) -> str:
    parts = ", ".join(f"coalesce(cast({c} AS VARCHAR), '<null>')" for c in OBS_COLUMNS)
    return f"SELECT cast(sum(hash(concat_ws('|', {parts}))) AS VARCHAR) FROM {rel}"


def expected_product(layout: dict) -> dict:
    """Product facts derived from the generated inputs by DuckDB:
    cell_count, dataset_count, x_rows per modality, obs_hash."""
    con = duckdb.connect()
    try:
        mods = sorted(layout["files"])
        for mod in mods:
            paths = [p for _, p in sorted(layout["files"][mod].items())]
            con.execute(
                f"CREATE VIEW in_{mod} AS SELECT dataset, "
                f"replace(barcode, 'BAM_data#', '') AS barcode, feature_id, value "
                f"FROM read_parquet({paths!r})"
            )
        con.execute(
            "CREATE VIEW manifest AS SELECT * FROM read_csv("
            f"'{layout['manifest']}', delim='\t', header=true, all_varchar=true)"
        )
        cells = " INTERSECT ".join(
            f"SELECT DISTINCT dataset, barcode FROM in_{m}" for m in mods
        )
        con.execute(
            "CREATE VIEW obs AS SELECT c.dataset || '-' || c.barcode AS cell_id, "
            "c.dataset, c.barcode, cast(NULL AS VARCHAR) AS tissue, m.hubmap_id, "
            "cast(m.age AS DOUBLE) AS age, m.sex, m.height, m.weight, m.bmi, "
            f"m.cause_of_death, m.race FROM ({cells}) c "
            "JOIN manifest m ON c.dataset = m.uuid"
        )
        n_cells, n_ds = con.execute(
            "SELECT count(*), count(DISTINCT dataset) FROM obs"
        ).fetchone()
        x_rows = {
            m: con.execute(
                f"SELECT count(*) FROM in_{m} x JOIN obs o "
                "ON x.dataset = o.dataset AND x.barcode = o.barcode"
            ).fetchone()[0]
            for m in mods
        }
        obs_hash = con.execute(_row_hash_sql("obs")).fetchone()[0]
    finally:
        con.close()
    return {"cell_count": n_cells, "dataset_count": n_ds, "x_rows": x_rows,
            "obs_hash": obs_hash}


def product_facts(product_dir: str, modalities: list[str]) -> dict:
    """The same facts read back from a written product directory."""
    con = duckdb.connect()
    try:
        obs = f"read_parquet('{os.path.join(product_dir, 'obs', '*.parquet')}')"
        n_cells, n_ds = con.execute(
            f"SELECT count(*), count(DISTINCT dataset) FROM {obs}"
        ).fetchone()
        x_rows = {
            m: con.execute(
                "SELECT count(*) FROM read_parquet("
                f"'{os.path.join(product_dir, 'x_' + m)}/*/*.parquet')"
            ).fetchone()[0]
            for m in modalities
        }
        obs_hash = con.execute(_row_hash_sql(obs)).fetchone()[0]
    finally:
        con.close()
    return {"cell_count": n_cells, "dataset_count": n_ds, "x_rows": x_rows,
            "obs_hash": obs_hash}


def table_hashes(product_dir: str, modalities: list[str]) -> dict[str, str]:
    """Order-free content hash of every product table (x, var, obs), for
    comparing an incrementally maintained product with a fresh build.
    Partition columns are restored from the directory names."""
    con = duckdb.connect()
    try:
        out = {}
        tables = ["obs"] + [f"{k}_{m}" for m in modalities for k in ("x", "var")]
        for t in tables:
            path = os.path.join(product_dir, t)
            src = (f"read_parquet('{path}/*.parquet')" if t == "obs" else
                   f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)")
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            parts = ", ".join(
                f"coalesce(cast({_ident(c)} AS VARCHAR), '<null>')"
                for c in sorted(cols)
            )
            out[t] = con.execute(
                f"SELECT count(*) || ':' || cast(sum(hash(concat_ws('|', {parts}))) "
                f"AS VARCHAR) FROM {src}"
            ).fetchone()[0]
    finally:
        con.close()
    return out


def _ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'
