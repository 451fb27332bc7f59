"""Union / concatenation operators (SURVEY.md §2.5).

U1 `union_outer_concat`: the reference's core vertical union —
``anndata.concat(adatas, join="outer")`` (bin/concatenate.py:138-139) —
unions N per-dataset matrices while outer-aligning the feature axis.

Spark-first design: in the engine's canonical **long/COO** matrix form
(cell_id, feature_id, value), outer feature alignment is automatic —
absent (cell, feature) pairs are simply absent rows — so the union is a
plain `unionByName`: one shuffle-free Union node over D separate
FileScans, one per input.  Every plan that reads it re-runs all D scans
unless the union is cached (plans.product.finalize_and_write does).  In
wide form, `allowMissingColumns=True` supplies the missing-feature-as-null
semantics.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_outer(dfs: list[DataFrame]) -> DataFrame:
    """N-way union by column name, outer-aligning the schemas.

    `unionByName(allowMissingColumns=True)` fills columns a member lacks
    with nulls — the relational equivalent of anndata's ``join="outer"``.
    Catalyst collapses the reduce chain into a single flat Union node, so
    the left-leaning construction order carries no runtime cost.
    """
    if not dfs:
        raise ValueError("union_outer of zero frames")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
