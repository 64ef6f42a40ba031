"""Star-schema builders: dimension build with SCD1 key management, fact build.

Generalization of the reference's four ``gold_dim_*.ipynb`` notebooks (all
isomorphic — SURVEY.md 3.2) and ``gold_fact_sales.ipynb`` (3.3), with the
``monotonically_increasing_id`` trap replaced by deterministic ``row_number``
keys (SURVEY.md 2.6 op 25).

Dimension build stages (ref gold_dim_branch.ipynb cells 7-31):

1. source   = SELECT DISTINCT business-key+attrs FROM silver     (cell 8)
2. sink     = existing dim, or empty-with-schema stub            (cell 11)
3. change detection = src LEFT JOIN sink ON business key         (cell 14)
   old rows: surrogate key IS NOT NULL                           (cell 17)
   new rows: surrogate key IS NULL                               (cell 20)
4. key assignment: high-water mark + row_number                  (cells 24-27)
5. union new + old                                               (cell 31)

The result feeds :func:`...plans.scd.merge_scd1_df` keyed on the surrogate
key, exactly like the reference's merge (cell 35).

:func:`resolve_dim_batch` runs the same stages on the driver, for a batch
small enough to hold there: with Spark each stage is a job (the distinct,
the sink join and the two-phase rank are shuffles), which for a 200-row
batch costs far more than the rows do.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import relational as R


def build_dim(
    source: DataFrame,
    business_keys: Sequence[str],
    attrs: Sequence[str],
    key_col: str,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Build the next state of a dimension from a silver-layer source.

    Returns ``key_col, *business_keys, *attrs`` with existing rows keeping
    their surrogate keys (SCD1: attributes updated in place) and new
    business keys receiving dense keys starting at high-water-mark + 1.
    """
    cols = [*business_keys, *attrs]
    src = R.distinct_projection(source, cols)

    if existing is None:
        return R.with_surrogate_key(src, list(business_keys), key_col, start_at=1).select(
            key_col, *cols
        )

    # The existing dim scales with its source (a customer-shaped dim is
    # fact-sized at 100 TB) — no broadcast hint; AQE picks broadcast only
    # when the sink side is genuinely small at runtime.
    sink = existing.select(key_col, *business_keys)
    joined = src.alias("src").join(
        sink.alias("snk"),
        [F.col(f"src.{k}") == F.col(f"snk.{k}") for k in business_keys],
        "left",
    )
    joined = joined.select(
        F.col(f"snk.{key_col}").alias(key_col),
        *[F.col(f"src.{c}").alias(c) for c in cols],
    )

    old = R.filter_is_not_null(joined, key_col)
    new = R.filter_is_null(joined, key_col).drop(key_col)
    hwm = R.high_water_mark(existing, key_col)
    new_keyed = R.with_surrogate_key(new, list(business_keys), key_col, start_at=hwm + 1)
    return R.union_all(old.select(key_col, *cols), new_keyed.select(key_col, *cols))


_NAN = object()


def join_key(values: Sequence) -> tuple:
    """``values`` as Spark compares grouping and join keys: NaN equals NaN
    and -0.0 equals 0.0 (Python's float equality has neither)."""
    return tuple(
        _NAN if v != v else v + 0.0 if isinstance(v, float) else v for v in values
    )


def _order_key(values: Sequence) -> tuple:
    """Spark's ascending order of a business-key tuple: NULLs first, NaN
    above every other float."""
    return tuple((0, 0) if v is None else (2, 0) if v != v else (1, v) for v in values)


def resolve_dim_batch(
    rows: Sequence[tuple],
    n_keys: int,
    existing: Iterable[tuple[int, tuple]],
    hwm: int,
) -> list[tuple[int, int]]:
    """:func:`build_dim` on the driver, for a batch held there.

    ``rows`` are the batch's ``(*business_keys, *attrs)`` tuples (the first
    ``n_keys`` values are the business key); ``existing`` pairs each
    existing dim row whose business key occurs in the batch with that key,
    as ``(surrogate key, business-key tuple)``; ``hwm`` is the existing
    dim's highest surrogate key. Returns the next dim state as ``(row
    index, surrogate key)`` pairs — one per distinct row and existing dim
    row it matches, then one per distinct unmatched row, keyed ``hwm+1..``
    in business-key order: the rows and keys :func:`build_dim` gives, with
    the same NULL semantics (a NULL business key never matches, so it is
    new), and without a Spark job."""
    keys_of: dict[tuple, list[int]] = {}
    for key, bk in existing:
        keys_of.setdefault(join_key(bk), []).append(key)
    first: dict[tuple, int] = {}
    for i, row in enumerate(rows):
        first.setdefault(join_key(row), i)
    out: list[tuple[int, int]] = []
    new: list[int] = []
    for i in first.values():
        bk = rows[i][:n_keys]
        keys = () if None in bk else keys_of.get(join_key(bk), ())
        out.extend((i, k) for k in keys)
        if not keys:
            new.append(i)
    new.sort(key=lambda i: _order_key(rows[i][:n_keys]))
    out.extend((i, hwm + n) for n, i in enumerate(new, 1))
    return out


def build_fact(
    source: DataFrame,
    dims: Sequence[tuple[DataFrame, Column | Sequence[str], str]],
    measures: Sequence[str | Column],
    broadcast_dims: bool = False,
) -> DataFrame:
    """Fact build: chained left joins to dims on business keys, projecting
    measures + surrogate keys (ref gold_fact_sales.ipynb:55996-56000 cell 8).

    ``dims`` entries are ``(dim_df, join_condition, surrogate_key_col)``.
    Unhinted by default — the same reasoning as :func:`build_dim`'s sink
    join: a config-driven dim can be anything from a 5-row calendar to a
    customer-scaled entity, and a forced broadcast of the latter OOMs the
    driver at 100 TB. AQE broadcasts the genuinely small dims at runtime;
    pass ``broadcast_dims=True`` only for dims known bounded a priori
    (the fact side then never shuffles even with absent statistics)."""
    key_cols = [k for _, _, k in dims]
    return R.star_join(
        source,
        [(d, cond) for d, cond, _ in dims],
        [*measures, *key_cols],
        broadcast_dims=broadcast_dims,
    )
