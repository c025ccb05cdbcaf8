"""Gate packing: fold several oracle-checked queries into ONE driver
correctness entry without losing any verified values.

Why: the driver's correctness gate evaluates at most 50 ``queries()``
entries (round 1 recorded exactly the first 50 of 76 in registration
order). Packing melts each constituent query to a common
``(q string, k string, v double)`` schema and unions them, with a
mechanically-generated DuckDB twin, so one gate slot verifies every
row and every column of every constituent:

- ``q``  — the constituent query's tag.
- ``k``  — all non-floating columns (string-cast, NULL-tokenized),
  joined with '|', plus the metric (value-column) name. Exact-valued
  types (strings, ints, BIGINT fingerprints/simhashes — which must
  NOT round-trip through double) ride in the key.
- ``v``  — one floating column per output row, cast to double on both
  engines (identical bits: both casts are correctly-rounded from the
  same exact value).

Row linkage is preserved: (q, k) pins each v to its source row and
metric, so the multiset compare is exactly as strong as comparing the
constituent outputs individually.

The constituents stay registered per-module in ``QUERIES`` and are
still verified individually (and with friendlier diffs) by
``tests/test_oracle_parity.py``; bench.py also keeps timing them
individually via ``workloads.all_unpacked_queries()``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

NULL_TOKEN = "<null>"
_FLOATY_PREFIXES = ("double", "float", "decimal")


def _is_float(dtype: str) -> bool:
    return dtype.startswith(_FLOATY_PREFIXES)


def _split(cols):
    key_cols = [c for c, t in cols if not _is_float(t)]
    val_cols = [c for c, t in cols if _is_float(t)]
    return key_cols, val_cols


def melt_df(df: DataFrame, tag: str, cols) -> DataFrame:
    """Normalize one query output to (q, k, v). ``cols`` is the
    declared ordered [(name, dtype)]; asserted against the actual
    DataFrame so spec drift fails loudly, not with a hash mismatch."""
    declared = [c for c, _t in cols]
    assert declared == list(df.columns), (
        f"pack spec drift for {tag}: declared {declared}, "
        f"actual {list(df.columns)}"
    )
    key_cols, val_cols = _split(cols)
    keyparts = [
        F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN))
        for c in key_cols
    ]
    if not val_cols:
        return df.select(
            F.lit(tag).alias("q"),
            F.concat_ws("|", *keyparts, F.lit("row")).alias("k"),
            F.lit(1.0).alias("v"),
        )
    pairs = F.array(*[
        F.struct(F.lit(vc).alias("m"), F.col(vc).cast("double").alias("x"))
        for vc in val_cols
    ])
    ex = df.select(
        *[kp.alias(f"_k{i}") for i, kp in enumerate(keyparts)],
        F.explode(pairs).alias("p"),
    )
    return ex.select(
        F.lit(tag).alias("q"),
        F.concat_ws(
            "|",
            *[F.col(f"_k{i}") for i in range(len(keyparts))],
            F.col("p.m"),
        ).alias("k"),
        F.col("p.x").alias("v"),
    )


def melt_sql(tag: str, base: str, cols) -> str:
    """DuckDB twin of melt_df over CTE ``base``."""
    key_cols, val_cols = _split(cols)
    key_exprs = [
        f"coalesce(CAST({c} AS VARCHAR), '{NULL_TOKEN}')" for c in key_cols
    ]
    if not val_cols:
        kparts = ", ".join(key_exprs + ["'row'"])
        return (
            f"SELECT '{tag}' AS q, concat_ws('|', {kparts}) AS k, "
            f"CAST(1.0 AS DOUBLE) AS v FROM {base}"
        )
    selects = []
    for vc in val_cols:
        kparts = ", ".join(key_exprs + [f"'{vc}'"])
        selects.append(
            f"SELECT '{tag}' AS q, concat_ws('|', {kparts}) AS k, "
            f"CAST({vc} AS DOUBLE) AS v FROM {base}"
        )
    return "\nUNION ALL\n".join(selects)


def pack(specs):
    """specs: list of (tag, fn, sql, cols). Returns (packed_fn,
    packed_sql) — one gate entry verifying every constituent.

    The packed Spark plan unions the melted constituents; each melt is
    a narrow projection (+ one explode when there are several metric
    columns), so Catalyst still pushes the constituents' own filters
    and prunes their scans exactly as when run standalone."""
    specs = list(specs)
    assert specs and all(s[2] is not None for s in specs), (
        "pack requires every constituent to have an oracle"
    )

    def packed_fn(spark, sf_dir):
        parts = [
            melt_df(fn(spark, sf_dir), tag, cols)
            for tag, fn, _sql, cols in specs
        ]
        return reduce(DataFrame.unionAll, parts)

    # MATERIALIZED: melt_sql reads each base once per value column,
    # and DuckDB re-evaluates an inlined CTE at every reference
    ctes = ",\n".join(f"{tag}_base AS MATERIALIZED (\n{sql}\n)"
                       for tag, _f, sql, _c in specs)
    body = "\nUNION ALL\n".join(
        melt_sql(tag, f"{tag}_base", cols) for tag, _f, _sql, cols in specs
    )
    packed_sql = f"WITH {ctes}\n{body}"
    return packed_fn, packed_sql
