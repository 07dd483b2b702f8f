"""Surrogate-key generation for dimension tables.

The reference relies on SQL Server IDENTITY columns and re-reads the
dims to map keys back onto facts (reference etl.py:311-326) — a
round-trip that cannot distribute.  Two Spark-native strategies:

- ``hash``   — xxhash64 of the natural key.  Shuffle-free, stable under
               re-runs and appends, works at any scale; collision odds
               over 64 bits are negligible for dimension cardinalities.
- ``rownum`` — dense 1..N ids via a DISTRIBUTED dense rank ordered by
               the natural key.  Matches the reference's IDENTITY
               semantics and is replicable in ANSI SQL (the DuckDB
               oracle computes the same values with a plain
               row_number).

The rownum path deliberately avoids THREE known traps:

* no `Window.partitionBy()` global window — that plans an Exchange
  SinglePartition and funnels the whole frame through one task
  (tests/test_driver_contract.py sweeps every queries() plan for it);
* no `repartitionByRange` — SQL range exchanges sample boundaries with
  an rdd-id-derived seed at EXECUTION time, so two consumers of the
  same ranged frame can see DIFFERENT boundaries and silently desync;
* no lazy two-branch self-reference — a global rank inherently needs
  per-bucket counts fed back to every row, and expressing that as two
  lazy branches either re-executes the whole upstream pipeline or
  (with persist) triples the printed plan, because column pruning
  makes the branch exchanges non-identical and ReuseExchange never
  fires.

Design: buckets are a pure deterministic ORDER-PRESERVING function of
the key (linear interpolation between the key min/max); the min/max
and the per-bucket counts are collected eagerly at plan-build time —
at most nparts+1 rows, cluster-width bounded, never data-sized (the
same "a model, not data" footprint as the IVF coarse quantizer in
plans/corpus.py).  The final plan is then single-pass: one per-bucket
window plus a literal bucket→offset map.  Build-time cost: one 1-row
min/max job over the (cheap, column-pruned) bounds source and one
column-pruned counts pass over the frame.  Near-uniform keys
(sequential source ids — the dim case) give balanced buckets;
pathologically skewed key ranges degrade toward fewer effective
buckets but stay correct — use ``hash`` there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.session import build_stat

_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)


def add_surrogate_key(
    df: DataFrame,
    natural_cols: list[str],
    key_col: str,
    strategy: str = "rownum",
    bounds: DataFrame | None = None,
    bounds_col: str | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """``bounds``/``bounds_col``: optional CHEAP covering source for
    the bucket min/max — e.g. the raw parquet table's id column before
    the dim's cleaning joins.  Bounds only need to COVER the keys
    (dims filter rows, never mint ids), not match them exactly:
    out-of-range keys are clamped into the edge buckets.

    ``cache_key``: opt-in memoization of the plan-build stats (min/max
    + per-bucket offsets) through ``session.build_stat``, whose
    contract it inherits: a string starting with the input's sf_dir
    (e.g. f"{sf_dir}:dim_customer" over read-only testdata), never
    passed for a frame whose contents can change between builds.  The
    memo key adds the shuffle-partition count, because bucketing
    depends on it."""
    if strategy == "hash":
        return df.withColumn(key_col, F.xxhash64(*natural_cols))
    if strategy == "rownum":
        lead = natural_cols[0]
        lead_type = dict(df.dtypes)[lead]
        if not lead_type.startswith(_NUMERIC_PREFIXES):
            raise ValueError(
                f"rownum surrogate keys need a numeric leading natural "
                f"column to bucket on ({lead} is {lead_type}); use "
                f"strategy='hash' for non-numeric keys"
            )
        nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

        def with_bucket(mn: float, mx: float) -> DataFrame:
            span = mx - mn + 1.0  # >= 1, ANSI-safe
            k = F.col(lead).cast("double")
            # weakly monotone in the key (bigint->double cast preserves
            # <=), which is all bucket ordering needs; NULL keys ->
            # bucket -1 (they sort NULLS FIRST inside the window too)
            return df.withColumn(
                "_sk_bkt",
                F.when(F.col(lead).isNull(), F.lit(-1)).otherwise(
                    F.greatest(
                        F.least(
                            F.floor((k - F.lit(mn)) / F.lit(span) * nparts),
                            F.lit(nparts - 1).cast("bigint"),
                        ),
                        F.lit(0).cast("bigint"),
                    )
                ),
            )

        def stats():
            src = bounds if bounds is not None else df
            scol = bounds_col if bounds_col is not None else lead
            # eager 1-row stats over the cheap bounds source (column-
            # pruned parquet scan); literals keep the final plan
            # crossJoin-free
            row = src.agg(
                F.min(scol).cast("double").alias("mn"),
                F.max(scol).cast("double").alias("mx"),
            ).first()
            mn = float(row["mn"]) if row["mn"] is not None else 0.0
            mx = float(row["mx"]) if row["mx"] is not None else 0.0
            # eager per-bucket counts -> exclusive running offsets as a
            # LITERAL map (<= nparts+1 entries).  -1 (NULL keys) sorts
            # first, matching NULLS FIRST inside the per-bucket window.
            cnt_rows = sorted(
                (r["_sk_bkt"], r["_sk_n"])
                for r in with_bucket(mn, mx).groupBy("_sk_bkt")
                .agg(F.count("*").alias("_sk_n"))
                .collect()
            )
            offsets = {}
            acc = 0
            for bkt, n in cnt_rows:
                offsets[bkt] = acc
                acc += n
            # None for an EMPTY snapshot, so it is never memoized: a
            # later non-empty build hitting it would fall into the
            # `off_expr = lit(0)` empty-frame path and mint colliding
            # per-bucket keys with no error — the exact silent
            # corruption the raise_error guard exists for
            return (mn, mx, offsets) if offsets else None

        if cache_key is None:
            snap = stats()
        else:
            snap = build_stat(df.sparkSession, f"{cache_key}#p{nparts}", stats)
        mn, mx, offsets = snap or (0.0, 0.0, {})
        if offsets:
            lookup = F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for kv in offsets.items()
                        for x in (int(kv[0]), int(kv[1]))
                    ]
                ),
                F.col("_sk_bkt").cast("int"),
            )
            # the offset map is a SNAPSHOT of build-time data: if the
            # input is nondeterministic (or mutated between the counts
            # collect and execution) a row can land in a bucket the
            # snapshot never saw, and element_at returns NULL — which
            # would silently propagate into a NULL/duplicated surrogate
            # key.  Fail loudly instead.
            off_expr = F.when(lookup.isNotNull(), lookup).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "add_surrogate_key: bucket not seen at "
                            "plan-build time (input frame must be "
                            "deterministic between build and "
                            "execution); _sk_bkt="
                        ),
                        F.col("_sk_bkt").cast("string"),
                    )
                )
            )
        else:  # empty frame: no rows, any literal works
            off_expr = F.lit(0)
        ranked = with_bucket(mn, mx).withColumn(
            "_sk_lrk",
            F.row_number().over(
                Window.partitionBy("_sk_bkt").orderBy(*natural_cols)
            ),
        )
        return ranked.withColumn(
            key_col, (off_expr + F.col("_sk_lrk")).cast("bigint")
        ).drop("_sk_bkt", "_sk_lrk")
    raise ValueError(f"unknown strategy {strategy!r}")
