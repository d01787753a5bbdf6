"""Slowly-changing-dimension maintenance (SCD Type 2) over lake PK
tables — the standard warehouse pattern for dimensions whose history
matters (the reference's customer/nation lookup dims, README.md:166-183,
kept auditable instead of overwritten).

Each dimension row carries (valid_from, valid_to, is_current); applying
an update batch CLOSES the current version of every key whose tracked
attributes actually changed (valid_to = batch ts) and INSERTS the new
version (valid_from = batch ts, open-ended) — both through ONE PK-table
merge, so the close/insert pair is atomic per batch. No-op updates
(attributes unchanged) are skipped, which makes repeated full loads
idempotent.

Scale shape: one join of the update batch against the CURRENT slice of
the dimension (is_current predicate over the PK-bucketed table), one
merge whose rewrite is bounded by the touched buckets — never a history
rewrite; history rows are immutable once closed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_iceberg_spark.lake.table import LakeTable
from fluss_iceberg_spark.operators.util import materialized


def scd2_apply(
    t: LakeTable,
    updates: DataFrame,
    ts: int,
    key_col: str,
    attr_cols: tuple[str, ...],
) -> int:
    """Apply one SCD2 update batch at logical time ``ts``.

    ``updates``: one row per key with the batch's attribute values.
    The dimension table's schema must be (key_col, *attr_cols,
    valid_from long, valid_to long nullable, is_current boolean) with
    PRIMARY KEY (key_col, valid_from). Returns #changed keys.
    """
    cur = t.read().filter(F.col("is_current")).select(
        F.col(key_col),
        *[F.col(a).alias(f"__cur_{a}") for a in attr_cols],
        F.col("valid_from").alias("__cur_from"),
    )
    u = updates.select(key_col, *attr_cols)
    joined = u.join(cur, on=key_col, how="left")
    changed_cond = F.lit(False)
    for a in attr_cols:
        # null-safe inequality: a NULL attribute differing from a value
        # still counts as a change
        changed_cond = changed_cond | ~F.col(a).eqNullSafe(F.col(f"__cur_{a}"))
    is_new = F.col("__cur_from").isNull()
    with materialized(joined.filter(is_new | changed_cond)) as touched:
        # one job answers both: how many keys change, and whether batch
        # time moves strictly forward for every one of them. At ts ==
        # current valid_from the close and open rows would share the
        # (key, valid_from) PK and merge would collapse them arbitrarily;
        # at ts < valid_from a key would end with two open versions
        n, max_cur = touched.agg(F.count(F.lit(1)), F.max("__cur_from")).first()
        if max_cur is not None and ts <= max_cur:
            raise ValueError(
                f"scd2_apply: batch ts {ts} is not after the newest touched "
                f"version's valid_from ({max_cur}) — batches must apply in "
                "increasing logical time"
            )
        closed = (
            touched.filter(~is_new)
            .select(
                F.col(key_col),
                *[F.col(f"__cur_{a}").alias(a) for a in attr_cols],
                F.col("__cur_from").alias("valid_from"),
                F.lit(ts).cast("long").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
        )
        opened = touched.select(
            F.col(key_col),
            *[F.col(a) for a in attr_cols],
            F.lit(ts).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        if n:
            t.merge(closed.unionByName(opened).select(*t.schema.fieldNames()))
    return n
