"""Z-order (Morton-curve) file clustering for the lake layer.

A linear sort clusters files on ONE column: min/max footer stats prune
scans filtered on the leading column and nothing else. Interleaving the
bits of rank-bucketed columns makes each written file cover a compact
box in (a, b, ...) space, so range predicates on ANY of the columns
prune files — the multi-dimensional clustering Iceberg ships as
``rewrite_data_files(strategy => 'sort', sort_order => 'zorder(a, b)')``
(public Apache Iceberg Spark procedure; the reference's lake tables are
Iceberg, trino/iceberg.properties:1-9). This is the engine-native
equivalent wired to the repo's manifest min/max skipping
(lake/table.py plan_scan).

``zorder_key`` is the one z-value of the lake layer: ``LakeTable``'s
data-file writer orders by it for the ``write.zorder-by`` table
property (every append, overwrite and row-level rewrite) and for
``compact(zorder_by=...)``.

Spark-first construction, all whole-stage codegen:

1. 2^bits - 1 equi-depth boundaries for every column from ONE
   ``approxQuantile`` call (the driver receives a bounded float list per
   column — the same device as the CBO's NDV sampling, never data rows).
   Equi-depth (rank) bucketing, not uniform-width: skewed columns would
   otherwise collapse into few buckets and the curve degenerates to a
   linear sort.
2. bucket id = branch-free comparison sum against the boundary array
   (``F.aggregate`` over a literal array — no UDF, no shuffle).
3. z-value = bit interleave of the bucket ids (shift/or expression
   tree); the writer range-partitions on it, so each output file owns a
   contiguous z-range = a compact box.

100 TB: the layout pass is one range-shuffle of the data (the same cost
as any sort-based rewrite, amortized over every future scan);
approxQuantile is a single aggregate. File count scales with data
volume; pruning stays ~|files| * (selectivity_a + selectivity_b) for
rectangle queries instead of |files| for the non-leading column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def equidepth_bucket(col: Column, boundaries: list) -> Column:
    """Rank bucket of ``col`` against sorted equi-depth boundaries:
    the count of boundaries <= value (branch-free comparison sum,
    stays in codegen). NULLs land in bucket 0."""
    if not boundaries:
        return F.lit(0)
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(col >= b, 1).otherwise(0),
    )


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton interleave of ``bits``-wide non-negative ints: bit i of
    ``cols[j]`` lands at position i * n + (n - 1 - j), so for two
    columns z = a_{n-1} b_{n-1} ... a_0 b_0 (a in the odd positions)."""
    n = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1)).cast("long"),
                    i * n + (n - 1 - j),
                )
            )
    return z


def zorder_morton_local(a_bucket: int, b_bucket: int, bits: int = 8) -> int:
    """Pure-Python reference of the two-column interleave (unit gate)."""
    z = 0
    for i in range(bits):
        z |= ((a_bucket >> i) & 1) << (2 * i + 1)
        z |= ((b_bucket >> i) & 1) << (2 * i)
    return z


def zorder_key(df: DataFrame, cols: list[str], bits: int = 6) -> Column:
    """The z-value of ``df``'s rows over the numeric columns ``cols``:
    each column rank-bucketed into 2^bits equi-depth buckets,
    the bucket ids bit-interleaved. Ordering ``df`` by it puts rows close
    in every column next to each other.

    2^bits buckets per dimension only needs to out-resolve the file
    count; 64 per column resolves thousands of files. The boundaries of
    all columns come from one approxQuantile aggregate at 1% rank error
    — layout precision, not result correctness, so at 100 TB a sampled
    estimate is equally sound. A column with no non-NULL value adds no
    ordering bits."""
    probes = [(i + 1) / (1 << bits) for i in range((1 << bits) - 1)]
    bounds = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    ).stat.approxQuantile(list(cols), probes, 0.01)
    return interleave_bits(
        [
            equidepth_bucket(F.col(c).cast("double"), sorted(set(b or [])))
            for c, b in zip(cols, bounds)
        ],
        bits,
    )
