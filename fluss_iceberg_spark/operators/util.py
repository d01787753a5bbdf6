"""Shared operator utilities. ``materialized`` is the one way to hold a
frame in executor storage for a block and ``session_conf`` the one way
to change a session conf for a while; both give it back on every exit
path. ``release_checkpoint`` frees a local checkpoint whose lifetime is
not one block (loop-carried iteration state, a route cache)."""

from __future__ import annotations

import re
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Row, SparkSession


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``ed frame now instead of
    waiting for the ContextCleaner's GC-driven sweep.

    The checkpoint's RDD is reached through the analyzed plan's
    ``LogicalRDD``, an internal seam: if a Spark version moves it, the
    JVM call fails with a ``Py4JError``, which is ignored because the
    cleaner still reclaims the blocks once the frame is collected. Any
    other error propagates."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:
        pass


@contextmanager
def materialized(df: DataFrame, checkpoint: bool = False):
    """Yield ``df`` persisted, or with ``checkpoint=True`` as an eager
    ``localCheckpoint`` (lineage run once and truncated), and unpersist
    or release it on every exit path of the ``with`` block. A frame built
    on the held one and read after the block no longer reads it, so what
    an operator returns is computed inside: collected, or checkpointed."""
    held = df.localCheckpoint(eager=True) if checkpoint else df.persist()
    try:
        yield held
    finally:
        if checkpoint:
            release_checkpoint(held)
        else:
            held.unpersist()


@contextmanager
def session_conf(spark: SparkSession, confs: dict):
    """Set the session confs ``confs`` ({key: value}) for the body of a
    ``with`` block and put each key back as it was on every exit path,
    an exception included: a key the session had set gets its value
    back, a key it had not set is unset again. The one way the package
    changes a session conf for a while, so no query leaks one into the
    queries after it."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SIZE_SUFFIX = {"b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
                "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4}
_SIZE_RE = re.compile(r"^(-?\d+)\s*([a-z]*)$")


def conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size Spark conf in bytes. Spark accepts '10MB' /
    '10485760b' / bare bytes / '-1' (a disabled threshold); a value it
    would not parse reads as ``default``."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    m = _SIZE_RE.match(raw)
    if not m:
        return default
    return int(m.group(1)) * _SIZE_SUFFIX.get(m.group(2), 1)


def right_size(df: DataFrame, nbytes: int | None = None) -> DataFrame:
    """Coalesce ``df`` to ceil(bytes / ``spark.sql.files.maxPartitionBytes``)
    partitions when that is fewer than the session's default parallelism,
    else return it unchanged. ``bytes`` is ``nbytes`` when given, else the
    optimized plan's ``sizeInBytes``.

    Every task and every written file costs a fixed slice of driver and
    JVM CPU whatever its size, so a small input split across every core
    pays that cost once per core for nothing. Only a small estimate is
    acted on, and it is a safe one: Spark over-estimates a join as the
    product of its inputs and sizes an unknown input (an RDD scan) as
    ``spark.sql.defaultSizeInBytes``, so a large or unknown size leaves
    ``df`` as it is. ``coalesce`` never raises the partition count."""
    spark = df.sparkSession
    if nbytes is None:
        # a Scala BigInt: py4j hands it over as an int or a JavaObject
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        nbytes = int(str(stats.sizeInBytes()))
    split = max(conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2), 1)
    n = max(1, -(-nbytes // split))
    if n >= spark.sparkContext.defaultParallelism:
        return df
    return df.coalesce(n)


def arrow_local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``createDataFrame`` for driver-local row lists via the ARROW path.

    The plain list-of-tuples path pickles rows into a Python RDD: every
    downstream action ships them back through Python workers — measured
    ~0.8 s warm / ~3 s after a session recycle for a 10k-row frame
    (guide §4: every Python path pays the JVM↔Python boundary; guide §6:
    Arrow for driver transfers). Routing the same rows through a pandas
    DataFrame turns them into an Arrow-backed LocalTableScan: no Python
    workers at execution time, identical values and schema (the explicit
    ``schema`` string drives the same DDL-parsed types as before).

    Use for frames of ints/floats/strings (exact under Arrow). Not for
    Decimal/struct payloads — those keep the classic path at call sites.
    """
    import pandas as pd

    if isinstance(schema, str):
        # parse via Spark's own DDL parser: a comma-bearing type
        # (decimal(10,2), map<string,int>, struct<...>) would silently
        # mis-split under a naive comma split (r12 ADVICE)
        from pyspark.sql.types import _parse_datatype_string

        struct = _parse_datatype_string(schema)
    else:  # StructType
        struct = schema
    fields = [(f.name, f.dataType.simpleString()) for f in struct.fields]
    names = [n for n, _ in fields]
    # a named Row is a tuple whose field order need not be the schema's:
    # take its values by name so they are not mapped by position
    rows = [
        tuple(r[n] for n in names) if isinstance(r, Row) and hasattr(r, "__fields__") else r
        for r in rows
    ]
    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame.from_records(rows, columns=names)
    # from_records coerces a mixed int/None column (e.g.
    # $snapshots.parent_id — None for the first snapshot) to float64 +
    # NaN, which integer Spark types reject. Rebuild ONLY such columns
    # as object dtype from the original rows (exact ints, real nulls);
    # the common all-int/all-string columns keep the fast C path. The
    # positional rebuild requires sequence rows — assert that rather
    # than silently scrambling a dict caller's values.
    for i, (n, t) in enumerate(fields):
        if pdf[n].dtype.kind == "f" and not t.startswith(
            ("double", "float", "decimal")
        ):
            if not all(
                isinstance(r, (tuple, list)) and len(r) == len(fields)
                for r in rows
            ):
                raise TypeError(
                    "arrow_local_df int/None repair needs index-aligned "
                    "tuple rows (len == #fields); got a non-sequence row"
                )
            pdf[n] = pd.Series([r[i] for r in rows], dtype="object")
    return spark.createDataFrame(pdf, schema=schema)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's parallelism IF
    its scan has fewer partitions — and pass it through untouched
    otherwise.

    Why: a map-heavy pipeline (gram generation, Arrow kernels) with no
    early shuffle inherits the SCAN's partitioning. On a 100 TB corpus
    that is thousands of file splits — fine. But a small or
    single-row-group parquet file scans as ONE partition and the whole
    map stage runs serially on one core. The guard makes this a no-op
    exactly when repartitioning would hurt (a big input already has
    enough splits, and shuffling raw 100 TB input would be a
    scale-killer), and a cheap raw-row shuffle when the input is small
    enough that one core would otherwise do all the work.
    """
    if df.isStreaming:
        # streaming frames can't be probed via .rdd (and micro-batch
        # parallelism is the source's concern) — pass through untouched
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # .rdd builds the RDD plan lazily; no job runs here.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
