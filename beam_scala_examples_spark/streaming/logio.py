"""Contribution-log and versioned-state IO shared by the streaming sinks.

The house log discipline (write one batch's partial under its own
``batch_id`` partition with dynamic overwrite; serving re-aggregates
the whole log) has one degenerate corner: a batch whose every value is
NULL/NaN produces an EMPTY partial, whose partitioned write still
creates the log directory but leaves no parquet files in it — and a
schema-INFERRING read of a file-less directory fails with an inference
error instead of returning the empty relation.  The fix is structural,
not a row-count probe (counting the partial would cost an extra job
per batch): the writer returns the log's schema (partial schema +
``batch_id``), the sink stashes it, and serving reads with that
EXPLICIT schema — zero files then reads as the empty relation and
every downstream aggregate degrades to NULL/empty exactly as the batch
query would over an empty corpus.

A sink whose partials merge with an associative fold (SUM/COUNT
rollups) need not keep the log at all: :func:`fold_version` keeps one
*versioned folded state* instead, Structured Streaming's state-store
discipline.  Version ``b`` (``<path>/v=<b>``) is ``fold(state_prev ∪
partial_b)``, where ``state_prev`` is the newest *complete* version
below ``b``; :func:`prune_versions` drops what is older than that once
the sink's output is written.  Serving reads one version, so its scan
stays the same size however long the stream runs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The file commit protocol writes this marker into a directory only
# after every data file of the job is in place.
_COMPLETE = "_SUCCESS"


def write_log_partition(
    df: DataFrame, batch_id: int, path: str
) -> T.StructType:
    """Write one batch's partial under its ``batch_id`` partition
    (dynamic overwrite — replay re-derives exactly its own partition)
    and return the log schema for :func:`read_log`."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )
    return T.StructType(
        list(df.schema.fields)
        + [T.StructField("batch_id", T.LongType())]
    )


def read_log(
    spark: SparkSession, path: str, schema: T.StructType | None
) -> DataFrame:
    """Read the contribution log; with a stashed ``schema`` the read is
    inference-free and a file-less log directory (all batches empty so
    far) is the empty relation, not an error."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _version_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/v={version}"


def _fs(spark: SparkSession, path: str):
    """``path`` as a Hadoop path, with its filesystem (any scheme the
    session can write)."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _versions(spark: SparkSession, path: str) -> dict[int, bool]:
    """Version id -> whether that version's write completed."""
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return {}
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    out = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v=") and name[2:].isdigit():
            out[int(name[2:])] = fs.exists(hpath(st.getPath(), _COMPLETE))
    return out


def _base(versions: dict[int, bool], batch_id: int) -> int | None:
    """The newest complete version below ``batch_id``: what version
    ``batch_id`` folds onto."""
    return max((v for v, ok in versions.items() if ok and v < batch_id),
               default=None)


def fold_version(
    partial: DataFrame,
    batch_id: int,
    path: str,
    fold: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Write state version ``batch_id`` = ``fold(state_prev ∪ partial)``
    and return it, read back as one partition.

    ``fold`` maps rows of the state's columns to the folded state (the
    same columns); ``partial`` may be raw, unfolded rows.

    Exactly-once: ``state_prev`` is the newest complete version whose
    id is below ``batch_id``, never ``batch_id`` itself, so replaying a
    batch re-derives exactly its own version by overwrite; a version
    whose write died part-way has no completion marker and is never
    read.

    Single partition: the union is coalesced to one partition, so the
    fold runs with no exchange and writes one file, and the returned
    state satisfies any distribution downstream operators require (a
    window or aggregate over it plans no shuffle either).  This bounds
    the state to what one task folds comfortably; the callers' states
    are keyed by a few low-cardinality dimensions (hundreds of rows)."""
    spark = partial.sparkSession
    schema = fold(partial).schema
    base = _base(_versions(spark, path), batch_id)
    rows = partial
    if base is not None:
        rows = (spark.read.schema(schema)
                .parquet(_version_path(path, base))
                .unionByName(partial))
    out = _version_path(path, batch_id)
    fold(rows.coalesce(1)).write.mode("overwrite").parquet(out)
    return spark.read.schema(schema).parquet(out).coalesce(1)


def prune_versions(spark: SparkSession, path: str, batch_id: int) -> None:
    """Delete the versions older than the newest complete one below
    ``batch_id``.  Call after the sink's output is written: that
    version is what a replay of ``batch_id`` folds onto, so it and
    ``batch_id``'s own version stay."""
    versions = _versions(spark, path)
    base = _base(versions, batch_id)
    for v in versions:
        if base is not None and v < base:
            fs, p = _fs(spark, _version_path(path, v))
            fs.delete(p, True)
