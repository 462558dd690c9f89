"""Partitioning helpers for fan-out-heavy operators (round-15).

AQE's partition coalescing sizes post-shuffle partitions by the shuffle's
INPUT bytes. For the candidate-generation joins in the dedup/similarity
family that heuristic is blind: the exchange carries a few MB of slim
(id, key) rows, but the join downstream fans each bucket out to w² pair
slots — so AQE coalesces a CPU-dense stage down to one or two tasks and
the operator loses the cluster. (Measured on llm_near_dedup_minhash at
sf0.1: 49.2 s with AQE coalescing vs 10.3 s without, identical work.)

The fix is to mark those exchanges user-specified — ``repartition(n,
cols)`` is never coalesced by AQE — with ``n`` taken from the session's
``spark.sql.shuffle.partitions``, the same scale knob every other
shuffle in the job follows (bench.py derives it from input volume;
a cluster deployment sets it with the data size). Nothing here is a
local[32] constant.

Input volume itself is measured here and nowhere else: ``input_bytes``
reads it through the session's Hadoop FileSystem, so a local path and
its ``file://``/``hdfs://``/``s3a://`` forms size alike.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's shuffle partition count (falls back to the
    scheduler's default parallelism when unparseable, e.g. ``auto``)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of a ``with`` block and
    restore the previous values (or unset) on exit. Only safe around
    work that COMPLETES inside the block (e.g. a streaming query run to
    termination); a lazy DataFrame returned out of the block executes
    under whatever the session conf is at action time."""
    prior: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in prior.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def input_bytes(spark: SparkSession, path: str) -> int:
    """Bytes under ``path`` (a file or a directory tree, any scheme the
    session's Hadoop conf resolves: local, ``file://``, ``hdfs://``,
    ``s3a://``), or 0 when it does not exist. The one measure of input
    volume that every size rule in the engine reads."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())


def input_scaled_partitions(n_bytes: int) -> int:
    """Shuffle/state partition count derived from input volume — ~32 MB
    per partition, floor 8, cap 2048 — for the stream state partitions
    and bench.py's headline session, so partition counts scale with the
    data instead of being a local-core-count constant."""
    return max(8, min(2048, int(n_bytes / (32 << 20))))
