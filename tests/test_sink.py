"""Fast-tier checks of the hive sink's epoch write (streaming/sink.py):
it leaves the caller's session conf alone, writes one file per
(epoch, dt, hr), is idempotent under replay, and writes with one task
per scheduler slot. The end-to-end stream replays and crash drills live
in the slow tier (test_streaming.py)."""

from __future__ import annotations

import glob
import os
import tempfile
from collections import Counter

from pyspark.sql import functions as F

from oracle import DEFAULT_SF_DIR as SF_DIR

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.partitioning import scoped_conf
from flume_hive_batch_sink_spark.streaming import sink

OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _events(spark):
    """~2k sf0.01 events spanning the first six days (~144 hours)."""
    return load(spark, SF_DIR, "events").filter(F.col("ts") < "2024-01-07")


def _out_dir(prefix: str) -> str:
    return os.path.join(tempfile.mkdtemp(prefix=prefix), "tbl")


def test_write_epoch_leaves_session_conf_unchanged(spark):
    """The dynamic overwrite is a writer option, not a session conf: a
    caller's session must read the same overwrite mode after the write."""
    with scoped_conf(spark, {OVERWRITE_MODE: "STATIC"}):
        sink.write_epoch(_events(spark).limit(100), 0, _out_dir("sink_conf_"))
        assert spark.conf.get(OVERWRITE_MODE) == "STATIC"


def test_write_epoch_layout_replay_and_write_tasks(spark):
    """One parquet file per epoch=/dt=/hr= directory; replaying the epoch
    id leaves the table unchanged; the write's final stage ran one task
    per scheduler slot (a counted repartition AQE does not coalesce)."""
    ev = _events(spark)
    n = ev.count()
    n_hours = ev.select(F.date_trunc("hour", "ts")).distinct().count()
    assert 1_000 < n < 4_000 and n_hours > 100

    out = _out_dir("sink_epoch_")
    sc = spark.sparkContext
    group = "test-sink-write-epoch"
    sc.setJobGroup(group, "write_epoch")
    try:
        sink.write_epoch(ev, 3, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    files = glob.glob(os.path.join(out, "epoch=3", "dt=*", "hr=*", "*.parquet"))
    per_dir = Counter(os.path.dirname(f) for f in files)
    leaves = glob.glob(os.path.join(out, "epoch=3", "dt=*", "hr=*"))
    assert len(leaves) == n_hours
    assert sorted(per_dir) == sorted(leaves)
    assert set(per_dir.values()) == {1}

    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    final = st.getStageInfo(max(s for job in jobs if job for s in job.stageIds))
    assert final is not None and final.numTasks == sc.defaultParallelism

    def table_counts():
        t = sink.read_sink_table(spark, out)
        return t.count(), t.select("event_id").distinct().count()

    first = table_counts()
    sink.write_epoch(ev, 3, out)  # redelivery of the same epoch
    assert table_counts() == first == (n, n)
