"""Fast-tier checks of input-volume sizing (partitioning.input_bytes):
a local path and its ``file://`` URI measure the same bytes, so a stream
records the same state-partition count in its checkpoint whichever form
the caller passes, and a missing path measures 0 bytes."""

from __future__ import annotations

import os

from flume_hive_batch_sink_spark.partitioning import (
    input_bytes,
    input_scaled_partitions,
)
from flume_hive_batch_sink_spark.streaming.harness import (
    events_stream_partitions,
)


def test_local_path_and_file_uri_size_alike(spark, tmp_path):
    # 400 MB sparse: the logical length is what a scan reads, and at
    # ~32 MB per partition it sizes as 12 partitions, not the floor of 8.
    events = tmp_path / "events.parquet"
    with open(events, "wb") as f:
        f.truncate(400 << 20)
    for p in (tmp_path, events):
        for form in (str(p), p.as_uri()):
            assert input_bytes(spark, form) == 400 << 20, form
            assert input_scaled_partitions(input_bytes(spark, form)) == 12, form
    for sf_dir in (str(tmp_path), tmp_path.as_uri()):
        assert events_stream_partitions(spark, sf_dir) == 12, sf_dir


def test_missing_path_sizes_as_zero(spark, tmp_path):
    missing = os.path.join(tmp_path, "absent.parquet")
    assert input_bytes(spark, missing) == 0
    assert input_bytes(spark, "file://" + missing) == 0
    assert input_scaled_partitions(0) == 8
