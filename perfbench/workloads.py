"""The four workloads: what one pass runs, what it checks, what it reports.

A pass is the unit the benchmark times and checks:

- ``ingest_ordered`` / ``ingest_scattered``: drain the landing files
  through ``streaming.sink.start_hive_sink`` (availableNow), flag the
  partitions (``sink.finalize_partitions``), register them through
  ``sources.metastore`` and run a first query over the catalog table.
- ``query_mix``: build and fully execute a fixed list of
  ``registry.QUERIES`` keys, plans fresh each pass, input cache off.
- ``stateful_ttl``: ``streaming.state_ttl.ttl_counters_stream`` over a
  ts-ordered replay closed by two sentinel chunks, read back per user.

Correctness references come from DuckDB over the generated files.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from perfbench import gen

# Keys of the query mix: five of the bench.py headline six, the ROADMAP
# profile-first key that fits the run length, and one plans.* key.
MIX_KEYS = (
    "agg_group_basic",
    "join_multiway",
    "topk_per_group",
    "batch_counters",
    "llm_exact_dedup",
    "agg_abc_pareto",
    "pipeline_tpch_q6",
)

# Sentinel offsets (minutes past the last event) for the TTL stream:
# well past its 45 min TTL + 10 min watermark delay, as in the
# registered stream_custom_state_ttl key.
SENTINEL_MIN = (120, 240)

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
# Types of the partition columns the sink lays out; unknown ones
# register as STRING.
PART_TYPES = {"epoch": "BIGINT", "dt": "STRING", "hr": "BIGINT"}

# Progress phases in MicroBatchExecution order → span names.
INGEST_PHASES = {
    "latestOffset": "source.latestOffset",
    "walCommit": "engine.walCommit",
    "getBatch": "source.getBatch",
    "queryPlanning": "engine.queryPlanning",
    "addBatch": "sink.addBatch",
    "commitOffsets": "engine.commitOffsets",
}
STATE_PHASES = dict(INGEST_PHASES, addBatch="state.addBatch")


@dataclass
class Sizes:
    events: int  # events per ingest input
    users: int
    span_days: int  # time range of the events
    ordered_files: int  # landing files = epochs
    scattered_files: int
    state_events: int  # events of the stateful replay
    state_users: int  # keys of the stateful replay
    state_files: int  # ts-ordered chunks before the two sentinels
    sf: float  # scale factor of the query-mix tables
    mix_events: int


FULL = Sizes(20_000, 1_500, 5, 4, 2, 6_000, 200, 1, 0.01, 10_000)
TINY = Sizes(2_000, 100, 2, 3, 2, 2_000, 50, 1, 0.001, 1_000)


@dataclass
class PassResult:
    wall_s: float  # whole pass
    process_s: float  # stream start → termination (whole pass for query_mix)
    answer_s: float  # end of processing → first answer (0 for query_mix)
    events: int
    attempted: int = 1
    failed: int = 0
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced pass)
    root: int | None = None  # root span id (traced pass)


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def _duck(k: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {k}")
    return con


def _glob(d: Path) -> str:
    return str(d / "*.parquet")


def open_landing(spark, landing: Path):
    """The file source over a landing directory, replaying one file per
    micro-batch in mtime order (the options of the file-chunk transport
    in ``streaming/source.py``)."""
    from flume_hive_batch_sink_spark.streaming import source

    return (
        spark.readStream.schema(source.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(landing))
    )


def _progress_sum(progress: list[dict], phase: str) -> float:
    return float(sum(p.get("durationMs", {}).get(phase, 0) for p in progress))


def _scan_files(df) -> float:
    """``numFiles`` summed over the file scans of an executed query,
    looking through the adaptive plan and its query stages."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        m = node.metrics().get("numFiles")
        if m.isDefined():
            total += m.get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return float(total)


class Workload:
    """Shared plumbing: a session, a tracer, a private work directory."""

    name = ""
    warm_passes = 1  # untimed full-size passes before measuring

    def __init__(self, spark, tracer, work: Path, k: int, seed: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.k, self.seed = k, seed
        self.npass = 0

    def stage(self, root: Path, sizes: Sizes) -> dict:
        """Generate and stage this workload's inputs under ``root``."""
        raise NotImplementedError

    def reference(self, inputs: dict) -> None:
        """Compute the correctness reference for ``inputs`` (untimed)."""

    def run_pass(self, inputs: dict, traced: bool) -> PassResult:
        """One timed pass, then its correctness check."""
        raise NotImplementedError

    def record(self, inputs: dict) -> dict:
        """Recorded (ungated) reference figures."""
        return {}

    def _tag(self) -> str:
        self.npass += 1
        return f"p{self.npass}"


# --------------------------------------------------------------------------
# ingest_ordered / ingest_scattered
# --------------------------------------------------------------------------


class Ingest(Workload):
    def __init__(self, *a, scattered: bool):
        super().__init__(*a)
        self.scattered = scattered
        self.name = "ingest_scattered" if scattered else "ingest_ordered"

    def stage(self, root: Path, sizes: Sizes) -> dict:
        ev = gen.events(self.seed, sizes.events, sizes.users, sizes.span_days)
        if self.scattered:
            chunks = gen.scattered_chunks(self.seed, sizes.events, sizes.scattered_files)
        else:
            chunks = gen.ordered_chunks(sizes.events, sizes.ordered_files)
        landing = root / "landing"
        gen.stage_landing(landing, [ev.take(c) for c in chunks])
        return {"landing": landing, "events": sizes.events}

    def reference(self, inputs: dict) -> None:
        con = _duck(self.k)
        try:
            rows = con.execute(
                f"""
                WITH e AS (
                  SELECT event_id, epoch_us(ts) AS us
                  FROM read_parquet('{_glob(inputs['landing'])}'))
                SELECT strftime(make_timestamp(us), '%Y%m%d') AS dt,
                       CAST((us // 3600000000) % 24 AS BIGINT) AS hr,
                       count(*), count(DISTINCT event_id),
                       min(event_id), max(event_id)
                FROM e GROUP BY 1, 2
                """
            ).fetchall()
        finally:
            con.close()
        inputs["ref"] = {(r[0], int(r[1])): tuple(int(x) for x in r[2:]) for r in rows}

    def run_pass(self, inputs: dict, traced: bool) -> PassResult:
        from pyspark.sql import functions as F

        from flume_hive_batch_sink_spark.sources import metastore as ms
        from flume_hive_batch_sink_spark.streaming import sink

        spark, tr = self.spark, self.tr
        tag = self._tag()
        base = self.work / f"sink-{tag}"
        out, chk = base / "events_tbl", base / "chk"
        cfg = ms.MetastoreConfig()
        tbl = f"pb_events_{tag}"
        statements = [0]

        t0 = time.perf_counter()
        with tr.span("bench.pass") as root:
            with tr.span("source.open"):
                stream = open_landing(spark, inputs["landing"])
            with tr.span("engine.drain") as drain:
                q = sink.start_hive_sink(stream, str(out), str(chk))
                q.awaitTermination()
            t1 = time.perf_counter()
            with tr.span("sink.finalize"):
                markers = sink.finalize_partitions(spark, str(out))
            cols, parts = _partitions_from_markers(out, markers)
            with _count_sql(spark, statements) if traced else nullcontext():
                with tr.span("metastore.create_table"):
                    name = ms.create_external_partitioned_table(
                        spark, cfg, tbl, EVENTS_DDL,
                        [(c, PART_TYPES.get(c, "STRING")) for c in cols], str(out),
                    )
                with tr.span("metastore.add_partitions"):
                    ms.add_partitions(spark, cfg, tbl, parts)
            with tr.span("table.first_query"):
                first = spark.table(name).groupBy("dt", "hr").agg(
                    F.count("*").alias("n"),
                    F.countDistinct("event_id").alias("d"),
                    F.min("event_id").alias("lo"),
                    F.max("event_id").alias("hi"),
                )
                pdf = first.toPandas()
        t2 = time.perf_counter()
        progress = [json.loads(p.json) for p in q.recentProgress]

        res = PassResult(t2 - t0, t1 - t0, t2 - t1, inputs["events"])
        problems = self._check(inputs, out, markers, pdf, name)
        if problems:
            res.failed = 1
            log(f"{self.name} {tag}: INCORRECT:", "; ".join(problems[:5]))
        if traced:
            tr.add_epochs(progress, drain, INGEST_PHASES)
            res.layer = self._layer(inputs, out, progress, drain, parts, markers, first)
            res.layer["metastore.statements"] = float(statements[0])
            with tr.span("sink.read_table") as rt:
                sink.read_sink_table(spark, str(out)).count()
            s = tr.spans[rt]
            res.layer["sink.read_table_s"] = s["end"] - s["start"]
            res.root = root
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(base, ignore_errors=True)
        return res

    def _check(self, inputs, out: Path, markers, pdf, name) -> list[str]:
        problems = []
        got = {
            (str(r.dt), int(r.hr)): (int(r.n), int(r.d), int(r.lo), int(r.hi))
            for r in pdf.itertuples()
        }
        ref = inputs["ref"]
        if got != ref:
            bad = [k for k in set(got) | set(ref) if got.get(k) != ref.get(k)]
            problems.append(
                f"{len(bad)} (dt,hr) partitions differ from the reference, "
                f"e.g. {sorted(bad)[:3]}: got {[got.get(b) for b in sorted(bad)[:3]]} "
                f"want {[ref.get(b) for b in sorted(bad)[:3]]}"
            )
        leaves = _leaf_dirs(out)
        unflagged = [d for d in leaves if not (d / "_DONE").exists()]
        if unflagged:
            problems.append(f"{len(unflagged)} partitions lack _DONE")
        registered = self.spark.sql(f"SHOW PARTITIONS {name}").count()
        if registered != len(leaves):
            problems.append(f"{registered} partitions registered, {len(leaves)} on disk")
        return problems

    def _layer(self, inputs, out, progress, drain, parts, markers, first) -> dict:
        tr = self.tr
        spans = {s["name"]: s for s in tr.spans if s["end"] is not None}
        files = list(out.rglob("*.parquet"))
        nbytes = sum(f.stat().st_size for f in files)
        leaves = _leaf_dirs(out)
        dthr = {(_kv(d).get("dt"), _kv(d).get("hr")) for d in leaves}
        adds = [p["durationMs"].get("addBatch", 0) for p in progress]
        d = tr.spans[drain]
        trig = _progress_sum(progress, "triggerExecution")

        def dur(n):
            s = spans[n]
            return s["end"] - s["start"]

        return {
            "source.open_s": dur("source.open"),
            "source.latestOffset_ms": _progress_sum(progress, "latestOffset"),
            "source.getBatch_ms": _progress_sum(progress, "getBatch"),
            "sink.epochs": float(len(progress)),
            "sink.addBatch_ms": float(sum(adds)),
            "sink.addBatch_p50_ms": float(statistics.median(adds)) if adds else 0.0,
            "sink.walCommit_ms": _progress_sum(progress, "walCommit"),
            "sink.commitOffsets_ms": _progress_sum(progress, "commitOffsets"),
            "sink.trigger_gap_ms": (d["end"] - d["start"]) * 1000.0 - trig,
            "sink.partitions_per_epoch": len(leaves) / max(1, len(progress)),
            "sink.files_written": float(len(files)),
            "sink.bytes_written": float(nbytes),
            "sink.files_per_partition": len(files) / max(1, len(dthr)),
            "sink.stored_bytes_per_event": nbytes / inputs["events"],
            "sink.finalize_s": dur("sink.finalize"),
            "sink.done_markers": float(len(markers)),
            "table.first_query_s": dur("table.first_query"),
            "table.files_scanned": _scan_files(first),
            "metastore.create_table_s": dur("metastore.create_table"),
            "metastore.add_partitions_s": dur("metastore.add_partitions"),
            "metastore.partitions_registered": float(len(parts)),
        }

    def record(self, inputs: dict) -> dict:
        """DuckDB's partitioned COPY of the same events: the reference twin."""
        dest = self.work / "duckdb_copy"
        con = _duck(self.k)
        try:
            t0 = time.perf_counter()
            con.execute(
                f"""
                COPY (
                  SELECT *, strftime(make_timestamp(epoch_us(ts)), '%Y%m%d') AS dt,
                         CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hr
                  FROM read_parquet('{_glob(inputs['landing'])}')
                ) TO '{dest}' (FORMAT parquet, PARTITION_BY (dt, hr))
                """
            )
            elapsed = time.perf_counter() - t0
        finally:
            con.close()
        shutil.rmtree(dest, ignore_errors=True)
        return {"reference.duckdb_copy_s": elapsed}


def _kv(d: Path) -> dict:
    return dict(p.split("=", 1) for p in d.parts if "=" in p)


def _leaf_dirs(out: Path) -> list[Path]:
    return sorted({f.parent for f in out.rglob("*.parquet")})


def _partitions_from_markers(out: Path, markers: list[str]):
    """Partition columns (outermost first) and one value dict per
    flagged partition directory, read off the ``k=v`` path layout."""
    cols: list[str] = []
    parts = []
    for m in markers:
        rel = Path(m).parent.relative_to(out)
        kv = [p.split("=", 1) for p in rel.parts]
        cols = cols or [k for k, _ in kv]
        parts.append(
            {k: (v if PART_TYPES.get(k, "STRING") == "STRING" else int(v)) for k, v in kv}
        )
    return cols, parts


@contextmanager
def _count_sql(spark, counter: list):
    """Count the ``spark.sql`` statements issued inside the block."""
    inner = spark.sql

    def counted(*a, **kw):
        counter[0] += 1
        return inner(*a, **kw)

    spark.sql = counted
    try:
        yield
    finally:
        del spark.sql


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


class _Fetched:
    """What ``tests/oracle.compare`` reads from a DataFrame, served from
    the result the timed pass already fetched (so it is not recomputed)."""

    def __init__(self, schema, pdf):
        self.schema, self._pdf = schema, pdf

    def toPandas(self):
        return self._pdf


class QueryMix(Workload):
    name = "query_mix"
    # its short keys are dominated by JIT-sensitive fixed costs: the second
    # pass in a JVM still runs ~25% slower than the third
    warm_passes = 2

    def stage(self, root: Path, sizes: Sizes) -> dict:
        sf_dir = root / "tables"
        gen.write_tables(self.seed, sf_dir, sizes.sf, sizes.mix_events)
        return {"sf_dir": sf_dir, "events": sizes.mix_events}

    def run_pass(self, inputs: dict, traced: bool) -> PassResult:
        from flume_hive_batch_sink_spark import registry

        spark, tr = self.spark, self.tr
        sc = spark.sparkContext
        tag = self._tag()
        sf_dir = str(inputs["sf_dir"])
        results = {}
        t0 = time.perf_counter()
        with tr.span("bench.pass") as root:
            for key in MIX_KEYS:
                sc.setJobGroup(f"pb-{tag}-{key}", key)
                a = time.perf_counter()
                with tr.span(f"query.{key}.build"):
                    df = registry.QUERIES[key](spark, sf_dir)
                b = time.perf_counter()
                with tr.span(f"query.{key}.exec"):
                    pdf = df.toPandas()
                results[key] = (df, pdf, b - a, time.perf_counter() - b)
        t1 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)

        res = PassResult(t1 - t0, t1 - t0, 0.0, inputs["events"])
        res.attempted = len(MIX_KEYS)
        oracle = _oracle()
        for key, (df, pdf, _b, _e) in results.items():
            try:
                oracle.compare(_Fetched(df.schema, pdf), registry.ORACLES[key], sf_dir)
            except AssertionError as exc:
                res.failed += 1
                log(f"query_mix {tag}: {key} INCORRECT: {str(exc)[:300]}")
        if traced:
            res.layer = self._layer(tag, results)
            res.root = root
        return res

    def _layer(self, tag: str, results: dict) -> dict:
        st = self.spark.sparkContext.statusTracker()
        out = {}
        for key, (df, pdf, build, exe) in results.items():
            phases = df._jdf.queryExecution().tracker().phases()

            def phase_ms(name):
                p = phases.get(name)
                return float(p.get().durationMs()) if p.isDefined() else 0.0

            jobs = st.getJobIdsForGroup(f"pb-{tag}-{key}")
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
            out.update(
                {
                    f"query.{key}.build_s": build,
                    f"query.{key}.exec_s": exe,
                    f"query.{key}.rows": float(len(pdf)),
                    f"query.{key}.analysis_ms": phase_ms("analysis"),
                    f"query.{key}.optimization_ms": phase_ms("optimization"),
                    f"query.{key}.planning_ms": phase_ms("planning"),
                    f"query.{key}.jobs": float(len(jobs)),
                    f"query.{key}.tasks": float(tasks),
                }
            )
        return out


def _oracle():
    """The repository's DuckDB comparator (``tests/oracle.py``)."""
    import importlib

    return importlib.import_module("tests.oracle")


# --------------------------------------------------------------------------
# stateful_ttl
# --------------------------------------------------------------------------


class StatefulTTL(Workload):
    name = "stateful_ttl"

    def stage(self, root: Path, sizes: Sizes) -> dict:
        ev = gen.events(self.seed, sizes.state_events, sizes.state_users, sizes.span_days)
        chunks = gen.ordered_chunks(sizes.state_events, sizes.state_files)
        tables = [ev.take(c) for c in chunks]
        last_us = ev.column("ts").cast("int64")[-1].as_py()
        tables += [
            gen.sentinel(-(j + 1), last_us + m * 60_000_000)
            for j, m in enumerate(SENTINEL_MIN)
        ]
        landing = root / "landing"
        gen.stage_landing(landing, tables)
        return {"landing": landing, "events": sizes.state_events}

    def reference(self, inputs: dict) -> None:
        con = _duck(self.k)
        try:
            rows = con.execute(
                f"SELECT user_id, count(*) FROM read_parquet('{_glob(inputs['landing'])}') "
                "WHERE user_id >= 0 GROUP BY 1"
            ).fetchall()
        finally:
            con.close()
        inputs["ref"] = {int(u): int(n) for u, n in rows}

    def run_pass(self, inputs: dict, traced: bool) -> PassResult:
        from pyspark.sql import functions as F

        from flume_hive_batch_sink_spark.streaming import harness, state_ttl

        spark, tr = self.spark, self.tr
        tag = self._tag()
        t0 = time.perf_counter()
        with tr.span("bench.pass") as root:
            with tr.span("source.open"):
                stream = open_landing(spark, inputs["landing"])
            with tr.span("state.build"):
                counts = state_ttl.ttl_counters_stream(spark, stream)
            with tr.span("engine.drain") as drain:
                emitted, progress = harness.run_with_progress(
                    counts, f"pb_ttl_{tag}", "update", spark,
                    state_partitions=self.k,
                )
            t1 = time.perf_counter()
            with tr.span("table.first_query"):
                pdf = (
                    emitted.filter(F.col("user_id") >= 0)
                    .groupBy("user_id")
                    .agg(F.sum("n_events").alias("n_events"))
                    .toPandas()
                )
        t2 = time.perf_counter()

        res = PassResult(t2 - t0, t1 - t0, t2 - t1, inputs["events"])
        got = {int(r.user_id): int(r.n_events) for r in pdf.itertuples()}
        if got != inputs["ref"]:
            bad = [u for u in set(got) | set(inputs["ref"]) if got.get(u) != inputs["ref"].get(u)]
            res.failed = 1
            log(f"stateful_ttl {tag}: INCORRECT: {len(bad)} users' summed counts differ")
        if traced:
            tr.add_epochs(progress, drain, STATE_PHASES)
            ops = [p.get("stateOperators") or [{}] for p in progress]
            spans = {s["name"]: s for s in tr.spans if s["end"] is not None}
            res.layer = {
                "source.open_s": spans["source.open"]["end"] - spans["source.open"]["start"],
                "source.latestOffset_ms": _progress_sum(progress, "latestOffset"),
                "source.getBatch_ms": _progress_sum(progress, "getBatch"),
                "state.addBatch_ms": _progress_sum(progress, "addBatch"),
                "state.commit_ms": float(sum(o[0].get("commitTimeMs", 0) for o in ops)),
                "state.rows_total_final": float(ops[-1][0].get("numRowsTotal", 0)) if ops else 0.0,
                "state.rows_removed": float(sum(o[0].get("numRowsRemoved", 0) for o in ops)),
                "state.memory_bytes": float(max((o[0].get("memoryUsedBytes", 0) for o in ops), default=0)),
                "table.first_query_s": spans["table.first_query"]["end"] - spans["table.first_query"]["start"],
            }
            res.root = root
        return res


def make(name: str, *a) -> Workload:
    if name == "ingest_ordered":
        return Ingest(*a, scattered=False)
    if name == "ingest_scattered":
        return Ingest(*a, scattered=True)
    if name == "query_mix":
        return QueryMix(*a)
    if name == "stateful_ttl":
        return StatefulTTL(*a)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ingest_ordered", "ingest_scattered", "query_mix", "stateful_ttl")
