"""The benchmark's workloads. Each drives the engine only through its public
entry points (``CdcPipeline.start/run_to_completion/apply_batch``,
``LakeTable.merge_events/read``, ``normalize_json``, ``read_lineage``).

A workload has a ``setup()`` (feed generation or cache check, warm-up and
base image; its wall is ``setup_s``) and a ``measure(tracer)`` that runs
the timed part once on fresh state and returns a :class:`Pass`. Every
loop is closed: the next trigger or batch starts only after the previous
commit. Sizes are fixed per workload and scale with ``--seconds`` only
through the number of timed units, so the same seed and seconds always
give the same inputs and the same Spark counters.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from nifi_spark import lineage, normalize
from nifi_spark.feedgen import generate_change_feed, materialize_feed
from nifi_spark.schema import KEY_COLS
from nifi_spark.sinks.laketable import LakeTable
from nifi_spark.streaming.job import CdcPipeline

N_BUCKETS = 16
FEED_CACHE_KEEP = 12  # feed directories kept in the cache, newest first


def read_cols() -> list:
    """The oracle's columns, with ``ts`` as epoch microseconds."""
    return ["conv_id", "turn_idx", "role", "text", "tool", F.unix_micros("ts").alias("ts_us")]


@dataclass
class Pass:
    """One timed part and what the harness needs to score and check it."""

    wall: float = 0.0                  # timed wall
    t_from: float = 0.0                # timed window, epoch seconds
    t_to: float = 0.0
    events: int = 0                    # change events applied in the window
    batch_s: list = field(default_factory=list)
    point_s: list = field(default_factory=list)
    scan_s: list = field(default_factory=list)
    progress: list = field(default_factory=list)   # stream durationMs per batch
    unit_rows: dict = field(default_factory=dict)  # batch id -> feed rows it read
    table: str = ""
    table_events: int = 0              # events folded into the table in total
    stored_bytes: int = 0
    failed_reads: int = 0
    mismatch_rows: int = 0
    lineage_ok: bool = True
    lineage_events: int | None = None


def dir_files(path: str) -> dict[str, int]:
    """path -> size of every regular file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    unit_span = "job.apply_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self._n_pass = 0
        self.current_table = ""  # the table the timed part writes (traced file diff)

    # ---------- inputs ----------

    def feed(self, n_conversations: int, n_segments: int) -> list[str]:
        """Seq-contiguous binlog segments, one parquet file each, generated
        from the seed with the generator's default ``events_per_file`` and
        cached under the work directory."""
        key = f"{self.name}-c{n_conversations}-n{n_segments}-s{self.ctx.seed}"
        root = os.path.join(self.ctx.work, "feeds")
        final = os.path.join(root, key)
        if not os.path.exists(os.path.join(final, "_READY")):
            tmp = final + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            df = generate_change_feed(
                self.spark, n_conversations=n_conversations, seed=self.ctx.seed
            ).select("payload_json", "source_file", "source_pos", "seq")
            materialize_feed(df, tmp, n_segments=n_segments)
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
            open(os.path.join(final, "_READY"), "w").close()
            self.ctx.feed_generated = True
            cached = sorted(
                (os.path.getmtime(p), p) for p in glob.glob(os.path.join(root, "*"))
            )
            for _, old in cached[:-FEED_CACHE_KEEP]:
                shutil.rmtree(old, ignore_errors=True)
        files = sorted(glob.glob(os.path.join(final, "part-*.parquet")))
        if len(files) != n_segments:
            raise RuntimeError(f"{final}: {len(files)} segments, expected {n_segments}")
        return files

    def fresh_dir(self, tag: str) -> str:
        self._n_pass += 1
        d = os.path.join(self.ctx.run_dir, f"{tag}{self._n_pass}")
        os.makedirs(d)
        return d

    # ---------- reads and checks shared by the workloads ----------

    def point_read(self, table: LakeTable, conv_id: str, tracer) -> tuple[float, list]:
        t0 = time.time()
        with _maybe_span(tracer, "bench.point_read"):
            rows = table.read().filter(F.col("conv_id") == conv_id).select(*read_cols()).collect()
        return time.time() - t0, sorted(tuple(r) for r in rows)

    def scan_read(self, table: LakeTable, tracer) -> tuple[float, int]:
        t0 = time.time()
        with _maybe_span(tracer, "bench.scan_read"):
            n = table.read().count()
        return time.time() - t0, n

    def check_table(self, p: Pass, table: LakeTable, files: list[str], tracer,
                    with_lineage: bool) -> None:
        with _maybe_span(tracer, "bench.check_read"):
            actual = table.read().select(*read_cols()).toArrow()
        p.mismatch_rows = self.ctx.oracle.mismatch_rows(actual, files)
        if with_lineage:
            lin = lineage.read_lineage(self.spark, table.path)
            p.lineage_events = int(lin.agg(F.sum("n_events")).collect()[0][0] or 0)
            p.lineage_ok = p.lineage_events == p.table_events


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


class _Pipe(CdcPipeline):
    """Keeps the StreamingQuery that ``run_to_completion`` starts, so the
    harness can read its progress reports."""

    query = None

    def start(self, *a, **k):
        self.query = super().start(*a, **k)
        return self.query


class StreamAppend(Workload):
    """availableNow drain, append sink, one segment file per trigger.

    Warm-up: the first ``N_WARM`` segments drain untimed through a separate
    pipeline that compacts every ``WARM_COMPACT_EVERY`` batches, so the JIT
    has seen every code path, compaction included. Timed: the remaining
    segments drain through a fresh pipeline and table with the production
    cadence (``compact_every=16``), so the 16th and last timed batch
    compacts."""

    name = "stream_append"
    N_CONV = 7_600    # ~85k events: ~4.3k events per batch
    N_WARM = 4
    WARM_COMPACT_EVERY = 2
    COMPACT_EVERY = 16

    def setup(self):
        self.n_timed = max(2, round(1.6 * self.ctx.seconds))
        self.files = self.feed(self.N_CONV, self.N_WARM + self.n_timed)
        self.timed_files = self.files[self.N_WARM:]
        self.rows = self.ctx.oracle.rows_per_file(self.files)
        self.ctx.mark("feed")
        self._pending = self._prepare()

    def _pipeline(self, compact_every: int):
        d = self.fresh_dir("stream")
        src = os.path.join(d, "src")
        os.makedirs(src)
        pipe = _Pipe(
            self.spark, os.path.join(d, "table"), os.path.join(d, "ckpt"),
            n_buckets=N_BUCKETS, from_json_payload=True, sink_mode="append",
            compact_every=compact_every,
        )
        return pipe, src

    @staticmethod
    def _link(src: str, files: list[str]) -> None:
        # mtimes in segment order: the file source takes files oldest first
        now = time.time()
        for i, f in enumerate(files):
            dst = os.path.join(src, f"seg-{i:05d}.parquet")
            shutil.copyfile(f, dst)
            os.utime(dst, (now + i, now + i))

    def _prepare(self):
        warm, src = self._pipeline(self.WARM_COMPACT_EVERY)
        self._link(src, self.files[: self.N_WARM])
        warm.run_to_completion(src, max_files_per_trigger=1)
        pipe, src = self._pipeline(self.COMPACT_EVERY)
        self._link(src, self.timed_files)
        return pipe, src

    def measure(self, tracer=None) -> Pass:
        pipe, src = self._pending or self._prepare()
        self._pending = None
        p = Pass(table=pipe.table.path)
        self.current_table = p.table
        p.unit_rows = {i: self.rows[f] for i, f in enumerate(self.timed_files)}
        p.t_from = time.time()
        pipe.run_to_completion(src, max_files_per_trigger=1)
        p.t_to = time.time()
        p.wall = p.t_to - p.t_from
        p.progress = [dict(x["durationMs"], batchId=x["batchId"]) for x in pipe.query.recentProgress]
        if len(p.progress) != len(self.timed_files):
            raise RuntimeError(f"{len(p.progress)} batches for {len(self.timed_files)} segments")
        p.batch_s = [x["triggerExecution"] / 1000.0 for x in p.progress]
        p.events = p.table_events = sum(p.unit_rows.values())
        p.stored_bytes = sum(dir_files(p.table).values())
        self.ctx.mark("timed")
        self.check_table(p, pipe.table, self.timed_files, tracer, with_lineage=True)
        return p


class BulkUpsert(Workload):
    """One ``merge_events`` of the ``normalize_json``-parsed log tail onto a
    fresh copy of the base image built from the head of the log. Repeated
    ``TRIALS`` times per timed part, after ``WARM_TRIALS`` untimed ones."""

    name = "bulk_upsert"
    unit_span = "laketable.merge_events"
    N_SEG = 10          # head = first 8 segments by seq, tail = last 2 (a 20% slice)
    N_HEAD = 8
    WARM_TRIALS = 2
    TRIALS = 5

    def setup(self):
        # the tail grows with --seconds: ~2.5 s of merge per trial at 10 s
        n_conv = max(2_000, round(self.ctx.seconds * 2_500))
        self.files = self.feed(n_conv, self.N_SEG)
        self.head, self.tail = self.files[: self.N_HEAD], self.files[self.N_HEAD:]
        rows = self.ctx.oracle.rows_per_file(self.files)
        self.tail_rows = sum(rows[f] for f in self.tail)
        self.total_rows = sum(rows.values())
        self.base = os.path.join(self.fresh_dir("base"), "table")
        LakeTable(self.spark, self.base, n_buckets=N_BUCKETS).merge_events(
            normalize.normalize_json(self.spark.read.parquet(*self.head)),
            KEY_COLS, batch_id=0,
        )
        self.base_bytes = sum(dir_files(self.base).values())
        self.tail_df = self.spark.read.parquet(*self.tail)
        for _ in range(self.WARM_TRIALS):
            self._trial(None)

    def _trial(self, tracer) -> tuple[LakeTable, float, float]:
        path = os.path.join(self.fresh_dir("trial"), "table")
        shutil.copytree(self.base, path)
        before = dir_files(path)
        self.current_table = path
        table = LakeTable(self.spark, path, n_buckets=N_BUCKETS)
        t0 = time.time()
        table.merge_events(
            normalize.normalize_json(self.tail_df), KEY_COLS, batch_id=1
        )
        t1 = time.time()
        added = {k: v for k, v in dir_files(path).items() if k not in before}
        self.last_added_bytes = sum(added.values())
        return table, t0, t1

    def measure(self, tracer=None) -> Pass:
        p = Pass()
        for _ in range(self.TRIALS):
            table, t0, t1 = self._trial(tracer)
            p.t_from = p.t_from or t0
            p.t_to = t1
            p.batch_s.append(t1 - t0)
            p.unit_rows[len(p.batch_s)] = self.tail_rows
        p.wall = sum(p.batch_s)
        p.events = self.TRIALS * self.tail_rows
        p.table = table.path
        p.table_events = self.total_rows
        p.stored_bytes = self.base_bytes + self.last_added_bytes
        self.check_table(p, table, self.files, tracer, with_lineage=False)
        return p


class IngestRead(Workload):
    """Closed loop: ``apply_batch`` (append sink) of one segment, then one
    point read of a seeded conv_id touched by that segment and one full
    live-row count, each checked against the oracle state after that
    batch. Runs a little over one compaction cycle."""

    name = "ingest_read"
    N_CONV = 6_000      # ~67k events: ~6.7k events per batch
    N_WARM = 2
    COMPACT_EVERY = 6

    def setup(self):
        self.n_timed = max(2, round(0.6 * self.ctx.seconds))
        n = self.N_WARM + self.n_timed
        self.files = self.feed(self.N_CONV, n)
        oracle = self.ctx.oracle
        self.rows = oracle.rows_per_file(self.files)
        rng = random.Random(self.ctx.seed)
        self.expect = []
        for b in range(n):
            prefix = self.files[: b + 1]
            cid = oracle.pick_conv(self.files[b], rng)
            self.expect.append((cid, oracle.conv_rows(prefix, cid), oracle.live_rows(prefix)))
        self.batches = [self.spark.read.parquet(f) for f in self.files]
        self._pending = self._prepare()

    def _prepare(self):
        d = self.fresh_dir("ingest")
        pipe = CdcPipeline(
            self.spark, os.path.join(d, "table"), os.path.join(d, "ckpt"),
            n_buckets=N_BUCKETS, from_json_payload=True, sink_mode="append",
            compact_every=self.COMPACT_EVERY,
        )
        scratch = Pass()
        for b in range(self.N_WARM):
            self._step(pipe, b, scratch, None)
        return pipe

    def _step(self, pipe, b: int, p: Pass, tracer) -> None:
        cid, rows, live = self.expect[b]
        t0 = time.time()
        pipe.apply_batch(self.batches[b], b)
        p.batch_s.append(time.time() - t0)
        dt, got = self.point_read(pipe.table, cid, tracer)
        p.point_s.append(dt)
        p.failed_reads += got != rows
        dt, n = self.scan_read(pipe.table, tracer)
        p.scan_s.append(dt)
        p.failed_reads += n != live

    def measure(self, tracer=None) -> Pass:
        pipe = self._pending or self._prepare()
        self._pending = None
        p = Pass(table=pipe.table.path)
        self.current_table = p.table
        p.t_from = time.time()
        for b in range(self.N_WARM, self.N_WARM + self.n_timed):
            self._step(pipe, b, p, tracer)
            p.unit_rows[b] = self.rows[self.files[b]]
        p.t_to = time.time()
        p.wall = p.t_to - p.t_from
        p.events = sum(p.unit_rows.values())
        p.table_events = sum(self.rows.values())
        p.stored_bytes = sum(dir_files(p.table).values())
        self.check_table(p, pipe.table, self.files, tracer, with_lineage=True)
        return p


WORKLOADS = {w.name: w for w in (StreamAppend, BulkUpsert, IngestRead)}
