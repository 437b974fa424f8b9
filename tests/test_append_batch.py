"""Append micro-batch (``sink_mode="append"``): the per-source-file
aggregation that runs alongside the delta write is the single source of
the batch counts, the lineage offset ranges and the touched buckets. These
tests pin its exactness per (batch, source file), that a driver-local batch
never blocks, and the failure ordering around the commit."""

import os
import threading
import time

import pandas as pd
import pytest

from nifi_spark.feedgen import generate_change_feed, materialize_feed
from nifi_spark.lineage import lineage_audit, read_lineage
from nifi_spark.streaming.job import CdcPipeline

from .oracle import assert_final_state_equal, pandas_fold

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _assert_lineage_exact(spark, table_path, batches: dict) -> None:
    """Lineage rows equal a pandas groupBy of each batch's good rows, per
    (batch_id, source_file), and the audit finds no gap or overlap."""
    exp = []
    for bid, df in batches.items():
        good = df[~df["op"].isin(["ddl", "C", "B"])]
        g = good.groupby("source_file").agg(
            min_pos=("source_pos", "min"), max_pos=("source_pos", "max"),
            min_seq=("seq", "min"), max_seq=("seq", "max"),
            n_events=("seq", "size"),
        ).reset_index()
        g.insert(0, "batch_id", bid)
        exp.append(g)
    cols = ["batch_id", "source_file", "min_pos", "max_pos", "min_seq", "max_seq", "n_events"]
    key = ["batch_id", "source_file"]
    want = pd.concat(exp)[cols].sort_values(key).reset_index(drop=True)
    got = (
        read_lineage(spark, table_path).toPandas()[cols]
        .sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert lineage_audit(spark, table_path).count() == 0


def test_append_lineage_exact_per_source_file(spark, tmp_path):
    feed = generate_change_feed(
        spark, n_conversations=30, max_turns=6, max_edits=3, events_per_file=8
    )
    seg_dir = str(tmp_path / "feed")
    materialize_feed(feed, seg_dir, n_segments=3)
    parts = sorted(f for f in os.listdir(seg_dir) if f.endswith(".parquet"))
    # the file source takes files oldest first: one segment per batch, in order
    now = time.time()
    for i, f in enumerate(parts):
        os.utime(os.path.join(seg_dir, f), (now + i, now + i))
    table_path = str(tmp_path / "table")
    p = CdcPipeline(
        spark, table_path, str(tmp_path / "ckpt"), n_buckets=4,
        sink_mode="append", compact_every=2,
    )
    p.run_to_completion(seg_dir, max_files_per_trigger=1)

    batches = {i: pd.read_parquet(os.path.join(seg_dir, f)) for i, f in enumerate(parts)}
    assert max(df["source_file"].nunique() for df in batches.values()) > 1
    _assert_lineage_exact(spark, table_path, batches)
    got = p.table.read().select(*STATE_COLS).toPandas()
    assert_final_state_equal(got, pandas_fold(feed.toPandas()))


def test_append_driver_local_batch_never_blocks(spark, tmp_path):
    """A driver-local batch (a LocalRelation fed straight to apply_batch)
    finishes with exact counts: nothing waits on a metric the write job
    might not emit."""
    def ev(seq, minute, conv):
        return (
            f'{{"type":"I","timestamp":"2024-01-01T01:{minute:02d}:00Z","seq":{seq},'
            f'"conv_id":"{conv}","turn_idx":{seq},"role":"user","text":"t{seq}"}}'
        )

    schema = "payload_json string, source_file string, source_pos long"
    no_key = '{"type":"I","timestamp":"2024-01-01T01:10:00Z","seq":8,"conv_id":"c2"}'
    b0 = [(ev(s, s, "c1"), "binlog.000001", s) for s in range(1, 7)]
    b0 += [("{not json", "binlog.000001", 7), (no_key, "binlog.000001", 8)]
    # watermark after b0: 01:06 with a 60 s delay, so events before 01:05 are late
    b1 = [(ev(s, s - 9, "c3"), "binlog.000002", s) for s in range(9, 12)]
    b1 += [(ev(s, s + 30, "c3"), "binlog.000002", s) for s in range(12, 14)]
    b1 += [("{", "binlog.000002", 14)]
    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=4,
        sink_mode="append", from_json_payload=True, watermark_delay_s=60,
    )
    out: list = []

    def run():
        try:
            for bid, rows in enumerate((b0, b1)):
                out.append(p.apply_batch(spark.createDataFrame(rows, schema), bid))
        except BaseException as e:
            out.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "apply_batch blocked on a driver-local batch"
    assert not any(isinstance(m, BaseException) for m in out), out
    (m0, m1) = out
    assert (m0["n_events"], m0["n_dlq"], m0["n_late"]) == (6, 2, 0)
    assert (m1["n_events"], m1["n_dlq"], m1["n_late"]) == (2, 1, 3)


def _two_batches(spark):
    feed = generate_change_feed(
        spark, n_conversations=12, max_turns=4, max_edits=2, events_per_file=8
    ).drop("payload_json")
    pdf = feed.toPandas()
    cut = int(pdf["seq"].median())
    halves = [pdf[pdf["seq"] <= cut], pdf[pdf["seq"] > cut]]
    frames = [spark.createDataFrame(h, feed.schema) for h in halves]
    return pdf, halves, frames


@pytest.mark.parametrize("fail_batch", [0, 1], ids=["first_commit", "later_commit"])
def test_append_aggregation_failure_commits_nothing(spark, tmp_path, fail_batch):
    """A failed per-file aggregation fails the batch before the manifest
    commit (the initial commit included) and writes no lineage; a replay
    on a fresh pipeline then yields the oracle state and exact lineage."""
    pdf, halves, frames = _two_batches(spark)
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    p = CdcPipeline(spark, table_path, ckpt, n_buckets=4, sink_mode="append")
    for bid in range(fail_batch):
        p.apply_batch(frames[bid], bid)
    v_before = p.table.current_version()

    def boom(flagged):
        raise RuntimeError("per-file aggregation failed")

    p._per_file = boom
    with pytest.raises(RuntimeError, match="per-file aggregation failed"):
        p.apply_batch(frames[fail_batch], fail_batch)
    assert p.table.current_version() == v_before
    lin = read_lineage(spark, table_path).toPandas()
    assert fail_batch not in set(lin["batch_id"])

    replay = CdcPipeline(spark, table_path, ckpt, n_buckets=4, sink_mode="append")
    for bid in range(fail_batch, 2):
        m = replay.apply_batch(frames[bid], bid)
        assert m["version"] is not None
    got = replay.table.read().select(*STATE_COLS).toPandas()
    assert_final_state_equal(got, pandas_fold(pdf))
    _assert_lineage_exact(spark, table_path, dict(enumerate(halves)))


def test_append_write_failure_surfaces_after_joining_aggregation(spark, tmp_path):
    """When the delta write raises, the running aggregation is joined
    before the error leaves apply_batch, and the write's error is the one
    raised, not the aggregation's."""
    _, _, frames = _two_batches(spark)
    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=4,
        sink_mode="append",
    )
    p.apply_batch(frames[0], 0)
    v_before = p.table.current_version()
    agg_done = threading.Event()

    def slow_failing_agg(flagged):
        time.sleep(1.0)
        agg_done.set()
        raise RuntimeError("aggregation error")

    def failing_write(*a, **k):
        raise OSError("delta write failed")

    p._per_file = slow_failing_agg
    p.table._write_flat = failing_write
    with pytest.raises(OSError, match="delta write failed"):
        p.apply_batch(frames[1], 1)
    assert agg_done.is_set()
    assert p.table.current_version() == v_before
