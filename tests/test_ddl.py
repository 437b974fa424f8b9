"""Tests: in-stream DDL events → metadata-only schema evolution.

Reference semantics: CaptureChangeMySQL forwards binlog DDL events when
INCLUDE_DDL_EVENTS is set (CaptureChangeMySQL.java:353-362, :985-1008);
UpdateDatabaseTable applies ALTER TABLE ADD COLUMN downstream
(UpdateDatabaseTable.java:506-541). Here op='ddl' events carry the
statement in `text` and route to LakeTable.evolve inside the batch loop.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_spark.feedgen import generate_change_feed, materialize_feed, with_ddl
from nifi_spark.sinks.laketable import (
    LakeTable,
    SchemaEvolutionError,
    parse_ddl_add_columns,
)
from nifi_spark.streaming.job import CdcPipeline

from .oracle import assert_final_state_equal, pandas_fold


def test_parse_ddl_add_columns():
    out = parse_ddl_add_columns(
        "ALTER TABLE conversations ADD COLUMNS (note string, score double)"
    )
    assert out == {"note": T.StringType(), "score": T.DoubleType()}
    out = parse_ddl_add_columns("alter table t add column amt decimal(10,2);")
    assert out == {"amt": T.DecimalType(10, 2)}
    with pytest.raises(ValueError):
        parse_ddl_add_columns("DROP TABLE conversations")
    with pytest.raises(ValueError):
        parse_ddl_add_columns("ALTER TABLE t ADD COLUMN x sometype")


def test_evolve_metadata_only(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.createDataFrame(
        [("k1", 0, "hello", 1)],
        "conv_id string, turn_idx int, text string, seq long",
    )
    t.merge_events(
        df.withColumn("op", F.lit("I")), ["conv_id", "turn_idx"], batch_id=0
    )
    v1 = t.current_version()

    v2 = t.evolve({"note": T.StringType()})
    assert v2 == v1 + 1
    assert "note" in [f.name for f in t.schema().fields]
    # old rows null-fill, no data file was rewritten (manifest has no files)
    row = t.read().collect()[0]
    assert row["text"] == "hello" and row["note"] is None
    assert t._manifest(v2)["files"] == {}
    # replaying the same DDL is a no-op
    assert t.evolve({"note": T.StringType()}) is None
    # incompatible type for an existing column raises
    with pytest.raises(SchemaEvolutionError):
        t.evolve({"text": T.LongType()})


def _run(p, feed_dir):
    q = p.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q.awaitTermination()


@pytest.mark.parametrize("sink_mode", ["merge", "append"])
def test_pipeline_ddl_event_evolves_schema(spark, tmp_path, sink_mode):
    """A DDL event arriving mid-stream adds the column; data keeps
    flowing; final state is unaffected by the DDL row (it never reaches
    the merge or the DLQ)."""
    feed = generate_change_feed(spark, n_conversations=20, max_turns=5, max_edits=3)
    max_seq = feed.agg(F.max("seq")).collect()[0][0]
    fed = with_ddl(
        spark, feed,
        [(int(max_seq) + 1000, "ALTER TABLE conversations ADD COLUMN note string")],
    )
    feed_dir = str(tmp_path / ("feed_" + sink_mode))
    materialize_feed(fed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / ("table_" + sink_mode)),
        str(tmp_path / ("ckpt_" + sink_mode)),
        n_buckets=8, sink_mode=sink_mode, from_json_payload=True,
    )
    _run(p, feed_dir)

    assert "note" in [f.name for f in p.table.schema().fields]
    got = (
        p.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, pandas_fold(feed.toPandas()))
    # the DDL row never landed in the DLQ
    assert not os.path.exists(os.path.join(p.table_path, "_dlq"))


JSON_BATCH = "payload_json string, source_file string, source_pos long"
BAD_ROWS = [("{not json", "binlog.bad", i) for i in range(3)]
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _ddl_batches(spark):
    """Two JSON-payload batches of one feed, each carrying events and one
    ADD COLUMN statement; the first batch creates the table."""
    feed = generate_change_feed(spark, n_conversations=12, max_turns=4, max_edits=2)
    pdf = feed.toPandas()
    cut, top = int(pdf["seq"].median()), int(pdf["seq"].max())
    fed = with_ddl(spark, feed, [
        (top + 1, "ALTER TABLE conversations ADD COLUMN note string"),
        (top + 2, "ALTER TABLE conversations ADD COLUMN score bigint"),
    ])
    rows = fed.select("seq", "payload_json", "source_file", "source_pos").collect()
    first = lambda r: r.seq <= cut or r.seq == top + 1  # noqa: E731
    batches = [
        spark.createDataFrame(
            [tuple(r)[1:] for r in rows if first(r) == is_first], JSON_BATCH
        )
        for is_first in (True, False)
    ]
    return pdf, batches


@pytest.mark.parametrize("case", ["merge", "append", "append_all_bad"])
def test_evolve_failure_commits_nothing_and_replay_adds_column(
    spark, tmp_path, monkeypatch, case
):
    """A raise inside ``LakeTable.evolve`` fails its batch with nothing
    committed, in both sink modes and on the table's first commit too, so
    a replay on a fresh pipeline adds the column and the table equals the
    fold. An all-bad append batch, on an empty and on an existing table,
    lands in the DLQ and commits nothing."""
    pdf, ddl_batches = _ddl_batches(spark)
    bad = spark.createDataFrame(BAD_ROWS, JSON_BATCH)
    batches = [bad, *ddl_batches, bad] if case == "append_all_bad" else ddl_batches
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    sink_mode = "merge" if case == "merge" else "append"

    def pipe():
        return CdcPipeline(
            spark, table_path, ckpt, n_buckets=4, sink_mode=sink_mode,
            from_json_payload=True,
        )

    def head():
        t = LakeTable(spark, table_path)
        return t.current_version() if t.exists() else None

    real_evolve = LakeTable.evolve

    def evolve_fails_once(self, add_columns, extra_summary=None):
        monkeypatch.setattr(LakeTable, "evolve", real_evolve)
        raise OSError("evolve failed")

    for bid, batch in enumerate(batches):
        v_before = head()
        if batch is bad:
            m = pipe().apply_batch(batch, bid)
            assert (m["version"], m["n_dlq"]) == (None, len(BAD_ROWS))
            assert head() == v_before
            continue
        monkeypatch.setattr(LakeTable, "evolve", evolve_fails_once)
        with pytest.raises(OSError, match="evolve failed"):
            pipe().apply_batch(batch, bid)
        assert head() == v_before
        assert pipe().apply_batch(batch, bid)["version"] is not None

    t = LakeTable(spark, table_path)
    assert {"note", "score"} <= {f.name for f in t.schema().fields}
    got = t.read().select(*STATE_COLS).toPandas()
    assert_final_state_equal(got, pandas_fold(pdf))
    if case == "append_all_bad":
        dlq = spark.read.parquet(os.path.join(table_path, "_dlq")).collect()
        assert sorted(r.batch_id for r in dlq) == [0] * 3 + [3] * 3
