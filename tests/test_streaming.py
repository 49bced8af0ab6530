"""Streaming tests: change feed parity + streaming ingest into the
versioned store (availableNow trigger) + watermarked windowed aggs."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore
from sirix_spark.streaming import change_feed, stream_ingest, windowed_event_counts


def test_change_feed(spark, tmp_path):
    store = VersionedStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.store("db", "r", df, key="id")
    store.replace_where("db", "r", F.col("record_key") == 1, {"v": "a2"})
    store.delete_where("db", "r", F.col("record_key") == 2)

    feed = change_feed(store, "db", "r", 1, 3).collect()
    by = {(r["revision"], r["record_key"]): r["op"] for r in feed}
    assert by == {(2, 1): "update", (3, 2): "delete"}


def test_stream_ingest_commits_revisions(spark, tmp_path):
    store = VersionedStore(spark, str(tmp_path / "store"))
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "b1.json").write_text(
        "\n".join(json.dumps({"id": i, "v": f"v{i}"}) for i in (1, 2))
    )
    q = stream_ingest(
        spark, store, str(inbox), "id long, v string", "db", "events", "id",
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    assert store.latest_revision("db", "events") == 1
    assert store.doc("db", "events").count() == 2

    # second file → second micro-batch → revision 2
    (inbox / "b2.json").write_text(json.dumps({"id": 3, "v": "v3"}))
    q2 = stream_ingest(
        spark, store, str(inbox), "id long, v string", "db", "events", "id",
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(60)
    assert store.latest_revision("db", "events") == 2
    assert store.doc("db", "events").count() == 3
    # time travel still works over stream-committed revisions
    assert store.doc("db", "events", revision=1).count() == 2


def test_stream_batch_with_repeated_key_commits_nothing(spark, tmp_path):
    """A micro-batch is one commit, and a commit holds each key at
    most once: a batch that repeats one fails the query and leaves the
    head where it was."""
    from pyspark.errors import StreamingQueryException

    store = VersionedStore(spark, str(tmp_path / "store"))
    store.store("db", "events", spark.createDataFrame([(1, "v1")], "id long, v string"), key="id")
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "b1.json").write_text(
        "\n".join(json.dumps({"id": 2, "v": v}) for v in ("a", "b"))
    )
    q = stream_ingest(
        spark, store, str(inbox), "id long, v string", "db", "events", "id",
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="record_key 2 occurs twice"):
        q.awaitTermination(60)
    assert store.latest_revision("db", "events") == 1


def test_windowed_counts_batch_parity(spark, sf_dir):
    from sirix_spark.tables import load

    ev = load(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 day")
    rows = out.collect()
    assert sum(r["cnt"] for r in rows) == ev.count()
    # window bounds are day-aligned
    assert all(r["window_start"].hour == 0 for r in rows)


def test_stream_dedup_exact_and_content(spark, tmp_path):
    """Streaming dedup drops re-deliveries within the watermark; the
    batch form of the same operator is the differential oracle."""
    from sirix_spark.streaming.dedup import dedup_stream_content, dedup_stream_exact

    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "text": "Hello  World"},
        {"event_id": 1, "ts": "2024-01-01T10:00:05", "text": "hello world"},  # redelivery
        {"event_id": 2, "ts": "2024-01-01T10:01:00", "text": "hello world "},  # same content
        {"event_id": 3, "ts": "2024-01-01T10:02:00", "text": "different doc"},
    ]
    inbox = tmp_path / "in"
    inbox.mkdir()
    (inbox / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "event_id long, ts timestamp, text string"

    def drain(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}").collect()

    stream = spark.readStream.schema(schema).json(str(inbox))
    got = drain(dedup_stream_exact(stream, ["event_id"]), "dedup_exact_out")
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]

    stream2 = spark.readStream.schema(schema).json(str(inbox))
    got2 = drain(dedup_stream_content(stream2), "dedup_content_out")
    assert sorted(r["event_id"] for r in got2) == [1, 3]

    # batch parity: same operators on a static frame
    batch = spark.read.schema(schema).json(str(inbox))
    assert dedup_stream_exact(batch, ["event_id"]).count() == 3
    assert dedup_stream_content(batch).count() == 2
