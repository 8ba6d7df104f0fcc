"""Tier A pipeline tests: Kinesis-envelope decode → filter → project.

The Kinesis connector isn't installable here, so the decode path is tested
against synthetic Lambda-envelope records (base64 JSON payloads) — the
exact record shape the reference consumed.  The filter/project stages are
the same functions the streaming queries use (batch/stream unification).
"""

from __future__ import annotations

import base64
import json

import pyspark.sql.functions as F

from lambda_arc_events_filter_spark.streaming.pipeline import (
    decode_kinesis_records,
    filter_events,
    project_payload,
)


def _b64(doc: dict) -> str:
    return base64.b64encode(json.dumps(doc).encode()).decode()


EVENTS = [
    {"_id": "a1", "type": "story", "operation": "insert", "published": True,
     "canonical_url": "/news/a1", "body": "x"},
    {"_id": "a2", "type": "story", "operation": "delete", "published": True,
     "canonical_url": "/news/a2", "body": "y"},
    {"_id": "a3", "type": "video", "operation": "insert", "published": False,
     "canonical_url": "/video/a3", "body": "z"},
    {"_id": "a4", "type": "gallery", "operation": "update", "published": True,
     "canonical_url": "/photo/a4", "body": "w"},
]


def _records_df(spark):
    rows = [
        (str(i), _b64(doc), f"pk-{i}")
        for i, doc in enumerate(EVENTS)
    ]
    return spark.createDataFrame(rows, "sequenceNumber string, data string, partitionKey string")


def test_decode_parses_envelope(spark):
    out = decode_kinesis_records(_records_df(spark))
    rows = {r["event"]["_id"]: r["event"] for r in out.collect()}
    assert len(rows) == 4
    assert rows["a1"]["type"] == "story"
    assert rows["a3"]["published"] is False
    assert rows["a4"]["operation"] == "update"


def test_filter_types_ops_published(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    kept = filter_events(
        decoded,
        types=["story", "gallery"],
        operations=["insert", "update"],
        published=True,
    )
    ids = sorted(r["event"]["_id"] for r in kept.collect())
    assert ids == ["a1", "a4"]  # a2 is a delete, a3 is unpublished video


def test_filter_extra_predicate(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    kept = filter_events(
        decoded, extra=F.col("event.canonical_url").startswith("/news")
    )
    ids = sorted(r["event"]["_id"] for r in kept.collect())
    assert ids == ["a1", "a2"]


def test_project_strips_envelope(spark):
    decoded = decode_kinesis_records(_records_df(spark))
    out = project_payload(decoded)
    assert set(out.columns) == {
        "_id", "type", "operation", "canonical_url", "published",
        "publish_date", "body",
    }
    assert out.count() == 4


def test_malformed_payload_yields_null_event(spark):
    bad = spark.createDataFrame(
        [("0", base64.b64encode(b"not json{{").decode(), "pk")],
        "sequenceNumber string, data string, partitionKey string",
    )
    out = decode_kinesis_records(bad).collect()
    # from_json is PERMISSIVE: malformed record → null struct, no crash —
    # the pipeline-level dead-letter behavior (filter event IS NULL routes it)
    assert out[0]["event"] is None or all(
        v is None for v in out[0]["event"].asDict().values()
    )


def test_compaction_reduces_file_count(spark, sf_dir):
    """compact_parquet_dir bin-packs a 64-file directory into
    ceil(bytes/target) files and loses no rows."""
    import glob
    import os

    from lambda_arc_events_filter_spark.queries.sources_q import (
        _small_files_events,
        compact_parquet_dir,
    )

    src = _small_files_events(spark, sf_dir)
    n_src = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_src == 64
    dst = compact_parquet_dir(spark, src, target_file_bytes=4 * 1024 * 1024)
    n_dst = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert 1 <= n_dst < 8, n_dst
    assert (
        spark.read.parquet(dst).count() == spark.read.parquet(src).count()
    )


def test_ingest_compaction_path_is_lossless(spark, sf_dir, monkeypatch):
    """catalog's ingest compaction (multi-row-group rewrite) must return
    byte-identical data to the raw fixture scan, at every table it
    rewrites — and the env kill-switch must bypass it."""
    from lambda_arc_events_filter_spark import catalog

    for table in ("events", "lineitem"):
        monkeypatch.setenv("SPARK_GRAFT_INGEST", "0")
        raw = catalog._load_uncached(spark, sf_dir, table)
        monkeypatch.setenv("SPARK_GRAFT_INGEST", "1")
        compacted = catalog._load_uncached(spark, sf_dir, table)
        assert raw.schema == compacted.schema
        assert raw.exceptAll(compacted).count() == 0
        assert compacted.exceptAll(raw).count() == 0


def test_catalog_handles_both_ts_units(spark, tmp_path):
    """Fixture generations have shipped events.ts as TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS); catalog owns the one rule that reads both.
    Synthesize both layouts and read each through every events read
    path — catalog.load, events_stream, the events_replay source and the
    events_stream_chunks connector's reader — asserting identical
    (event_id, ts) rows.  The ns layout carries one value with sub-µs
    digits, which every path must round down to the µs like catalog does
    (the connector's safe cast once raised ArrowInvalid on it)."""
    import datetime as dt
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lambda_arc_events_filter_spark import catalog
    from lambda_arc_events_filter_spark.sources import pyds
    from lambda_arc_events_filter_spark.sources.streams import (
        events_stream,
        run_to_memory,
    )

    ts = [
        dt.datetime(2024, 1, 1, 10, 0, 0, 123456),
        dt.datetime(2024, 1, 2, 11, 30, 0, 654321),
    ]
    epoch = dt.datetime(1970, 1, 1)
    epoch_us = [(t - epoch) // dt.timedelta(microseconds=1) for t in ts]
    raw = {
        "us": epoch_us + [1_700_000_000_000_000],
        "ns": [u * 1000 for u in epoch_us] + [1_700_000_000_000_000_001],
    }
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([7, 8, 9], pa.int64()),
        "event_type": pa.array(["view", "purchase", "view"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "props": pa.array(['{"k": 1}', '{"k": 2}', '{"k": 3}']),
    }
    pyds.register(spark, pyds.make_events_replay_datasource)

    def rows(df):
        return sorted(
            (r.event_id, r.ts) for r in df.select("event_id", "ts").collect()
        )

    def chunk_rows(path):
        chunks = pyds.make_events_stream_chunks_datasource()
        reader = chunks(options={"path": path}).simpleStreamReader(None)
        it, _ = reader.read(reader.initialOffset())
        return sorted(
            (eid, epoch + dt.timedelta(microseconds=us)) for eid, us, _, _ in it
        )

    loaded = {}
    for unit in ("us", "ns"):
        d = str(tmp_path / f"sf_{unit}")
        os.makedirs(d)
        path = os.path.join(d, "events.parquet")
        table = pa.table(
            {
                "event_id": cols["event_id"],
                "ts": pa.array(raw[unit], pa.timestamp(unit)),
                "user_id": cols["user_id"],
                "event_type": cols["event_type"],
                "value": cols["value"],
                "props": cols["props"],
            }
        )
        # store_schema=False forces the physical unit into the footer
        pq.write_table(table, path, store_schema=False)
        assert pq.read_schema(path).field("ts").type == pa.timestamp(unit)
        replay = (
            spark.read.format("events_replay")
            .schema(catalog.events_read_schema(spark, path))
            .option("path", path)
            .load()
        )
        reads = {
            "catalog.load": rows(catalog.load(spark, d, "events")),
            "events_stream": rows(run_to_memory(events_stream(spark, d))),
            "events_replay": rows(catalog.with_event_ts(replay)),
            "events_stream_chunks": chunk_rows(path),
        }
        shutil.rmtree(d)
        for name, got in reads.items():
            assert got == reads["catalog.load"], (unit, name, reads)
        loaded[unit] = reads["catalog.load"]
    assert loaded["us"] == loaded["ns"], loaded
    assert loaded["us"][0][1] == ts[0]


def test_filter_empty_allowlist_matches_nothing(spark):
    """None = predicate not configured (no filter); EMPTY allowlist =
    match nothing.  A deconfigured allowlist must fail closed, not
    silently forward every event (round-8 review)."""
    decoded = decode_kinesis_records(_records_df(spark))
    assert filter_events(decoded, types=[]).count() == 0
    assert filter_events(decoded, operations=[]).count() == 0
    assert filter_events(decoded, types=None).count() == decoded.count()
