"""Streaming ingestion tests: AvailableNow drain over a JSON drop dir,
checkpointed exactly-once bookkeeping, idempotent upsert on replayed
input, and the watermark+window aggregation over a streamed events table.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.catalog import load_table
from spacex_data_engineering_pipeline_spark.plans.aggregations import AggregationService
from spacex_data_engineering_pipeline_spark.streaming.incremental import (
    run_streaming_ingestion,
    windowed_event_counts,
)


def _write_batch(dir_path, name, rows):
    (dir_path / name).write_text("\n".join(json.dumps(r) for r in rows))


def test_streaming_ingestion_availablenow(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    payloads = spark.createDataFrame(
        [("p1", "P1", 100.0), ("p2", "P2", 250.0)],
        "payload_id string, name string, mass_kg double",
    )
    args = dict(
        input_json_dir=str(in_dir),
        payloads=payloads,
        launches_path=str(tmp_path / "launches.pq"),
        snapshots_path=str(tmp_path / "snaps.pq"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _write_batch(
        in_dir,
        "batch1.json",
        [
            {"launch_id": "l1", "mission_name": "M1", "date_utc": "2022-01-01T00:00:00Z",
             "success": True, "payload_ids": ["p1"], "launchpad_id": "padA",
             "static_fire_date_utc": None},
            {"launch_id": "l2", "mission_name": "M2", "date_utc": "2022-02-01T00:00:00Z",
             "success": None, "payload_ids": ["p1", "p2"], "launchpad_id": "padB",
             "static_fire_date_utc": "2022-01-30T00:00:00Z"},
        ],
    )
    run_streaming_ingestion(spark, **args)
    t1 = {r.launch_id: r for r in spark.read.parquet(args["launches_path"]).collect()}
    assert len(t1) == 2
    assert t1["l1"].total_payload_mass_kg == 100.0
    assert t1["l2"].total_payload_mass_kg == 350.0

    # second drop: an update for l2 (success resolved) + a new launch
    _write_batch(
        in_dir,
        "batch2.json",
        [
            {"launch_id": "l2", "mission_name": "M2", "date_utc": "2022-02-01T00:00:00Z",
             "success": True, "payload_ids": ["p1", "p2"], "launchpad_id": "padB",
             "static_fire_date_utc": "2022-01-30T00:00:00Z"},
            {"launch_id": "l3", "mission_name": "M3", "date_utc": "2022-03-01T00:00:00Z",
             "success": False, "payload_ids": [], "launchpad_id": "padA",
             "static_fire_date_utc": None},
        ],
    )
    run_streaming_ingestion(spark, **args)
    t2 = {r.launch_id: r for r in spark.read.parquet(args["launches_path"]).collect()}
    assert len(t2) == 3  # checkpoint skipped batch1; upsert updated l2
    assert t2["l2"].success is True
    assert t2["l3"].total_payload_mass_kg is None  # no payloads → NULL

    # re-run with NO new files: checkpoint makes it a no-op
    run_streaming_ingestion(spark, **args)
    assert spark.read.parquet(args["launches_path"]).count() == 3
    snaps = AggregationService(spark, args["snapshots_path"]).history(10).collect()
    assert len(snaps) == 2  # one snapshot per non-empty micro-batch
    assert snaps[0].total_launches == 3


def test_streaming_ingestion_resumes_flat_table(spark, tmp_path):
    """A launches table written FLAT by an earlier deployment must keep
    working when the stream resumes under the partitioned default — the
    partitioned merge would reference launch_year, which a flat table
    lacks (AnalysisException); layout detection falls back to the flat
    upsert."""
    payloads = spark.createDataFrame(
        [("p1", "P1", 100.0)], "payload_id string, name string, mass_kg double"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    args = dict(
        input_json_dir=str(in_dir),
        payloads=payloads,
        launches_path=str(tmp_path / "launches.pq"),
        snapshots_path=str(tmp_path / "snaps.pq"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # seed batch under the FLAT layout
    _write_batch(
        in_dir,
        "batch1.json",
        [
            {"launch_id": "l1", "mission_name": "M1", "date_utc": "2022-01-01T00:00:00Z",
             "success": True, "payload_ids": ["p1"], "launchpad_id": "padA",
             "static_fire_date_utc": None},
        ],
    )
    run_streaming_ingestion(spark, partition_by_year=False, **args)
    import os

    assert not any(
        e.startswith("launch_year=") for e in os.listdir(args["launches_path"])
    )
    # resume under the partitioned DEFAULT: must not raise, must upsert
    _write_batch(
        in_dir,
        "batch2.json",
        [
            {"launch_id": "l2", "mission_name": "M2", "date_utc": "2023-02-01T00:00:00Z",
             "success": False, "payload_ids": [], "launchpad_id": "padB",
             "static_fire_date_utc": None},
        ],
    )
    run_streaming_ingestion(spark, **args)
    rows = {r.launch_id for r in spark.read.parquet(args["launches_path"]).collect()}
    assert rows == {"l1", "l2"}


def test_streaming_layout_detection_heals_aside_and_empty_dir(spark, tmp_path):
    """Two states that must NOT be misread as a flat table: (a) a crash
    that parked every launch_year= dir aside as _old_part_* — the flat
    route would skip the partitioned upsert's repair and read a table
    missing partitions forever; (b) a pre-created empty dir — it's
    'no table yet', so batch 0 takes the partitioned layout."""
    import os

    payloads = spark.createDataFrame(
        [("p1", "P1", 100.0)], "payload_id string, name string, mass_kg double"
    )

    def mk_args(name):
        in_dir = tmp_path / f"in_{name}"
        in_dir.mkdir()
        return dict(
            input_json_dir=str(in_dir),
            payloads=payloads,
            launches_path=str(tmp_path / f"launches_{name}.pq"),
            snapshots_path=str(tmp_path / f"snaps_{name}.pq"),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        ), in_dir

    rec = {"launch_id": "l1", "mission_name": "M1",
           "date_utc": "2022-01-01T00:00:00Z", "success": True,
           "payload_ids": ["p1"], "launchpad_id": "padA",
           "static_fire_date_utc": None}

    # (a) crash-parked aside: seed a partitioned table, park its only
    # partition aside as the swap's crash window would, then resume
    args, in_dir = mk_args("aside")
    _write_batch(in_dir, "b1.json", [rec])
    run_streaming_ingestion(spark, **args)
    lp = args["launches_path"]
    victim = next(e for e in os.listdir(lp) if e.startswith("launch_year="))
    os.replace(
        os.path.join(lp, victim),
        os.path.join(lp, "_old_part_" + victim.replace("=", "%3D")),
    )
    _write_batch(in_dir, "b2.json", [dict(rec, launch_id="l2",
                                          date_utc="2023-05-01T00:00:00Z")])
    run_streaming_ingestion(spark, **args)
    assert victim in os.listdir(lp), "aside must be healed, not misread as flat"
    got = {r.launch_id for r in spark.read.parquet(lp).collect()}
    assert got == {"l1", "l2"}

    # (b) pre-created empty dir: batch 0 must land PARTITIONED
    args2, in_dir2 = mk_args("empty")
    os.makedirs(args2["launches_path"])
    _write_batch(in_dir2, "b1.json", [rec])
    run_streaming_ingestion(spark, **args2)
    assert any(
        e.startswith("launch_year=") for e in os.listdir(args2["launches_path"])
    ), "empty dir must take the partitioned layout, not flat-forever"


def test_windowed_event_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    """Run the windowed agg as a REAL stream (file source over the events
    parquet, AvailableNow) and compare with the batch catalog query."""
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    events = load_table(spark, sf_dir, "events")
    events.write.parquet(str(tmp_path / "evstream"), mode="overwrite")
    stream = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "evstream"))
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    expected = {
        r.hour_start: (r.n_events, r.total_value)
        for r in QUERIES["events_hourly_tumbling"](spark, sf_dir).collect()
    }
    assert got == expected


def test_stateful_running_user_stats(spark, sf_dir, tmp_path):
    """applyInPandasWithState keeps per-user state ACROSS micro-batches:
    stream the events table in multiple file-batches and check the final
    per-user stats equal the batch groupBy."""
    from spacex_data_engineering_pipeline_spark.streaming.stateful import (
        running_user_stats,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_batches")
    # four files → four micro-batches with maxFilesPerTrigger=1
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("userstats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per user per touched batch: latest wins
    import pandas as pd  # noqa: F401

    got_df = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
            FROM userstats
        ) WHERE rn = 1
        """
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in got_df.collect()}
    expected = {
        r.user_id: (r.n, round(r.t, 4))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, t) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - t) < 1e-4


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Duplicate events re-delivered within the watermark horizon are
    dropped; the deduped stream equals the batch distinct-by-key."""
    from spacex_data_engineering_pipeline_spark.streaming.dedup import (
        dedup_within_watermark,
    )

    # deterministic subset (limit() without order can pick different
    # rows per evaluation — the self-union would then not be a doubling)
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    # simulate at-least-once redelivery: every event appears twice
    doubled = events.unionByName(events)
    src = str(tmp_path / "dup_events")
    doubled.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        dedup_within_watermark(stream, ["event_id"], "ts", "2 hours")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream").first()
    assert got.n == got.d == events.count()


def test_streaming_dedup_exact(spark, sf_dir, tmp_path):
    from spacex_data_engineering_pipeline_spark.streaming.dedup import dedup_exact_stream

    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    doubled = events.unionByName(events)
    src = str(tmp_path / "dup_exact")
    doubled.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        dedup_exact_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_exact")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_exact"
    ).first()
    # The input's timestamp flavor must survive the operator unchanged —
    # both whatever the catalog surfaces (LTZ under the current micros
    # testdata, NTZ under the earlier nanos testdata) and an explicit NTZ
    # input (keeps the NTZ path covered regardless of testdata vintage).
    in_ts = dict(events.dtypes)["ts"]
    assert dict(dedup_exact_stream(events, ["event_id"]).dtypes)["ts"] == in_ts
    ntz_events = events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(dedup_exact_stream(ntz_events, ["event_id"]).dtypes)["ts"] == "timestamp_ntz"
    assert got.n == got.d == events.count()


def test_streaming_corpus_prep_matches_batch(spark, sf_dir, tmp_path):
    """The streaming corpus-prep (scrub → quality/length gate → exact
    dedup) drained with AvailableNow must keep exactly the docs the
    same expressions keep in batch, with identical scrub metadata."""
    from spacex_data_engineering_pipeline_spark.functions.text import (
        quality_score,
        scrub_pii,
        token_count,
    )
    from spacex_data_engineering_pipeline_spark.streaming.corpus import (
        corpus_prep_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docstream")
    docs.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = corpus_prep_stream(stream, min_quality=0.3, min_tokens=5)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "clean"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "clean"))

    scrubbed, _ = scrub_pii(F.col("text"))
    batch = (
        docs.withColumn("__s", scrubbed)
        .filter(
            (quality_score(F.col("__s")) >= 0.3) & (token_count(F.col("__s")) >= 5)
        )
        .withColumn("__fp", F.xxhash64("__s"))
        .dropDuplicates(["__fp"])
    )
    assert got.count() == batch.count() > 0
    # survivor SET of content fingerprints matches (dedup keeps an
    # arbitrary representative per group on both paths)
    got_fps = {r[0] for r in got.select(F.xxhash64("text")).collect()}
    batch_fps = {r[0] for r in batch.select("__fp").collect()}
    assert got_fps == batch_fps
    # scrub metadata came through the stream
    assert {"quality_score", "n_tokens", "n_scrubbed_email"} <= set(got.columns)


def test_stream_stream_purchase_attribution(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join, drained with
    AvailableNow, must produce exactly the pairs the equivalent batch
    join produces (each purchase × every same-user click in the
    preceding 30 min)."""
    from spacex_data_engineering_pipeline_spark.streaming.joins import (
        attribute_purchases_to_clicks,
    )

    events = load_table(spark, sf_dir, "events")
    clicks_b = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys_b = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks_b.write.parquet(csrc)
    buys_b.write.parquet(psrc)

    out = attribute_purchases_to_clicks(
        spark.readStream.schema(clicks_b.schema).parquet(csrc),
        spark.readStream.schema(buys_b.schema).parquet(psrc),
        attribution_window="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.purchase_user, r.click_ts)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }

    expected = {
        (r.event_id, r.user_id, r.click_ts)
        for r in buys_b.alias("p")
        .join(
            clicks_b.select(
                F.col("user_id").alias("cu"), F.col("ts").alias("click_ts")
            ),
            (F.col("p.user_id") == F.col("cu"))
            & (F.col("click_ts") <= F.col("p.ts"))
            & (F.col("click_ts") >= F.col("p.ts") - F.expr("INTERVAL 30 minutes")),
        )
        .collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_sessionized_user_stats_ttl_evicts_state(spark, tmp_path):
    """Gap-sessionization with EventTimeTimeout: sessions close on
    in-batch gaps OR on timeout once the watermark passes
    last_event + gap; a gap of EXACTLY the horizon starts a new session
    (the batch events_session_windows pin); and — the TTL contract —
    timed-out state is REMOVED, so the final state store is EMPTY."""
    import datetime as dt
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from spacex_data_engineering_pipeline_spark.streaming.event_time import (
        to_instant_for_watermark,
    )
    from spacex_data_engineering_pipeline_spark.streaming.stateful import (
        sessionized_user_stats,
    )

    schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("ts", TimestampType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    # file 0: user 1 two close events; user 2 first event; user 4 first
    # file 1: user 1 after a 40-min gap; user 2 continuation (cross-batch
    #         SAME session); user 4 at EXACTLY +30 min (new session)
    batches = [
        [
            (1, t0, 1.0),
            (1, t0 + 10 * m, 2.0),
            (2, t0 + 5 * m, 10.0),
            (4, t0 + 1 * m, 5.0),
        ],
        [
            (1, t0 + 50 * m, 4.0),
            (2, t0 + 20 * m, 20.0),
            (4, t0 + 31 * m, 6.0),
        ],
        [(-1, dt.datetime(2099, 1, 1), None)],
        [(-1, dt.datetime(2099, 6, 1), None)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(part)
        fname = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch{i:04d}.parquet")
        os.replace(os.path.join(part, fname), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    s, _ = to_instant_for_watermark(stream, "ts")
    s = s.withWatermark("ts", "0 seconds").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        (F.coalesce(F.col("value"), F.lit(0.0)) * 1_000_000)
        .cast("double")
        .alias("value_micros"),
    )
    q = (
        sessionized_user_stats(s, gap_us=30 * 60 * 1_000_000)
        .writeStream.format("memory")
        .queryName("sess_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    us = 60 * 1_000_000
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.total_value_micros)
        for r in spark.table("sess_ttl").collect()
    }
    base = spark.createDataFrame([(t0,)], "t timestamp").select(
        F.unix_micros("t")
    ).first()[0]
    expected = {
        (1, base, base + 10 * us, 2, 3_000_000.0),
        (1, base + 50 * us, base + 50 * us, 1, 4_000_000.0),
        (2, base + 5 * us, base + 20 * us, 2, 30_000_000.0),
        (4, base + 1 * us, base + 1 * us, 1, 5_000_000.0),
        (4, base + 31 * us, base + 31 * us, 1, 6_000_000.0),
    }
    assert got == expected
    # TTL: every session timed out and its state was REMOVED
    final = q.recentProgress[-1]
    assert final["stateOperators"][0]["numRowsTotal"] == 0


def test_streaming_scd2_sync_versions_and_replay_fixed_point(spark, tmp_path):
    """CDC update stream → versioned dimension: per-batch collapse,
    change detection, history accumulation; re-draining the same input
    (fresh checkpoint — a full replay) leaves the dimension unchanged."""
    import datetime as dt
    import os

    from spacex_data_engineering_pipeline_spark.streaming.scd_sync import (
        read_dimension,
        run_scd2_sync,
    )

    ddl = "k long, attr string, ts timestamp_ntz"
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    batches = [
        # in-batch multi-version for k=1: collapse must keep "a1"
        [(1, "a0", t0 - dt.timedelta(hours=1)), (1, "a1", t0), (2, "b1", t0)],
        [(1, "a2", t1), (2, "b1", t1), (3, "c1", t1)],
    ]
    src = str(tmp_path / "upd")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema=ddl).coalesce(1).write.parquet(part)
        fname = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i:04d}.parquet")
        os.replace(os.path.join(part, fname), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    dim_path = str(tmp_path / "dim")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
        )
        run_scd2_sync(
            spark, stream, dim_path, ["k"], ["attr"], "ts",
            checkpoint_dir=str(tmp_path / ckpt),
        )

    drain("ck1")
    expected = {
        (1, "a1", t0, t1, False),
        (1, "a2", t1, None, True),
        (2, "b1", t0, None, True),
        (3, "c1", t1, None, True),
    }
    cols = ["k", "attr", "eff_from", "eff_to", "is_current"]
    got = {tuple(r) for r in read_dimension(spark, dim_path).select(*cols).collect()}
    assert got == expected
    # history is append-only batch dirs; the live slice holds only
    # current rows
    cur = spark.read.parquet(os.path.join(dim_path, "current"))
    assert cur.filter("NOT is_current").count() == 0 and cur.count() == 3

    drain("ck2")  # full replay from scratch: must be a fixed point
    got2 = {tuple(r) for r in read_dimension(spark, dim_path).select(*cols).collect()}
    assert got2 == expected


def test_streaming_scd2_sync_heals_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the dimension parked
    at __old_scd with nothing at dim_path; the next drain must restore
    it BEFORE merging — otherwise the batch would seed a fresh dimension
    and orphan all history."""
    import datetime as dt
    import os

    from spacex_data_engineering_pipeline_spark.streaming.scd_sync import (
        read_dimension,
        run_scd2_sync,
    )

    ddl = "k long, attr string, ts timestamp_ntz"
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    src = str(tmp_path / "upd")
    os.makedirs(src)
    part = str(tmp_path / "s0")
    spark.createDataFrame([(1, "a1", t0)], schema=ddl).coalesce(1).write.parquet(part)
    f0 = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
    os.replace(os.path.join(part, f0), os.path.join(src, "b0.parquet"))

    dim_path = str(tmp_path / "dim")
    stream = spark.readStream.schema(ddl).parquet(src)
    run_scd2_sync(spark, stream, dim_path, ["k"], ["attr"], "ts",
                  checkpoint_dir=str(tmp_path / "ck1"))

    # simulate the crash window: live slice parked aside
    cur_path = os.path.join(dim_path, "current")
    os.replace(cur_path, cur_path + "__old_scd")

    part = str(tmp_path / "s1")
    spark.createDataFrame([(1, "a2", t1)], schema=ddl).coalesce(1).write.parquet(part)
    f1 = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
    os.replace(os.path.join(part, f1), os.path.join(src, "b1.parquet"))

    # recovery resumes the SAME checkpoint (closed dirs are keyed by
    # batch id — a fresh checkpoint over a different file set would
    # remap them, which the module contract excludes)
    stream = spark.readStream.schema(ddl).parquet(src)
    run_scd2_sync(spark, stream, dim_path, ["k"], ["attr"], "ts",
                  checkpoint_dir=str(tmp_path / "ck1"))
    cols = ["k", "attr", "eff_from", "eff_to", "is_current"]
    got = {tuple(r) for r in read_dimension(spark, dim_path).select(*cols).collect()}
    assert got == {
        (1, "a1", t0, t1, False),
        (1, "a2", t1, None, True),
    }
    assert not os.path.exists(cur_path + "__old_scd")


def test_late_data_quarantine_routes_and_replays_identically(spark, tmp_path):
    """Rows older than the prior-batch high watermark land in the
    quarantine sink instead of vanishing; a full re-drain (fresh
    checkpoint, same ledger/sinks) overwrites per-batch dirs and
    changes nothing."""
    import datetime as dt
    import os

    from spacex_data_engineering_pipeline_spark.streaming.late_data import (
        run_late_split,
    )

    ddl = "event_id long, ts timestamp_ntz"
    h = dt.datetime(2024, 1, 1, 9, 0)

    def m(minutes):
        return h + dt.timedelta(minutes=minutes)

    batches = [
        [(1, m(0)), (2, m(60))],                 # hw after b0: 10:00 - 5min = 09:55
        [(3, m(50)), (4, m(56)), (5, m(65))],    # 09:50 late; 09:56, 10:05 on time
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"s{i}")
        spark.createDataFrame(rows, schema=ddl).coalesce(1).write.parquet(part)
        fn = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i:04d}.parquet")
        os.replace(os.path.join(part, fn), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    paths = dict(
        on_time_path=str(tmp_path / "ontime"),
        late_path=str(tmp_path / "late"),
        ledger_path=str(tmp_path / "hw.json"),
    )

    def drain(ck):
        stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
        run_late_split(
            spark, stream, "ts", delay_seconds=300,
            checkpoint_dir=str(tmp_path / ck), **paths
        )

    drain("ck1")
    on_ids = {r.event_id for r in spark.read.parquet(paths["on_time_path"]).collect()}
    late_ids = {r.event_id for r in spark.read.parquet(paths["late_path"]).collect()}
    assert on_ids == {1, 2, 4, 5}
    assert late_ids == {3}

    drain("ck2")  # full replay: same routing, no duplicates
    assert spark.read.parquet(paths["on_time_path"]).count() == 4
    assert spark.read.parquet(paths["late_path"]).count() == 1
    assert {r.event_id for r in spark.read.parquet(paths["late_path"]).collect()} == {3}


def test_session_update_fn_handles_in_watermark_late_rows():
    """The per-key session update folds carried state into the batch
    timeline as a marker: a late row inside the gap merges without
    splitting the session or regressing its end; a late island older
    than the gap closes as its own session and leaves the carried
    session open."""
    import pandas as pd

    from spacex_data_engineering_pipeline_spark.streaming.stateful import (
        _make_session_update,
    )

    class StubState:
        hasTimedOut = False

        def __init__(self, tup=None):
            self._t = tup
            self.timeout = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

        def setTimeoutTimestamp(self, ms):
            self.timeout = ms

        def remove(self):
            self._t = None

    gap = 20_000
    fn = _make_session_update(gap)

    def run(state, rows):
        pdf = pd.DataFrame(
            {"ts_us": [r[0] for r in rows], "value_micros": [r[1] for r in rows]}
        )
        return list(fn((7,), [pdf], state)), state

    # late row (3000 < carried last 5000) within gap: merge, end stays 5000
    st = StubState((1000, 5000, 2, 10.0))
    out, st = run(st, [(3000, 1.0)])
    assert out == []
    assert st.get == (1000, 5000, 3, 11.0)

    # straddling carry: late row + future row bridge THROUGH the marker
    st = StubState((1000, 5000, 2, 10.0))
    out, st = run(st, [(3000, 1.0), (6000, 2.0)])
    assert out == []
    assert st.get == (1000, 6000, 4, 13.0)

    # late island ≥ gap older than the carried last event: closes alone,
    # carried session stays open and unchanged
    st = StubState((90_000, 100_000, 2, 10.0))
    out, st = run(st, [(10_000, 1.0)])
    assert len(out) == 1 and out[0].iloc[0].tolist() == [7, 10_000, 10_000, 1, 1.0]
    assert st.get == (90_000, 100_000, 2, 10.0)
    assert st.timeout == (100_000 + gap + 999) // 1000


# ---------------------------------------------------------------------------
# exactly-once multi-table streaming sink (streaming/txn_sync.py)
# ---------------------------------------------------------------------------


def _stage_batches(spark, tmp_path, batches):
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, ["k", "v"])
        part = str(tmp_path / f"b{i}")
        df.coalesce(1).write.parquet(part)
        fname = next(
            f for f in sorted(os.listdir(part)) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"batch{i:04d}.parquet")
        os.replace(os.path.join(part, fname), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return src, spark.createDataFrame(batches[0], ["k", "v"]).schema


def test_streaming_txn_sync_fact_and_summary_agree(spark, tmp_path):
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators import txn
    from spacex_data_engineering_pipeline_spark.streaming.txn_sync import (
        sync_tables_stream,
    )

    batches = [
        [(1, 10.0), (2, 20.0)],
        [(1, 5.0)],
        [(3, 7.0), (2, 1.0)],
    ]
    src, schema = _stage_batches(spark, tmp_path, batches)
    root = str(tmp_path / "root")
    txn.init_txn_root(root)

    def total(fact):
        return fact.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total_v")
        )

    sync_tables_stream(
        spark, src, schema, root, "fact", {"summary": total},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = txn.read_pointer(root)
    assert ptr["last_batch_id"] == 2
    fact = txn.read_table(spark, root, "fact")
    summ = txn.read_table(spark, root, "summary").collect()[0]
    assert fact.count() == 5
    assert summ["n"] == 5 and summ["total_v"] == 43.0
    # every retained generation pair is internally consistent: replay
    # history via older pointers
    for gen in range(ptr["tables"]["fact"]):
        old = {
            "tables": {"fact": gen, "summary": gen},
            "version": 0,
            "last_batch_id": None,
        }
        f = txn.read_table(spark, root, "fact", pointer=old)
        s = txn.read_table(spark, root, "summary", pointer=old).collect()[0]
        assert f.count() == s["n"]


def test_streaming_txn_sync_redrain_is_fixed_point(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators import txn
    from spacex_data_engineering_pipeline_spark.streaming.txn_sync import (
        sync_tables_stream,
    )

    batches = [[(1, 1.0)], [(2, 2.0)]]
    src, schema = _stage_batches(spark, tmp_path, batches)
    root = str(tmp_path / "root")
    txn.init_txn_root(root)

    def total(fact):
        return fact.agg(F.sum("v").alias("total_v"))

    kw = dict(checkpoint_dir=str(tmp_path / "ckpt"))
    sync_tables_stream(spark, src, schema, root, "fact", {"summary": total}, **kw)
    v1 = txn.read_pointer(root)["version"]

    # wipe the checkpoint: every epoch replays from 0; the ledger must
    # make the full re-drain a no-op (no double-appended rows)
    shutil.rmtree(str(tmp_path / "ckpt"))
    sync_tables_stream(spark, src, schema, root, "fact", {"summary": total}, **kw)
    ptr = txn.read_pointer(root)
    assert ptr["version"] == v1
    assert txn.read_table(spark, root, "fact").count() == 2
    assert txn.read_table(spark, root, "summary").collect()[0]["total_v"] == 3.0


def test_state_store_provider_dial_rocksdb_parity(spark, sf_dir):
    """The RocksDB state-store dial (session.py STATE_STORE_PROVIDERS,
    _run_events_stream(state_store=...)): the same stateful windowed
    aggregation run under the default HDFS-backed provider and under
    RocksDB must produce IDENTICAL results, and the session conf must
    be restored afterwards. RocksDB is the 100 TB-state choice (state
    off-heap in an LSM tree, incremental snapshots, heap bounded by
    write buffer); the provider is frozen into a checkpoint at first
    start, which is why the dial lives at run level."""
    from spacex_data_engineering_pipeline_spark.plans.queries import (
        _run_events_stream,
    )
    from spacex_data_engineering_pipeline_spark.streaming.event_time import (
        restore_ntz,
        to_instant_for_watermark,
    )

    def build(stream):
        s, was_ntz = to_instant_for_watermark(stream(), "ts")
        s = s.withWatermark("ts", "1 hour")
        agg = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count(F.lit(1)).alias("n_events")
        )
        return agg.select(
            restore_ntz(F.col("w.start"), was_ntz).alias("hour_start"),
            "n_events",
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    runs = {}
    for store in (None, "rocksdb"):
        out = _run_events_stream(
            spark, sf_dir, build, "append", "storedial",
            columns=["ts"], n_files=3, max_files_per_trigger=1,
            state_partitions=4, state_store=store,
            tail_dfs=[
                spark.range(1).select(
                    F.lit("2099-01-01 00:00:00")
                    .cast(
                        load_table(spark, sf_dir, "events")
                        .schema["ts"].dataType
                    )
                    .alias("ts")
                )
            ],
        )
        runs[store] = sorted(
            (str(r["hour_start"]), r["n_events"]) for r in out.collect()
        )
    assert runs[None] == runs["rocksdb"] and len(runs[None]) > 0
    assert spark.conf.get(key, None) == before


def test_rate_latency_probe_shape(spark):
    """The latency surface returns sane percentiles: a live rate source
    under a processing-time trigger, post-warmup p50 ≤ p95 ≤ p99 ≤ max,
    and the p50 sits above the structural floor (records wait on the
    trigger cadence) but below a generous ceiling — a hung stream or a
    timestamp-unit bug (ms vs s) lands far outside [0.01, 30]."""
    from spacex_data_engineering_pipeline_spark.streaming.latency import (
        rate_latency_probe,
    )

    stats = rate_latency_probe(
        spark, rows_per_second=500, trigger="300 milliseconds",
        min_batches=4, warmup_batches=1, timeout_sec=45.0,
    )
    assert stats["n_samples"] > 0 and stats["n_batches"] >= 4
    assert 0.01 <= stats["p50_sec"] <= 30.0, stats
    assert stats["p50_sec"] <= stats["p95_sec"] <= stats["p99_sec"]
    assert stats["p99_sec"] <= stats["max_sec"]


def test_streaming_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """The core Structured Streaming guarantee the engine leans on,
    proven by crash injection (verdict r8 task 5): a checkpointed
    stateful stream (applyInPandasWithState running totals) is KILLED
    between micro-batches — the foreachBatch sink raises at the start
    of batch 2, after batches 0-1 committed — then restarted from the
    same checkpoint, and the final state must equal the uninterrupted
    truth. The sink writes each batch to its own overwritten directory
    (idempotent under replay — the upsert crash-window pattern), and
    the committed batches must NOT be reprocessed on restart (mtime
    pin on batch=0): restart resumes, it does not replay history."""
    import pyspark.errors
    import pytest

    from spacex_data_engineering_pipeline_spark.streaming.stateful import (
        running_user_stats,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ckpt_src")
    events.repartition(4).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    out.mkdir()

    def make_query(poison_at):
        def write_batch(bdf, bid):
            if bid == poison_at:
                raise RuntimeError(f"injected crash before batch {bid}")
            bdf.write.mode("overwrite").parquet(str(out / f"batch={bid}"))

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            running_user_stats(stream)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    q = make_query(poison_at=2)
    with pytest.raises(pyspark.errors.StreamingQueryException, match="injected"):
        q.awaitTermination()
    assert sorted(p.name for p in out.iterdir()) == ["batch=0", "batch=1"]
    m0 = (out / "batch=0").stat().st_mtime_ns

    q2 = make_query(poison_at=None)
    q2.awaitTermination()
    assert sorted(p.name for p in out.iterdir()) == [
        "batch=0", "batch=1", "batch=2", "batch=3",
    ]
    # committed batches were resumed past, not reprocessed
    assert (out / "batch=0").stat().st_mtime_ns == m0

    # final state (update mode: latest emission per user = max n_events)
    # equals the uninterrupted batch truth — state RESTORED across the
    # restart; a fresh-state resume would undercount every user touched
    # on both sides of the crash
    all_rows = spark.read.parquet(str(out / "batch=*"))
    got = {
        r.user_id: (r.n_events, round(r.total_value, 4))
        for r in spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY n_events DESC) rn
                FROM {t}
            ) WHERE rn = 1
            """,
            t=all_rows,
        ).collect()
    }
    expected = {
        r.user_id: (r.n, round(r.t, 4))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, t) in expected.items():
        assert got[uid][0] == n, uid
        assert abs(got[uid][1] - t) < 1e-4, uid


def test_streaming_state_partition_default_derivation(spark, sf_dir, tmp_path):
    """The measured state-partition knees are ENGINE behavior now:
    session.streaming_state_partitions reads the operator class from
    the logical plan (Python-stateful → 8, JVM state → 4), and the
    dial is a pure COST knob — the same stateful query produces the
    identical result under a deliberately wrong partition count."""
    from spacex_data_engineering_pipeline_spark.session import (
        JVM_STATE_PARTITIONS,
        PYTHON_STATEFUL_STATE_PARTITIONS,
        streaming_state_partitions,
    )
    from spacex_data_engineering_pipeline_spark.streaming.stateful import (
        running_user_stats,
    )

    rate = spark.readStream.format("rate").load().selectExpr(
        "value AS user_id", "CAST(value AS DOUBLE) AS value", "timestamp AS ts"
    )
    assert streaming_state_partitions(running_user_stats(rate)) \
        == PYTHON_STATEFUL_STATE_PARTITIONS == 8
    assert streaming_state_partitions(
        rate.withWatermark("ts", "1 hour").groupBy("user_id").count()
    ) == JVM_STATE_PARTITIONS == 4
    # volume scaling: the Python-stateful knee moves with key count
    # (sf1.0 measurement: 16 beats 8 by ~40% at 1M rows / 15k keys);
    # one doubling per decade above 300k rows, capped; JVM state flat
    py = running_user_stats(rate)
    assert streaming_state_partitions(py, approx_rows=100_000) == 8
    assert streaming_state_partitions(py, approx_rows=1_000_000) == 16
    assert streaming_state_partitions(py, approx_rows=100_000_000) == 64
    jvm = rate.withWatermark("ts", "1 hour").groupBy("user_id").count()
    assert streaming_state_partitions(jvm, approx_rows=100_000_000) == 4

    # dial invariance: derived default vs an off-default count give the
    # same final state
    from spacex_data_engineering_pipeline_spark.plans.queries import (
        _run_events_stream,
    )

    def build(stream):
        return running_user_stats(stream())

    def final(state_partitions):
        out = _run_events_stream(
            spark, sf_dir, build, "update", "dial_parity",
            columns=["user_id", "value"], state_partitions=state_partitions,
        )
        return sorted(
            (r.user_id, r.n_events, round(r.total_value, 4))
            for r in out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("total_value", "n_events").alias("total_value"),
            )
            .collect()
        )

    assert final(None) == final(3)


def test_graph_delta_write_volume_tracks_churn(spark, sf_dir, tmp_path):
    """DELTA GENERATIONS (optimization r15): a graph fold's durable
    write per epoch is CHURN-sized, never corpus-sized — the full N·k
    edge table is written exactly once (generation 0) and each
    micro-batch stages only the changed ids' new lists plus rnk-NULL
    invalidation markers. Pins: (1) no full snapshot dir appears per
    commit; (2) per-epoch delta ROW COUNTS are bounded by the batch's
    churn (upserted ∪ affected ∪ admitted), a small multiple of
    |batch|·k, while the full graph is N·k; (3) the folded view is
    bit-identical to the rebuild (the oracle contract the catalog
    entries grade)."""
    import os

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 400))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    n = emb.count()
    k = 4
    base = emb.filter(F.col("vec_id") % 20 != 0)
    batches = [
        emb.filter(F.col("vec_id") % 60 == off).select(
            "vec_id",
            (F.reverse("embedding") if off else F.col("embedding")).alias(
                "embedding"
            ),
        )
        for off in (0, 20, 40)
    ]
    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_knn_graph_root(
        base, root, "vec_id", "embedding", k=k, n_blocks=4, n_buckets=8
    )
    for i, b in enumerate(batches):
        staged = str(tmp_path / f"st{i}")
        b.coalesce(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(src), batches[0].schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # (1) one full snapshot only — folds never re-save the graph
    assert sorted(
        d for d in os.listdir(os.path.join(root, "graph"))
        if d.startswith("gen=")
    ) == ["gen=0"]
    assert sorted(index_sync._live_epochs(root, "graph_delta")) == [1, 2, 3]
    # (2) per-epoch writes are churn-sized: every batch is ~n/60 ids,
    # churn ≈ batch + rows that admitted a batch neighbor; the pre-r15
    # layout wrote the full n·k table PER FOLD (3·n·k rows across the
    # drain) — the delta layout's three epochs together stay under ONE full
    # snapshot's rows, and each epoch touches a small fraction of ids
    full_rows = n * k
    total = 0
    for e in (1, 2, 3):
        d = spark.read.parquet(
            os.path.join(root, "graph_delta", f"epoch={e}")
        )
        rows = d.count()
        changed = d.select("vec_id").distinct().count()
        total += rows
        assert rows < full_rows / 3, (e, rows, full_rows)
        assert changed <= n // 4, (e, changed, n)
    assert total < full_rows, (total, full_rows)
    # (3) folded view ≡ rebuild over the final corpus
    upd_ids = {int(r["vec_id"]) for b in batches for r in b.collect()}
    final = (
        base.filter(~F.col("vec_id").isin(list(upd_ids)))
        .unionByName(batches[0])
        .unionByName(batches[1])
        .unionByName(batches[2])
    )
    truth = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in S.knn_graph(
            final, "vec_id", "embedding", k=k, n_blocks=4
        ).collect()
    }
    got = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got == truth


def test_streaming_minhash_index_sync_crash_restart(spark, sf_dir, tmp_path):
    """The growing dedup index survives a crash MID-COMMIT-WINDOW and a
    checkpoint-wiped re-drain: epochs 0-1 commit, the sink dies at
    epoch 2, the crash window is made WORSE by hand (epoch-3 pairs AND
    band partitions staged with garbage, never published), and the
    restart must overwrite the orphans and converge: committed pairs ==
    an imperative replay that probes each batch against corpus + all
    earlier batches."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        minhash_probe_pairs,
    )
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 15 == 0).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 15 == 5).select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 45 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    b2 = (
        docs.filter(F.col("doc_id") % 15 == 10)
        .select("doc_id", "text")
        .unionByName(plants)
    )
    batches = [b0, b1, b2]

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )
    for i, bdf in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def poison(epoch_id):
        if epoch_id == 2:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    # worst crash window: epoch-3 partitions staged with garbage
    spark.createDataFrame(
        [(999, 888, 1_000_000)], "new_doc long, corpus_doc long, jaccard_micro long"
    ).write.parquet(index_sync._epoch_path(root, "pairs", 3))
    spark.createDataFrame(
        [(999, 0, "deadbeef")], "doc long, band_idx int, band_hash string"
    ).write.parquet(index_sync._epoch_path(root, "bands", 3))

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["max_epoch"] == 3

    got = {
        (r.new_doc, r.corpus_doc, r.jaccard_micro)
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    }
    assert (999, 888, 1_000_000) not in got  # garbage orphan overwritten

    # imperative replay: batch k probes corpus + batches < k
    truth = set()
    seen = corpus
    for bdf in batches:
        truth |= {
            (r.new_doc, r.corpus_doc, r.jaccard_micro)
            for r in minhash_probe_pairs(
                seen, bdf, "doc_id", "text", min_jaccard_micro=300_000
            ).collect()
        }
        seen = seen.unionByName(bdf)
    assert got == truth

    # checkpoint-wiped re-drain is a fixed point: the pointer never
    # moves (loss = wiped CONTENTS at the same path; a different path
    # declares a new lineage)
    ptr_mtime = os.stat(os.path.join(root, "_index_pointer.json")).st_mtime_ns
    shutil.rmtree(str(tmp_path / "ckpt"))
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert (
        os.stat(os.path.join(root, "_index_pointer.json")).st_mtime_ns
        == ptr_mtime
    )


def test_minhash_sync_verify_partition_prunes(spark, sf_dir, tmp_path):
    """The growing dedup index's exact-verify side must PARTITION-PRUNE
    to the candidate docs' grams buckets, never scan all committed
    grams (the 100 TB contract: the grams ledger is bucketed by doc id
    inside each epoch, and the verify reads ≤ |candidate buckets| of
    them). Pinned three ways: the bucket-restricted reader's scan
    carries __bucket in PartitionFilters and lists ONLY the probed
    bucket dirs; the pruned read-only probe returns exactly what the
    unpruned in-memory probe returns; and a fresh root's pairs reader
    returns the empty verdict set (epoch 0 is a legal committed
    state)."""
    import os

    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        minhash_probe_pairs,
    )
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")

    root = str(tmp_path / "index")
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )

    # epoch 0 with no pairs dir is a legal committed state: empty verdicts
    empty = index_sync.load_synced_dedup_pairs(spark, root)
    assert empty.columns == ["new_doc", "corpus_doc", "jaccard_micro"]
    assert empty.count() == 0

    # bucket-restricted reader: partition filter present, file listing pruned
    some = index_sync.read_synced_grams(spark, root, buckets=[2, 5])
    plan = some._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "__bucket" in pf, f"verify read must prune on __bucket: {plan[:600]}"
    # actual files READ (input_file_name survives the pruned scan;
    # .inputFiles() would list the whole relation pre-pruning)
    files = {
        r[0]
        for r in some.select(F.input_file_name()).distinct().collect()
    }
    assert files, "bucket dirs 2/5 should hold committed grams"
    assert all(
        "/__bucket=2/" in f or "/__bucket=5/" in f for f in files
    ), sorted(files)[:5]
    all_files = {
        r[0]
        for r in index_sync.read_synced_grams(spark, root)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert len(files) < len(all_files)
    # the empty bucket list reads nothing at all
    assert index_sync.read_synced_grams(spark, root, buckets=[]).count() == 0

    # pruned read-only probe == unpruned in-memory probe, value-exact
    got = {
        (r.new_doc, r.corpus_doc, r.jaccard_micro)
        for r in index_sync.probe_minhash_root(spark, root, batch).collect()
    }
    want = {
        (r.new_doc, r.corpus_doc, r.jaccard_micro)
        for r in minhash_probe_pairs(
            corpus, batch, "doc_id", "text", min_jaccard_micro=300_000
        ).collect()
    }
    assert got == want and got


def test_minhash_ledger_compaction_and_vacuum(spark, sf_dir, tmp_path):
    """Retention for the GROWING dedup index: committed epoch dirs fold
    into one compact dataset per table (rows rewritten, epoch kept as a
    data column), the vacuum drops only compacted-away dirs, superseded
    compacts, and staged orphans — and every read (head, as-of slice,
    bucket-pruned verify, further growth through the stream) is
    row-exact before == after. The pointer head must always stay
    readable."""
    import os

    from spacex_data_engineering_pipeline_spark.operators.dedup import (
        minhash_probe_pairs,
    )
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 15 == 0).select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 45 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    b1 = (
        docs.filter(F.col("doc_id") % 15 == 5)
        .select("doc_id", "text")
        .unionByName(plants)
    )
    b2 = docs.filter(F.col("doc_id") % 15 == 10).select("doc_id", "text")

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )

    def stage(i, bdf):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stage(0, b0)
    stage(1, b1)
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2

    pairs_fn = index_sync.load_synced_dedup_pairs
    before_head = {tuple(r) for r in pairs_fn(spark, root).collect()}
    before_as1 = {
        tuple(r) for r in pairs_fn(spark, root, as_of_epoch=1).collect()
    }
    assert before_head > before_as1  # the batch-1 plants grew the verdicts
    grams_n = index_sync.read_synced_grams(spark, root).count()

    assert index_sync.compact_root(spark, root) == 2
    assert index_sync.compact_root(spark, root) == 0  # no-op
    # staged orphan above the head is vacuumed along with folded dirs
    spark.createDataFrame(
        [(1, 2, 3)], "new_doc long, corpus_doc long, jaccard_micro long"
    ).write.parquet(index_sync._epoch_path(root, "pairs", 9))
    removed = index_sync.vacuum_root(root)
    # grams epochs 0-2, bands 0-2, pairs 1-2 + the planted orphan
    assert removed == 3 + 3 + 2 + 1
    assert index_sync.vacuum_root(root) == 0  # idempotent

    # every read row-exact after compaction+vacuum
    assert {tuple(r) for r in pairs_fn(spark, root).collect()} == before_head
    assert {
        tuple(r) for r in pairs_fn(spark, root, as_of_epoch=1).collect()
    } == before_as1
    assert index_sync.read_synced_grams(spark, root).count() == grams_n
    # the bucket-pruned verify fetch prunes on the COMPACT layout too
    some = index_sync.read_synced_grams(spark, root, buckets=[2, 5])
    files = {
        r[0] for r in some.select(F.input_file_name()).distinct().collect()
    }
    assert files and all(
        "/__bucket=2/" in f or "/__bucket=5/" in f for f in files
    ), sorted(files)[:5]
    assert all("_compact/" in f for f in files)  # live dirs are gone

    # the stream keeps growing THROUGH the compacted root: batch 2
    # lands as live epoch 3 above compact_upto=2, and the union of
    # compact + live matches the imperative growing replay
    stage(2, b2)
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 3 and ptr["compact_upto"] == 2
    got = {tuple(r) for r in pairs_fn(spark, root).collect()}
    truth = set()
    seen = corpus
    for bdf in (b0, b1, b2):
        truth |= {
            tuple(r)
            for r in minhash_probe_pairs(
                seen, bdf, "doc_id", "text", min_jaccard_micro=300_000
            ).collect()
        }
        seen = seen.unionByName(bdf)
    assert got == truth


def test_streaming_semantic_dedup_sync_crash_restart(spark, sf_dir, tmp_path):
    """The GROWING semantic dedup index (embedding analog of the
    MinHash sync) survives a crash MID-COMMIT-WINDOW and a
    checkpoint-wiped re-drain: epochs 0-1 commit, the sink dies at
    epoch 2, the crash window is made worse by hand (garbage pairs AND
    postings epochs staged above the pointer), and the restart must
    overwrite the orphans and converge: committed pairs == an
    imperative replay that probes each batch against corpus + all
    earlier batches at full probe width. Retention composes: after
    compact_root + vacuum_root, the verdicts and the as-of slices are
    row-identical."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    perturb = F.transform(
        "embedding", lambda x, i: F.when(i == 0, x + F.lit(0.0625)).otherwise(x)
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    b0 = emb.filter(F.col("vec_id") % 15 == 0)
    b1 = emb.filter(F.col("vec_id") % 15 == 5).unionByName(
        emb.filter(F.col("vec_id") % 20 == 1).select(
            (F.col("vec_id") + F.lit(200_000_000)).alias("vec_id"),
            perturb.alias("embedding"),
        )
    )
    b2 = emb.filter(F.col("vec_id") % 15 == 10).unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + F.lit(100_000_000)).alias("vec_id"),
            perturb.alias("embedding"),
        )
    )
    batches = [b0, b1, b2]

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_semantic_dedup_root(
        corpus, root, "vec_id", "embedding",
        n_clusters=8, n_probes=8, min_cosine=0.95, seed=7,
    )
    for i, bdf in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def poison(epoch_id):
        if epoch_id == 2:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    # worst crash window: garbage staged above the pointer, both ledgers
    spark.createDataFrame(
        [(999, 888, 1.0)], "new_vec long, corpus_vec long, cos_sim double"
    ).write.parquet(index_sync._epoch_path(root, "pairs", 3))
    spark.createDataFrame(
        [(999, [0.0] * 4, 0)],
        "vec_id long, embedding array<double>, cluster int",
    ).write.partitionBy("cluster").parquet(index_sync._ivf_epoch_path(root, 3))

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["max_epoch"] == 3

    got = {
        (r.new_vec, r.corpus_vec, r.cos_sim)
        for r in index_sync.load_synced_semantic_pairs(spark, root).collect()
    }
    assert (999, 888, 1.0) not in got  # garbage orphan overwritten
    assert got  # the plants guarantee non-empty verdicts

    # imperative replay at full width: batch k vs corpus + batches < k
    truth = set()
    seen = corpus
    for bdf in batches:
        idx = S.build_ivf_index(
            seen, "vec_id", "embedding", n_clusters=8, seed=7, persist=False
        )
        truth |= {
            (r.new_vec, r.corpus_vec, r.cos_sim)
            for r in S.embedding_near_dup_probe(
                idx.assigned, idx.centroids, bdf, "vec_id", "embedding",
                n_probes=8, min_cosine=0.95,
            ).collect()
        }
        idx.unpersist()
        seen = seen.unionByName(bdf)
    assert got == truth

    # retention composes: compact + vacuum leave every read row-exact
    before_as2 = {
        tuple(r)
        for r in index_sync.load_synced_semantic_pairs(
            spark, root, as_of_epoch=2
        ).collect()
    }
    assert index_sync.compact_root(spark, root) == 3
    assert index_sync.vacuum_root(root) > 0
    assert {
        (r.new_vec, r.corpus_vec, r.cos_sim)
        for r in index_sync.load_synced_semantic_pairs(spark, root).collect()
    } == got
    assert {
        tuple(r)
        for r in index_sync.load_synced_semantic_pairs(
            spark, root, as_of_epoch=2
        ).collect()
    } == before_as2


def test_streaming_bm25_index_sync_crash_restart_prune_retention(
    spark, sf_dir, tmp_path
):
    """The streaming BM25 index survives a crash MID-COMMIT-WINDOW and
    a checkpoint-wiped re-drain (epochs 0-1 commit, sink dies at epoch
    2, garbage postings staged above the pointer, restart converges
    with the pointer's corpus totals equal to a rebuild's), the synced
    ranking equals the batch scorer over the full corpus, a query
    reads ONLY its terms' bucket partitions (partition-pruned), time
    travel re-ranks as of a past epoch, and retention (compact +
    vacuum) leaves the ranking row-exact."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batches = [
        docs.filter(F.col("doc_id") % 15 == r) for r in (0, 5, 10)
    ]

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_bm25_root(corpus, root, "doc_id", "text")
    for i, bdf in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def poison(epoch_id):
        if epoch_id == 2:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), docs.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    # worst crash window: garbage staged above the pointer
    spark.createDataFrame(
        [("zzz", 999, 99, 99, 0)],
        "term string, doc long, tf long, dl long, __tbucket int",
    ).write.partitionBy("__tbucket").parquet(
        index_sync._epoch_path(root, "postings", 3)
    )

    index_sync.sync_root(
        spark, str(src), docs.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["max_epoch"] == 3
    # the totals flipped with each epoch end at a rebuild's over the
    # same (full) corpus
    rebuild_root = str(tmp_path / "rebuild")
    index_sync.init_bm25_root(docs, rebuild_root, "doc_id", "text")
    rebuild = index_sync.read_index_pointer(rebuild_root)["corpus_stats"]
    assert ptr["corpus_stats"][-1] == [3, *rebuild[0][1:]]

    terms = ("spark", "vector", "stream")
    got = [
        tuple(r)
        for r in index_sync.bm25_topk_synced(spark, root, terms, k=10).collect()
    ]
    from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

    truth = [
        tuple(r) for r in QUERIES["bm25_keyword_search"](spark, sf_dir).collect()
    ]
    assert got == truth

    # a query fetches ONLY its terms' bucket partitions per epoch
    ptr_now = index_sync.read_index_pointer(root)
    nb = ptr_now["term_buckets"]
    want_buckets = {
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(index_sync._term_bucket(F.col("term"), nb).alias("b"))
        .collect()
    }
    posts = (
        index_sync._ledger_frames(spark, root, "postings", ptr_now, 3)
        .filter(F.col("__tbucket").isin(sorted(want_buckets)))
    )
    plan = posts._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
    assert "__tbucket" in pf, plan[:400]
    files = {
        r[0] for r in posts.select(F.input_file_name()).distinct().collect()
    }
    assert files and all(
        any(f"/__tbucket={b}/" in f for b in want_buckets) for f in files
    ), sorted(files)[:3]

    # time travel: ranking as of epoch 1 == batch scorer over corpus+b0
    as_of = [
        tuple(r)
        for r in index_sync.bm25_topk_synced(
            spark, root, terms, k=10, as_of_epoch=1
        ).collect()
    ]
    sub = corpus.unionByName(batches[0])
    sub.createOrReplaceTempView("__bm25_truth_docs")
    from spacex_data_engineering_pipeline_spark.functions.text import words

    tok = sub.select(
        "doc_id", words(F.col("text")).alias("w")
    ).withColumn("dl", F.size("w")).persist()
    st = tok.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("a")
    ).first()
    tok.select("doc_id", "dl", F.explode("w").alias("term")).filter(
        F.col("term").isin(list(terms))
    ).createOrReplaceTempView("__bm25_truth_tf")
    sub_truth = [
        tuple(r)
        for r in spark.sql(
            f"""
            WITH tf AS (
                SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
                       CAST(max(dl) AS DOUBLE) AS dl
                FROM __bm25_truth_tf GROUP BY doc_id, term
            ),
            dfreq AS (
                SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
            )
            SELECT doc_id,
                   ROUND(SUM(
                       ln(({float(st["n"])!r} - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * (tf.tf * (1.2 + 1.0))
                       / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / {float(st["a"])!r}))
                   ), 4) AS score
            FROM tf JOIN dfreq ON tf.term = dfreq.term
            GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
            """
        ).collect()
    ]
    tok.unpersist()
    assert as_of == sub_truth

    # retention: compact + vacuum leave the ranking row-exact
    assert index_sync.compact_root(spark, root) == 3
    assert index_sync.vacuum_root(root) > 0
    assert [
        tuple(r)
        for r in index_sync.bm25_topk_synced(spark, root, terms, k=10).collect()
    ] == truth


def test_ivf_ledger_compaction_and_vacuum(spark, sf_dir, tmp_path):
    """Retention for the IVF posting ledger — the worst dir growth of
    the family (n_clusters dirs per epoch): committed epochs rewrite
    into ONE cluster-partitioned compact dataset (epoch kept as data),
    the vacuum drops only compacted-away dirs, and afterwards the
    loaded index is row-identical, as-of reads stay exact, cluster
    probes still partition-prune, and the stream keeps appending live
    epochs above the compact."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    mx = int(emb.agg(F.max("vec_id").alias("m")).first()["m"])
    s94 = mx * 94 // 100
    base = emb.filter(F.col("vec_id") < s94).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    inserts = emb.filter(F.col("vec_id") >= s94).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    root = str(tmp_path / "ivf_root")
    src = tmp_path / "src"
    split = str(tmp_path / "split")
    index_sync.init_ivf_root(
        base, root, "vec_id", "embedding", n_clusters=8, seed=7
    )
    inserts.repartitionByRange(3, F.col("vec_id")).write.parquet(split)
    src.mkdir()
    parts = sorted(f for f in os.listdir(split) if f.endswith(".parquet"))
    for i, fname in enumerate(parts[:2]):
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(split, fname), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(src), inserts.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2

    def rows(idx):
        return {
            (r.vec_id, r.cluster)
            for r in idx.assigned.select("vec_id", "cluster").collect()
        }

    before = rows(index_sync.load_synced_ivf(spark, root))
    before_as1 = rows(index_sync.load_synced_ivf(spark, root, as_of_epoch=1))
    assert before > before_as1

    assert index_sync.compact_root(spark, root) == 2
    assert index_sync.compact_root(spark, root) == 0  # no-op
    removed = index_sync.vacuum_root(root)
    assert removed == 3  # posting epochs 0-2 folded away
    assert index_sync.vacuum_root(root) == 0  # idempotent

    loaded = index_sync.load_synced_ivf(spark, root)
    assert rows(loaded) == before
    assert rows(index_sync.load_synced_ivf(spark, root, as_of_epoch=1)) == before_as1
    # cluster probes still partition-prune on the compact layout
    probed = loaded.probe_clusters(
        [list(r[0]) for r in base.limit(1).select("embedding").collect()][0], 2
    )
    files = {
        r[0]
        for r in loaded.assigned.filter(F.col("cluster").isin(probed))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert files and all(
        any(f"/cluster={c}/" in f for c in probed) for f in files
    ), sorted(files)[:3]

    # live growth above the compact: batch 2 lands as epoch 3
    dst = src / "batch0002.parquet"
    os.replace(os.path.join(split, parts[2]), str(dst))
    os.utime(dst, (1_700_000_002, 1_700_000_002))
    index_sync.sync_root(
        spark, str(src), inserts.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 3 and ptr["compact_upto"] == 2
    n_inserts = inserts.count()
    assert len(rows(index_sync.load_synced_ivf(spark, root))) == (
        base.count() + n_inserts
    )


def test_pca_ledger_compaction_and_vacuum(spark, sf_dir, tmp_path):
    """Retention for the PCA moment ledger: epochs are SUMMED into one
    model-sized table (bit-exact by moment additivity), the vacuum
    drops the summed-away dirs, the refit is identical before == after,
    as-of below the compaction point is refused (the detail is gone),
    and the stream keeps folding new epochs above the compact."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.operators.pca import fit_pca
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    mx = int(emb.agg(F.max("vec_id").alias("m")).first()["m"])
    s97 = mx * 97 // 100
    base = emb.filter(F.col("vec_id") < s97).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    inserts = emb.filter(F.col("vec_id") >= s97).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    root = str(tmp_path / "moments_root")
    src = tmp_path / "src"
    split = str(tmp_path / "split")
    index_sync.init_pca_moments_root(base, root, "embedding")
    inserts.repartitionByRange(3, F.col("vec_id")).write.parquet(split)
    src.mkdir()
    parts = sorted(f for f in os.listdir(split) if f.endswith(".parquet"))
    assert len(parts) == 3
    # drain the first two batches only; the third arrives post-compaction
    for i, fname in enumerate(parts[:2]):
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(split, fname), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(src), inserts.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2

    before = index_sync.load_synced_pca_model(spark, root, n_components=2)
    assert index_sync.compact_root(spark, root) == 2
    assert index_sync.compact_root(spark, root) == 0  # no-op
    removed = index_sync.vacuum_root(root)
    assert removed == 3  # moment epochs 0-2 summed away
    assert index_sync.vacuum_root(root) == 0  # idempotent

    after = index_sync.load_synced_pca_model(spark, root, n_components=2)
    assert after.n_rows == before.n_rows
    assert [list(v) for v in after.basis] == [list(v) for v in before.basis]
    assert list(after.eigvals) == list(before.eigvals)
    # the summed table cannot be re-sliced: pre-compaction as-of refused
    with pytest.raises(ValueError, match="compacted away"):
        index_sync.load_synced_pca_model(
            spark, root, n_components=2, as_of_epoch=1
        )

    # growth through the compacted root: batch 2 lands as live epoch 3,
    # and the refit over compact + live == a from-scratch fit
    dst = src / "batch0002.parquet"
    os.replace(os.path.join(split, parts[2]), str(dst))
    os.utime(dst, (1_700_000_002, 1_700_000_002))
    index_sync.sync_root(
        spark, str(src), inserts.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 3 and ptr["compact_upto"] == 2
    synced = index_sync.load_synced_pca_model(spark, root, n_components=2)
    scratch = fit_pca(
        base.unionByName(inserts), "embedding", n_components=2, n_iter=12
    )
    assert synced.n_rows == scratch.n_rows
    assert [list(v) for v in synced.basis] == [list(v) for v in scratch.basis]
    assert list(synced.eigvals) == list(scratch.eigvals)


def test_synced_artifact_time_travel(spark, sf_dir, tmp_path):
    """The epoch ledger doubles as TIME TRAVEL: committed epochs are
    immutable, so every synced reader accepts as_of and reproduces the
    artifact as of any past batch. Pinned across three artifact kinds
    (IVF postings, PCA moments, dedup pairs) + the graph's generation
    variant, plus the two refusals: above-head as_of (staged orphans
    are not history) and a vacuumed generation."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.operators.linalg import (
        quantized_moments,
    )
    from spacex_data_engineering_pipeline_spark.operators.pca import (
        fit_pca_from_moments,
    )
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    mx = int(emb.agg(F.max("vec_id").alias("m")).first()["m"])
    s97 = mx * 97 // 100
    base = emb.filter(F.col("vec_id") < s97).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    inserts = emb.filter(F.col("vec_id") >= s97).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    src = tmp_path / "src"
    split = str(tmp_path / "split")
    inserts.repartitionByRange(3, F.col("vec_id")).write.parquet(split)
    src.mkdir()
    parts = sorted(f for f in os.listdir(split) if f.endswith(".parquet"))
    batch_dfs = []
    for i, fname in enumerate(parts):
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(split, fname), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        batch_dfs.append(spark.read.parquet(str(dst)))

    # --- IVF: index as of epoch 1 holds exactly base + batch 0 ids
    ivf_root = str(tmp_path / "ivf")
    index_sync.init_ivf_root(
        base, ivf_root, "vec_id", "embedding", n_clusters=8, seed=42
    )
    index_sync.sync_root(
        spark, str(src), inserts.schema, ivf_root,
        checkpoint_dir=str(tmp_path / "ckpt_ivf"),
    )
    got_ids = {
        r.vec_id
        for r in index_sync.load_synced_ivf(
            spark, ivf_root, as_of_epoch=1
        ).assigned.collect()
    }
    want_ids = {r.vec_id for r in base.collect()} | {
        r.vec_id for r in batch_dfs[0].collect()
    }
    assert got_ids == want_ids
    with pytest.raises(ValueError, match="not a committed state"):
        index_sync.load_synced_ivf(spark, ivf_root, as_of_epoch=99)

    # --- PCA: model as of epoch 2 == from-scratch fit over base+b0+b1
    pca_root = str(tmp_path / "pca")
    index_sync.init_pca_moments_root(base, pca_root, "embedding")
    index_sync.sync_root(
        spark, str(src), inserts.schema, pca_root,
        checkpoint_dir=str(tmp_path / "ckpt_pca"),
    )
    asof = index_sync.load_synced_pca_model(
        spark, pca_root, n_components=2, as_of_epoch=2
    )
    want = fit_pca_from_moments(
        quantized_moments(
            base.unionByName(batch_dfs[0]).unionByName(batch_dfs[1]),
            "embedding",
        ).collect(),
        2,
    )
    assert asof.n_rows == want.n_rows
    assert [list(v) for v in asof.basis] == [list(v) for v in want.basis]

    # --- dedup pairs: as of epoch 1 == only batch-0 docs' verdicts
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    d0 = docs.filter(F.col("doc_id") % 15 == 0).select("doc_id", "text")
    d1 = docs.filter(F.col("doc_id") % 15 == 5).select("doc_id", "text")
    mh_root = str(tmp_path / "mh")
    mh_src = tmp_path / "mh_src"
    mh_src.mkdir()
    index_sync.init_minhash_root(
        corpus, mh_root, "doc_id", "text", min_jaccard_micro=300_000
    )
    for i, bdf in enumerate((d0, d1)):
        staged = str(tmp_path / f"mh_stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = mh_src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(mh_src), d0.schema, mh_root,
        checkpoint_dir=str(tmp_path / "ckpt_mh"),
    )
    b0_ids = {r.doc_id for r in d0.collect()}
    asof_pairs = {
        (r.new_doc, r.corpus_doc)
        for r in index_sync.load_synced_dedup_pairs(
            spark, mh_root, as_of_epoch=1
        ).collect()
    }
    full_pairs = {
        (r.new_doc, r.corpus_doc)
        for r in index_sync.load_synced_dedup_pairs(spark, mh_root).collect()
    }
    assert {p for p in full_pairs if p[0] in b0_ids} == asof_pairs
    assert all(p[0] in b0_ids for p in asof_pairs)

    # --- graph: retained generation readable; vacuumed one refused
    g_root = str(tmp_path / "graph")
    g_src = tmp_path / "g_src"
    g_src.mkdir()
    index_sync.init_knn_graph_root(
        base, g_root, "vec_id", "embedding", k=5, n_blocks=4, n_buckets=8
    )
    for i, fname in enumerate(sorted(os.listdir(src))):
        os.link(str(src / fname), str(g_src / fname))
        os.utime(
            g_src / fname, (1_700_000_000 + i, 1_700_000_000 + i)
        )
    index_sync.sync_root(
        spark, str(g_src), inserts.schema, g_root,
        checkpoint_dir=str(tmp_path / "ckpt_g"),
    )
    gen1 = index_sync.load_synced_graph(spark, g_root, as_of_generation=1)
    assert gen1.count() > 0
    index_sync.vacuum_generations(spark, g_root, keep_last=1)
    with pytest.raises(ValueError, match="vacuumed"):
        index_sync.load_synced_graph(spark, g_root, as_of_generation=1)


def test_streaming_ivf_appended_vectors_self_retrievable(spark, sf_dir, tmp_path):
    """Routing/probe agreement under growth: a vector appended via the
    streaming sync is ALWAYS found by probing a single cluster with
    itself, because batch assignment (centroid_assign_udf) and probe
    selection (IvfIndex.probe_clusters) share one centroid map — the
    invariant that makes a FIXED quantizer safe to append to even for
    directionally-novel batches (here: REVERSED vectors, directions the
    quantizer never trained on)."""
    import os

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    mx = int(emb.agg(F.max("vec_id").alias("m")).first()["m"])
    s97 = mx * 97 // 100
    base = emb.filter(F.col("vec_id") < s97).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # directionally novel: reversed + id-shifted so they are pure inserts
    novel = emb.filter(F.col("vec_id") >= s97).select(
        (F.col("vec_id") + F.lit(5_000_000)).alias("vec_id"),
        F.reverse(F.col("embedding").cast("array<double>")).alias("embedding"),
    )

    root = str(tmp_path / "ivf")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_ivf_root(
        base, root, "vec_id", "embedding", n_clusters=8, seed=42
    )
    split = str(tmp_path / "split")
    novel.repartitionByRange(2, F.col("vec_id")).write.parquet(split)
    parts = sorted(f for f in os.listdir(split) if f.endswith(".parquet"))
    for i, fname in enumerate(parts):
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(split, fname), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(src), novel.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    idx = index_sync.load_synced_ivf(spark, root)
    probes = novel.orderBy("vec_id").limit(5).collect()
    for r in probes:
        top = S.ivf_topk(
            idx, [float(x) for x in r.embedding], k=1, n_probes=1
        ).collect()
        assert top and top[0][idx.id_col] == r.vec_id, (
            f"appended id {r.vec_id} not self-retrievable at n_probes=1 — "
            "assignment and probe routing diverged"
        )


def test_vacuum_on_uncompacted_root_spares_committed_epochs(
    spark, sf_dir, tmp_path
):
    """Vacuum BEFORE the first compaction must remove ONLY staged
    orphans above the pointer — never epoch 0, which is live state
    while compact_upto is absent (_ledger_frames' cu==0 special case).
    Regression: the sweep used `e <= cu` with cu defaulting to 0, so a
    vacuum on a never-compacted root rmtree'd the base-corpus epoch and
    every later read silently lost the base corpus."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    root = str(tmp_path / "index")
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )
    base_grams = index_sync.read_synced_grams(spark, root).count()
    assert base_grams > 0

    # a staged crash orphan above the pointer IS sweepable
    spark.createDataFrame(
        [(1, 2, 3)], "new_doc long, corpus_doc long, jaccard_micro long"
    ).write.parquet(index_sync._epoch_path(root, "pairs", 9))

    assert index_sync.vacuum_root(root) == 1  # orphan only
    assert index_sync.vacuum_root(root) == 0  # idempotent
    # the base epoch survived and reads are intact
    assert index_sync.read_synced_grams(spark, root).count() == base_grams


def test_bm25_synced_lazy_queries_are_independent(spark, sf_dir, tmp_path):
    """Two lazy synced-BM25 queries over the same session (different
    as-of points) must not clobber each other: building the second
    query before collecting the first used to re-register the fixed
    session-global temp views the first one's plan read from (r12
    ADVICE low), silently changing its result. The scorer is now pure
    DataFrame API — no shared names."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    b0 = docs.filter(F.col("doc_id") % 5 == 0)

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_bm25_root(corpus, root, "doc_id", "text")
    staged = str(tmp_path / "stage0")
    b0.repartition(1).write.parquet(staged)
    part = next(f for f in sorted(os.listdir(staged)) if f.endswith(".parquet"))
    os.replace(os.path.join(staged, part), str(src / "batch0000.parquet"))
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    terms = ("spark", "vector", "stream")
    # isolated ground truths, one collect each
    want_head = [
        tuple(r)
        for r in index_sync.bm25_topk_synced(
            spark, root, terms, k=10, as_of_epoch=1
        ).collect()
    ]
    want_base = [
        tuple(r)
        for r in index_sync.bm25_topk_synced(
            spark, root, terms, k=10, as_of_epoch=0
        ).collect()
    ]
    assert want_head != want_base  # the batch actually moved the ranking

    # interleaved: build BOTH lazily, then collect in reverse order
    q_head = index_sync.bm25_topk_synced(spark, root, terms, k=10, as_of_epoch=1)
    q_base = index_sync.bm25_topk_synced(spark, root, terms, k=10, as_of_epoch=0)
    assert [tuple(r) for r in q_head.collect()] == want_head
    assert [tuple(r) for r in q_base.collect()] == want_base


def test_bm25_cdc_sync_updates_deletes_crash_restart(spark, sf_dir, tmp_path):
    """The BM25 CDC arm (signed tombstone epochs): inserts, then
    updates+deletes, then a re-insert of a deleted doc, with a crash
    MID-COMMIT-WINDOW before the last batch and garbage staged above
    the pointer. After the re-drain, the synced ranking must equal a
    FROM-SCRATCH index over the final corpus (an updated doc re-ranks
    with its new text, a deleted doc vanishes, a re-inserted doc
    returns), as-of time travel reconstructs the pre-CDC state, and
    compaction + vacuum leave everything row-exact."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    in_base = did % 5 != 0
    in_b0 = did % 15 == 0
    upd_set = did % 7 == 1
    del_set = in_base & (did % 11 == 3) & ~upd_set
    reins_set = in_base & (did % 11 == 3) & ~upd_set & (did % 2 == 0)

    corpus = docs.filter(in_base)
    b0 = docs.filter(in_b0).withColumn("op", F.lit("I"))
    b1 = (
        docs.filter(upd_set)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" spark spark")).alias("text"),
        )
        .withColumn("op", F.lit("U"))
        .unionByName(
            docs.filter(del_set).select("doc_id", "text").withColumn(
                "op", F.lit("D")
            )
        )
    )
    b2 = docs.filter(reins_set).withColumn("op", F.lit("I"))

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_bm25_root(corpus, root, "doc_id", "text")

    def stage(i, bdf):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    for i, bdf in enumerate((b0, b1, b2)):
        stage(i, bdf)

    def poison(epoch_id):
        if epoch_id == 2:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    # worst crash window: garbage staged above the pointer on the
    # doclog table
    spark.createDataFrame(
        [(999_999, ["zzz"], 1, 0)],
        "doc long, w array<string>, dl int, __dbucket int",
    ).write.partitionBy("__dbucket").parquet(
        index_sync._epoch_path(root, "doclog", 3)
    )

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["max_epoch"] == 3

    # ground truth: a FRESH index over the final corpus
    final = (
        docs.filter(in_base | in_b0 | upd_set)
        .filter(~(del_set & ~reins_set))
        .select(
            "doc_id",
            F.when(
                upd_set, F.concat(F.col("text"), F.lit(" spark spark"))
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    truth_root = str(tmp_path / "truth")
    index_sync.init_bm25_root(final, truth_root, "doc_id", "text")
    terms = ("spark", "vector", "stream")
    # the signed totals in the pointer net to the rebuild's
    truth_stats = index_sync.read_index_pointer(truth_root)["corpus_stats"]
    assert ptr["corpus_stats"][-1] == [3, *truth_stats[0][1:]]

    def topk(r, **kw):
        return [
            tuple(x)
            for x in index_sync.bm25_topk_synced(
                spark, r, terms, k=10, **kw
            ).collect()
        ]

    got = topk(root)
    assert got == topk(truth_root)

    # the updates actually moved the ranking (every updated doc gained
    # two 'spark' tokens) and a deleted-not-reinserted doc is gone
    pre_root = str(tmp_path / "pre")
    index_sync.init_bm25_root(
        corpus.unionByName(docs.filter(in_b0).select("doc_id", "text")),
        pre_root, "doc_id", "text",
    )
    as_of1 = topk(root, as_of_epoch=1)
    assert as_of1 == topk(pre_root)  # time travel = state after inserts
    assert got != as_of1

    # retention: compact + vacuum leave the signed fold row-exact
    assert index_sync.compact_root(spark, root) == 3
    assert index_sync.vacuum_root(root) > 0
    assert topk(root) == got
    assert topk(root, as_of_epoch=1) == as_of1


def test_ivf_delete_ids_tombstones_reinsert_purge(spark, sf_dir, tmp_path):
    """Id-level deletes for the IVF posting ledger: a tombstone epoch
    hides postings committed before it, a streamed re-insert AFTER the
    delete is visible again, as-of reads before the delete still see
    the row, and the purging compaction physically removes tombstoned
    rows + sets the as-of refusal floor while head reads stay
    identical."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vid = F.col("vec_id")
    base = emb.filter(vid % 4 != 3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    batch = emb.filter(vid % 4 == 3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    doomed = [
        r["vec_id"] for r in base.filter(vid % 9 == 2).select("vec_id").collect()
    ]
    assert doomed

    root = str(tmp_path / "index")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=8)

    # tombstone epoch 1 (manual, outside any stream)
    assert index_sync.delete_ids(spark, root, doomed) == 1
    assert index_sync.read_index_pointer(root)["max_epoch"] == 1

    def visible(as_of=None):
        return {
            r["vec_id"]
            for r in index_sync.load_synced_ivf(
                spark, root, as_of_epoch=as_of
            ).assigned.select("vec_id").collect()
        }

    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    assert visible(as_of=0) == base_ids  # history intact
    assert visible() == base_ids - set(doomed)

    # crash window: a STAGED tombstone epoch above the pointer (a
    # delete that died before its flip) is invisible to every reader
    spark.createDataFrame(
        [(v,) for v in sorted(base_ids)[:3]], "vec_id long"
    ).write.parquet(index_sync._epoch_path(root, "deletes", 5))
    assert visible() == base_ids - set(doomed)

    # a streamed batch lands ABOVE the manual epoch (max-rule: epoch 2)
    # and re-inserts one of the deleted ids — visible again
    reins = base.filter(vid == doomed[0])
    src = tmp_path / "src"
    src.mkdir()
    staged = str(tmp_path / "stage0")
    batch.unionByName(reins).repartition(1).write.parquet(staged)
    part = next(f for f in sorted(os.listdir(staged)) if f.endswith(".parquet"))
    os.replace(os.path.join(staged, part), str(src / "batch0000.parquet"))
    index_sync.sync_root(
        spark, str(src), batch.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 2 and ptr["last_batch_id"] == 0

    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    want_head = (base_ids - set(doomed)) | batch_ids | {doomed[0]}
    assert visible() == want_head
    assert visible(as_of=1) == base_ids - set(doomed)

    # the guard refuses absurd tombstone sets
    with pytest.raises(ValueError, match="max_affected"):
        index_sync.delete_ids(spark, root, doomed, max_affected=1)

    # purge: physical removal + refusal floor; head reads identical
    assert index_sync.compact_root(spark, root, purge_deleted=True) == 2
    assert index_sync.vacuum_root(root) > 0
    assert visible() == want_head
    ptr = index_sync.read_index_pointer(root)
    assert ptr.get("purge_floor") == 2
    with pytest.raises(ValueError, match="purge floor"):
        index_sync.load_synced_ivf(spark, root, as_of_epoch=1)
    # tombstoned rows are PHYSICALLY gone (read the compact directly)
    raw = spark.read.parquet(
        index_sync._compact_path(root, "postings", 2)
    )
    gone = set(doomed) - {doomed[0]}
    assert not {
        r["vec_id"] for r in raw.select("vec_id").collect()
    } & gone
    # purging again without new epochs is refused, not silently no-op'd
    with pytest.raises(ValueError, match="purge needs uncompacted"):
        index_sync.compact_root(spark, root, purge_deleted=True)


def test_semantic_dedup_sync_respects_id_deletes(spark, sf_dir, tmp_path):
    """`delete_ids` on a SEMANTIC dedup root: the streaming
    probe reads postings through the tombstone anti-join
    (_synced_postings), so a deleted corpus vector stops being flagged
    as a near-dup source while an undeleted twin keeps matching — and
    verdicts committed BEFORE the delete survive (flag-and-audit
    history is never rewritten)."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    c1, c2 = 1, 2  # both in the corpus (id % 5 != 0)
    plants = (
        corpus.filter(F.col("vec_id").isin([c1, c2]))
        .select(
            (F.col("vec_id") + F.lit(300_000_000)).alias("vec_id"),
            "embedding",
        )
    )

    root = str(tmp_path / "index")
    index_sync.init_semantic_dedup_root(
        corpus, root, "vec_id", "embedding",
        n_clusters=8, n_probes=8, min_cosine=0.95, seed=7,
    )
    assert index_sync.delete_ids(spark, root, [c1]) == 1

    src = tmp_path / "src"
    src.mkdir()
    staged = str(tmp_path / "stage0")
    plants.repartition(1).write.parquet(staged)
    part = next(f for f in sorted(os.listdir(staged)) if f.endswith(".parquet"))
    os.replace(os.path.join(staged, part), str(src / "batch0000.parquet"))
    index_sync.sync_root(
        spark, str(src), plants.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2

    pairs = {
        (r["new_vec"], r["corpus_vec"])
        for r in index_sync.load_synced_semantic_pairs(spark, root).collect()
    }
    assert (c2 + 300_000_000, c2) in pairs  # the live twin still flags
    assert not any(cv == c1 for _, cv in pairs), (
        "a deleted corpus vector was still offered as a near-dup source"
    )


def test_compact_root_moves_semantic_pairs_with_postings(
    spark, sf_dir, tmp_path
):
    """``compact_root`` reads the kind from the pointer, so a semantic
    root's postings AND pairs fold under one ``compact_upto`` — the
    wrong pairing (compacting postings only) would let ``vacuum_root``
    delete pair epochs no compact holds. After a later batch, the
    vacuum keeps the uncompacted pair epoch and every verdict stays
    readable. ``purge_pairs`` on a root without a pairs table (IVF)
    is refused."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        compact_path,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 200))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    root = str(tmp_path / "semantic")
    index_sync.init_semantic_dedup_root(
        corpus, root, "vec_id", "embedding",
        n_clusters=4, n_probes=4, min_cosine=0.95, seed=7,
    )

    def drain(name, ids):
        plants = corpus.filter(F.col("vec_id").isin(ids)).select(
            (F.col("vec_id") + F.lit(300_000_000)).alias("vec_id"),
            "embedding",
        )
        src = tmp_path / name
        _stage_cdc_batches(tmp_path, src, (plants,))
        index_sync.sync_root(
            spark, str(src), plants.schema, root,
            checkpoint_dir=str(tmp_path / f"ck_{name}"),
        )

    def pairs():
        return {
            (r["new_vec"], r["corpus_vec"])
            for r in index_sync.load_synced_semantic_pairs(
                spark, root
            ).collect()
        }

    drain("src0", [1, 2])
    first = pairs()
    assert {(1 + 300_000_000, 1), (2 + 300_000_000, 2)} <= first

    assert index_sync.compact_root(spark, root) == 1
    ptr = index_sync.read_index_pointer(root)
    assert ptr["compact_upto"] == ptr["max_epoch"] == 1
    for table in ("postings", "pairs"):
        assert os.path.isdir(compact_path(root, table, 1)), table

    drain("src1", [3])
    both = pairs()
    assert (3 + 300_000_000, 3) in both and first <= both
    assert index_sync.vacuum_root(root) > 0
    assert sorted(os.listdir(os.path.join(root, "pairs"))) == ["epoch=2"]
    assert pairs() == both

    ivf = str(tmp_path / "ivf")
    index_sync.init_ivf_root(corpus, ivf, "vec_id", "embedding", n_clusters=4)
    with pytest.raises(ValueError, match="no pairs table"):
        index_sync.compact_root(
            spark, ivf, purge_deleted=True, purge_pairs=True
        )


def test_minhash_delete_ids_reingest_and_purge(spark, sf_dir, tmp_path):
    """Id-level deletes for the GROWING dedup index: a tombstoned
    corpus doc stops being offered as a near-dup source (bands AND
    grams sides), a later re-ingest of the same doc re-enters the
    index, the purging compaction physically removes the deleted
    docs' grams/bands (content) while keeping the pairs audit history."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.filter(did % 5 != 0)
    doomed = [
        int(r["doc_id"])
        for r in corpus.filter(did % 20 == 1).select("doc_id").collect()
    ]
    assert doomed
    # batch 0: verbatim copies of %10==1 docs (superset of doomed)
    b0 = corpus.filter(did % 10 == 1).select(
        (did + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    # batch 1: RE-INGEST one deleted doc under its own id;
    # batch 2: one more copy of it — the copy must flag against the
    # re-ingest (same-batch docs are never probed against each other)
    reins = corpus.filter(did == doomed[0])
    b1 = reins
    b2 = reins.select((did + F.lit(20_000_000)).alias("doc_id"), "text")

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )
    assert index_sync.delete_ids(spark, root, doomed) == 1

    def stage(i, bdf):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stage(0, b0)
    stage(1, b1)
    stage(2, b2)
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    ptr = index_sync.read_index_pointer(root)
    # delete at epoch 1, batches at 2, 3, 4 (max-rule interleave)
    assert ptr["max_epoch"] == 4 and ptr["last_batch_id"] == 2

    pairs = {
        (r["new_doc"], r["corpus_doc"])
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    }
    live_twin = next(
        int(r["doc_id"])
        for r in corpus.filter((did % 10 == 1) & (did % 20 != 1))
        .select("doc_id").collect()
    )
    assert (live_twin + 10_000_000, live_twin) in pairs
    # batch-0 copies of DELETED docs found no corpus twin
    assert not any(
        (d + 10_000_000, d) in pairs for d in doomed
    ), "a tombstoned doc was still offered as a near-dup source"
    # the batch-1 re-ingest re-entered the index (epoch 3 > delete
    # epoch 1): the batch-2 copy flags against it
    assert (doomed[0] + 20_000_000, doomed[0]) in pairs

    # purge: grams/bands physically clean of deleted docs (except the
    # re-ingested one, whose re-ingest epoch outlives its tombstone),
    # pairs audit history intact, purge floor refuses earlier as-of
    before = pairs
    assert index_sync.compact_root(spark, root, purge_deleted=True) == 4
    assert index_sync.vacuum_root(root) > 0
    raw = spark.read.parquet(
        index_sync._compact_path(root, "grams", 4)
    )
    left = {r["doc"] for r in raw.select("doc").distinct().collect()}
    assert not (set(doomed) - {doomed[0]}) & left
    assert doomed[0] in left  # the re-ingest survives its tombstone
    assert {
        (r["new_doc"], r["corpus_doc"])
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    } == before
    with pytest.raises(ValueError, match="purge floor"):
        index_sync.load_synced_dedup_pairs(spark, root, as_of_epoch=2)


def test_streaming_pca_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The PCA CDC arm (signed moment epochs from before-image CDC
    rows) survives a crash MID-COMMIT-WINDOW: inserts commit, the sink
    dies before the update/delete batch, a garbage moments epoch is
    staged above the pointer by hand, and the re-drain must overwrite
    it and converge — the refit model equals a from-scratch fit over
    (base ∪ inserts − deleted + updated), asserted via bit-identical
    projections."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators.pca import (
        fit_pca,
        pca_project,
    )
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    vid = F.col("vec_id")
    perturbed = F.transform(
        "embedding",
        lambda x, i: F.when(i == 0, x + F.lit(0.0625)).otherwise(x),
    )
    nullvec = F.lit(None).cast("array<double>")

    base = emb.filter(vid % 4 != 3)
    b0 = emb.filter(vid % 4 == 3).select(
        "vec_id", "embedding", nullvec.alias("old_vec"), F.lit("I").alias("op")
    )
    b1 = (
        emb.filter(vid % 8 == 1)
        .select(
            "vec_id", perturbed.alias("embedding"),
            F.col("embedding").alias("old_vec"), F.lit("U").alias("op"),
        )
        .unionByName(
            emb.filter((vid % 9 == 2) & (vid % 8 != 1)).select(
                "vec_id", nullvec.alias("embedding"),
                F.col("embedding").alias("old_vec"), F.lit("D").alias("op"),
            )
        )
    )
    final = emb.filter(~((vid % 9 == 2) & (vid % 8 != 1))).select(
        "vec_id",
        F.when(vid % 8 == 1, perturbed).otherwise(F.col("embedding")).alias(
            "embedding"
        ),
    )

    root = str(tmp_path / "moments_root")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_pca_moments_root(base, root, "embedding")
    for i, bdf in enumerate((b0, b1)):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0 and ptr["max_epoch"] == 1

    # worst crash window: a garbage moments epoch above the pointer
    # (one wrong cell shifts every projected coordinate)
    spark.createDataFrame(
        [(0, 0, 999_999)], "i int, j int, m long"
    ).write.parquet(index_sync._moments_epoch_path(root, 2))

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    model = index_sync.load_synced_pca_model(
        spark, root, n_components=2, n_iter=12
    )
    got = [
        tuple(r)
        for r in pca_project(final, "vec_id", "embedding", model)
        .orderBy("vec_id").collect()
    ]
    truth_model = fit_pca(final, "embedding", n_components=2, n_iter=12)
    truth = [
        tuple(r)
        for r in pca_project(final, "vec_id", "embedding", truth_model)
        .orderBy("vec_id").collect()
    ]
    assert got == truth


def test_crashed_verb_orphan_never_activates(spark, sf_dir, tmp_path):
    """A verb that crashed between its staged epoch write and its
    pointer flip must stay DEAD even when a later commit reuses its
    epoch number: stream batches write only their own tables, so
    without the pre-commit sweep (ledger.clear_staged_epoch) advancing
    the pointer past the orphan's epoch would silently activate the
    dead verb's tables. Probed both ways: a crashed delete's
    tombstones must not hide postings after a stream batch lands, and
    a crashed stream's posting orphan must not surface after a manual
    delete lands."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vid = F.col("vec_id")
    base = emb.filter(vid % 4 != 3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    batch = emb.filter(vid % 4 == 3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    root = str(tmp_path / "index")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=8)

    # simulate a delete_ids that died between write and flip:
    # tombstones staged at epoch 1, pointer still at max_epoch 0
    some = sorted(base_ids)[:5]
    spark.createDataFrame(
        [(v,) for v in some], "vec_id long"
    ).write.parquet(index_sync._epoch_path(root, "deletes", 1))
    assert index_sync.read_index_pointer(root)["max_epoch"] == 0

    # a stream batch now lands AT epoch 1 — the dead delete must not
    # activate when the pointer advances to 1
    src = tmp_path / "src"
    src.mkdir()
    staged = str(tmp_path / "stage0")
    batch.repartition(1).write.parquet(staged)
    part = next(f for f in sorted(os.listdir(staged)) if f.endswith(".parquet"))
    os.replace(os.path.join(staged, part), str(src / "batch0000.parquet"))
    index_sync.sync_root(
        spark, str(src), batch.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 1
    visible = {
        r["vec_id"]
        for r in index_sync.load_synced_ivf(spark, root)
        .assigned.select("vec_id").collect()
    }
    assert visible == base_ids | batch_ids, (
        "a crashed delete's staged tombstones activated after an "
        "unrelated stream batch advanced the pointer past their epoch"
    )

    # mirror: a crashed stream batch's posting orphan at epoch 2 must
    # not surface when a manual delete takes epoch 2 and flips
    spark.createDataFrame(
        [(999_999, [0.0] * 4, 0)],
        "vec_id long, embedding array<double>, cluster int",
    ).write.partitionBy("cluster").parquet(
        index_sync._ivf_epoch_path(root, 2)
    )
    index_sync.delete_ids(spark, root, some)
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2
    visible = {
        r["vec_id"]
        for r in index_sync.load_synced_ivf(spark, root)
        .assigned.select("vec_id").collect()
    }
    assert 999_999 not in visible, (
        "a crashed stream's staged postings activated after a manual "
        "delete advanced the pointer past their epoch"
    )
    assert visible == (base_ids - set(some)) | batch_ids


def test_bm25_cdc_null_text_and_empty_index_edges(spark, tmp_path):
    """Review-found edges of the BM25 CDC arm, pinned: (1) a NULL-text
    upsert is a live termless doc, NOT a delete marker — its later
    delete nets n_docs back out instead of inflating N forever; (2) a
    drain that deletes EVERY document leaves a valid committed state
    whose query returns the empty ranking, not a ZeroDivision; (3)
    delete_ids no-ops on an empty id set without burning a
    string-typed epoch."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = spark.createDataFrame(
        [(1, "spark stream"), (2, "vector spark")], "doc_id long, text string"
    )
    root = str(tmp_path / "index")
    index_sync.init_bm25_root(docs, root, "doc_id", "text")

    # (3) first, on the committed base
    assert index_sync.delete_ids(spark, root, []) == 0
    assert index_sync.read_index_pointer(root)["max_epoch"] == 0

    nulltext = F.lit(None).cast("string")
    b0 = spark.createDataFrame([(3,)], "doc_id long").select(
        "doc_id", nulltext.alias("text"), F.lit("I").alias("op")
    )
    b1 = spark.createDataFrame(
        [(1, "D"), (2, "D"), (3, "D")], "doc_id long, op string"
    ).select("doc_id", nulltext.alias("text"), "op")

    src = tmp_path / "src"
    src.mkdir()
    for i, bdf in enumerate((b0, b1)):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 2

    # (1)+(2): the null-text insert was counted AND its delete found
    # the doclog old version, so the fully-deleted index nets to
    # n_docs == 0 — and the query returns the empty ranking
    assert ptr["corpus_stats"] == [[0, 2, 4], [1, 3, 4], [2, 0, 0]]
    out = index_sync.bm25_topk_synced(spark, root, ("spark",), k=5)
    assert out.collect() == []
    assert out.schema["doc_id"].dataType.typeName() == "long"


def test_bm25_synced_query_plans_without_jobs(spark, sf_dir, tmp_path):
    """A synced BM25 query is ONE lazy plan: building it submits no
    Spark job (corpus totals come from the pointer, the term-bucket
    filter constant-folds into a partition filter, postings are read
    with the recorded schema) and collecting it costs at most 6; every
    postings scan it runs prunes on ``__tbucket``. Its top-k equals a fresh
    rebuild's at the head, as of the pre-CDC epoch, and after a
    purging compaction; as-of reads below the purge floor are
    refused."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    did = F.col("doc_id")
    upd = (did % 5 != 0) & (did % 7 == 1)
    dele = (did % 5 != 0) & (did % 7 != 1) & (did % 11 == 3)
    spark_spark = F.concat("text", F.lit(" spark spark"))
    base = docs.filter(did % 5 != 0)
    cdc = (
        docs.filter(did % 5 == 0)
        .withColumn("op", F.lit("I"))
        .unionByName(
            docs.filter(upd).select(
                "doc_id", spark_spark.alias("text"), F.lit("U").alias("op")
            )
        )
        .unionByName(docs.filter(dele).withColumn("op", F.lit("D")))
    )
    live = docs.filter(~dele).select(
        "doc_id",
        F.when(upd, spark_spark).otherwise(F.col("text")).alias("text"),
    )

    root = str(tmp_path / "index")
    index_sync.init_bm25_root(base, root, "doc_id", "text")
    _stage_cdc_batches(tmp_path, tmp_path / "src", (cdc,))
    index_sync.sync_root(
        spark, str(tmp_path / "src"), cdc.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"), op_col="op",
    )

    terms = ("spark", "vector", "stream")
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def topk(r, **kw):
        j0 = sched.numTotalJobs()
        q = index_sync.bm25_topk_synced(spark, r, terms, k=10, **kw)
        j1 = sched.numTotalJobs()
        rows = [tuple(x) for x in q.collect()]
        assert j1 == j0, "building the query submitted Spark jobs"
        assert sched.numTotalJobs() - j1 <= 6
        return rows

    def rebuild(frame, name):
        r = str(tmp_path / name)
        index_sync.init_bm25_root(frame, r, "doc_id", "text")
        return topk(r)

    head = topk(root)
    assert len(head) == 10 and head == rebuild(live, "truth")
    # the df branch reuses the scoring branch's folded-postings exchange
    q = index_sync.bm25_topk_synced(spark, root, terms, k=10)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    # the bucket filter is folded to literals and prunes at listing
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and all(
        re.search(
            r"__tbucket#\d+ IN \(\d+(,\d+){0,2}\)",
            ln.split("PartitionFilters: [")[1].split("]")[0],
        )
        for ln in scans
    )
    pre = topk(root, as_of_epoch=0)
    assert pre == rebuild(base, "truth0") and pre != head

    assert index_sync.compact_root(spark, root, purge_deleted=True) == 1
    ptr = index_sync.read_index_pointer(root)
    assert ptr["purge_floor"] == 1
    assert [e for e, *_ in ptr["corpus_stats"]] == [1]
    assert topk(root) == head
    with pytest.raises(ValueError, match="purge floor"):
        index_sync.bm25_topk_synced(spark, root, terms, k=10, as_of_epoch=0)


def test_bm25_plain_compaction_keeps_pointer_tail_sized(spark, tmp_path):
    """A BM25 root maintained WITHOUT purging keeps a pointer the size
    of its live tail: each compaction moves the ``corpus_stats``
    entries it folds into a history file beside the compact postings
    (chained across compactions), and as-of reads below
    ``compact_upto`` still return the exact ranking and totals of their
    epoch, planned without a Spark job."""
    from spacex_data_engineering_pipeline_spark.streaming import (
        bm25_sync,
        index_sync,
    )

    docs = spark.createDataFrame(
        [(i, f"spark doc{i} vector" + " x" * (i % 4)) for i in range(1, 40)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "index")
    index_sync.init_bm25_root(docs, root, "doc_id", "text")
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def topk(**kw):
        j0 = sched.numTotalJobs()
        q = index_sync.bm25_topk_synced(
            spark, root, ("spark", "doc6", "x"), 5, **kw
        )
        assert sched.numTotalJobs() == j0
        return [tuple(r) for r in q.collect()]

    want = {0: topk()}
    totals = {0: index_sync.read_index_pointer(root)["corpus_stats"][-1]}
    for e in range(1, 5):
        index_sync.delete_ids(spark, root, [e * 3])
        want[e] = topk()
        totals[e] = index_sync.read_index_pointer(root)["corpus_stats"][-1]
        index_sync.maintain_root(spark, root, max_tail_epochs=1)
        assert len(index_sync.read_index_pointer(root)["corpus_stats"]) <= 2
    ptr = index_sync.read_index_pointer(root)
    assert ptr["compact_upto"] == 4 and ptr["corpus_stats"] == [totals[4]]
    assert len(set(map(tuple, want.values()))) == 5
    for e, (_, n, s) in totals.items():
        assert bm25_sync._corpus_stats_at(root, ptr, e) == (n, s)
        assert topk(as_of_epoch=e) == want[e]


def test_ivf_delete_empty_set_is_a_no_op(spark, sf_dir, tmp_path):
    """An empty delete set must not burn an epoch (an empty tombstone
    epoch would be a commit that changes nothing), and a real delete
    afterwards works."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    ).limit(50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    root = str(tmp_path / "index")
    index_sync.init_ivf_root(emb, root, "vec_id", "embedding", n_clusters=4)
    assert index_sync.delete_ids(spark, root, []) == 0
    assert index_sync.read_index_pointer(root)["max_epoch"] == 0
    assert not os.path.isdir(os.path.join(root, "deletes"))
    # a real (long-typed) delete afterwards works unpoisoned
    vid = int(emb.select("vec_id").first()["vec_id"])
    assert index_sync.delete_ids(spark, root, [vid]) == 1
    got = {
        r["vec_id"]
        for r in index_sync.load_synced_ivf(spark, root)
        .assigned.select("vec_id").collect()
    }
    assert vid not in got and got


def test_bm25_netting_compact_tracks_live_size(spark, sf_dir, tmp_path):
    """Netting/purging compaction for the BM25 ledger — the
    churn-retention dial: update-heavy CDC leaves 2k−1 signed posting
    rows per doc updated k times and k doc-log versions; a
    ``compact_root(purge_deleted=True)`` must (a) leave the synced
    ranking equal to a from-scratch index over the live corpus, (b)
    shrink the compacted postings/doclog to EXACTLY the live corpus's
    size, (c) set the as-of refusal floor, and (d) keep the CDC arm
    working afterwards (the netted doc log still serves old versions
    for the next update's tombstones)."""
    import os

    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    in_base = did % 5 != 0
    upd_set = did % 7 == 1
    del_set = in_base & (did % 11 == 3) & ~upd_set

    corpus = docs.filter(in_base)
    # two successive updates of the SAME docs (churn) + one delete set
    b0 = (
        docs.filter(upd_set)
        .select("doc_id", F.concat("text", F.lit(" spark")).alias("text"))
        .withColumn("op", F.lit("U"))
        .unionByName(
            docs.filter(del_set).select("doc_id", "text").withColumn(
                "op", F.lit("D")
            )
        )
    )
    b1 = (
        docs.filter(upd_set)
        .select(
            "doc_id", F.concat("text", F.lit(" spark spark")).alias("text")
        )
        .withColumn("op", F.lit("U"))
    )

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_bm25_root(corpus, root, "doc_id", "text")

    def stage(i, bdf):
        staged = str(tmp_path / f"stage{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stage(0, b0)
    stage(1, b1)
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )

    # ground truth: fresh index over the live (post-CDC) corpus
    final = (
        docs.filter(in_base | upd_set)
        .filter(~del_set)
        .select(
            "doc_id",
            F.when(upd_set, F.concat("text", F.lit(" spark spark")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    truth_root = str(tmp_path / "truth")
    index_sync.init_bm25_root(final, truth_root, "doc_id", "text")
    terms = ("spark", "vector", "stream")

    def topk(r, **kw):
        return [
            tuple(x)
            for x in index_sync.bm25_topk_synced(
                spark, r, terms, k=10, **kw
            ).collect()
        ]

    got = topk(root)
    assert got == topk(truth_root)

    # churn is real pre-netting: the signed ledger holds MORE posting
    # rows than the live corpus (each update wrote negative+positive)
    live_postings = spark.read.parquet(
        os.path.join(truth_root, "postings", "epoch=0")
    ).count()
    pre_rows = spark.read.parquet(os.path.join(root, "postings")).count()
    assert pre_rows > live_postings

    # NET: compacted postings/doclog shrink to exactly live size
    assert index_sync.compact_root(spark, root, purge_deleted=True) == 2
    ptr = index_sync.read_index_pointer(root)
    assert ptr["compact_upto"] == 2 and ptr["purge_floor"] == 2
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        compact_path,
    )

    netted = spark.read.parquet(compact_path(root, "postings", 2))
    assert netted.count() == live_postings
    assert netted.filter(F.col("tf") <= 0).count() == 0
    netted_log = spark.read.parquet(compact_path(root, "doclog", 2))
    assert netted_log.count() == final.count()  # one LIVE version per doc
    assert netted_log.filter(F.col("w").isNull()).count() == 0
    assert topk(root) == got

    # the floor ends pre-netting readability explicitly
    with pytest.raises(ValueError, match="purge floor"):
        topk(root, as_of_epoch=1)

    # vacuum drops the netted-away epoch dirs; the ranking survives
    assert index_sync.vacuum_root(root) > 0
    assert not os.path.isdir(os.path.join(root, "postings", "epoch=1"))
    assert topk(root) == got

    # netting with nothing uncompacted refuses (silent no-op hazard)
    with pytest.raises(ValueError, match="uncompacted"):
        index_sync.compact_root(spark, root, purge_deleted=True)

    # the CDC arm keeps working on the netted root: a post-netting
    # update must find the netted doc log's live version to tombstone
    b2 = (
        docs.filter(upd_set)
        .select("doc_id", F.col("text"))  # revert to the original text
        .withColumn("op", F.lit("U"))
    )
    src2 = tmp_path / "src2"
    src2.mkdir()
    staged = str(tmp_path / "stage_b2")
    b2.repartition(1).write.parquet(staged)
    part = next(
        f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
    )
    os.replace(os.path.join(staged, part), str(src2 / "batch0000.parquet"))
    index_sync.sync_root(
        spark, str(src2), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        op_col="op",
    )
    truth2_root = str(tmp_path / "truth2")
    index_sync.init_bm25_root(
        docs.filter(in_base | upd_set).filter(~del_set),
        truth2_root, "doc_id", "text",
    )
    assert topk(root) == topk(truth2_root)


def test_bm25_cdc_refuses_duplicate_doc_rows_in_batch(spark, sf_dir, tmp_path):
    """The at-most-one-row-per-doc-per-micro-batch contract is
    ENFORCED: a batch carrying two versions of one doc would negate
    the old version once but write both positive rows, silently
    inflating N/df/tf — the fold must refuse, and the refusal must
    leave the committed state untouched (staged writes above the
    pointer are invisible)."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(40)
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    dup_id = int(corpus.agg(F.min("doc_id")).first()[0])
    bad = (
        docs.filter(F.col("doc_id") == dup_id)
        .withColumn("op", F.lit("U"))
        .unionByName(
            docs.filter(F.col("doc_id") == dup_id)
            .select("doc_id", F.concat("text", F.lit(" twice")).alias("text"))
            .withColumn("op", F.lit("U"))
        )
    )
    root = str(tmp_path / "index")
    src = tmp_path / "src"
    src.mkdir()
    index_sync.init_bm25_root(corpus, root, "doc_id", "text")
    staged = str(tmp_path / "stage0")
    bad.repartition(1).write.parquet(staged)
    part = next(
        f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
    )
    os.replace(os.path.join(staged, part), str(src / "batch0000.parquet"))
    before = index_sync.bm25_topk_synced(
        spark, root, ("spark", "vector", "stream"), k=10
    ).collect()
    with pytest.raises(StreamingQueryException, match="at most ONE row"):
        index_sync.sync_root(
            spark, str(src), bad.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"),
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 0 and ptr["last_batch_id"] is None
    assert (
        index_sync.bm25_topk_synced(
            spark, root, ("spark", "vector", "stream"), k=10
        ).collect()
        == before
    )


def test_delete_index_ids_refusals_and_id_col_alias(spark, sf_dir, tmp_path):
    """The lifecycle verb's guard rails: a moment ledger (no id-keyed
    rows) refuses EXPLICITLY instead of dying on a KeyError; a
    DataFrame of ids may carry either the ledger's tombstone column
    ('doc' on dedup roots) or the root's caller-facing id column (it
    is aliased); and an unrecognized column set names both."""
    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .limit(80)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    # PCA moments root: neither tomb_col nor id_col in the pointer
    proot = str(tmp_path / "pca")
    index_sync.init_pca_moments_root(emb, proot, "embedding")
    with pytest.raises(ValueError, match="no id-keyed rows"):
        index_sync.delete_ids(spark, proot, [1, 2])

    # MinHash dedup root: tomb_col='doc' but id_col='doc_id' — a frame
    # named by EITHER must work
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(60)
    )
    droot = str(tmp_path / "dedup")
    index_sync.init_minhash_root(docs, droot, "doc_id", "text")
    two = docs.limit(2).select("doc_id")
    e1 = index_sync.delete_ids(spark, droot, two)  # id_col frame
    e2 = index_sync.delete_ids(
        spark, droot, two.withColumnRenamed("doc_id", "doc")
    )
    assert e2 == e1 + 1
    with pytest.raises(ValueError, match="expected the root's tombstone"):
        index_sync.delete_ids(
            spark, droot, two.withColumnRenamed("doc_id", "wrong")
        )


def test_clear_staged_epoch_spares_non_ledger_dirs(tmp_path):
    """The orphan sweep is restricted to ledger-managed table names: a
    caller-placed directory inside the root (a stream source, a
    checkpoint) whose layout happens to contain an epoch=N subdir must
    survive an unrelated commit's pre-write sweep."""
    import os

    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        clear_staged_epoch,
    )

    root = tmp_path / "root"
    (root / "postings" / "epoch=3").mkdir(parents=True)  # a real orphan
    (root / "my_source" / "epoch=3").mkdir(parents=True)  # caller's dir
    (root / "custom_tbl" / "epoch=3").mkdir(parents=True)  # arm-declared
    removed = clear_staged_epoch(str(root), 3, tables=("custom_tbl",))
    assert removed == 2
    assert not os.path.isdir(str(root / "postings" / "epoch=3"))
    assert not os.path.isdir(str(root / "custom_tbl" / "epoch=3"))
    assert os.path.isdir(str(root / "my_source" / "epoch=3"))


def test_drain_checkpoint_lineage_scopes_replay_skip(spark, sf_dir, tmp_path):
    """Replay detection is scoped to the checkpoint lineage: (a) a NEW
    source drained under a NEW checkpoint dir into an existing root is
    a legitimate continuation — its epoch_ids restart at 0 but must
    NOT be skipped as replays (the silent-skip hazard the old bare
    ``epoch_id ≤ last_batch_id`` check carried); (b) wiping the
    checkpoint's contents at the SAME path over an unchanged source
    stays the proven no-op fixed point."""
    import os
    import shutil

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    b0 = emb.filter(F.col("vec_id") % 4 == 1)
    b1 = emb.filter(F.col("vec_id") % 4 == 2)
    root = str(tmp_path / "index")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=4)

    def stage(bdf, s):
        os.makedirs(s, exist_ok=True)
        staged = s + "_stage"
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = os.path.join(s, "batch0000.parquet")
        os.replace(os.path.join(staged, part), dst)
        os.utime(dst, (1_700_000_000, 1_700_000_000))

    src0 = str(tmp_path / "src0")
    stage(b0, src0)
    index_sync.sync_root(
        spark, src0, b0.schema, root, checkpoint_dir=str(tmp_path / "ckpt0")
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 1

    # (a) continuation: fresh checkpoint + fresh source — epoch_id 0
    # again, but a new lineage: must commit as epoch 2, not skip
    src1 = str(tmp_path / "src1")
    stage(b1, src1)
    index_sync.sync_root(
        spark, src1, b1.schema, root, checkpoint_dir=str(tmp_path / "ckpt1")
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 2
    n_all = index_sync.load_synced_ivf(spark, root).assigned.count()
    assert n_all == base.count() + b0.count() + b1.count()

    # (b) wiped checkpoint contents at the SAME path, unchanged source:
    # replays epoch 0 under the recorded token — still a no-op
    shutil.rmtree(str(tmp_path / "ckpt1"))
    index_sync.sync_root(
        spark, src1, b1.schema, root, checkpoint_dir=str(tmp_path / "ckpt1")
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2
    assert index_sync.load_synced_ivf(spark, root).assigned.count() == n_all


def _stage_cdc_batches(tmp_path, src, batches):
    """Deterministic single-file-per-batch staging (pinned mtimes) —
    the _stage_stream_batches shape, local to these tests."""
    import os

    src.mkdir(exist_ok=True)
    for i, bdf in enumerate(batches):
        staged = str(tmp_path / f"stage_{src.name}_{i}")
        bdf.repartition(1).write.parquet(staged)
        part = next(
            f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
        )
        dst = src / f"batch{i:04d}.parquet"
        os.replace(os.path.join(staged, part), str(dst))
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def test_ivf_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The IVF CDC arm: inserts, then updates+deletes with a crash
    MID-COMMIT-WINDOW before the U/D batch and a garbage postings
    orphan staged above the pointer. After the re-drain the synced
    probe must equal brute force over the post-CDC corpus, as-of time
    travel reconstructs the pre-CDC state, a re-insert of a deleted id
    (third batch) is visible again, and purge compaction physically
    drops the tombstoned rows."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        compact_path,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    vid = F.col("vec_id")
    neg = F.transform("embedding", lambda x: -x)
    base = emb.filter(vid % 4 != 3)
    b0 = emb.filter(vid % 4 == 3).withColumn("op", F.lit("I"))
    upd_set = vid % 8 == 1
    del_set = (vid % 9 == 2) & ~upd_set
    reins_set = del_set & (vid % 2 == 0)
    b1 = (
        emb.filter(upd_set)
        .select("vec_id", neg.alias("embedding"))
        .withColumn("op", F.lit("U"))
        .unionByName(emb.filter(del_set).withColumn("op", F.lit("D")))
    )
    b2 = emb.filter(reins_set).withColumn("op", F.lit("I"))

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    index_sync.init_ivf_root(
        base, root, "vec_id", "embedding", n_clusters=8, seed=42
    )
    _stage_cdc_batches(tmp_path, src, (b0, b1, b2))

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0 and ptr["max_epoch"] == 1

    # worst window: garbage postings AND tombstones staged above the
    # pointer — the replay must overwrite both, never activate them
    spark.createDataFrame(
        [(999_999, [9.9] * 8, 0)],
        "vec_id long, embedding array<double>, cluster int",
    ).write.partitionBy("cluster").parquet(
        index_sync._ivf_epoch_path(root, 2)
    )
    spark.createDataFrame([(7,)], "vec_id long").write.parquet(
        os.path.join(root, "deletes", "epoch=2")
    )

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["max_epoch"] == 3

    final = emb.filter(~(del_set & ~reins_set)).select(
        "vec_id",
        F.when(upd_set, neg).otherwise(F.col("embedding")).alias("embedding"),
    )
    idx = index_sync.load_synced_ivf(spark, root)
    got_ids = {int(r["vec_id"]) for r in idx.assigned.select("vec_id").collect()}
    want_ids = {int(r["vec_id"]) for r in final.select("vec_id").collect()}
    assert got_ids == want_ids

    qrows = emb.filter(vid < 6).collect()
    queries = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    )
    got = {
        (r.query_id, r.rnk): (r.vec_id, r.cos_sim)
        for r in S.ivf_batch_topk(idx, queries, k=5, n_probes=8).collect()
    }
    truth = {
        (r.query_id, r.rnk): (r.vec_id, r.cos_sim)
        for r in S.batch_knn_topk(
            final, "vec_id", "embedding", queries, k=5
        ).collect()
    }
    assert got == truth

    # as-of: pre-CDC state (after inserts, before any U/D)
    pre = index_sync.load_synced_ivf(spark, root, as_of_epoch=1)
    assert pre.assigned.count() == base.count() + b0.count()

    # purge: tombstoned rows physically gone from the compact
    assert index_sync.compact_root(spark, root, purge_deleted=True) == 3
    netted = spark.read.parquet(compact_path(root, "postings", 3))
    # deleted-not-reinserted ids are gone; updated ids keep ONLY rows
    # at their update epoch or later (the superseded version is purged)
    gone = {
        int(r["vec_id"])
        for r in emb.filter(del_set & ~reins_set).select("vec_id").collect()
    }
    assert not gone & {
        int(r["vec_id"]) for r in netted.select("vec_id").collect()
    }
    upd_rows = netted.filter(upd_set)
    assert upd_rows.filter(F.col("epoch") < 2).count() == 0
    assert upd_rows.count() == emb.filter(upd_set).count()


def test_semantic_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The semantic CDC arm: a crash before the U/D batch plus staged
    garbage (pairs AND tombstones) above the pointer; the re-drain
    must converge to verdicts identical to an uncrashed run, with the
    updated doc flagged against its retarget source but never against
    its own superseded embedding."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    perturb_of = lambda c: F.transform(  # noqa: E731
        c, lambda x, i: F.when(i == 0, x + F.lit(0.0625)).otherwise(x)
    )
    upd = (
        base.alias("x")
        .join(base.alias("y"), F.col("y.vec_id") == F.col("x.vec_id") + 5)
        .filter(F.col("x.vec_id") % 20 == 2)
        .select(
            F.col("x.vec_id").alias("vec_id"),
            perturb_of(F.col("y.embedding")).alias("embedding"),
        )
    )
    b0 = upd.withColumn("op", F.lit("U")).unionByName(
        base.filter(F.col("vec_id") % 20 == 13)
        .select("vec_id", "embedding")
        .withColumn("op", F.lit("D"))
    )
    b1 = (
        base.filter(F.col("vec_id") % 20 == 9)
        .select(
            (F.col("vec_id") + F.lit(100_000_000)).alias("vec_id"),
            perturb_of(F.col("embedding")).alias("embedding"),
        )
        .unionByName(
            base.filter(F.col("vec_id") % 20 == 13).select(
                (F.col("vec_id") + F.lit(300_000_000)).alias("vec_id"),
                perturb_of(F.col("embedding")).alias("embedding"),
            )
        )
        .withColumn("op", F.lit("I"))
    )

    def run(root, ckpt, poison=None):
        index_sync.init_semantic_dedup_root(
            base, root, "vec_id", "embedding",
            n_clusters=4, n_probes=4, min_cosine=0.95, seed=7,
        )
        try:
            index_sync.sync_root(
                spark, str(src), b0.schema, root,
                checkpoint_dir=ckpt, on_batch_start=poison,
                op_col="op",
            )
        except StreamingQueryException:
            if poison is None:
                raise
            return

    src = tmp_path / "src"
    _stage_cdc_batches(tmp_path, src, (b0, b1))

    # uncrashed reference run
    ref_root = str(tmp_path / "ref")
    run(ref_root, str(tmp_path / "ckpt_ref"))
    want = {
        (r.new_vec, r.corpus_vec, r.cos_sim)
        for r in index_sync.load_synced_semantic_pairs(
            spark, ref_root
        ).collect()
    }

    # crashed + garbage-orphaned + re-drained run
    root = str(tmp_path / "index")

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    run(root, str(tmp_path / "ckpt"), poison)
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0 and ptr["max_epoch"] == 1
    spark.createDataFrame(
        [(111, 222, 1.0)], "new_vec long, corpus_vec long, cos_sim double"
    ).write.parquet(index_sync._epoch_path(root, "pairs", 2))
    spark.createDataFrame([(3,)], "vec_id long").write.parquet(
        index_sync._epoch_path(root, "deletes", 2)
    )
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    got = {
        (r.new_vec, r.corpus_vec, r.cos_sim)
        for r in index_sync.load_synced_semantic_pairs(spark, root).collect()
    }
    assert got == want
    assert (111, 222, 1.0) not in got
    # the update was flagged against its retarget source...
    upd_ids = {int(r["vec_id"]) for r in upd.select("vec_id").collect()}
    flagged_new = {n for (n, c, s) in got}
    assert upd_ids and upd_ids <= flagged_new
    # ...but never against its own superseded embedding
    assert not any(n == c for (n, c, s) in got)
    # deleted originals never appear as a corpus side for batch-1 twins
    del_ids = {
        int(r["vec_id"])
        for r in base.filter(F.col("vec_id") % 20 == 13)
        .select("vec_id")
        .collect()
    }
    assert not {c for (n, c, s) in got if n >= 300_000_000} & del_ids


def test_minhash_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The MinHash CDC arm: crash before the U/D batch, garbage grams
    orphan above the pointer, re-drain; verdicts equal an uncrashed
    run; the retargeted doc flags at jaccard 1.0 against its source;
    twins of deleted docs stay unflagged; and as-of reads before the
    update still see the OLD text's grams (history preserved until an
    explicit purge)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    upd = (
        docs.alias("x")
        .join(docs.alias("y"), F.col("y.doc_id") == F.col("x.doc_id") + 5)
        .filter((F.col("x.doc_id") % 5 != 0) & (F.col("x.doc_id") % 20 == 2))
        .select(
            F.col("x.doc_id").alias("doc_id"), F.col("y.text").alias("text")
        )
    )
    b0 = upd.withColumn("op", F.lit("U")).unionByName(
        corpus.filter(F.col("doc_id") % 20 == 13).withColumn("op", F.lit("D"))
    )
    b1 = (
        corpus.filter(F.col("doc_id") % 20 == 9)
        .select(
            (F.col("doc_id") + F.lit(100_000_000)).alias("doc_id"), "text"
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 20 == 13).select(
                (F.col("doc_id") + F.lit(300_000_000)).alias("doc_id"),
                "text",
            )
        )
        .withColumn("op", F.lit("I"))
    )

    src = tmp_path / "src"
    _stage_cdc_batches(tmp_path, src, (b0, b1))
    root = str(tmp_path / "index")
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0 and ptr["max_epoch"] == 1
    spark.createDataFrame(
        [(999, ["zzz zzz zzz"], 1)], "doc long, grams array<string>, __bucket int"
    ).write.partitionBy("__bucket").parquet(
        index_sync._epoch_path(root, "grams", 2)
    )
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1 and ptr["max_epoch"] == 2

    got = {
        (r.new_doc, r.corpus_doc, r.jaccard_micro)
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    }
    # retargeted docs flag at jaccard 1.0 against their source...
    upd_ids = {int(r["doc_id"]) for r in upd.select("doc_id").collect()}
    exact = {(n, c) for (n, c, j) in got if j == 1_000_000}
    for x in upd_ids:
        assert (x, x + 5) in exact
    # ...never against their own old text
    assert not any(n == c for (n, c, j) in got)
    # twins of deleted docs are NOT flagged against their original
    del_ids = {
        int(r["doc_id"])
        for r in corpus.filter(F.col("doc_id") % 20 == 13)
        .select("doc_id")
        .collect()
    }
    assert not {
        (n, c) for (n, c, j) in got if n >= 300_000_000
    } & {(d + 300_000_000, d) for d in del_ids}
    # survivors' twins ARE flagged
    surv = {
        int(r["doc_id"])
        for r in corpus.filter(F.col("doc_id") % 20 == 9)
        .select("doc_id")
        .collect()
    }
    assert {(s + 100_000_000, s) for s in surv} <= exact
    # as-of before the CDC epoch: old texts' grams still readable
    pre = index_sync.read_synced_grams(spark, root, as_of_epoch=0)
    assert {int(r["doc"]) for r in pre.select("doc").collect()} == {
        int(r["doc_id"]) for r in corpus.select("doc_id").collect()
    }


def test_delete_graph_ids_plain_root_reupsert_and_crash(spark, sf_dir, tmp_path):
    """``delete_ids`` on a PLAIN graph root: the removal nets
    the ids out of the derived corpus and publishes the edge-repaired
    graph as a new generation; a later streamed RE-UPSERT of a removed
    id outranks the removal (alive again); and a crash window (staged
    generation + removal rows above the pointer) never activates."""
    import os

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    mx = int(emb.agg(F.max("vec_id")).first()[0])
    s95 = mx * 95 // 100
    vid = F.col("vec_id")
    base = emb.filter(vid < s95)
    b0 = emb.filter(vid >= s95)
    doomed = [
        int(r["vec_id"])
        for r in emb.filter((vid % 13 == 4) & (vid < s95) | (vid == mx))
        .select("vec_id")
        .collect()
    ]
    reupsert_id = doomed[-1] if mx in doomed else mx
    assert reupsert_id == mx  # one removed id comes back re-vectored

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    index_sync.init_knn_graph_root(
        base, root, "vec_id", "embedding", k=4, n_blocks=4, n_buckets=8
    )
    _stage_cdc_batches(tmp_path, src, (b0,))
    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    gen = index_sync.delete_ids(spark, root, doomed)
    ptr = index_sync.read_index_pointer(root)
    assert ptr["generation"] == gen

    # repaired graph ≡ rebuild over corpus − deleted (and no edge
    # cites a deleted id)
    final0 = emb.filter(~vid.isin(doomed))
    truth0 = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in S.knn_graph(
            final0, "vec_id", "embedding", k=4, n_blocks=4
        ).collect()
    }
    got0 = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got0 == truth0
    assert not {n for (_, n) in got0.values()} & set(doomed)

    # a removed id RE-UPSERTED by a later stream batch is alive again
    b1 = emb.filter(vid == reupsert_id).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    b1s = str(tmp_path / "b1stage")
    b1.repartition(1).write.parquet(b1s)
    part = next(f for f in sorted(os.listdir(b1s)) if f.endswith(".parquet"))
    os.replace(os.path.join(b1s, part), str(src / "batch0001.parquet"))
    os.utime(
        str(src / "batch0001.parquet"), (1_700_000_001, 1_700_000_001)
    )
    index_sync.sync_root(
        spark, str(src), b1.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    final1 = final0.unionByName(b1)
    truth1 = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in S.knn_graph(
            final1, "vec_id", "embedding", k=4, n_blocks=4
        ).collect()
    }
    got1 = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got1 == truth1
    assert reupsert_id in {v for (v, _) in got1}

    # crash window: removal rows + generation staged ABOVE the pointer
    # are invisible to the corpus derivation and the loaded graph
    ptr = index_sync.read_index_pointer(root)
    orphan_gen = ptr["generation"] + 7
    spark.createDataFrame(
        [(int(r["vec_id"]),) for r in final1.limit(3).collect()],
        "vec_id long",
    ).write.parquet(os.path.join(root, "removed", f"epoch={orphan_gen}"))
    got2 = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got2 == truth1
    corpus_now = index_sync._corpus_at(spark, root, ptr)
    assert corpus_now.count() == final1.count()

    # empty delete set: no-op, no burned generation
    assert index_sync.delete_ids(spark, root, []) == ptr["generation"]


def test_delete_graph_ids_refusals(spark, sf_dir, tmp_path):
    """Guard rail: hub-scale graph deletes refuse with the rebuild
    recommendation."""
    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .limit(60)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    groot = str(tmp_path / "graph")
    index_sync.init_knn_graph_root(
        emb, groot, "vec_id", "embedding", k=3, n_blocks=4, n_buckets=4
    )
    two = [int(r["vec_id"]) for r in emb.limit(2).collect()]
    with pytest.raises(ValueError, match="max_affected"):
        index_sync.delete_ids(spark, groot, two, max_affected=1)


def test_minhash_purge_pairs_total_sweep(spark, sf_dir, tmp_path):
    """The pairs-audit retention dial: ``compact_root(
    purge_deleted=True, purge_pairs=True)`` physically drops every
    pair citing a tombstoned id on either side (epoch-aware: verdicts
    a re-ingested id earned AFTER its re-insert survive), below-floor
    as-of refuses, and the flag is refused without purge_deleted."""
    import pytest

    from spacex_data_engineering_pipeline_spark.streaming import index_sync
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        compact_path,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # batch 0: verbatim twins of % 45 == 0 docs (flag vs corpus twin)
    plants0 = docs.filter(F.col("doc_id") % 45 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    root = str(tmp_path / "index")
    src = tmp_path / "src"
    index_sync.init_minhash_root(
        corpus, root, "doc_id", "text", min_jaccard_micro=300_000
    )
    _stage_cdc_batches(tmp_path, src, (plants0,))
    index_sync.sync_root(
        spark, str(src), plants0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pairs0 = {
        (r.new_doc, r.corpus_doc)
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    }
    assert pairs0  # plants flagged against their corpus twins

    # tombstone one flagged plant AND one cited corpus doc
    new_id = sorted(pairs0)[0][0]
    corpus_id = next(c for (n, c) in sorted(pairs0) if n != new_id)
    index_sync.delete_ids(spark, root, [int(new_id), int(corpus_id)])

    # then RE-INGEST the deleted plant's id with the VERBATIM text of
    # a fresh corpus doc: the post-re-insert verdict (new pair — the
    # old identity never cited this target) must survive the sweep
    target = int(corpus.agg(F.max("doc_id")).first()[0])
    assert (new_id, target) not in pairs0
    reing = docs.filter(F.col("doc_id") == target).select(
        F.lit(int(new_id)).cast("long").alias("doc_id"), "text"
    )
    src2 = tmp_path / "src2"
    _stage_cdc_batches(tmp_path, src2, (reing,))
    index_sync.sync_root(
        spark, str(src2), reing.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    relive = {
        (r.new_doc, r.corpus_doc)
        for r in index_sync.load_synced_dedup_pairs(spark, root).collect()
    } - pairs0
    assert (new_id, target) in relive  # re-flagged post-insert

    # the dial composes only with purge_deleted
    with pytest.raises(ValueError, match="purge_pairs extends"):
        index_sync.compact_root(spark, root, purge_pairs=True)

    assert (
        index_sync.compact_root(
            spark, root, purge_deleted=True, purge_pairs=True
        )
        > 0
    )
    ptr = index_sync.read_index_pointer(root)
    swept = spark.read.parquet(
        compact_path(root, "pairs", ptr["compact_upto"])
    )
    kept = {(r.new_doc, r.corpus_doc) for r in swept.collect()}
    # every pre-delete pair citing either tombstoned id is GONE...
    assert not {
        (n, c)
        for (n, c) in pairs0
        if n in (new_id, corpus_id) or c in (new_id, corpus_id)
    } & kept
    # ...the re-ingested identity's later verdicts survive...
    assert relive <= kept
    # ...and untouched audit rows are intact
    assert {
        (n, c)
        for (n, c) in pairs0
        if n not in (new_id, corpus_id) and c not in (new_id, corpus_id)
    } <= kept
    # below-floor as-of refuses
    with pytest.raises(ValueError, match="purge floor"):
        index_sync.load_synced_dedup_pairs(spark, root, as_of_epoch=1)


def test_knn_graph_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The graph CDC arm (delete-then-upsert per micro-batch): inserts,
    then re-vectors + deletes with a crash MID-COMMIT-WINDOW before the
    U/D batch and a garbage generation staged above the pointer. After
    the re-drain the loaded graph must equal a full rebuild over the
    post-CDC corpus; a delete-only follow-up batch and a re-insert of a
    deleted id keep converging to their rebuilds."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    mx = int(emb.agg(F.max("vec_id")).first()[0])
    s95 = mx * 95 // 100
    vid = F.col("vec_id")
    base = emb.filter(vid < s95)
    b0 = emb.filter(vid >= s95).withColumn("op", F.lit("I"))
    upd_set = vid % 8 == 1
    del_set = (vid % 9 == 2) & ~upd_set
    b1 = (
        emb.filter(upd_set)
        .select("vec_id", F.reverse("embedding").alias("embedding"))
        .withColumn("op", F.lit("U"))
        .unionByName(emb.filter(del_set).withColumn("op", F.lit("D")))
    )
    # batch 2: delete one more id AND re-insert one deleted id
    del2 = int(emb.filter(~upd_set & ~del_set).agg(F.max("vec_id")).first()[0])
    reins = int(emb.filter(del_set).agg(F.min("vec_id")).first()[0])
    b2 = (
        emb.filter(vid == del2)
        .withColumn("op", F.lit("D"))
        .unionByName(emb.filter(vid == reins).withColumn("op", F.lit("I")))
    )

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    index_sync.init_knn_graph_root(
        base, root, "vec_id", "embedding", k=4, n_blocks=4, n_buckets=8
    )
    _stage_cdc_batches(tmp_path, src, (b0, b1, b2))

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0 and ptr["generation"] == 1

    # garbage staged above the pointer: a fake generation + removal
    # rows — must never activate
    S.save_knn_graph(
        spark.createDataFrame(
            [(1, 1, 2, 0.5)], "vec_id long, rnk int, neighbor long, cos_sim double"
        ),
        index_sync._graph_gen_path(root, 2),
        "vec_id",
        n_buckets=8,
    )
    spark.createDataFrame([(0,)], "vec_id long").write.parquet(
        os.path.join(root, "removed", "epoch=2")
    )

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 2 and ptr["generation"] == 3

    final = (
        emb.filter(~((del_set & (vid != reins)) | (vid == del2)))
        .select(
            "vec_id",
            F.when(upd_set, F.reverse("embedding"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    truth = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in S.knn_graph(
            final, "vec_id", "embedding", k=4, n_blocks=4
        ).collect()
    }
    got = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got == truth
    assert reins in {v for (v, _) in got}  # re-insert after delete lives
    assert del2 not in {n for (_, n) in got.values()}  # no edge cites it


def test_knn_graph_ivf_cdc_sync_crash_restart(spark, sf_dir, tmp_path):
    """The graph+IVF CDC arm: crash MID-COMMIT-WINDOW before the U/D
    batch, garbage (generation + tombstones + postings) staged above
    the pointer, re-drain; the final graph must equal a full rebuild
    over the post-CDC corpus, the postings ledger must net to exactly
    the live ids, and both pointer heads advance together."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    mx = int(emb.agg(F.max("vec_id")).first()[0])
    s95 = mx * 95 // 100
    vid = F.col("vec_id")
    base = emb.filter(vid < s95)
    b0 = emb.filter(vid >= s95).withColumn("op", F.lit("I"))
    upd_set = vid % 8 == 1
    del_set = (vid % 9 == 2) & ~upd_set
    b1 = (
        emb.filter(upd_set)
        .select("vec_id", F.reverse("embedding").alias("embedding"))
        .withColumn("op", F.lit("U"))
        .unionByName(emb.filter(del_set).withColumn("op", F.lit("D")))
    )

    root = str(tmp_path / "index")
    src = tmp_path / "src"
    index_sync.init_knn_graph_ivf_root(
        base, root, "vec_id", "embedding", k=4,
        n_clusters=4, n_probes=4, seed=7, n_blocks=4, n_buckets=8,
    )
    _stage_cdc_batches(tmp_path, src, (b0, b1))

    def poison(epoch_id):
        if epoch_id == 1:
            raise RuntimeError(f"injected crash before batch {epoch_id}")

    with pytest.raises(StreamingQueryException, match="injected"):
        index_sync.sync_root(
            spark, str(src), b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), on_batch_start=poison,
            op_col="op",
        )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 0
    assert ptr["generation"] == 1 and ptr["max_epoch"] == 1

    # worst window: garbage tombstones, postings AND a fake generation
    # staged at the replay's epoch — all must be swept/overwritten
    spark.createDataFrame([(1,)], "vec_id long").write.parquet(
        os.path.join(root, "deletes", "epoch=2")
    )
    spark.createDataFrame(
        [(999_999, [9.9] * 8, 0)],
        "vec_id long, embedding array<double>, cluster int",
    ).write.partitionBy("cluster").parquet(
        index_sync._ivf_epoch_path(root, 2)
    )
    S.save_knn_graph(
        spark.createDataFrame(
            [(1, 1, 2, 0.5)],
            "vec_id long, rnk int, neighbor long, cos_sim double",
        ),
        index_sync._graph_gen_path(root, 2),
        "vec_id",
        n_buckets=8,
    )

    index_sync.sync_root(
        spark, str(src), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["last_batch_id"] == 1
    assert ptr["generation"] == 2 and ptr["max_epoch"] == 2

    final = emb.filter(~del_set).select(
        "vec_id",
        F.when(upd_set, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    truth = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in S.knn_graph(
            final, "vec_id", "embedding", k=4, n_blocks=4
        ).collect()
    }
    got = {
        (r.vec_id, r.rnk): (r.neighbor, r.cos_sim)
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got == truth

    # the postings ledger nets to exactly the live ids (tombstones
    # hide old versions; the same-epoch replacements survive)
    live = {
        int(r["vec_id"])
        for r in index_sync._synced_postings(
            spark, index_sync._ivf_ledger(root), ptr, ptr["max_epoch"],
            "vec_id",
        ).select("vec_id").collect()
    }
    assert live == {int(r["vec_id"]) for r in final.select("vec_id").collect()}
    assert 999_999 not in live  # garbage orphan swept, never activated


# ---------------------------------------------------------------------------
# drained-source fence (ledger.py drain(fence_sources=True))
# ---------------------------------------------------------------------------


def _stage_one_file(bdf, src, name, mtime=1_700_000_000):
    """One deterministic parquet file at src/name (the _stage shape)."""
    import os

    os.makedirs(src, exist_ok=True)
    staged = src + f"_stage_{name}"
    bdf.repartition(1).write.parquet(staged)
    part = next(
        f for f in sorted(os.listdir(staged)) if f.endswith(".parquet")
    )
    dst = os.path.join(src, name)
    os.replace(os.path.join(staged, part), dst)
    os.utime(dst, (mtime, mtime))


def test_drain_source_fence_blocks_double_apply(spark, sf_dir, tmp_path):
    """fence_sources=True closes the documented last hazard of the
    checkpoint-lineage contract: a FRESH checkpoint pointed at
    already-drained files folds empty bookkeeping-only epochs instead
    of double-applying (insert-only IVF arm), a genuinely new file in
    the same source still applies, the fence SURVIVES compaction +
    vacuum (the sources table is adopted into retention), and with the
    fence OFF the duplication hazard reproduces exactly as documented
    (regression pin)."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    b0 = emb.filter(F.col("vec_id") % 4 == 1)
    b1 = emb.filter(F.col("vec_id") % 4 == 2)
    root = str(tmp_path / "index")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=4)

    src = str(tmp_path / "src")
    _stage_one_file(b0, src, "batch0000.parquet")
    index_sync.sync_root(
        spark, src, b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt0"), fence_sources=True,
    )
    n_expected = base.count() + b0.count()
    assert index_sync.load_synced_ivf(spark, root).assigned.count() == n_expected

    # fresh checkpoint, SAME already-drained file: fenced — no dup rows,
    # bookkeeping-only flip (replay cursor moves, head does not)
    index_sync.sync_root(
        spark, src, b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt1"), fence_sources=True,
    )
    ptr = index_sync.read_index_pointer(root)
    assert ptr["max_epoch"] == 1
    assert ptr["last_batch_id"] == 0
    assert ptr["checkpoint_token"].endswith("ckpt1")
    assert index_sync.load_synced_ivf(spark, root).assigned.count() == n_expected

    # mixed continuation: old file + one NEW file under another fresh
    # checkpoint — only the new file's rows apply
    _stage_one_file(b1, src, "batch0001.parquet", mtime=1_700_000_001)
    index_sync.sync_root(
        spark, src, b1.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt2"), fence_sources=True,
    )
    n_expected += b1.count()
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2
    assert index_sync.load_synced_ivf(spark, root).assigned.count() == n_expected

    # fence survives retention: compact + vacuum, then re-point again
    assert index_sync.compact_root(spark, root) > 0
    index_sync.vacuum_root(root)
    index_sync.sync_root(
        spark, src, b1.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt3"), fence_sources=True,
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 2
    assert index_sync.load_synced_ivf(spark, root).assigned.count() == n_expected

    # regression pin: fence OFF double-applies (the documented hazard)
    root2 = str(tmp_path / "index2")
    index_sync.init_ivf_root(base, root2, "vec_id", "embedding", n_clusters=4)
    for ck in ("c0", "c1"):
        index_sync.sync_root(
            spark, src, b0.schema, root2,
            checkpoint_dir=str(tmp_path / ck),
        )
    assert (
        index_sync.load_synced_ivf(spark, root2).assigned.count()
        == base.count() + 2 * (b0.count() + b1.count())
    )


def test_drain_source_fence_crash_replay_exactly_once(spark, sf_dir, tmp_path):
    """A crash BETWEEN the fence's staged sources write and the pointer
    flip must not burn the batch's files into the fence: the replay
    recomputes the same epoch, overwrites the orphan sources dir, and
    applies the rows exactly once."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    b0 = emb.filter(F.col("vec_id") % 4 == 1)
    root = str(tmp_path / "index")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=4)
    src = str(tmp_path / "src")
    _stage_one_file(b0, src, "batch0000.parquet")

    boom = {"armed": True}

    def crash_after_stage(epoch_id):
        # arm a crash INSIDE the commit window: stage the sources dir
        # manually (as if the fold died mid-write), then die
        if boom["armed"]:
            boom["armed"] = False
            spark.createDataFrame(
                [("file://phantom.parquet",)], ["src_file"]
            ).write.mode("overwrite").parquet(
                str(tmp_path / "index" / "sources" / "epoch=1")
            )
            raise RuntimeError("injected crash before flip")

    with pytest.raises(StreamingQueryException):
        index_sync.sync_root(
            spark, src, b0.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"), fence_sources=True,
            on_batch_start=crash_after_stage,
        )
    # orphan staged above the pointer: invisible (head still 0)
    assert index_sync.read_index_pointer(root)["max_epoch"] == 0

    index_sync.sync_root(
        spark, src, b0.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"), fence_sources=True,
    )
    assert index_sync.read_index_pointer(root)["max_epoch"] == 1
    assert (
        index_sync.load_synced_ivf(spark, root).assigned.count()
        == base.count() + b0.count()
    )
    # the phantom orphan was overwritten, not committed: the fence holds
    # exactly the real file
    srcs = [
        r["src_file"]
        for r in spark.read.parquet(
            str(tmp_path / "index" / "sources" / "epoch=1")
        ).collect()
    ]
    assert len(srcs) == 1 and srcs[0].endswith("batch0000.parquet")


def test_drain_source_fence_minhash_and_bm25_empty_fold(spark, sf_dir, tmp_path):
    """Fully-fenced re-drains commit bookkeeping-only flips through
    the minhash and BM25 insert arms — no epoch written, heads
    unchanged, index contents bit-identical."""
    from spacex_data_engineering_pipeline_spark.streaming import bm25_sync, index_sync

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 120))
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    n_batch = batch.count()
    src = str(tmp_path / "src")
    _stage_one_file(batch, src, "batch0000.parquet")

    mh_root = str(tmp_path / "mh")
    index_sync.init_minhash_root(
        corpus, mh_root, "doc_id", "text",
        num_hashes=16, bands=4, shingle_n=3,
    )
    for ck in ("m0", "m1"):
        index_sync.sync_root(
            spark, src, batch.schema, mh_root,
            checkpoint_dir=str(tmp_path / ck), fence_sources=True,
        )
    ptr = index_sync.read_index_pointer(mh_root)
    assert ptr["max_epoch"] == 1  # fenced re-drain: bookkeeping-only flip
    grams = spark.read.parquet(mh_root + "/grams")
    assert (
        grams.filter(F.col("epoch") == 1).select("doc").distinct().count()
        == n_batch
    )

    bm_root = str(tmp_path / "bm")
    bm25_sync.init_bm25_root(corpus, bm_root, "doc_id", "text")
    for ck in ("b0", "b1"):
        index_sync.sync_root(
            spark, src, batch.schema, bm_root,
            checkpoint_dir=str(tmp_path / ck), fence_sources=True,
        )
    ptr = index_sync.read_index_pointer(bm_root)
    assert ptr["max_epoch"] == 1  # fenced re-drain: bookkeeping-only flip
    (_, n0, _), (e1, n1, _) = ptr["corpus_stats"]
    assert e1 == 1 and n1 - n0 == n_batch


def test_hybrid_cdc_stream_crash_between_drains(spark, sf_dir, tmp_path):
    """``sync_hybrid_cdc_stream`` drains ONE wide CDC stream through
    both serving ledgers sequentially, then records the epoch pair. A
    crash BETWEEN the two drains (BM25 committed, IVF not) must leave
    the pairs file un-appended — a reader at the last recorded pair
    never observes the torn middle — and re-running the verb must
    finish the lagging drain while the finished one no-ops via its own
    replay skip (no double-application of the signed BM25 fold)."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.streaming import (
        bm25_sync, index_sync,
    )
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        read_epoch_pairs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 100))
        .select("doc_id", "text")
    )
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 100))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    j = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "text", "embedding"
    )
    m = F.col("doc_id") % 10
    base = j.filter(m != 3)
    cdc = (
        j.filter(m == 3)
        .select("doc_id", "text", "embedding", F.lit("I").alias("op"))
        .unionByName(
            j.filter(m == 9).select(
                "doc_id", "text", "embedding", F.lit("D").alias("op")
            )
        )
    )
    n_live = j.filter(m != 9).count()

    broot = str(tmp_path / "bm25")
    droot = str(tmp_path / "ivf")
    src = tmp_path / "src"
    pairs_path = str(tmp_path / "epoch_pairs.json")
    ckpt_base = str(tmp_path / "ckpt")
    index_sync.init_bm25_root(
        base.select("doc_id", "text"), broot, "doc_id", "text"
    )
    index_sync.init_ivf_root(
        base.select("doc_id", "embedding"), droot, "doc_id", "embedding",
        n_clusters=4, seed=7,
    )
    _stage_cdc_batches(tmp_path, src, (cdc,))

    # "crash" between the halves: the BM25 drain committed under the
    # verb's own checkpoint path, then the process died
    import os

    index_sync.sync_root(
        spark, str(src), cdc.schema, broot,
        checkpoint_dir=os.path.join(ckpt_base, "bm25"),
        op_col="op",
    )
    assert read_epoch_pairs(pairs_path) == []  # torn middle: no pair
    bm_head = index_sync.read_index_pointer(broot)["max_epoch"]

    pair = index_sync.sync_hybrid_cdc_stream(
        spark, str(src), cdc.schema, broot, droot,
        pairs_path=pairs_path, checkpoint_base=ckpt_base,
    )
    # the finished BM25 drain no-oped (same head, no double-fold)...
    assert index_sync.read_index_pointer(broot)["max_epoch"] == bm_head
    assert index_sync.read_index_pointer(broot)["corpus_stats"][-1][1] == n_live
    # ...the IVF drain caught up, and the pair pins both committed heads
    assert pair["epochs"] == {
        "bm25": bm_head,
        "ivf": index_sync.read_index_pointer(droot)["max_epoch"],
    }
    live = {
        int(r["doc_id"])
        for r in index_sync.load_synced_ivf(spark, droot)
        .assigned.select("doc_id")
        .collect()
    }
    assert live == {
        int(r["doc_id"]) for r in j.filter(m != 9).collect()
    }


def test_maintain_root_policy_per_kind(spark, sf_dir, tmp_path):
    """``maintain_root`` reads the kind from the pointer's stamp and
    runs that kind's retention only past the tail dial (the stamp
    itself is pinned per kind by ``test_root_format_stamp_refusals``):
    (b) below the dial it no-ops (one pointer read, nothing
    rewritten); (c) above it, the kind's compaction + vacuum run and
    readers see identical state; (d) graph-bearing roots prune
    generations to the keep dial."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 120))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "ivf")
    index_sync.init_ivf_root(base, root, "vec_id", "embedding", n_clusters=4)
    for i, m in enumerate((1, 2, 3)):
        b = emb.filter(F.col("vec_id") % 4 == m)
        src = tmp_path / f"src{i}"
        _stage_cdc_batches(tmp_path, src, (b,))
        index_sync.sync_root(
            spark, str(src), b.schema, root,
            checkpoint_dir=str(tmp_path / f"ck{i}"),
        )

    # (b) tail (3) within a generous dial: nothing happens
    rep = index_sync.maintain_root(spark, root, max_tail_epochs=8)
    assert rep == {
        "kind": "ivf", "tail_epochs": 3, "compacted_epochs": 0,
        "vacuumed_dirs": 0, "generations_dropped": 0,
    }

    # (c) tail above the dial: ivf compaction + vacuum, reads unchanged
    before = sorted(
        (int(r["vec_id"]), int(r["cluster"]))
        for r in index_sync.load_synced_ivf(spark, root).assigned.collect()
    )
    rep = index_sync.maintain_root(spark, root, max_tail_epochs=2)
    assert rep["kind"] == "ivf" and rep["compacted_epochs"] == 3
    assert rep["vacuumed_dirs"] > 0
    ptr = index_sync.read_index_pointer(root)
    assert ptr["compact_upto"] == ptr["max_epoch"] == 3
    after = sorted(
        (int(r["vec_id"]), int(r["cluster"]))
        for r in index_sync.load_synced_ivf(spark, root).assigned.collect()
    )
    assert after == before

    # (d) plain graph root: generations pruned to keep_generations
    gbase = emb.filter(F.col("vec_id") % 4 == 0)
    groot = str(tmp_path / "graph")
    index_sync.init_knn_graph_root(
        gbase, groot, "vec_id", "embedding", k=3, n_blocks=4
    )
    gsrc = tmp_path / "gsrc"
    _stage_cdc_batches(
        tmp_path, gsrc,
        (emb.filter(F.col("vec_id") % 4 == 1),
         emb.filter(F.col("vec_id") % 4 == 2)),
    )
    index_sync.sync_root(
        spark, str(gsrc), gbase.schema, groot,
        checkpoint_dir=str(tmp_path / "gck"),
    )
    import os

    gens = lambda: sorted(
        d for d in os.listdir(os.path.join(groot, "graph"))
        if d.startswith("gen=")
    )
    # delta-generation layout: ONE full snapshot (the init base) + one
    # churn-sized delta epoch per fold — never a full graph per commit
    assert gens() == ["gen=0"]
    assert sorted(
        index_sync._live_epochs(groot, "graph_delta")
    ) == [1, 2]
    rep = index_sync.maintain_root(spark, groot, keep_generations=1)
    assert rep["kind"] == "graph" and rep["generations_dropped"] == 2
    # the vacuum REBASED: head materialized as the new full snapshot,
    # the old base and the folded delta epochs physically dropped
    assert gens() == ["gen=2"]
    assert index_sync._live_epochs(groot, "graph_delta") == []
    # the committed head generation still loads
    assert index_sync.load_synced_graph(spark, groot).count() > 0


def test_graph_corpus_rebase_retention(spark, sf_dir, tmp_path):
    """``compact_root`` + ``vacuum_root`` on a plain graph root: the
    root's applied/removed logs fold into one corpus snapshot behind a
    pointer-recorded floor; replays after the rebase read snapshot +
    post-floor logs only. Pins: (1) the derived corpus is IDENTICAL
    across the rebase; (2) vacuum physically drops the folded log dirs
    and the dead corpus_base; (3) a stream continued AFTER the rebase
    (upserts, removals, re-vectors crossing the floor) still derives
    the exact corpus — final graph ≡ brute-force rebuild; (4) a staged
    rebase orphan the pointer never named is invisible and vacuumed;
    (5) maintain_root routes the plain-graph kind through rebase +
    log vacuum by the tail dial."""
    import os

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators import similarity as S
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 120))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "graph")
    index_sync.init_knn_graph_root(
        base, root, "vec_id", "embedding", k=3, n_blocks=4
    )

    # two CDC batches before the rebase: inserts, then deletes + re-vectors
    b0 = emb.filter(F.col("vec_id") % 4 == 1).select(
        "vec_id", "embedding", F.lit("I").alias("op")
    )
    b1 = (
        emb.filter(F.col("vec_id") % 8 == 2)
        .select(
            "vec_id",
            F.reverse("embedding").alias("embedding"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 8 == 4).select(
                "vec_id", "embedding", F.lit("D").alias("op")
            )
        )
    )
    src0 = tmp_path / "src0"
    _stage_cdc_batches(tmp_path, src0, (b0, b1))
    index_sync.sync_root(
        spark, str(src0), b0.schema, root,
        checkpoint_dir=str(tmp_path / "ck0"),
        op_col="op",
    )
    ptr = index_sync.read_index_pointer(root)
    before = {
        (int(r["vec_id"]), tuple(r["embedding"]))
        for r in index_sync._corpus_at(spark, root, ptr).collect()
    }

    # (4) staged orphan snapshot above any committed floor: invisible
    spark.createDataFrame(
        [(999999, [0.0])], ["vec_id", "embedding"]
    ).write.parquet(os.path.join(root, "corpus_rebase", "upto=99"))

    # (1) rebase folds both log tables; derived corpus unchanged
    assert index_sync.compact_root(spark, root) == 2
    ptr = index_sync.read_index_pointer(root)
    assert ptr["corpus_rebase_gen"] == ptr["generation"] == 2
    after = {
        (int(r["vec_id"]), tuple(r["embedding"]))
        for r in index_sync._corpus_at(spark, root, ptr).collect()
    }
    assert after == before
    # idempotent: nothing above the floor → no-op, no burned snapshot
    assert index_sync.compact_root(spark, root) == 0

    # (2) vacuum drops folded logs, the orphan, and the dead base
    assert index_sync.vacuum_root(root) >= 4
    assert not os.path.isdir(os.path.join(root, "corpus_base"))
    assert not os.path.isdir(os.path.join(root, "corpus_rebase", "upto=99"))
    assert os.listdir(os.path.join(root, "corpus_rebase")) == ["upto=2"]
    for t in ("applied", "removed"):
        d = os.path.join(root, t)
        assert not os.path.isdir(d) or not os.listdir(d)

    # (3) continue the stream across the floor: delete a base id, delete
    # a pre-rebase insert, re-vector a base id — replay must compose
    # snapshot + post-floor logs exactly
    b2 = (
        emb.filter(F.col("vec_id").isin(0, 1))  # 0: base; 1: b0 insert
        .select("vec_id", "embedding", F.lit("D").alias("op"))
        .unionByName(
            emb.filter(F.col("vec_id") == 8).select(
                "vec_id",
                F.reverse("embedding").alias("embedding"),
                F.lit("U").alias("op"),
            )
        )
    )
    src1 = tmp_path / "src1"
    _stage_cdc_batches(tmp_path, src1, (b2,))
    index_sync.sync_root(
        spark, str(src1), b2.schema, root,
        checkpoint_dir=str(tmp_path / "ck1"),
        op_col="op",
    )
    vid = F.col("vec_id")
    final = (
        emb.filter(
            ((vid % 4 == 0) | (vid % 4 == 1) | (vid % 8 == 2))
            & ~((vid % 8 == 4) & (vid % 8 != 2))
            & ~vid.isin(0, 1)
        )
        .select(
            "vec_id",
            F.when((vid % 8 == 2) | (vid == 8), F.reverse("embedding"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    truth = {
        (r.vec_id, r.rnk): (r.neighbor, round(r.cos_sim, 6))
        for r in S.knn_graph(
            final, "vec_id", "embedding", k=3, n_blocks=4
        ).collect()
    }
    got = {
        (r.vec_id, r.rnk): (r.neighbor, round(r.cos_sim, 6))
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got == truth

    # (5) the policy verb: tail (1 post-floor epoch) under dial → no-op;
    # dial 0 → rebase + vacuum
    rep = index_sync.maintain_root(spark, root, max_tail_epochs=8)
    assert rep["kind"] == "graph" and rep["tail_epochs"] == 1
    assert rep["compacted_epochs"] == 0
    rep = index_sync.maintain_root(
        spark, root, max_tail_epochs=0, keep_generations=1
    )
    assert rep["compacted_epochs"] == 1 and rep["vacuumed_dirs"] >= 1
    assert rep["generations_dropped"] >= 1
    ptr = index_sync.read_index_pointer(root)
    assert ptr["corpus_rebase_gen"] == ptr["generation"]
    got = {
        (r.vec_id, r.rnk): (r.neighbor, round(r.cos_sim, 6))
        for r in index_sync.load_synced_graph(spark, root).collect()
    }
    assert got == truth


# ---------------------------------------------------------------------
# one write path for every ledger root: sync_root + delete_ids


def test_sync_and_delete_public_surface():
    """One write path per root: the public ``sync_*``/``delete_*`` names
    of the ledger sync modules are exactly ``sync_root``, ``delete_ids``,
    the hybrid pair drain and the two per-kind CDC names the benchmark
    harness calls and traces by name (perfbench/workloads.py,
    perfbench/spans.py) — per-family verbs cannot grow back."""
    from spacex_data_engineering_pipeline_spark.streaming import (
        bm25_sync,
        index_sync,
    )

    def public(mod):
        return {
            n for n, v in vars(mod).items()
            if n.startswith(("sync_", "delete_")) and callable(v)
        }

    assert public(index_sync) == {
        "sync_root",
        "delete_ids",
        "sync_hybrid_cdc_stream",
        "sync_knn_graph_cdc_stream",
    }
    assert public(bm25_sync) == {"sync_bm25_cdc_stream"}


_EVERY_KIND = ("graph", "graph_ivf", "ivf", "semantic", "minhash", "pca", "bm25")


def _kind_case(spark, sf_dir, kind):
    """(base, batch, init(df, root), read(root), ids(read result)) for
    one root kind at ≤ 60 rows: ``read`` collects the root's committed
    state, ``ids`` names the ids visible in it."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    text = kind in ("minhash", "bm25")
    id_col = "doc_id" if text else "vec_id"
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        if text
        else load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    ids = [r[0] for r in rows.select(id_col).orderBy(id_col).limit(30).collect()]
    base = rows.filter(F.col(id_col).isin(ids[:24]))
    batch = rows.filter(F.col(id_col).isin(ids[24:]))
    if text:
        # two verbatim twins of base docs make the dedup verdicts real
        batch = batch.unionByName(
            rows.filter(F.col(id_col).isin(ids[:2])).select(
                (F.col(id_col) + F.lit(10_000_000)).alias(id_col), "text"
            )
        )

    def graph(root):
        return {
            (r.vec_id, r.rnk): (r.neighbor, round(r.cos_sim, 6))
            for r in index_sync.load_synced_graph(spark, root).collect()
        }

    def graph_ids(edges):
        return {i for i, _ in edges} | {n for n, _ in edges.values()}

    def postings(root):
        return {
            (r.vec_id, r.cluster)
            for r in index_sync.load_synced_ivf(spark, root).assigned.collect()
        }

    def posting_ids(state):
        return {i for i, _ in state}

    if kind == "graph":
        return base, batch, lambda df, root: index_sync.init_knn_graph_root(
            df, root, "vec_id", "embedding", k=3, n_blocks=2, n_buckets=2
        ), graph, graph_ids
    if kind == "graph_ivf":
        return base, batch, lambda df, root: (
            index_sync.init_knn_graph_ivf_root(
                df, root, "vec_id", "embedding", k=3, n_clusters=2,
                n_probes=2, n_blocks=2, n_buckets=2,
            )
        ), graph, graph_ids
    if kind == "ivf":
        return base, batch, lambda df, root: index_sync.init_ivf_root(
            df, root, "vec_id", "embedding", n_clusters=2
        ), postings, posting_ids
    if kind == "semantic":
        return base, batch, lambda df, root: (
            index_sync.init_semantic_dedup_root(
                df, root, "vec_id", "embedding", n_clusters=2, n_probes=2,
                min_cosine=0.3,
            )
        ), lambda root: (
            postings(root),
            {tuple(r) for r in
             index_sync.load_synced_semantic_pairs(spark, root).collect()},
        ), lambda state: posting_ids(state[0])
    if kind == "minhash":
        return base, batch, lambda df, root: index_sync.init_minhash_root(
            df, root, "doc_id", "text", num_hashes=16, bands=4
        ), lambda root: (
            {r.doc for r in index_sync.read_synced_grams(spark, root).collect()},
            {tuple(r) for r in
             index_sync.load_synced_dedup_pairs(spark, root).collect()},
        ), lambda state: state[0]
    if kind == "pca":
        def model(root):
            m = index_sync.load_synced_pca_model(spark, root, n_components=2)
            return m.n_rows, m.mean.tolist(), [v.tolist() for v in m.basis]

        return base, batch, lambda df, root: index_sync.init_pca_moments_root(
            df, root, "embedding"
        ), model, None
    return base, batch, lambda df, root: index_sync.init_bm25_root(
        df, root, "doc_id", "text"
    ), lambda root: [
        (r.doc_id, r.score)
        for r in index_sync.bm25_topk_synced(
            spark, root, ("the", "of", "and"), k=60
        ).collect()
    ], lambda state: {d for d, _ in state}


@pytest.mark.parametrize(
    "kind", ("graph", "graph_ivf", "ivf", "semantic", "minhash", "pca", "bm25")
)
def test_sync_root_and_delete_ids_every_kind(spark, sf_dir, tmp_path, kind):
    """Per root kind: an insert-only ``sync_root`` drain and a CDC drain
    of the same rows tagged I (U on the plain graph, whose inserts are
    upserts) on twin roots commit identical reads; ``delete_ids`` of two
    ids hides them and returns the new head (a BM25 delete re-ranks like
    a rebuild over the live corpus); a PCA root refuses deletes."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    base, batch, init, read, ids = _kind_case(spark, sf_dir, kind)
    id_col = batch.columns[0]
    tagged = batch.withColumn("op", F.lit("U" if kind == "graph" else "I"))
    if kind == "pca":
        tagged = tagged.withColumn("old_vec", F.lit(None).cast("array<double>"))
    plain, cdc = str(tmp_path / "plain"), str(tmp_path / "cdc")
    init(base, plain)
    shutil.copytree(plain, cdc)
    for root, df, op_col in ((plain, batch, None), (cdc, tagged, "op")):
        src = tmp_path / f"src_{op_col}"
        _stage_cdc_batches(tmp_path, src, (df,))
        index_sync.sync_root(
            spark, str(src), df.schema, root,
            checkpoint_dir=str(tmp_path / f"ckpt_{op_col}"), op_col=op_col,
        )
    after_sync = read(plain)
    assert after_sync
    assert after_sync == read(cdc)

    if kind == "pca":
        with pytest.raises(ValueError, match="no id-keyed rows"):
            index_sync.delete_ids(spark, plain, [1, 2])
        return
    doomed = [r[0] for r in base.select(id_col).orderBy(id_col).limit(2).collect()]
    head = index_sync.delete_ids(spark, plain, doomed)
    ptr = index_sync.read_index_pointer(plain)
    assert head == 2 == ptr["generation" if "generation" in ptr else "max_epoch"]
    after_delete = read(plain)
    assert not set(doomed) & ids(after_delete)
    assert ids(after_delete) < ids(after_sync) or kind == "bm25"
    if kind == "bm25":
        fresh = str(tmp_path / "rebuild")
        init(base.unionByName(batch).filter(~F.col(id_col).isin(doomed)), fresh)
        assert after_delete == read(fresh)


_ID_KEYED_KINDS = ("ivf", "semantic", "minhash", "graph_ivf", "graph", "bm25")


@pytest.mark.parametrize("kind", _ID_KEYED_KINDS)
def test_int_id_root_takes_list_deletes(spark, sf_dir, tmp_path, kind):
    """On a root whose ids are ``int``, one CDC op-D batch, two
    ``delete_ids`` lists and a ``long``-typed id frame all land as the
    recorded ``id_type`` (every batch's ids are cast to it on entry to
    the fold), so the committed state reads back and hides every
    deleted id. A list built as ``long`` beside the CDC batch's ``int``
    files made the next read fail with a parquet type mismatch."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    base, _, init, read, ids = _kind_case(spark, sf_dir, kind)
    id_col = base.columns[0]
    base = base.withColumn(id_col, F.col(id_col).cast("int"))
    root = str(tmp_path / "root")
    init(base, root)
    assert index_sync.read_index_pointer(root)["id_type"] == "int"
    doomed = sorted(ids(read(root)))[:4]
    cdc = base.filter(F.col(id_col) == doomed[0]).withColumn("op", F.lit("D"))
    _stage_cdc_batches(tmp_path, tmp_path / "src", (cdc,))
    index_sync.sync_root(
        spark, str(tmp_path / "src"), cdc.schema, root,
        checkpoint_dir=str(tmp_path / "ckpt"), op_col="op",
    )
    index_sync.delete_ids(spark, root, doomed[1:2])
    index_sync.delete_ids(spark, root, doomed[2:3])
    index_sync.delete_ids(
        spark, root, spark.createDataFrame([(doomed[3],)], f"{id_col} long")
    )
    left = ids(read(root))
    assert left and not set(doomed) & left


@pytest.fixture(scope="module")
def tiny_roots(spark, sf_dir, tmp_path_factory):
    """kind → (pristine root dir, ``_kind_case`` tuple): each kind's
    24-row base root is built once per module; tests copy it."""
    built = {}

    def get(kind):
        if kind not in built:
            case = _kind_case(spark, sf_dir, kind)
            root = str(tmp_path_factory.mktemp(f"tiny_{kind}") / "root")
            case[2](case[0], root)
            built[kind] = (root, case)
        return built[kind]

    return get


@pytest.mark.parametrize("kind", _EVERY_KIND)
def test_root_format_stamp_refusals(spark, tmp_path, tiny_roots, kind):
    """Every ``init_*_root`` stamps its pointer with ``kind``,
    ``format`` 1 and, on id-keyed kinds, the id column's ``id_type``;
    ``ledger_root_kind`` returns the stamp. A pointer stripped of the
    stamp, or stamped with another format, is refused with the one
    rebuild instruction by ``sync_root``, ``delete_ids``,
    ``compact_root``, ``vacuum_root``, ``maintain_root`` and the kind's
    reader — no layout is guessed from the pointer's other keys."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        ROOT_INITS,
    )

    pristine, (base, batch, _, read, _) = tiny_roots(kind)
    root = str(tmp_path / "root")
    shutil.copytree(pristine, root)
    ptr = index_sync.read_index_pointer(root)
    assert index_sync.ledger_root_kind(ptr) == ptr["kind"] == kind
    assert ptr["format"] == 1
    if kind == "pca":
        assert "id_type" not in ptr
    else:
        assert ptr["id_type"] == base.schema[base.columns[0]].dataType.simpleString()

    verbs = (
        lambda: index_sync.sync_root(
            spark, str(tmp_path / "src"), batch.schema, root,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ),
        lambda: index_sync.delete_ids(spark, root, [1]),
        lambda: index_sync.compact_root(spark, root),
        lambda: index_sync.vacuum_root(root),
        lambda: index_sync.maintain_root(spark, root, max_tail_epochs=0),
        lambda: read(root),
    )
    stripped = {k: v for k, v in ptr.items() if k not in ("kind", "format")}
    for bad, init_name in (
        (stripped, r"the init_\*_root of its kind"),
        ({**ptr, "format": 2}, ROOT_INITS[kind]),
    ):
        index_sync._flip_pointer(root, bad)
        with pytest.raises(ValueError, match="not a format-1 ledger root"):
            index_sync.ledger_root_kind(bad)
        for verb in verbs:
            with pytest.raises(ValueError, match=f"rebuild it with {init_name}"):
                verb()
    assert sorted(os.listdir(root)) == sorted(os.listdir(pristine))


def test_graph_delete_sets_no_session_conf(spark, tmp_path, tiny_roots, monkeypatch):
    """A graph-root ``delete_ids`` runs its bounded probes without
    touching the session's conf: no ``RuntimeConfig.set``/``unset``
    while the verb runs, so concurrent queries on the session are
    never affected."""
    from pyspark.sql.conf import RuntimeConfig

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    pristine, (base, *_) = tiny_roots("graph")
    root = str(tmp_path / "root")
    shutil.copytree(pristine, root)
    calls = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def record(self, *args, _name=name, _real=real):
            calls.append((_name, args))
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)
    doomed = [r[0] for r in base.select("vec_id").orderBy("vec_id").limit(2).collect()]
    assert index_sync.delete_ids(spark, root, doomed) == 1
    assert calls == []


class _InjectedCrash(RuntimeError):
    pass


@contextlib.contextmanager
def _crash_at(point):
    """Count every ``DataFrameWriter.parquet`` and ``os.replace`` call
    (the staged writes and the pointer flip of a commit) and raise
    before the ``point``-th one (``None``: count only). Yields the list
    of calls seen."""
    from pyspark.sql.readwriter import DataFrameWriter

    calls = []
    real_parquet, real_replace = DataFrameWriter.parquet, os.replace

    def hit(what):
        calls.append(what)
        if point is not None and len(calls) - 1 == point:
            raise _InjectedCrash(f"injected crash before {what} #{point}")

    def parquet(self, *args, **kwargs):
        hit("parquet")
        return real_parquet(self, *args, **kwargs)

    def replace(*args, **kwargs):
        hit("replace")
        return real_replace(*args, **kwargs)

    DataFrameWriter.parquet, os.replace = parquet, replace
    try:
        yield calls
    finally:
        DataFrameWriter.parquet, os.replace = real_parquet, real_replace


@pytest.mark.parametrize("kind", _EVERY_KIND)
def test_commit_crash_sweep_every_kind(spark, tmp_path, tiny_roots, kind):
    """Crash sweep over one delete commit and one compaction per root
    kind: a crash before each staged parquet write and before the
    pointer flip leaves the pointer and the kind's reader at the
    pre-crash state (staged orphans stay invisible), and a retry then
    equals an uncrashed run exactly. The delete is ``delete_ids`` of
    two ids, on a PCA root a one-file op-D ``sync_root`` batch (its
    ledger has no ids to delete)."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    pristine, (base, _, _, read, _) = tiny_roots(kind)
    id_col = base.columns[0]
    work, ckpt = str(tmp_path / "root"), str(tmp_path / "ckpt")
    if kind == "pca":
        gone = base.orderBy(id_col).limit(1).select(
            id_col,
            F.lit(None).cast("array<double>").alias("embedding"),
            F.lit("D").alias("op"),
            F.col("embedding").alias("old_vec"),
        )
        _stage_cdc_batches(tmp_path, tmp_path / "src", (gone,))

        def delete():
            index_sync.sync_root(
                spark, str(tmp_path / "src"), gone.schema, work,
                checkpoint_dir=ckpt, op_col="op",
            )
    else:
        doomed = [
            r[0] for r in base.select(id_col).orderBy(id_col).limit(2).collect()
        ]

        def delete():
            index_sync.delete_ids(spark, work, doomed)

    def compact():
        assert index_sync.compact_root(spark, work) > 0

    def state():
        return index_sync.read_index_pointer(work), read(work)

    def sweep(start, commit):
        def fresh():
            for d in (work, ckpt):
                shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(start, work)

        fresh()
        before = state()
        with _crash_at(None) as calls:
            commit()
        after = state()
        assert after[0] != before[0] and calls[-1] == "replace"
        done = str(tmp_path / f"done_{commit.__name__}")
        shutil.copytree(work, done)
        for point in range(len(calls)):
            fresh()
            with _crash_at(point), pytest.raises(Exception, match="injected crash"):
                commit()
            assert state() == before, f"crash point {point} of {calls} leaked"
            commit()
            assert state() == after, f"retry after crash point {point} diverged"
        return done

    sweep(sweep(pristine, delete), compact)
