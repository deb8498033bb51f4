"""Streaming windows: watermark drop, streaming dedup, custom stateful op."""

import os

import pyspark.sql.functions as F

from akka_graph_db_spark.streaming import windows as sw


def _stream_from_rows(spark, rows, tmp):
    from datetime import datetime

    rows = [
        (r[0], datetime.fromisoformat(r[1]), *r[2:]) for r in rows
    ]
    log_dir = os.path.join(tmp, "in")
    spark.createDataFrame(rows, sw.EVENTS_SCHEMA).coalesce(1).write.json(
        log_dir
    )
    return spark.readStream.schema(sw.EVENTS_SCHEMA).json(log_dir)


ROWS = [
    (1, "2024-01-01 00:05:00", 1, "click", 1.0, None),
    (2, "2024-01-01 00:20:00", 1, "click", 2.0, None),
    (3, "2024-01-01 01:10:00", 2, "click", 3.0, None),
    (2, "2024-01-01 00:20:00", 1, "click", 2.0, None),  # duplicate event_id
]



def test_streaming_dedup(spark, tmp_path):
    stream = _stream_from_rows(spark, ROWS, tmp_path)
    got = sw.run_to_memory_sink(
        sw.dedup_stream(stream),
        "deduped",
        str(tmp_path / "ck"),
        output_mode="append",
    ).collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]


def test_stateful_running_totals(spark, tmp_path):
    stream = _stream_from_rows(spark, ROWS, tmp_path)
    out = sw.run_to_memory_sink(
        sw.running_user_totals(stream), "running", str(tmp_path / "ck")
    )
    rows = {r["user_id"]: r for r in out.collect()}
    assert rows[1]["lifetime_events"] == 3  # dup NOT removed here: raw count
    assert rows[1]["lifetime_value"] == 5.0
    assert rows[2]["lifetime_events"] == 1


def test_interval_join_stream_bounds(spark, tmp_path):
    from datetime import datetime

    def mkstream(rows, schema, tmp, sub):
        d = os.path.join(tmp, sub)
        spark.createDataFrame(rows, schema).coalesce(1).write.json(d)
        return spark.readStream.schema(schema).json(d)

    tmp = str(tmp_path)
    t = lambda s: datetime.fromisoformat(s)
    clicks = [
        (10, t("2024-01-01 00:00:00"), 1),
        (11, t("2024-01-01 01:00:00"), 1),
        (12, t("2024-01-01 00:00:00"), 2),
    ]
    purchases = [
        (20, t("2024-01-01 00:30:00"), 1, 5.0),   # matches click 10 (exact bound)
        (21, t("2024-01-01 01:10:00"), 1, 6.0),   # matches click 11 only
        (22, t("2023-12-31 23:59:00"), 2, 7.0),   # before click 12 -> no match
        (23, t("2024-01-01 02:00:00"), 3, 8.0),   # no click for user 3
    ]
    cs = mkstream(clicks, "click_id bigint, l_ts timestamp, user_id bigint",
                  tmp, "c")
    ps = mkstream(
        purchases,
        "purchase_id bigint, r_ts timestamp, user_id bigint, value double",
        tmp, "p",
    )
    joined = sw.interval_join_stream(cs, ps, max_lag_seconds=1800)
    out = sw.run_to_memory_sink(
        joined, "ijtest", os.path.join(tmp, "ckpt"), output_mode="append"
    )
    got = {(r["click_id"], r["purchase_id"]) for r in out.collect()}
    # 30-minute bound is INCLUSIVE; purchases strictly before a click or
    # past the bound never match
    assert got == {(10, 20), (11, 21)}


def test_session_counts_stream_flushes_with_sentinels(spark, tmp_path):
    # two user-1 sessions (gap > 10 min) + a later user-2 event advancing
    # the watermark; sentinel batches flush the tail sessions
    tmp = str(tmp_path)
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0, None),
        (2, "2024-01-01 00:05:00", 1, "click", 2.0, None),
        (3, "2024-01-01 00:30:00", 1, "click", 4.0, None),
        (4, "2024-01-02 00:00:00", 2, "click", 8.0, None),  # sentinel-ish
        (5, "2024-01-03 00:00:00", 2, "click", 0.0, None),  # flush batch
    ]
    # one file per row, ordered mtimes -> one micro-batch per event
    from datetime import datetime

    log_dir = os.path.join(tmp, "in")
    os.makedirs(log_dir)
    for i, r in enumerate(rows):
        f = os.path.join(tmp, f"w{i}")
        spark.createDataFrame(
            [(r[0], datetime.fromisoformat(r[1]), *r[2:])], sw.EVENTS_SCHEMA
        ).coalesce(1).write.json(f)
        import glob as g
        import shutil

        part = g.glob(os.path.join(f, "part-*"))[0]
        dest = os.path.join(log_dir, f"{i:02d}.json")
        shutil.copy(part, dest)
        os.utime(dest, (1_600_000_000 + 10 * i,) * 2)
    stream = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(log_dir)
    )
    out = sw.run_to_memory_sink(
        sw.session_counts_stream(stream, "10 minutes", "10 minutes"),
        "sessioned",
        os.path.join(tmp, "ck"),
        output_mode="append",
    )
    got = {
        (r["user_id"], str(r["session_start"])): (
            r["n_events"],
            r["sum_value"],
        )
        for r in out.collect()
    }
    # events 1+2 merge (5-min gap); event 3 is its own session
    assert got[(1, "2024-01-01 00:00:00")] == (2, 3.0)
    assert got[(1, "2024-01-01 00:30:00")] == (1, 4.0)
    assert got[(2, "2024-01-02 00:00:00")] == (1, 8.0)
