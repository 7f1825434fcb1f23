"""Structured Streaming tile-assignment test (memory source/sink)."""

import tempfile

from pyspark.sql import functions as F


def test_streaming_tile_assignment(spark):
    from pygeoops_spark.corpus.pages import synth_pages
    from pygeoops_spark.operators.grid import assign_to_grid
    from pygeoops_spark.streaming.tiles import assign_stream_to_grid, windowed_tile_counts

    # write a small batch as the file-stream source
    src = tempfile.mkdtemp(prefix="stream_src_")
    pages = synth_pages(spark, 500).select("url", "warc_ts", "x", "y")
    pages.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(pages.schema).parquet(src)
    assigned = assign_stream_to_grid(stream, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 8, 8, cell_level=5)
    counts = windowed_tile_counts(assigned, "warc_ts", "30 days", "1 day")

    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch ground truth
    batch = assign_to_grid(pages, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 8, 8)
    expected_total = batch.count()
    got = spark.sql("select sum(n_events) s from tile_counts").first()["s"]
    # append mode only emits windows older than the watermark; with
    # availableNow + wide watermark all-but-the-newest window flush
    assert got is None or got <= expected_total
    # per-event assignment parity (run the stateless part as batch)
    assigned_batch = assign_stream_to_grid(
        pages, "x", "y", (0.0, 0.0, 1000.0, 1000.0), 8, 8, cell_level=5
    )
    diff = assigned_batch.select("url", "tile_id").exceptAll(
        batch.select("url", "tile_id")
    )
    assert diff.count() == 0


def test_streaming_stateful_sessionization(spark):
    """applyInPandasWithState sessionizer vs the batch sessionizer:
    with one availableNow micro-batch, the stream emits exactly every
    CLOSED session (all but each user's final, still-open one), with
    identical (start, end, n_events)."""
    import tempfile as _tf

    from pygeoops_spark.streaming.sessions import sessionize_stream
    from pygeoops_spark.text.pipeline import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts"
    )
    src = _tf.mkdtemp(prefix="stream_sess_")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = sessionize_stream(stream, gap_seconds=1800, idle_flush_ms=3_600_000)
    q = (
        out.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # with ProcessingTimeTimeout state the availableNow query keeps
    # triggering empty batches to evaluate timeouts and never
    # self-terminates — poll progress until the data batches are done
    # (an empty batch after a non-empty one), then stop explicitly
    import time as _time

    seen_data = False
    for _ in range(240):
        lp = q.lastProgress
        if lp is not None:
            if lp["numInputRows"] > 0:
                seen_data = True
            elif seen_data:
                break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from closed_sessions").collect()
    }

    # batch ground truth: per (user, session_id) aggregates, drop each
    # user's last session (still open in the stream)
    s = sessionize(events, gap_seconds=1800)
    agg = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .collect()
    )
    by_user = {}
    for r in agg:
        by_user.setdefault(r["user_id"], []).append(r)
    want = set()
    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_id"])
        for r in rows[:-1]:
            want.add((r["user_id"], r["session_start"], r["session_end"], r["n_events"]))
    assert got == want
    assert len(want) > 0  # the fixture actually exercises closures


def test_stateful_sessionizer_late_events_merge_into_open_session(spark):
    """A late (out-of-order, cross-batch) event must merge into the
    open session via min/max instead of regressing session_end and
    triggering a spurious close (code-review r02 finding)."""
    import datetime as _dt

    import pandas as pd

    from pygeoops_spark.streaming.sessions import sessionize_stream

    base = _dt.datetime(2026, 1, 1, 10, 0, 0)

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self._v = None

    # grab the fold function by driving the closure directly
    captured = {}

    class Probe:
        def __init__(self, df):
            self.df = df

        def groupBy(self, *a):
            return self

        def applyInPandasWithState(self, fn, **kw):
            captured["fn"] = fn
            return self.df

    import pygeoops_spark.streaming.sessions as S

    dummy = spark.createDataFrame(pd.DataFrame({"user_id": [1], "ts": [base]}))
    S.sessionize_stream(Probe(dummy), gap_seconds=1800)
    fold = captured["fn"]

    st = FakeState()
    def run(ts_list):
        return list(fold((1,), iter([pd.DataFrame({"ts": ts_list})]), st))

    # batch 1: events at 10:00
    run([base])
    assert st.get == (base, base, 1)
    # batch 2: LATE event at 9:00 -> merges (start regresses, end stays)
    run([base - _dt.timedelta(hours=1)])
    assert st.get == (base - _dt.timedelta(hours=1), base, 2)
    # batch 3: event at 10:10 -> only 10 min after true last: SAME session
    out = run([base + _dt.timedelta(minutes=10)])
    assert all(len(df) == 0 for df in out)
    assert st.get == (base - _dt.timedelta(hours=1), base + _dt.timedelta(minutes=10), 3)
    # batch 4: event 2h later -> closes the merged session
    out = run([base + _dt.timedelta(hours=3)])
    closed = pd.concat(out)
    assert len(closed) == 1
    assert closed.iloc[0]["n_events"] == 3


def test_streaming_dedup_drops_repeats(spark):
    """Watermarked streaming dedup: a batch replayed through the file
    source with duplicated keys emits each key once."""
    import tempfile as _tf

    from pygeoops_spark.streaming.tiles import dedup_stream

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "ts", "event_type")
        # watermarks require TIMESTAMP (the table stores TIMESTAMP_NTZ)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    dup = events.unionByName(events)  # every row twice
    src = _tf.mkdtemp(prefix="stream_dedup_")
    dup.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(dup.schema).parquet(src)
    out = dedup_stream(stream, ["user_id", "ts", "event_type"], "ts", "365 days")
    q = (
        out.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) c from deduped").first()["c"]
    want = events.distinct().count()
    assert got == want


def test_streaming_near_dedup_suppresses_simhash_collisions(spark):
    """Replaying documents with near-identical copies (same text, later
    timestamps) through the file source: near_dedup_stream keeps one row
    per distinct SimHash signature — parity with the batch signature
    distinct count."""
    import tempfile as _tf

    from pygeoops_spark.streaming.tiles import near_dedup_stream
    from pygeoops_spark.text.dedup import simhash_signatures

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
        .withColumn(
            "ts",
            (F.lit(1700000000).cast("long") + F.col("doc_id")).cast("timestamp"),
        )
    )
    # duplicate every doc with a later timestamp (same text -> same sig)
    dup = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
            "ts", (F.col("ts").cast("long") + 1).cast("timestamp")
        )
    )
    src = _tf.mkdtemp(prefix="stream_neardedup_")
    dup.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(dup.schema).parquet(src)
    out = near_dedup_stream(stream, "text", "ts", "365 days")
    q = (
        out.writeStream.format("memory")
        .queryName("near_deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) c from near_deduped").first()["c"]
    want = simhash_signatures(docs).select("simhash").distinct().count()
    assert got == want


def test_streaming_geo_cell_assignment(spark, tmp_path):
    """geo_cell_id is a pure projection, so it composes directly into
    a Structured Streaming pipeline (the geographic analog of
    assign_stream_to_grid)."""
    import pandas as pd

    from pygeoops_spark.join.geo_knn import geo_cell_id

    src = tmp_path / "geo_src"
    src.mkdir()
    pd.DataFrame(
        {"pid": [0, 1, 2], "lon": [179.9, -179.9, 0.0], "lat": [10.0, 10.0, 0.0]}
    ).to_parquet(src / "p.parquet")
    batch = spark.read.parquet(str(src))
    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = stream.withColumn("cell", geo_cell_id("lon", "lat", 4))
    q = (
        out.writeStream.format("memory")
        .queryName("geo_cells_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["pid"]: r["cell"] for r in spark.table("geo_cells_t").collect()}
    exp = {r["pid"]: r["cell"] for r in batch.withColumn(
        "cell", geo_cell_id("lon", "lat", 4)).collect()}
    assert rows == exp


def test_streaming_geofence_matches_batch_pip(spark, tmp_path):
    """geofence_stream over a replayed point file must keep exactly the
    events the batch polygon PIP join keeps (stream-static broadcast
    join + prepared kernel; no streaming state)."""
    from pygeoops_spark.corpus.pages import synth_pages, synth_poly_zones
    from pygeoops_spark.join.pip import pip_join_polygons
    from pygeoops_spark.streaming.tiles import geofence_stream

    zones = synth_poly_zones(spark, n_vertices=24)
    src = tmp_path / "pts_src"
    synth_pages(spark, 4000).select("url", "x", "y").write.parquet(str(src))
    batch = spark.read.parquet(str(src))
    expected = {
        (r[0], r[1])
        for r in pip_join_polygons(batch, zones, level=5)
        .select("url", "zone_id")
        .collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = geofence_stream(stream, zones, level=5).select("url", "zone_id")
    q = (
        out.writeStream.format("memory")
        .queryName("geofence_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r[0], r[1]) for r in spark.table("geofence_t").collect()}
    assert got == expected
    assert len(got) > 0


def test_sessionize_stream_query_restores_shuffle_partitions(spark, tmp_path, monkeypatch):
    """_q_sessionize_stream narrows spark.sql.shuffle.partitions for the
    stream's state; a failure after that set must still restore it."""
    import pandas as pd
    import pytest

    import __spark_entry__ as entry
    import pygeoops_spark.streaming.sessions as S

    pd.DataFrame({"user_id": [1, 2], "ts": [1, 2]}).to_parquet(
        tmp_path / "events.parquet"
    )

    def boom(*a, **k):
        raise RuntimeError("boom")

    monkeypatch.setattr(S, "sessionize_stream", boom)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "37")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            entry._q_sessionize_stream(spark, str(tmp_path))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "37"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
