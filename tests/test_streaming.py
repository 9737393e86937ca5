"""Streaming ingest: micro-batch dedup-append shares batch dedup semantics."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import read_output
from fs_crawler_spark.schemas import PAGES
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages
from fs_crawler_spark.streaming.ingest import (
    ingest_batch,
    read_pages_stream,
    start_dedup_ingest,
)


def _doc():
    return F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1).cast("long")


@pytest.mark.slow
def test_stream_dedup_ingest(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = CheckpointStore(out)

    def drop_and_drain(df):
        df.write.mode("append").parquet(landing)
        q = start_dedup_ingest(read_pages_stream(spark, landing), out, ckpt)
        q.awaitTermination(120)

    pages = build_pages(spark, sf_dir, limit_docs=60)
    # two overlapping drops: 0-39, then 20-59 (20-39 are late duplicates)
    drop_and_drain(pages.filter(_doc() < 40))
    drop_and_drain(pages.filter(_doc() >= 20))

    ingested = read_output(spark, out, "pages")
    assert ingested.count() == 60  # overlap deduplicated
    assert ingested.select("url").distinct().count() == 60
    # the seen delta is the compact probe side: keys only, never payloads
    seen = read_output(spark, out, "seen")
    assert seen.columns == ["url_hash", "url"] and seen.count() == 60

    # a drop that only repeats ingested urls commits rounds with 0 pages
    last = store.latest_round()
    drop_and_drain(pages)
    new_rounds = [r for r in store.committed_rounds() if r > last]
    assert new_rounds
    assert [store.read(spark, r, "pages").count() for r in new_rounds] == [
        0
    ] * len(new_rounds)
    assert read_output(spark, out, "pages").count() == 60


@pytest.mark.slow
def test_ingest_batch_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed batch, whether its round committed or crashed before its
    manifest, reads the seen rounds below it, recomputes the same rows and
    overwrites its round: it never appends duplicate pages."""
    out = str(tmp_path / "out")
    store = CheckpointStore(out)
    pages = build_pages(spark, sf_dir, limit_docs=60)
    first = pages.filter(_doc() < 40)

    def ingested():
        df = read_output(spark, out, "pages")
        return df.count(), df.select("url").distinct().count()

    ingest_batch(first, 0, out)
    assert ingested() == (40, 40)

    # replay of a committed batch
    ingest_batch(first, 0, out)
    assert ingested() == (40, 40)

    # crash-mid-commit replay: round written, manifest lost
    os.remove(os.path.join(out, "snapshots", "round=0", "MANIFEST.json"))
    assert store.committed_rounds() == []
    ingest_batch(first, 0, out)
    assert store.committed_rounds() == [0]
    assert ingested() == (40, 40)

    # batch 1 overlaps 20-39
    ingest_batch(pages.filter(_doc() >= 20), 1, out)
    assert store.read(spark, 1, "pages").count() == 20
    assert ingested() == (60, 60)

    # a batch that only repeats earlier urls commits 0 pages
    ingest_batch(pages, 2, out)
    assert store.read(spark, 2, "pages").count() == 0
    assert ingested() == (60, 60)

    # a committed round's lost seen delta fails loudly instead of
    # re-ingesting its urls
    shutil.rmtree(os.path.join(out, "snapshots", "round=0", "seen"))
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        ingest_batch(pages, 3, out)

    # an out_dir of the older marker-based layout is refused
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    (legacy / "_ingest_commit.json").write_text('{"batch_id": 0}')
    with pytest.raises(ValueError, match="_ingest_commit.json"):
        ingest_batch(first, 1, str(legacy))
    assert not os.path.exists(legacy / "snapshots")


def test_ingest_batch_winner_is_input_order_free(spark, tmp_path):
    """Two captures of one url with equal warc_ts: the kept capture is the
    same whichever order the batch holds them in."""
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    one = ("https://h.example.com/p", ts, b"<p>one</p>", "one", "en")
    two = ("https://h.example.com/p", ts, b"<p>two</p>", "two", "en")
    kept = []
    for i, rows in enumerate(([one, two], [two, one])):
        out = str(tmp_path / f"out{i}")
        ingest_batch(spark.createDataFrame(rows, PAGES).coalesce(1), 0, out)
        kept.append([r["text"] for r in read_output(spark, out, "pages").collect()])
    assert kept == [["one"], ["one"]]


@pytest.mark.slow
def test_stateful_sessionization_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: every CLOSED session emitted by
    the stream equals the batch events_sessions window algebra (same
    whole-microsecond gap rule); open sessions may remain in state at
    drain time and are excluded from the comparison."""
    import calendar

    from pyspark.sql import functions as F

    from fs_crawler_spark.streaming.sessions import sessionize_stream

    landing = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.coalesce(1).write.parquet(landing)  # one file -> one micro-batch

    stream = spark.readStream.schema(ev.schema).parquet(landing)
    out_rows = []
    q = (
        sessionize_stream(stream, gap_s=1800)
        .writeStream.foreachBatch(lambda df, _id: out_rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def us_utc(dt):  # collected timestamps are session-tz (UTC) naive
        return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond

    got = {
        (r["user_id"], us_utc(r["session_start"]), r["n_events"]) for r in out_rows
    }
    assert got, "stream must close at least some sessions"

    # batch truth: (user_id, session_start_us, n_events) per session
    w_ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import Window

    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = micros - F.lag(micros).over(w)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (
        w_ev.withColumn("_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("_new").over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(micros).alias("start_us"),
            F.count("*").alias("n_events"),
        )
    )
    truth = {
        (r["user_id"], r["start_us"], r["n_events"]) for r in batch.collect()
    }
    assert got <= truth  # every closed stream session is a true session
    # and the stream closed the overwhelming majority of them
    assert len(got) >= 0.5 * len(truth)


@pytest.mark.slow
def test_sessionizer_out_of_order_multibatch(spark, tmp_path):
    """Late-but-within-watermark events in a LATER micro-batch must merge
    into the open session (start moves back to min) or split into their own
    earlier session when > gap before the open start (round-2 advisory)."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from fs_crawler_spark.streaming.sessions import sessionize_stream

    landing = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("ts", TimestampType(), False),
        ]
    )

    def ts(sec):
        return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=sec)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    out_rows = []

    def drain():
        q = (
            sessionize_stream(
                spark.readStream.schema(schema).parquet(landing),
                gap_s=600,
                watermark_delay_s=6000,  # absorb lateness > gap
            )
            .writeStream.foreachBatch(lambda df, _id: out_rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: open session [10000, 10010]
    drop([(1, ts(10000)), (1, ts(10010))])
    drain()
    # batch 2, all late but within watermark (wm = 10010 - 6000):
    #   9900 merges (start moves back), 10005 merges (inside),
    #   8000 splits (9900 - 8000 > 600) into its own closed session
    drop([(1, ts(9900)), (1, ts(8000)), (1, ts(10005))])
    drain()
    # batch 3: a far-future event closes the open session by gap proof
    drop([(1, ts(100000))])
    drain()

    def key(r):
        return (
            r["user_id"],
            r["session_start"].replace(tzinfo=None),
            r["session_end"].replace(tzinfo=None),
            r["n_events"],
        )

    got = {key(r) for r in out_rows}
    assert (1, ts(8000), ts(8000), 1) in got  # split earlier session
    assert (1, ts(9900), ts(10010), 4) in got  # merged, start moved to min
    # sealed emission: nothing emitted before the watermark proved it, so no
    # partial/retracted variants of these sessions appear
    starts = [k[1] for k in got]
    assert starts.count(ts(8000)) == 1 and starts.count(ts(9900)) == 1


@pytest.mark.slow
def test_sessionizer_late_bridge_not_split(spark, tmp_path):
    """Round-3 advisory: with watermark_delay_s > gap_s, a session that looks
    closed inside a batch must NOT emit until the watermark passes end + gap —
    a later in-watermark event can bridge the gap. gap=600, delay=6000:
    batch {0, 700} then batch {500} must yield ONE session (0, 700, 3),
    never (0,0,1) + (500,700,2)."""
    import datetime as dt

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from fs_crawler_spark.streaming.sessions import sessionize_stream

    landing = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("ts", TimestampType(), False),
        ]
    )

    def ts(sec):
        return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=sec)

    out_rows = []

    def drop_and_drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            landing
        )
        q = (
            sessionize_stream(
                spark.readStream.schema(schema).parquet(landing),
                gap_s=600,
                watermark_delay_s=6000,
            )
            .writeStream.foreachBatch(lambda df, _id: out_rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop_and_drain([(1, ts(0)), (1, ts(700))])
    assert out_rows == []  # 0..0 looks closed but is NOT sealed yet
    drop_and_drain([(1, ts(500))])  # late, in-watermark: bridges the gap
    drop_and_drain([(1, ts(100000))])  # advances the watermark past the seal

    got = {
        (
            r["user_id"],
            r["session_start"].replace(tzinfo=None),
            r["session_end"].replace(tzinfo=None),
            r["n_events"],
        )
        for r in out_rows
    }
    assert (1, ts(0), ts(700), 3) in got
    assert (1, ts(0), ts(0), 1) not in got
