"""Structured Streaming: Monday-anchored weekly windows match the batch
mart; the stateful anomaly operator carries state across micro-batches.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.streaming import run_stream_once, weekly_stream
from uk_housing_dashboard_etl_spark.streaming.stateful import streaming_anomaly_scores


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    batch1 = [
        (1, t0, 1, "a", 10.0, ""),
        (2, t0 + dt.timedelta(days=2), 1, "a", 20.0, ""),
        (3, t0 + dt.timedelta(days=8), 2, "b", 30.0, ""),
    ]
    batch2 = [
        (4, t0 + dt.timedelta(days=9), 2, "b", 40.0, ""),
        (5, t0 + dt.timedelta(days=15), 1, "a", 50.0, ""),
    ]
    _events(spark, batch1).write.mode("append").parquet(str(d))
    _events(spark, batch2).write.mode("append").parquet(str(d))
    return str(d)


def test_weekly_stream_matches_batch(spark, landing):
    got = (
        run_stream_once(weekly_stream(spark, landing), "t_weekly")
        .toPandas()
        .sort_values(["week", "event_type"])
        .reset_index(drop=True)
    )
    batch = (
        spark.read.parquet(landing)
        .groupBy(
            F.date_trunc("week", "ts").alias("week"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("transactions"), F.avg("value").alias("value_mean"))
        .toPandas()
        .sort_values(["week", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, batch)
    # Monday anchoring: every window start is a Monday
    assert all(w.weekday() == 0 for w in got["week"])


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append mode + watermark: a window only emits once the watermark
    passes its end, and events later than the watermark are dropped."""
    d = tmp_path / "late_landing"
    ckpt = str(tmp_path / "wm_ckpt")
    t0 = dt.datetime(2024, 1, 1)

    out = str(tmp_path / "wm_out")

    def run(_name):
        q = (
            weekly_stream(spark, str(d), watermark="7 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(out).toPandas()
        except Exception:  # no files emitted yet
            import pandas as pd

            return pd.DataFrame(columns=["week", "event_type", "transactions"])

    # run 1: two events in week-of-day-0; watermark ends below window end
    _events(
        spark,
        [(1, t0, 1, "a", 10.0, ""), (2, t0 + dt.timedelta(days=2), 1, "a", 20.0, "")],
    ).write.mode("append").parquet(str(d))
    first = run("t_wm1")
    assert len(first) == 0  # window still open

    # run 2: an event at day 30 pushes the watermark past week-0's end →
    # the closed window (transactions=2) is emitted
    _events(spark, [(3, t0 + dt.timedelta(days=30), 1, "a", 30.0, "")]).write.mode(
        "append"
    ).parquet(str(d))
    second = run("t_wm2")
    assert len(second) == 1
    assert second["transactions"].iloc[0] == 2

    # run 3: a straggler 4 weeks behind the watermark arrives → dropped,
    # no re-emission of the closed window (cumulative sink count unchanged)
    _events(spark, [(4, t0 + dt.timedelta(days=1), 2, "a", 99.0, "")]).write.mode(
        "append"
    ).parquet(str(d))
    third = run("t_wm3")
    assert len(third) == 1 and third["transactions"].iloc[0] == 2


def test_streaming_dedup_drops_redelivered_keys(spark, tmp_path):
    from uk_housing_dashboard_etl_spark.streaming.dedup_stream import (
        dedup_documents_stream,
    )

    d = tmp_path / "doc_landing"
    ckpt = str(tmp_path / "dd_ckpt")
    out = str(tmp_path / "dd_out")
    t0 = dt.datetime(2024, 1, 1)

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, ingest_ts timestamp"
        )

    # batch 1: two distinct docs, one exact dup with different whitespace
    docs(
        [
            (1, "hello  world", t0),
            (2, "HELLO WORLD", t0 + dt.timedelta(minutes=1)),  # dup of 1
            (3, "another doc", t0 + dt.timedelta(minutes=2)),
        ]
    ).write.mode("append").parquet(str(d))

    def run():
        stream = spark.readStream.schema(
            "doc_id long, text string, ingest_ts timestamp"
        ).parquet(str(d))
        q = (
            dedup_documents_stream(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).toPandas()

    first = run()
    assert sorted(first["doc_id"]) == [1, 3]  # normalized dup dropped

    # batch 2: doc 1's content re-delivered within the watermark → dropped;
    # a genuinely new doc passes
    docs(
        [
            (4, "hello world", t0 + dt.timedelta(minutes=30)),
            (5, "fresh content", t0 + dt.timedelta(minutes=31)),
        ]
    ).write.mode("append").parquet(str(d))
    second = run()
    assert sorted(second["doc_id"]) == [1, 3, 5]


def test_stateful_anomaly_scores_across_batches(spark, tmp_path):
    d = tmp_path / "stream_in"
    t0 = dt.datetime(2024, 1, 1)
    # batch 1: establish a tight distribution for key 'a'
    rows1 = [(i, t0 + dt.timedelta(hours=i), 1, "a", 100.0 + (i % 3), "") for i in range(10)]
    _events(spark, rows1).write.mode("append").parquet(str(d))

    stream = spark.readStream.schema(
        spark.read.parquet(str(d)).schema
    ).parquet(str(d))
    scored = streaming_anomaly_scores(stream)
    q = (
        scored.writeStream.format("memory")
        .queryName("t_state1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first = spark.sql("SELECT * FROM t_state1").toPandas()
    assert len(first) == 10
    assert not first["is_anomaly"].any()  # establishing the baseline

    # batch 2: an extreme outlier arrives — state must have persisted,
    # so it is scored against batch-1 statistics
    rows2 = [(100, t0 + dt.timedelta(days=2), 1, "a", 10_000.0, "")]
    _events(spark, rows2).write.mode("append").parquet(str(d))
    q2 = (
        scored.writeStream.format("memory")
        .queryName("t_state2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    # NOTE: without a shared checkpoint the second query replays all
    # input; the outlier must be flagged, the baseline rows must not.
    out = spark.sql("SELECT * FROM t_state2").toPandas()
    flagged = out[out["is_anomaly"]]
    assert set(flagged["value"]) == {10_000.0}
    assert flagged["n_seen"].iloc[0] == 11


def test_streaming_anomaly_drain_equals_batch_companion(spark, tmp_path):
    """r10 verdict item 3: the stateful drain's prequential scores must
    equal the batch prefix z-score window (q_streaming_anomaly_check)
    row-for-row on a single-batch landing — same (ts, event_id) fold
    order (including ts TIES, which the pre-r11 ts-only quicksort left
    shuffle-dependent), same NULL-value skip, ddof=1 stats. Welford vs
    two-pass floats differ in the last ulps, so z compares at 1e-6."""
    import math

    from uk_housing_dashboard_etl_spark import contract

    d = str(tmp_path / "sfdir")
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # key 'a': a tie pair at t0+2m (ids 4, 3 — order must be by id),
        # a NULL value mid-stream, then an outlier
        (1, t0, 9, "a", 10.0, ""),
        (2, t0 + m, 9, "a", 12.0, ""),
        (4, t0 + 2 * m, 9, "a", 11.0, ""),
        (3, t0 + 2 * m, 9, "a", 14.0, ""),
        (5, t0 + 3 * m, 9, "a", None, ""),
        (6, t0 + 4 * m, 9, "a", 500.0, ""),
        # key 'b': short history (n<2 -> z=0 path)
        (7, t0, 9, "b", 1.0, ""),
        (8, t0 + m, 9, "b", 2.0, ""),
    ]
    # read_table sniffs the parquet footer driver-side, so events.parquet
    # must be a single FILE (the driver-testdata shape), not a Spark dir
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    pdf = _events(spark, rows).toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pq.write_table(
        pa.Table.from_pandas(pdf), os.path.join(d, "events.parquet")
    )

    batch = {
        r.event_id: r
        for r in contract.q_streaming_anomaly_check(spark, d).collect()
    }

    # the streaming parquet source needs a DIRECTORY: land the same file
    # via symlink, exactly like q_streaming_anomaly's landing dir
    land = str(tmp_path / "landing")
    os.makedirs(land, exist_ok=True)
    os.symlink(
        os.path.join(d, "events.parquet"),
        os.path.join(land, "events.parquet"),
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(land)
    q = (
        streaming_anomaly_scores(stream)
        .writeStream.format("memory")
        .queryName("anom_eq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = {
        r.event_id: r for r in spark.sql("SELECT * FROM anom_eq").collect()
    }

    assert set(drained) == set(batch) == {1, 2, 3, 4, 5, 6, 7, 8}
    for eid in batch:
        b, s = batch[eid], drained[eid]
        assert s.key == b.key and s.n_seen == b.n_seen, eid
        if b.value is None:
            assert s.zscore is None and b.zscore is None, eid
            assert s.is_anomaly is None and b.is_anomaly is None, eid
            continue
        assert s.is_anomaly == b.is_anomaly, eid
        # the batch twin's z is 4dp-quantized; the drain's is raw —
        # agreement bound is the rounding half-step plus float slack
        assert math.isclose(s.zscore, b.zscore, abs_tol=5.1e-5), (
            eid,
            s.zscore,
            b.zscore,
        )
    # the outlier is flagged, and the tie pair scored in id order:
    # id 3 folds before id 4 despite arriving later in the file, so
    # id 4 sees id 3's value in its prior stats — not file order
    assert drained[6].is_anomaly
    assert drained[3].n_seen == 3 and drained[4].n_seen == 4


def test_funnel_stream_state_across_batches_matches_batch_fold(spark, tmp_path):
    from uk_housing_dashboard_etl_spark.operators.funnel import funnel_steps
    from uk_housing_dashboard_etl_spark.streaming import funnel_stream

    d = str(tmp_path / "fun_landing")
    ckpt = str(tmp_path / "fun_ckpt")
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    steps = ["view", "cart", "buy"]

    # user 1 reaches cart; user 2 views only; user 3's cart arrives at the
    # SAME ts as its view — strict ordering must refuse the advance
    batch1 = [
        (1, t0, 1, "view", 0.0, ""),
        (2, t0 + m, 1, "cart", 0.0, ""),
        (3, t0, 2, "view", 0.0, ""),
        (4, t0, 3, "view", 0.0, ""),
        (5, t0, 3, "cart", 0.0, ""),
    ]
    batch2 = [
        (6, t0 + 5 * m, 1, "buy", 0.0, ""),  # completes from carried state
        (7, t0 + 5 * m, 2, "cart", 0.0, ""),
        (8, t0 + 6 * m, 3, "cart", 0.0, ""),  # now strictly later -> advances
    ]

    out = str(tmp_path / "fun_out")

    def run(name):
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).parquet(d)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        q = (
            funnel_stream(stream, steps)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # stage is monotone per user: the row with the max stage is current
        return {
            r["user"]: (r["stage"], r["reached_at"])
            for r in spark.read.parquet(out)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user").orderBy(F.desc("stage"))
                ),
            )
            .where("rn = 1")
            .collect()
        }

    _events(spark, batch1).write.mode("append").parquet(d)
    first = run("t_fun1")
    assert first == {1: (2, t0 + m), 2: (1, t0), 3: (1, t0)}

    # same checkpoint: only batch 2 is processed, state recovered
    _events(spark, batch2).write.mode("append").parquet(d)
    second = run("t_fun2")
    assert second == {
        1: (3, t0 + 5 * m),
        2: (2, t0 + 5 * m),
        3: (2, t0 + 6 * m),
    }

    # stage-reach counts equal the batch one-shuffle fold over all events
    batch = {
        r["step"]: r["users"]
        for r in funnel_steps(_events(spark, batch1 + batch2), steps).collect()
    }
    reached = {u: s for u, (s, _) in second.items()}
    want = {
        i + 1: sum(1 for s in reached.values() if s >= i + 1)
        for i in range(len(steps))
    }
    assert batch == want


def test_attribution_stream_joins_within_window_across_batches(spark, tmp_path):
    from uk_housing_dashboard_etl_spark.streaming import attribution_stream

    d = str(tmp_path / "attr_landing")
    ckpt = str(tmp_path / "attr_ckpt")
    out = str(tmp_path / "attr_out")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)

    # batch 1: two views; user 2's purchase lands 90 min after its view
    # (outside the 1h attribution window -> must NOT join)
    batch1 = [
        (1, t0, 1, "view", 0.0, ""),
        (2, t0, 2, "view", 0.0, ""),
        (3, t0 + 90 * m, 2, "purchase", 50.0, ""),
    ]
    # batch 2: user 1's purchase 30 min after the batch-1 view — the
    # view is buffered in join state, so the match crosses batches
    batch2 = [
        (4, t0 + 30 * m, 1, "purchase", 99.0, ""),
        (5, t0 + 31 * m, 3, "purchase", 7.0, ""),  # no view at all
    ]

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).parquet(d)
        q = (
            attribution_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).toPandas()

    _events(spark, batch1).write.mode("append").parquet(d)
    run()
    _events(spark, batch2).write.mode("append").parquet(d)
    got = run()
    # exactly one attributed purchase: user 1, 99.0, across batches
    assert len(got) == 1
    r = got.iloc[0]
    assert (r["user_id"], r["value"]) == (1, 99.0)
    assert r["view_ts"].to_pydatetime() == t0
    assert r["buy_ts"].to_pydatetime() == t0 + 30 * m


def test_rate_cap_stream_counts_across_batches(spark, tmp_path):
    from uk_housing_dashboard_etl_spark.streaming.rate_cap_stream import (
        rate_cap_stream,
    )

    d = str(tmp_path / "rcap_landing")
    ckpt = str(tmp_path / "rcap_ckpt")
    out = str(tmp_path / "rcap_out")
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)

    # day 1: user 1 fires 3 events in batch 1, then 2 more in batch 2 —
    # the counter must CARRY so events 4 and 5 exceed the cap of 3
    batch1 = [(i, t0 + i * m, 1, "click", 0.0, "") for i in range(3)]
    batch2 = [(i, t0 + i * m, 1, "click", 0.0, "") for i in range(3, 5)]
    # different day resets via a different state key
    batch2 += [(9, t0 + dt.timedelta(days=1), 1, "click", 0.0, "")]

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def drain():
        stream = spark.readStream.schema(schema).parquet(d)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        q = (
            rate_cap_stream(stream, max_per_day=3)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(d)
    drain()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(d)
    drain()

    res = spark.read.parquet(out).toPandas().set_index("event_id")
    assert list(res.sort_index().day_seq) == [1, 2, 3, 4, 5, 1]
    assert res.loc[2, "kept"] and not res.loc[3, "kept"]
    assert not res.loc[4, "kept"]
    assert res.loc[9, "kept"] and res.loc[9, "day_seq"] == 1


def test_enriched_stream_matches_batch_join(spark, landing):
    from uk_housing_dashboard_etl_spark.streaming.enrich_stream import (
        enriched_segment_stream,
    )

    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    got = (
        run_stream_once(enriched_segment_stream(spark, landing, dim), "t_enr")
        .toPandas()
        .sort_values(["segment", "event_type"])
        .reset_index(drop=True)
    )
    ev = spark.read.parquet(landing)
    batch = (
        ev.join(
            dim.select(
                F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("segment"),
            ),
            "user_id",
        )
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)")).cast(
                    "double"
                )
                / 10000.0
            ).alias("value_sum"),
        )
        .toPandas()
        .sort_values(["segment", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, batch)
    # a dimension miss drops the event (inner join), matching the batch J1
    assert got["n_events"].sum() == ev.where("user_id IN (1, 2)").count()


def test_stream_stream_join_pairs_within_window(spark, tmp_path):
    from uk_housing_dashboard_etl_spark.streaming.join_stream import (
        click_purchase_join_stream,
    )

    d = tmp_path / "ss_join"
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, t0, 1, "click", 0.0, ""),
        # 10 min later: within the 30-min window -> pair
        (2, t0 + dt.timedelta(minutes=10), 1, "purchase", 5.0, ""),
        # 40 min later: outside -> no pair
        (3, t0 + dt.timedelta(minutes=40), 1, "purchase", 7.0, ""),
        # purchase BEFORE the click: no pair (strict ordering)
        (4, t0 - dt.timedelta(minutes=5), 2, "purchase", 9.0, ""),
        (5, t0, 2, "click", 0.0, ""),
        # different user: never pairs with user 1's click
        (6, t0 + dt.timedelta(minutes=5), 3, "purchase", 11.0, ""),
    ]
    _events(spark, rows).write.mode("append").parquet(str(d))
    pairs = run_stream_once(
        click_purchase_join_stream(spark, str(d)),
        query_name="ssj_test",
        output_mode="append",
    ).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["user_id"], p["click_id"], p["purchase_id"]) == (1, 1, 2)
    assert p["purchase_value"] == 5.0


def test_stream_stream_left_outer_emits_timed_out_clicks(spark, tmp_path):
    """Unmatched clicks emit with NULL purchase columns once the
    watermark passes click_ts + window — advanced here by far-future
    sentinel rows typed click/purchase (a 'sentinel'-typed row never
    reaches the watermark operator: the event-type filter is pushed
    below it)."""
    from uk_housing_dashboard_etl_spark.streaming.join_stream import (
        click_purchase_join_stream,
    )

    d = tmp_path / "ss_join_outer"
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, t0, 1, "click", 0.0, ""),  # matched
        (2, t0 + dt.timedelta(minutes=10), 1, "purchase", 5.0, ""),
        (3, t0, 2, "click", 0.0, ""),  # never matched
        (4, t0 + dt.timedelta(minutes=40), 2, "purchase", 7.0, ""),
        # far-future sentinels advance BOTH sides' watermarks
        (998, dt.datetime(2100, 1, 1), -1, "click", 0.0, ""),
        (999, dt.datetime(2100, 1, 1), -2, "purchase", 0.0, ""),
    ]
    _events(spark, rows).write.mode("append").parquet(str(d))
    ckpt = str(tmp_path / "ckpt")
    q = (
        click_purchase_join_stream(spark, str(d), join_type="left_outer")
        .writeStream.format("memory")
        .queryName("ssjo_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        r["click_id"]: r
        for r in spark.sql(
            "SELECT * FROM ssjo_test WHERE user_id >= 0"
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1]["purchase_id"] == 2
    assert out[3]["purchase_id"] is None  # timed out, NULL-padded


def test_cdc_stream_state_across_batches(spark, tmp_path):
    """Per-key CDC state survives micro-batch boundaries: a later batch
    can tombstone or resurrect a key, and the latest emission per key
    is the table state."""
    from uk_housing_dashboard_etl_spark.streaming.cdc_stream import (
        cdc_replay_stream,
    )

    d = tmp_path / "cdc_land"
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    batch1 = [
        (1, t0, 1, "click", 1.0, ""),
        (2, t0, 2, "view", 2.0, ""),
        (3, t0, 3, "error", None, ""),  # key 3 tombstoned immediately
    ]
    batch2 = [
        (4, t0 + dt.timedelta(minutes=1), 1, "error", None, ""),  # kill 1
        (5, t0 + dt.timedelta(minutes=1), 3, "purchase", 9.0, ""),  # revive
    ]
    _events(spark, batch1).write.mode("append").parquet(str(d))
    _events(spark, batch2).write.mode("append").parquet(str(d))
    ckpt = str(tmp_path / "cdc_ckpt")
    raw = cdc_replay_stream(spark, str(d))
    q = (
        raw.writeStream.format("memory")
        .queryName("cdc_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from uk_housing_dashboard_etl_spark.operators.relational import (
        latest_by_key,
    )

    out = spark.sql("SELECT * FROM cdc_test")
    final = {
        r["user_id"]: r
        for r in latest_by_key(out, ["user_id"], "ts", tie_cols=["event_id"])
        .where(~F.col("deleted"))
        .collect()
    }
    assert set(final) == {2, 3}
    assert final[2]["value"] == 2.0
    assert final[3]["event_type"] == "purchase"  # delete then re-insert


def test_stateful_anomaly_null_value_does_not_poison_state(spark, tmp_path):
    """r10 sweep fix: a NULL value event scored as unknown (NULL z,
    NULL flag) and skipped by the Welford fold — previously
    astype(float) turned it into NaN and permanently poisoned the
    key's mean/m2, NaN-ing every subsequent score."""
    import datetime as dt

    from uk_housing_dashboard_etl_spark.streaming.stateful import (
        streaming_anomaly_scores,
    )

    d = str(tmp_path / "landing")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "a", 1.0), (2, t0 + dt.timedelta(minutes=1), "a", 2.0),
        (3, t0 + dt.timedelta(minutes=2), "a", None),   # the poison pill
        (4, t0 + dt.timedelta(minutes=3), "a", 3.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).write.mode("append").parquet(d)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(d)
    q = (
        streaming_anomaly_scores(stream)
        .writeStream.format("memory")
        .queryName("nullstate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select * from nullstate").toPandas().sort_values("ts")
    assert out.zscore.isna().tolist() == [False, False, True, False]
    # the value AFTER the null still scores against clean stats
    # (n=2, mean=1.5, sd=sqrt(0.5)): z finite, state not NaN
    last = out.iloc[-1]
    assert last.n_seen == 3 and abs(last.zscore) < 10


def test_sized_state_partitions_two_regime_clamp(spark):
    """The r11 sizing rule's arithmetic: python-stateful = one
    partition per group clamped to [4, session default]; JVM stateful =
    ~25k keys per shard clamped the same. The session default always
    wins at scale (the production setting is never reduced below it by
    a large key space, and never exceeded)."""
    from uk_housing_dashboard_etl_spark.contract import (
        _sized_state_partitions,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def chosen(n_groups, python_stateful):
        with _sized_state_partitions(spark, n_groups, python_stateful):
            return int(spark.conf.get("spark.sql.shuffle.partitions"))

    # python regime: per-group up to the default
    assert chosen(1, True) == 4          # floor
    assert chosen(5, True) == 5
    assert chosen(10**9, True) == default
    # JVM regime: ceil(groups / 25k), floored at 4
    assert chosen(1500, False) == 4
    assert chosen(297_552, False) == min(12, default)
    assert chosen(10**9, False) == default
    # the scope restores the session conf on exit
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default


def test_stateful_anomaly_group_batch_cap_fails_fast(monkeypatch):
    """The fold's memory guard (r11 verdict item 4): a group whose
    micro-batch exceeds GROUP_BATCH_MAX_ROWS must raise the documented
    remediation error BEFORE consuming the rest of the Arrow chunk
    iterator (fail fast, never OOM), and an under-cap group is
    unaffected."""
    import pandas as pd

    from uk_housing_dashboard_etl_spark.streaming import stateful

    class FakeState:
        exists = False

        def update(self, t):
            self.stored = t

    monkeypatch.setattr(stateful, "GROUP_BATCH_MAX_ROWS", 5)

    def chunk(ids):
        t0 = dt.datetime(2024, 1, 1)
        return pd.DataFrame(
            {
                "key": "a",
                "event_id": ids,
                "ts": [t0 + dt.timedelta(hours=int(i)) for i in ids],
                "value": [float(i) for i in ids],
            }
        )

    consumed = {"n": 0}

    def chunks_over_cap():
        for ids in ([0, 1, 2], [3, 4, 5], [6, 7, 8]):
            consumed["n"] += 1
            yield chunk(ids)

    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        list(stateful._score_group(("a",), chunks_over_cap(), FakeState()))
    assert consumed["n"] == 2, "must stop at the chunk that crosses the cap"

    # under the cap: the fold runs and scores normally
    out = list(stateful._score_group(("a",), iter([chunk([0, 1, 2])]), FakeState()))
    assert len(out) == 1 and len(out[0]) == 3


def test_stateful_anomaly_cap_warns_at_half(monkeypatch, caplog):
    """Advance signal one regime before the hard failure (r12 advice
    item 5): a group past 50% of GROUP_BATCH_MAX_ROWS logs a warning
    (once) while still folding normally; a group under 50% stays
    silent."""
    import logging

    import pandas as pd

    from uk_housing_dashboard_etl_spark.streaming import stateful

    class FakeState:
        exists = False

        def update(self, t):
            self.stored = t

    monkeypatch.setattr(stateful, "GROUP_BATCH_MAX_ROWS", 10)

    def chunk(ids):
        t0 = dt.datetime(2024, 1, 1)
        return pd.DataFrame(
            {
                "key": "a",
                "event_id": ids,
                "ts": [t0 + dt.timedelta(hours=int(i)) for i in ids],
                "value": [float(i) for i in ids],
            }
        )

    with caplog.at_level(
        logging.WARNING, logger=stateful.__name__
    ):
        out = list(
            stateful._score_group(
                ("a",),
                iter([chunk([0, 1, 2]), chunk([3, 4, 5, 6])]),
                FakeState(),
            )
        )
    assert len(out) == 1 and len(out[0]) == 7, "fold still completes"
    warns = [r for r in caplog.records if "50%" in r.getMessage()]
    assert len(warns) == 1, "exactly one advance warning past 50%"

    caplog.clear()
    with caplog.at_level(
        logging.WARNING, logger=stateful.__name__
    ):
        list(
            stateful._score_group(
                ("a",), iter([chunk([0, 1, 2])]), FakeState()
            )
        )
    assert not caplog.records, "under 50%: no warning"


def test_stateful_anomaly_inf_value_does_not_poison_state():
    """±Inf must behave exactly like NULL/NaN in the fold (r12 fuzz):
    scored unknown, never folded — pre-fix one +Inf set mean=Inf and
    the next delta made m2 NaN, poisoning the key's state for every
    future batch."""
    import math

    import pandas as pd

    from uk_housing_dashboard_etl_spark.streaming import stateful

    class FakeState:
        exists = False
        stored = None

        def update(self, t):
            self.stored = t

        @property
        def get(self):
            return self.stored

    t0 = dt.datetime(2024, 1, 1)
    chunk = pd.DataFrame(
        {
            "key": "a",
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": [t0 + dt.timedelta(hours=i) for i in range(6)],
            "value": [10.0, float("inf"), 11.0, float("-inf"), 12.0, 13.0],
        }
    )
    state = FakeState()
    out = list(stateful._score_group(("a",), iter([chunk]), state))[0]
    # the two Inf rows score unknown; n_seen freezes at the prior count
    inf_rows = out[~out["value"].apply(lambda v: math.isfinite(v))]
    assert inf_rows["zscore"].isna().all()
    assert inf_rows["is_anomaly"].isna().all()
    assert list(inf_rows["n_seen"]) == [1, 2]
    # state holds ONLY the four finite values: mean finite, m2 finite
    n, mean, m2 = state.stored
    assert n == 4
    assert math.isfinite(mean) and math.isfinite(m2)
    assert abs(mean - 11.5) < 1e-12
