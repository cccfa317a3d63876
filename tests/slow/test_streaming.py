"""Structured Streaming tier (SURVEY.md §2.11): the streaming variants
must agree with their batch equivalents when the whole dataset is
replayed — the parity contract that makes the streaming tier trustworthy.
"""

from __future__ import annotations

import math
from functools import partial

import pytest
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.sources.readers import load_table
from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
    replay_events_stream,
    streaming_page_hinkley,
    streaming_windowed_stats,
    streaming_zscore_flags,
)
from amonaly_detection_in_time_series_data_spark.operators.anomaly import rolling_zscore
from amonaly_detection_in_time_series_data_spark.streaming.sequences import (
    streaming_sequences,
)


def _run_stream_to_memory(stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # wait for the data explicitly and stop, so a query that does not
    # stop by itself cannot burn a test's whole timeout
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    return q


class TestStreamingParity:
    def test_windowed_stats_match_batch(self, spark, sf_dir):
        stream = replay_events_stream(spark, sf_dir)
        out = streaming_windowed_stats(stream, "24 hours", "1 hour", "2 hours")
        _run_stream_to_memory(out, "win_stats", "complete")
        streamed = {
            (r["window_start"], r["user_id"]): (r["mean_value"], r["n"])
            for r in spark.sql("SELECT * FROM win_stats").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = (
            ev.groupBy(F.window("ts", "24 hours", "1 hour").alias("win"), "user_id")
            .agg(F.avg("value").alias("mean_value"), F.count("*").alias("n"))
            .select(F.col("win.start").alias("window_start"), "user_id", "mean_value", "n")
        )
        expected = {
            (r["window_start"], r["user_id"]): (r["mean_value"], r["n"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for k, (m, n) in expected.items():
            sm, sn = streamed[k]
            assert sn == n
            assert sm == pytest.approx(m, rel=1e-9)

    def test_session_windows_match_batch(self, spark, sf_dir):
        """Native session_window sessions: the stream-built (incremental,
        merge-on-bridge) sessions must equal the batch computation of
        the same grouping, exactly."""
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            sessionized_stats,
        )

        stream = replay_events_stream(spark, sf_dir)
        out = sessionized_stats(stream, gap="45 minutes")
        _run_stream_to_memory(out, "sessions", "complete")
        streamed = {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"], r["sum_value"],
            )
            for r in spark.sql("SELECT * FROM sessions").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        expected = {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"], r["sum_value"],
            )
            for r in sessionized_stats(ev, gap="45 minutes").collect()
        }
        assert len(streamed) == len(expected) > 0
        for k, (n, s) in expected.items():
            sn, ss = streamed[k]
            assert sn == n
            assert ss == pytest.approx(s, rel=1e-9)

    def test_session_window_boundary_contract(self, spark):
        """Hand case pinning the INCLUSIVE boundary contract: an event
        at exactly prev+gap MERGES (same semantics as the lag/cumsum
        sessionize operator's strict > gap test), and a bridging event
        merges two previously-separate sessions."""
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            sessionized_stats,
        )

        rows = [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 1.0),   # merges (10m < 30m gap)
            (1, "2024-01-01 00:40:00", 1.0),   # EXACTLY prev+gap -> merges
            (1, "2024-01-01 01:30:00", 1.0),   # 50m later -> new session
            (2, "2024-01-01 01:00:00", 1.0),
            (2, "2024-01-01 01:50:00", 1.0),   # separate ([1:50,2:20) vs [1:00,1:30)) ...
            (2, "2024-01-01 01:25:00", 1.0),   # ... bridge [1:25,1:55) overlaps both -> one session
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            (r["user_id"], str(r["session_start"]), r["n_events"])
            for r in sessionized_stats(df, gap="30 minutes").collect()
        }
        assert got == {
            (1, "2024-01-01 00:00:00", 3),
            (1, "2024-01-01 01:30:00", 1),
            (2, "2024-01-01 01:00:00", 3),
        }

    def test_stateful_zscore_matches_batch(self, spark, sf_dir):
        stream = replay_events_stream(spark, sf_dir)
        flags = streaming_zscore_flags(stream, window_rows=24, threshold=3.0)
        _run_stream_to_memory(flags, "z_flags", "append")
        streamed = {
            r["event_id"]: (r["zscore"], r["is_anomaly"])
            for r in spark.sql("SELECT * FROM z_flags").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = rolling_zscore(ev, "value", 24, ["user_id"], ["ts", "event_id"], 3.0)
        expected = {
            r["event_id"]: (r["value_zscore"], r["is_anomaly"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for eid, (z, flag) in expected.items():
            sz, sflag = streamed[eid]
            if z is None:
                assert sz is None or (isinstance(sz, float) and math.isnan(sz))
            else:
                assert sz == pytest.approx(z, rel=1e-6), eid
            assert sflag == flag, eid

    def test_stateful_ewma_matches_batch(self, spark, sf_dir):
        """Streaming EWMA control chart == batch ewma_deviation on full
        replay (rel 1e-6 — float summation order is the only slack;
        alarms exactly equal), completing the streaming battery."""
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import ewma_deviation
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_ewma_deviation,
        )

        stream = replay_events_stream(spark, sf_dir)
        out = streaming_ewma_deviation(
            stream, window_rows=8, alpha=0.5
        )
        _run_stream_to_memory(out, "ewma_flags", "append")
        streamed = {
            r["event_id"]: (r["ewma"], r["ewma_dev"], r["ewma_alarm"])
            for r in spark.sql("SELECT * FROM ewma_flags").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = ewma_deviation(
            ev, "value", 8, ["user_id"], ["ts", "event_id"], alpha=0.5
        )
        expected = {
            r["event_id"]: (r["ewma"], r["ewma_dev"], r["ewma_alarm"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for eid, (ew, dev, alarm) in expected.items():
            sew, sdev, salarm = streamed[eid]
            for want, got in ((ew, sew), (dev, sdev)):
                if want is None:
                    assert got is None or (
                        isinstance(got, float) and math.isnan(got)
                    ), eid
                else:
                    assert got == pytest.approx(want, rel=1e-6), eid
            assert salarm == alarm, eid

    def test_stateful_page_hinkley_matches_batch_exactly(self, spark, sf_dir):
        """The integer-unit PH state machine is EXACT: stream output ==
        batch operator bit-for-bit (not approx) for in-order replay —
        the payoff of the O(1) five-integer state design."""
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import page_hinkley

        stream = replay_events_stream(spark, sf_dir)
        ph = streaming_page_hinkley(
            stream, lam=10.0, unit_digits=2
        )
        _run_stream_to_memory(ph, "ph_flags", "append")
        streamed = {
            r["event_id"]: (r["ph_inc"], r["ph_dec"], r["ph_alarm"])
            for r in spark.sql("SELECT * FROM ph_flags").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = page_hinkley(
            ev, "value", ["user_id"], ["ts", "event_id"], lam=10.0, unit_digits=2
        )
        expected = {
            r["event_id"]: (r["ph_inc"], r["ph_dec"], r["ph_alarm"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        assert streamed == expected  # exact, including the doubles

    def test_stateful_sequences_match_batch(self, spark, sf_dir):
        stream = replay_events_stream(spark, sf_dir)
        seqs = streaming_sequences(stream, value_col="value", seq_len=8)
        _run_stream_to_memory(seqs, "seqs", "append")
        streamed = {
            (r["user_id"], r["end_ts"]): r["seq"]
            for r in spark.sql("SELECT * FROM seqs").collect()
        }

        # batch equivalent keyed by the sequence's LAST element's ts
        # (the streaming emit point); matches create_sequences content
        ev = load_table(spark, sf_dir, "events")
        from pyspark.sql import Window as W

        w_end = (
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(0, 7)
        )
        batch = (
            ev.select(
                "user_id",
                "ts",
                "event_id",
                F.collect_list(F.col("value").cast("double")).over(w_end).alias("seq"),
                F.last("ts").over(w_end).alias("end_ts"),
            )
            .filter(F.size("seq") == 8)
        )
        expected = {
            (r["user_id"], r["end_ts"]): r["seq"] for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for k, seq in expected.items():
            assert streamed[k] == pytest.approx(seq, rel=1e-9), k

    def test_streaming_dedup_matches_batch_distinct(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_dedup,
        )

        stream = replay_events_stream(spark, sf_dir)
        doubled = stream.union(stream)  # every event arrives twice
        out = streaming_dedup(doubled, key_cols=("event_id",))
        _run_stream_to_memory(out.select("event_id", "value"), "dedup_s", "append")
        streamed = {
            r["event_id"]: r["value"]
            for r in spark.sql("SELECT * FROM dedup_s").collect()
        }
        ev = load_table(spark, sf_dir, "events")
        expected = {r["event_id"]: r["value"] for r in ev.collect()}
        assert streamed == expected

    def test_stream_static_join_matches_batch(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_enrich,
        )

        dim = (
            load_table(spark, sf_dir, "customer")
            .select((F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment")
        )
        stream = replay_events_stream(spark, sf_dir)
        out = streaming_enrich(stream, dim, on="user_id")
        _run_stream_to_memory(
            out.select("event_id", "c_mktsegment"), "enrich_s", "append"
        )
        streamed = {
            r["event_id"]: r["c_mktsegment"]
            for r in spark.sql("SELECT * FROM enrich_s").collect()
        }
        ev = load_table(spark, sf_dir, "events")
        expected = {
            r["event_id"]: r["c_mktsegment"]
            for r in ev.join(dim, "user_id").collect()
        }
        assert len(expected) > 0 and streamed == expected


class TestStreamingSinks:
    def test_alert_sink_writes_partitioned_parquet(self, spark, sf_dir, tmp_path):
        """Replay -> stateful z-score -> native parquet file sink: the
        alerts on disk equal the flagged rows the stream computed, land
        date-partitioned, and a date filter prunes at the scan."""
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_zscore_flags,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.sinks import (
            write_anomaly_alerts,
        )

        stream = replay_events_stream(spark, sf_dir)
        flags = streaming_zscore_flags(
            stream, window_rows=24, threshold=2.0
        )
        out = str(tmp_path / "alerts")
        q = write_anomaly_alerts(
            flags, out, str(tmp_path / "ckpt"), available_now=True
        )
        assert q.awaitTermination(240), "sink query did not drain in time"

        written = spark.read.parquet(out)
        n = written.count()
        assert n > 0
        assert written.filter(F.col("is_anomaly") != 1).count() == 0
        # partition column present and populated
        assert "alert_date" in written.columns
        assert written.filter(F.col("alert_date").isNull()).count() == 0
        # date filter prunes partitions at the scan
        one_day = written.select("alert_date").first()["alert_date"]
        plan = (
            written.filter(F.col("alert_date") == F.lit(one_day))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters: [" in plan and "alert_date" in plan.split(
            "PartitionFilters"
        )[1][:160]


    def test_default_alert_composition_stops_by_itself(
        self, spark, sf_dir, tmp_path
    ):
        """``write_anomaly_alerts(streaming_zscore_flags(replay))`` with
        every default drains its input and stops under availableNow: the
        twin's idle-key expiry runs inside the state function, so no
        Spark timeout keeps the query running no-data batches."""
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_zscore_flags,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.sinks import (
            write_anomaly_alerts,
        )

        q = write_anomaly_alerts(
            streaming_zscore_flags(replay_events_stream(spark, sf_dir)),
            str(tmp_path / "alerts"),
            str(tmp_path / "ckpt"),
        )
        try:
            assert q.awaitTermination(240), "the default composition did not stop"
        finally:
            q.stop()
        assert q.exception() is None
        assert spark.read.parquet(str(tmp_path / "alerts")).count() > 0


class TestStreamingCorpus:
    def test_quality_rules_streaming_parity(self, spark, sf_dir):
        """The corpus quality tier is STATELESS (map-only Catalyst
        expressions), so it must run unchanged on a readStream and emit
        exactly the batch answer — the contract that lets the same
        quality filter sit in an ingest pipeline."""
        from amonaly_detection_in_time_series_data_spark.operators.corpus import (
            quality_rules,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_table_stream,
        )

        stream = replay_table_stream(spark, sf_dir, "documents")
        out = quality_rules(stream, "text").select(
            "doc_id", "n_tokens", "top_token_frac", "dup_bigram_frac",
            "alpha_word_frac", "bullet_line_frac", "keep",
        )
        _run_stream_to_memory(out, "stream_quality", "append")
        streamed = {
            r["doc_id"]: tuple(r)[1:]
            for r in spark.sql("SELECT * FROM stream_quality").collect()
        }
        docs = load_table(spark, sf_dir, "documents")
        batch = {
            r["doc_id"]: tuple(r)[1:]
            for r in quality_rules(docs, "text")
            .select(
                "doc_id", "n_tokens", "top_token_frac", "dup_bigram_frac",
                "alpha_word_frac", "bullet_line_frac", "keep",
            )
            .collect()
        }
        assert streamed == batch
        assert len(streamed) > 0


class TestStreamingEndToEnd:
    def test_alert_pipeline_equals_batch_anomaly_flags(self, spark, sf_dir, tmp_path):
        """The full streaming anomaly pipeline — replay -> stateful
        rolling z-score -> durable alert sink — produces EXACTLY the
        alert set of the batch anomaly_zscore contract (same window=24,
        threshold=3.0) on the same data: same flagged event_ids, same
        z-scores. Closes the last untested streaming composition."""
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            rolling_zscore,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_zscore_flags,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.sinks import (
            write_anomaly_alerts,
        )

        stream = replay_events_stream(spark, sf_dir)
        flags = streaming_zscore_flags(
            stream, window_rows=24, threshold=3.0
        )
        out = str(tmp_path / "alerts")
        q = write_anomaly_alerts(
            flags, out, str(tmp_path / "ckpt"), available_now=True
        )
        assert q.awaitTermination(240), "alert pipeline did not drain in time"

        streamed = {
            r["event_id"]: r["zscore"]
            for r in spark.read.parquet(out).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        batch = rolling_zscore(ev, "value", 24, ["user_id"], ["ts", "event_id"], 3.0)
        expected = {
            r["event_id"]: r["value_zscore"]
            for r in batch.filter(F.col("is_anomaly") == 1).collect()
        }
        assert len(expected) > 0
        assert set(streamed) == set(expected)
        for eid, z in expected.items():
            assert streamed[eid] == pytest.approx(z, rel=1e-6), eid


class TestStreamingModelScoring:
    def test_streaming_lstm_scores_match_batch(self, spark, sf_dir):
        """ML3 serving online: a pre-fit LSTM-AE broadcast over the
        streaming sequence assembly scores every sequence EXACTLY as
        the batch path does — stateless mapInPandas composes with
        streaming unchanged, so stream == batch per (user, start_ts),
        including the fixed-threshold flags."""
        from amonaly_detection_in_time_series_data_spark.operators.inference import (
            sequence_reconstruction_scores,
        )
        from amonaly_detection_in_time_series_data_spark.operators.lstm import (
            init_lstm_ae,
        )
        from amonaly_detection_in_time_series_data_spark.operators.sequences import (
            create_sequences,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.scoring import (
            streaming_sequence_scores,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.sequences import (
            streaming_sequences,
        )

        model = init_lstm_ae(input_dim=1, hidden_dim=8, embedding_dim=4,
                             n_layers=2, seed=11)
        stream = replay_events_stream(spark, sf_dir)
        seqs = streaming_sequences(
            stream, value_col="value", seq_len=6
        )
        scored = streaming_sequence_scores(seqs, model, threshold=0.5)
        _run_stream_to_memory(scored, "lstm_stream_scores", "append")
        streamed = {
            (r["user_id"], r["start_ts"]): (r["recon_error"], r["is_anomaly"])
            for r in spark.sql("SELECT * FROM lstm_stream_scores").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = sequence_reconstruction_scores(
            create_sequences(ev, ["value"], 6, ["user_id"], ["ts", "event_id"]),
            "seq", model=model,
        )
        expected = {
            (r["user_id"], r["seq_start_ts"]): r["recon_error"]
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for key, err in expected.items():
            serr, sflag = streamed[key]
            assert serr == pytest.approx(err, rel=1e-9), key
            assert sflag == int(err > 0.5), key


class TestStreamingScrubAndScore:
    def test_pii_and_classifier_scoring_streaming_parity(self, spark, sf_dir):
        """PII scrub (regexp chain) and the fitted text-classifier scorer
        (per-token coefficient aggregate) are both STATELESS map-only
        projections, so the ingest-pipeline composition
        redact -> score must run unchanged on a readStream and emit the
        batch answer exactly. The model is fitted ONCE in batch and its
        coefficient literal rides the streaming plan — the broadcast-
        model streaming-serving pattern with zero Python."""
        from pyspark.sql import functions as F

        from amonaly_detection_in_time_series_data_spark.functions.text import (
            pii_counts,
            redact_pii,
        )
        from amonaly_detection_in_time_series_data_spark.operators.classifier import (
            fit_text_lr,
            score_text_lr,
        )
        from amonaly_detection_in_time_series_data_spark.operators.corpus import (
            quality_rules,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_table_stream,
        )

        docs = load_table(spark, sf_dir, "documents")
        labeled = quality_rules(docs, "text").select("doc_id", "text", "keep")
        model = fit_text_lr(
            labeled, "text", "keep", n_features=64, order_cols=["doc_id"]
        )

        def scrub_and_score(df):
            red = df.select(
                "doc_id", redact_pii("text").alias("text"), *pii_counts("text")
            )
            return score_text_lr(red, model, "text").select(
                "doc_id", "n_email", "n_url",
                F.round("quality_prob", 6).alias("prob"),
            )

        stream = replay_table_stream(spark, sf_dir, "documents")
        _run_stream_to_memory(
            scrub_and_score(stream), "stream_scrub_score", "append"
        )
        streamed = {
            r["doc_id"]: tuple(r)[1:]
            for r in spark.sql("SELECT * FROM stream_scrub_score").collect()
        }
        batch = {
            r["doc_id"]: tuple(r)[1:] for r in scrub_and_score(docs).collect()
        }
        assert streamed == batch
        assert len(streamed) > 0


class TestStreamingSketch:
    def test_windowed_hll_distinct_matches_batch_sketch(self, spark, sf_dir):
        """Sketch aggregation under event-time windows in Structured
        Streaming: approx_count_distinct carries fixed-size HLL state
        per window (the 100 TB alternative to exact distinct's
        unbounded shuffle), and the streamed sketch must equal the
        SAME sketch computed in batch (HLL++ is deterministic for a
        given value set) and sit within 3 rsd of the exact count."""
        from pyspark.sql import functions as F

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
        )

        def windowed_distinct(df):
            return (
                df.withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "24 hours").alias("win"))
                .agg(
                    F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
                )
                .select(F.col("win.start").alias("ws"), "hll")
            )

        stream = replay_events_stream(spark, sf_dir)
        _run_stream_to_memory(
            windowed_distinct(stream), "stream_hll", "complete"
        )
        streamed = {
            r["ws"]: r["hll"] for r in spark.sql("SELECT * FROM stream_hll").collect()
        }
        ev = load_table(spark, sf_dir, "events")
        batch = {r["ws"]: r["hll"] for r in windowed_distinct(ev).collect()}
        assert streamed == batch
        assert len(streamed) > 0
        exact = {
            r["ws"]: r["n"]
            for r in ev.groupBy(F.window("ts", "24 hours").alias("win"))
            .agg(F.countDistinct("user_id").alias("n"))
            .select(F.col("win.start").alias("ws"), "n")
            .collect()
        }
        for ws, n in exact.items():
            assert abs(streamed[ws] - n) <= max(3 * 0.02 * n, 1), (ws, n)


class TestStreamStreamJoin:
    def test_time_bounded_self_join_matches_batch(self, spark, sf_dir):
        """Stream-stream inner join (the one join mode the tier had not
        exercised): pair every event with the same user's events in the
        following hour. Both sides watermarked; the time-bound condition
        lets Spark expire join state — the required shape for unbounded
        streams. The streamed pair set must equal the identical batch
        join exactly."""
        from pyspark.sql import functions as F

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
        )

        def pair_join(left, right):
            a = left.select(
                F.col("event_id").alias("a_id"),
                F.col("user_id").alias("a_user"),
                F.col("ts").alias("a_ts"),
            )
            b = right.select(
                F.col("event_id").alias("b_id"),
                F.col("user_id").alias("b_user"),
                F.col("ts").alias("b_ts"),
            )
            return a.join(
                b,
                F.expr(
                    "a_user = b_user AND b_ts > a_ts "
                    "AND b_ts <= a_ts + INTERVAL 1 HOUR"
                ),
            ).select("a_id", "b_id")

        sa = replay_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
        sb = replay_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
        _run_stream_to_memory(pair_join(sa, sb), "ss_join", "append")
        streamed = {
            (r["a_id"], r["b_id"])
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
        ev = load_table(spark, sf_dir, "events")
        batch = {(r["a_id"], r["b_id"]) for r in pair_join(ev, ev).collect()}
        assert streamed == batch
        assert len(streamed) > 0


class TestStreamingCheckpointRecovery:
    def test_checkpoint_resume_processes_each_file_exactly_once(
        self, spark, sf_dir, tmp_path
    ):
        """Exactly-once across restarts: drain a file-source stream to a
        parquet sink with a checkpoint, add new input, restart the SAME
        query (same checkpoint) — the second run must process ONLY the
        new file; the sink ends with every row exactly once. This is
        the operational contract that makes the streaming tier safe to
        rerun after a crash."""
        import os

        from pyspark.sql import functions as F

        src_dir = str(tmp_path / "in")
        sink_dir = str(tmp_path / "out")
        ckpt_dir = str(tmp_path / "ckpt")
        os.makedirs(src_dir)

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        first = ev.filter(F.col("event_id") % 2 == 0)
        second = ev.filter(F.col("event_id") % 2 == 1)
        first.coalesce(1).write.mode("append").parquet(src_dir)

        def drain():
            q = (
                spark.readStream.schema(first.schema)
                .parquet(src_dir)
                .withColumn("doubled", F.col("value") * 2)
                .writeStream.format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", ckpt_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)

        drain()
        n_first = spark.read.parquet(sink_dir).count()
        assert n_first == first.count()

        second.coalesce(1).write.mode("append").parquet(src_dir)
        drain()  # restart from the same checkpoint
        out = spark.read.parquet(sink_dir)
        assert out.count() == ev.count()  # no reprocessing, no loss
        # every event exactly once, transformation applied
        assert out.select("event_id").distinct().count() == ev.count()
        row = out.filter(F.col("event_id") == 2).collect()[0]
        want = ev.filter(F.col("event_id") == 2).collect()[0]["value"]
        assert row["doubled"] == want * 2


class TestStreamStreamIntervalJoin:
    """streaming.joins.interval_join: the stream-stream case — state
    bounded by watermark + interval width; the SAME function on static
    frames is the batch twin, and replaying both feeds must match it."""

    LEFT_SCHEMA = "user_id int, ts timestamp, ev string"
    RIGHT_SCHEMA = "user_id int, ts timestamp, tag string"

    def _data(self):
        from datetime import datetime

        def t(m):
            return datetime(2024, 1, 1, 0, m)

        left = [
            (1, t(0), "a"), (1, t(30), "b"),
            (2, t(0), "c"), (2, t(45), "d"),
        ]
        right = [
            (1, t(5), "r1"),    # joins a (0..20)
            (1, t(35), "r2"),   # joins b (30..50)
            (2, t(50), "r3"),   # joins d (45..65)
            (2, t(25), "r4"),   # joins nothing (0..20 and 45..65 miss)
            (3, t(5), "r5"),    # no such user on the left
        ]
        return left, right

    def test_streaming_matches_batch_and_hand_expected(self, spark, tmp_path):
        from amonaly_detection_in_time_series_data_spark.streaming.joins import (
            interval_join,
        )

        left_rows, right_rows = self._data()
        kw = dict(on="user_id", lower="0 seconds", upper="20 minutes",
                  watermark="1 hour")

        # batch twin (same function, static frames)
        lb = spark.createDataFrame(left_rows, self.LEFT_SCHEMA)
        rb = spark.createDataFrame(right_rows, self.RIGHT_SCHEMA)
        batch = {
            (r["user_id"], r["ev"], r["tag"])
            for r in interval_join(lb, rb, **kw).collect()
        }
        assert batch == {(1, "a", "r1"), (1, "b", "r2"), (2, "d", "r3")}

        # streams: two file feeds, split into micro-batches
        for name, rows, schema, n in (
            ("l", left_rows, self.LEFT_SCHEMA, 2),
            ("r", right_rows, self.RIGHT_SCHEMA, 2),
        ):
            for i in range(n):
                spark.createDataFrame(
                    rows[i::n], schema
                ).coalesce(1).write.mode("overwrite").parquet(
                    str(tmp_path / name / f"b{i}")
                )
        ls = (spark.readStream.schema(self.LEFT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "l" / "b*")))
        rs = (spark.readStream.schema(self.RIGHT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "r" / "b*")))
        out = interval_join(ls, rs, **kw)
        assert out.isStreaming
        _run_stream_to_memory(out, "ssij", "append")
        streamed = {
            (r["user_id"], r["ev"], r["tag"])
            for r in spark.sql("SELECT * FROM ssij").collect()
        }
        assert streamed == batch

    def test_left_outer_batch_and_ambiguity_guard(self, spark):
        from amonaly_detection_in_time_series_data_spark.streaming.joins import (
            interval_join,
        )

        left_rows, right_rows = self._data()
        lb = spark.createDataFrame(left_rows, self.LEFT_SCHEMA)
        rb = spark.createDataFrame(right_rows, self.RIGHT_SCHEMA)
        outer = interval_join(
            lb, rb, on="user_id", lower="0 seconds", upper="20 minutes",
            how="left_outer",
        )
        got = {(r["user_id"], r["ev"], r["tag"]) for r in outer.collect()}
        assert got == {
            (1, "a", "r1"), (1, "b", "r2"), (2, "d", "r3"),
            (2, "c", None),  # unmatched left survives
        }
        with pytest.raises(ValueError, match="ambiguous shared columns"):
            interval_join(
                lb.withColumn("tag", F.lit("x")), rb, on="user_id"
            )
        with pytest.raises(ValueError, match="swap sides"):
            interval_join(lb, rb, on="user_id", how="right_outer")


class TestStreamingThrottle:
    """streaming_throttle_alerts == batch throttle_alerts on full
    replay, EXACTLY, for both policies (pure timestamp comparisons —
    no float accumulation to blur; sf0.001 events have no duplicate
    (user, ts), so the batch (key, ts) delivery identity is unique)."""

    @pytest.mark.parametrize("policy", ["quiet-period", "fixed-cooldown"])
    def test_matches_batch_exactly(self, spark, sf_dir, policy):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            rolling_zscore,
            throttle_alerts,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_throttle_alerts,
        )

        ev = load_table(spark, sf_dir, "events")
        scored_batch = rolling_zscore(
            ev, "value", 24, ["user_id"], ["ts", "event_id"], 3.0
        ).select("user_id", "event_id", "ts", "value", "is_anomaly")
        batch = throttle_alerts(
            scored_batch, ["user_id"], "ts", cooldown="2 hours",
            policy=policy, order_tiebreak=["event_id"],
        )
        expected = {
            r["event_id"]: r["alert_delivered"] for r in batch.collect()
        }

        # stream the scored frame itself (write it, replay it) so both
        # sides throttle the IDENTICAL flag sequence
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            scored_batch.write.mode("overwrite").parquet(d)
            stream = (
                spark.readStream.schema(scored_batch.schema).parquet(d)
            )
            out = streaming_throttle_alerts(
                stream, cooldown_seconds=2 * 3600.0, policy=policy,
            )
            _run_stream_to_memory(out, f"throttle_{policy.replace('-','_')}", "append")
            streamed = {
                r["event_id"]: r["alert_delivered"]
                for r in spark.sql(
                    f"SELECT * FROM throttle_{policy.replace('-','_')}"
                ).collect()
            }
        assert len(streamed) == len(expected) > 0
        diffs = {
            eid: (expected[eid], streamed[eid])
            for eid in expected
            if expected[eid] != streamed[eid]
        }
        assert diffs == {}, list(diffs.items())[:10]
        assert sum(expected.values()) > 0  # the case isn't vacuous


class TestStreamingHampel:
    """streaming_hampel_flags == batch hampel_flags(centered=False) on
    full replay, EXACTLY — median/MAD are order statistics, nothing
    accumulates to blur."""

    def test_matches_batch_exactly(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import hampel_flags
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_hampel_flags,
        )

        stream = replay_events_stream(spark, sf_dir)
        out = streaming_hampel_flags(stream, window_rows=11)
        _run_stream_to_memory(out, "hampel", "append")
        streamed = {
            r["event_id"]: (r["hampel_median"], r["hampel_mad"], r["hampel_flag"])
            for r in spark.sql("SELECT * FROM hampel").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = hampel_flags(
            ev, "value", 11, ["user_id"], ["ts", "event_id"], centered=False
        )
        expected = {
            r["event_id"]: (r["hampel_median"], r["hampel_mad"], r["hampel_flag"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for eid, (m, mad, flag) in expected.items():
            sm, smad, sflag = streamed[eid]
            if m is None:
                assert sm is None or (isinstance(sm, float) and math.isnan(sm))
            else:
                assert sm == m and smad == mad, eid  # exact, not approx
            assert sflag == flag, eid


class TestStreamingTrendOls:
    """streaming_trend_ols == batch trend_ols_expanding on full replay,
    BIT-FOR-BIT — both sides derive their doubles from the same exact
    integer sufficient statistics with the same expression order."""

    def test_matches_batch_exactly(self, spark, sf_dir):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            trend_ols_expanding,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_trend_ols,
        )

        stream = replay_events_stream(spark, sf_dir)
        out = streaming_trend_ols(stream)
        _run_stream_to_memory(out, "trend_ols_s", "append")
        streamed = {
            r["event_id"]: (
                r["trend_run_slope"], r["trend_run_fit"],
                r["trend_run_z"], r["trend_run_alarm"],
            )
            for r in spark.sql("SELECT * FROM trend_ols_s").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = trend_ols_expanding(
            ev, "value", ["user_id"], ["ts", "event_id"]
        )
        expected = {
            r["event_id"]: (
                r["trend_run_slope"], r["trend_run_fit"],
                r["trend_run_z"], r["trend_run_alarm"],
            )
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        n_alarm = 0
        for eid, exp in expected.items():
            got = streamed[eid]
            for e, g in zip(exp, got):
                if e is None:
                    assert g is None or (
                        isinstance(g, float) and math.isnan(g)
                    ), eid
                else:
                    assert g == e, (eid, exp, got)  # exact, not approx
            n_alarm += exp[3] or 0
        assert n_alarm > 0  # the parity isn't vacuous


class TestStreamingKalman:
    def test_kalman_matches_batch_exactly(self, spark, sf_dir):
        """Streaming local-level Kalman filter == batch kalman_level
        bit-for-bit on full replay (identical IEEE expression order on
        both sides; the filter's O(1)-state design is the textbook
        streaming algorithm)."""
        from amonaly_detection_in_time_series_data_spark.operators.kalman import kalman_level
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_kalman_level,
        )

        Q, R = 0.05, 1.0
        stream = replay_events_stream(spark, sf_dir)
        out = streaming_kalman_level(stream, q_var=Q, r_var=R)
        _run_stream_to_memory(out, "kf_stream", "append")
        streamed = {
            (r["user_id"], r["ts"]): (
                r["kf_pred"], r["kf_level"], r["kf_innov_sd"],
                r["kf_score"], r["kf_flag"],
            )
            for r in spark.sql("SELECT * FROM kf_stream").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        # (user_id, ts) is a unique key in the testdata; the batch
        # operator's output doesn't carry event_id, so compare on it
        assert ev.groupBy("user_id", "ts").count().filter("count > 1").count() == 0
        batch = kalman_level(ev, "ts", "value", ["user_id"], q_var=Q, r_var=R)
        expected = {
            (r["user_id"], r["ts"]): (
                r["kf_pred"], r["kf_level"], r["kf_innov_sd"],
                r["kf_score"], r["kf_flag"],
            )
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        n_flag = 0
        for eid, exp in expected.items():
            got = streamed[eid]
            for e, g in zip(exp, got):
                if e is None:
                    assert g is None or (
                        isinstance(g, float) and math.isnan(g)
                    ), eid
                else:
                    assert g == e, (eid, exp, got)  # exact, not approx
            n_flag += 1 if exp[4] else 0
        assert n_flag > 0  # the parity isn't vacuous


class TestStreamingEpisodes:
    def test_episode_assignment_matches_batch_exactly(self, spark, sf_dir):
        """Streaming episode-id assignment == the batch
        anomaly_episodes(attach=True) sessionization bit-for-bit on
        full replay — the same two-numbers-of-state lag/cumsum
        recurrence on both sides."""
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            anomaly_episodes,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_episode_assign,
        )

        stream = replay_events_stream(spark, sf_dir).withColumn(
            "is_alert", (F.col("value") > 100).cast("int")
        ).select("user_id", "event_id", "ts", "value", "is_alert")
        out = streaming_episode_assign(
            stream, gap_seconds=7200.0
        )
        _run_stream_to_memory(out, "episodes_s", "append")
        streamed = {
            r["event_id"]: r["episode_id"]
            for r in spark.sql("SELECT * FROM episodes_s").collect()
        }

        ev = load_table(spark, sf_dir, "events").withColumn(
            "is_alert", (F.col("value") > 100).cast("int")
        )
        batch = anomaly_episodes(
            ev, ["user_id"], "ts", "is_alert", gap="2 hours",
            order_tiebreak=["event_id"], attach=True,
        )
        expected = {
            r["event_id"]: r["episode_id"] for r in batch.collect()
        }
        assert len(expected) > 0
        # every alert row matches exactly; non-alert rows are null
        n_alerts = 0
        for eid, sid in streamed.items():
            if eid in expected:
                assert sid == expected[eid], eid
                n_alerts += 1
            else:
                assert sid is None, eid
        assert n_alerts == len(expected)
        assert max(expected.values()) > 1  # segmentation isn't vacuous


class TestStreamingAdwin:
    def test_adwin_matches_batch_exactly(self, spark, sf_dir):
        """Streaming ADWIN == batch adwin_changes bit-for-bit on full
        replay — the persisted exponential histogram IS the algorithm's
        whole state, and both sides run the same AdwinState code."""
        from amonaly_detection_in_time_series_data_spark.operators.adwin import (
            adwin_changes,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_adwin,
        )

        stream = replay_events_stream(spark, sf_dir)
        out = streaming_adwin(stream, delta=0.01)
        _run_stream_to_memory(out, "adwin_s", "append")
        streamed = {
            (r["user_id"], r["ts"]): (r["adwin_n"], r["adwin_mean"], r["adwin_change"])
            for r in spark.sql("SELECT * FROM adwin_s").collect()
        }

        ev = load_table(spark, sf_dir, "events")
        batch = adwin_changes(ev, "ts", "value", ["user_id"], delta=0.01)
        expected = {
            (r["user_id"], r["ts"]): (r["adwin_n"], r["adwin_mean"], r["adwin_change"])
            for r in batch.collect()
        }
        assert len(streamed) == len(expected) > 0
        for k, exp in expected.items():
            got = streamed[k]
            assert got[0] == exp[0], k
            assert got[1] == exp[1], k  # exact, not approx
            assert got[2] == exp[2], k


class TestStreamingQuantiles:
    def test_gk_stream_meets_rank_guarantee(self, spark, sf_dir):
        """Per-key streaming quantiles: the final emitted estimates per
        user must sit within eps*n RANK error of the exact per-user
        quantiles of the fully replayed data — the GK guarantee carried
        across state round-trips."""
        import numpy as np

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            replay_events_stream,
            streaming_quantiles,
        )

        eps = 0.02
        stream = replay_events_stream(spark, sf_dir)
        out = streaming_quantiles(
            stream, quantiles=(0.5, 0.9), eps=eps
        )
        _run_stream_to_memory(out, "gkq", "append")
        rows = spark.sql(
            "SELECT user_id, ts, q0_5, q0_9 FROM gkq"
        ).collect()
        # last emission per user = the full-replay sketch state
        last = {}
        for r in rows:
            k = r["user_id"]
            if k not in last or r["ts"] > last[k][0]:
                last[k] = (r["ts"], r["q0_5"], r["q0_9"])

        ev = load_table(spark, sf_dir, "events").select("user_id", "value").collect()
        by_user = {}
        for r in ev:
            by_user.setdefault(r["user_id"], []).append(r["value"])
        assert len(last) == len(by_user) > 0
        for u, vals in by_user.items():
            srt = np.sort(np.array(vals, dtype="float64"))
            n = len(srt)
            for q, est in ((0.5, last[u][1]), (0.9, last[u][2])):
                rank = np.searchsorted(srt, est, side="right")
                assert abs(rank - math.ceil(q * n)) <= eps * n + 1, (u, q)


class TestStreamingForecast:
    """streaming_theta / streaming_croston == their batch recursions
    BIT-FOR-BIT on in-order replay across MULTIPLE micro-batches (the
    grid is split into three ts-range files, so per-key state genuinely
    persists between batches)."""

    @staticmethod
    def _replay_grid(spark, grid, tmp_path, name):
        import pyspark.sql.functions as SF

        pdf = grid.orderBy("ts").toPandas()
        cut1, cut2 = len(pdf) // 3, 2 * len(pdf) // 3
        ts_sorted = pdf["ts"].sort_values().reset_index(drop=True)
        t1, t2 = ts_sorted.iloc[cut1], ts_sorted.iloc[cut2]
        parts = [
            grid.where(SF.col("ts") < SF.lit(t1)),
            grid.where((SF.col("ts") >= SF.lit(t1)) & (SF.col("ts") < SF.lit(t2))),
            grid.where(SF.col("ts") >= SF.lit(t2)),
        ]
        for i, p in enumerate(parts):
            p.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / name / f"b{i}")
            )
        return (
            spark.readStream.schema(grid.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / name / "b*"))
        )

    @staticmethod
    def _by_key(rows, cols):
        import math

        out = {}
        for r in rows:
            vals = []
            for c in cols:
                v = r[c]
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    vals.append(None)
                else:
                    vals.append(v)
            out[(r["user_id"], r["ts"])] = tuple(vals)
        return out

    def test_theta_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            resample_grid,
            theta_forecast,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_theta,
        )

        ev = load_table(spark, sf_dir, "events")
        grid = (
            resample_grid(ev, ["user_id"], "ts", ["value"], step="1 hour")
            .na.drop(subset=["value"])
            .select(
                "user_id",
                F.col("bucket_ts").alias("ts"),
                F.col("value").cast("double").alias("value"),
            )
        )
        batch = theta_forecast(grid, "ts", "value", ["user_id"])
        cols = ["theta_forecast", "abs_err", "theta_mae"]
        expected = self._by_key(batch.collect(), cols)

        stream = self._replay_grid(spark, grid, tmp_path, "theta_g")
        out = streaming_theta(stream)
        _run_stream_to_memory(out, "theta_s", "append")
        streamed = self._by_key(
            spark.sql("SELECT * FROM theta_s").collect(), cols
        )
        assert len(streamed) == len(expected) > 0
        n_fc = 0
        for k, exp in expected.items():
            assert streamed[k] == exp, k  # exact, not approx
            if exp[0] is not None:
                n_fc += 1
        assert n_fc > 0

    def test_croston_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            croston_forecast,
            resample_grid,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_croston,
        )

        ev = load_table(spark, sf_dir, "events")
        counts = (
            resample_grid(
                ev, ["user_id"], "ts", ["value"], step="1 hour",
                agg="count", fill=None,
            )
            .fillna(0, subset=["value"])
            .select(
                "user_id",
                F.col("bucket_ts").alias("ts"),
                F.col("value").cast("double").alias("value"),
            )
        )
        # make the series properly intermittent: keep only bursts
        counts = counts.withColumn(
            "value",
            F.when(F.col("value") >= 2, F.col("value")).otherwise(F.lit(0.0)),
        )
        batch = croston_forecast(counts, "ts", "value", ["user_id"])
        cols = ["croston_forecast", "abs_err", "croston_mae"]
        expected = self._by_key(batch.collect(), cols)

        stream = self._replay_grid(spark, counts, tmp_path, "croston_g")
        out = streaming_croston(stream)
        _run_stream_to_memory(out, "croston_s", "append")
        streamed = self._by_key(
            spark.sql("SELECT * FROM croston_s").collect(), cols
        )
        assert len(streamed) == len(expected) > 0
        n_fc = 0
        for k, exp in expected.items():
            assert streamed[k] == exp, k  # exact, not approx
            if exp[0] is not None:
                n_fc += 1
        assert n_fc > 0

    def test_kmv_sketch_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        # streaming_kmv after a 3-micro-batch replay == kmv_build over
        # the same rows, ARRAY-EQUAL (min-wise property), and the
        # streamed (k-1)/u_k estimate is the identical IEEE double.
        from amonaly_detection_in_time_series_data_spark.operators.kmv import (
            kmv_build,
            kmv_estimate,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_kmv,
        )

        K = 32  # small k so several users genuinely saturate at sf0.001
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "value"
        )
        batch = kmv_build(ev, ["user_id"], "value", k=K)
        want = {
            r["user_id"]: (r["kmv"], r["est"])
            for r in batch.select(
                "user_id", "kmv", kmv_estimate("kmv", K).alias("est")
            ).collect()
        }

        stream = self._replay_grid(spark, ev, tmp_path, "kmv_g")
        out = streaming_kmv(
            stream, "value", k=K, key_cols=["user_id"],
        )
        _run_stream_to_memory(out, "kmv_s", "append")
        # progressive snapshots: the LAST emitted row per key is the
        # full-history sketch. kmv_est is monotone nondecreasing over a
        # key's emissions (pre-saturation it IS the growing size; after
        # saturation every change shrinks u_k), so max-est = latest;
        # no-new-data batches emit identical rows, so ties are safe.
        rows = spark.sql(
            "SELECT user_id, kmv, kmv_est FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY user_id ORDER BY kmv_est DESC) AS rn"
            "  FROM kmv_s) WHERE rn = 1"
        ).collect()
        got = {r["user_id"]: (r["kmv"], r["kmv_est"]) for r in rows}
        assert set(got) == set(want) and len(want) > 0
        saturated = 0
        for uid, (arr, est) in want.items():
            assert got[uid][0] == arr, uid   # array-equal
            assert got[uid][1] == est, uid   # bit-equal double
            if len(arr) == K:
                saturated += 1
        assert saturated > 0  # the estimator path (not just exact-size)

    def test_kmv_null_values_excluded(self, spark, tmp_path):
        # r10 ADVICE: xxhash64(NULL) is the seed 42 (never NULL), so
        # NULLs must be filtered BEFORE hashing or they inject hash 42
        # into the sketch. Batch kmv_build filters isNotNull(); the
        # streamed twin must match it array-equal on NULL-bearing data.
        from amonaly_detection_in_time_series_data_spark.operators.kmv import (
            kmv_build,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_kmv,
        )

        rows = []
        for u in (1, 2):
            for i in range(6):
                rows.append((u, f"2024-01-01 0{i}:00:00", float(10 * u + i)))
            rows.append((u, "2024-01-01 07:00:00", None))  # NULL value
        ev = spark.createDataFrame(
            rows, "user_id int, ts string, value double"
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")

        want = {
            r["user_id"]: r["kmv"]
            for r in kmv_build(ev, ["user_id"], "value", k=16).collect()
        }
        assert all(42 not in arr for arr in want.values())

        stream = self._replay_grid(spark, ev, tmp_path, "kmv_null_g")
        out = streaming_kmv(
            stream, "value", k=16, key_cols=["user_id"]
        )
        _run_stream_to_memory(out, "kmv_null_s", "append")
        got = {
            r["user_id"]: r["kmv"]
            for r in spark.sql(
                "SELECT user_id, kmv FROM ("
                "  SELECT *, row_number() OVER ("
                "    PARTITION BY user_id ORDER BY kmv_size DESC) AS rn"
                "  FROM kmv_null_s) WHERE rn = 1"
            ).collect()
        }
        assert got == want and len(want) == 2
        assert all(42 not in arr for arr in got.values())

    def test_hist_sketch_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        # r11: the ADDITIVE sketch's streaming face — a plain native
        # streaming aggregation (no custom state function). Streamed
        # counts over a 3-micro-batch replay == batch hist_sketch over
        # the same rows, integer-exact per bin.
        from amonaly_detection_in_time_series_data_spark.operators.binsketch import (
            hist_sketch,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_hist,
        )

        NB = 8
        cols = [f"b{i}" for i in range(NB + 2)]
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "value"
        )
        want = {
            r["user_id"]: tuple(r[c] for c in cols)
            for r in hist_sketch(
                ev, ["user_id"], "value", 0.0, 250.0, NB
            ).collect()
        }

        stream = self._replay_grid(spark, ev, tmp_path, "hist_g")
        out = streaming_hist(
            stream, "value", 0.0, 250.0, NB, key_cols=["user_id"]
        )
        assert out.isStreaming
        _run_stream_to_memory(out, "hist_s", "complete")
        got = {
            r["user_id"]: tuple(r[c] for c in cols)
            for r in spark.sql("SELECT * FROM hist_s").collect()
        }
        assert got == want and len(want) > 0

    def test_theta_string_key_cols(self, spark, sf_dir, tmp_path):
        # r10 (ADVICE): the streaming twins accept key_cols like their
        # batch series_cols — key schema derived from the input, so a
        # STRING key must replay bit-exactly too.
        from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
            resample_grid,
            theta_forecast,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_theta,
        )

        ev = load_table(spark, sf_dir, "events")
        grid = (
            resample_grid(ev, ["user_id"], "ts", ["value"], step="1 hour")
            .na.drop(subset=["value"])
            .select(
                F.concat(F.lit("s"), F.col("user_id")).alias("series"),
                F.col("bucket_ts").alias("ts"),
                F.col("value").cast("double").alias("value"),
            )
        )
        batch = theta_forecast(grid, "ts", "value", ["series"])
        cols = ["theta_forecast", "abs_err", "theta_mae"]
        expected = {
            (r["series"], r["ts"]): tuple(r[c] for c in cols)
            for r in batch.collect()
        }

        stream = self._replay_grid(spark, grid, tmp_path, "theta_sk")
        out = streaming_theta(
            stream, key_cols=["series"]
        )
        assert out.schema["series"].dataType.simpleString() == "string"
        _run_stream_to_memory(out, "theta_sk_s", "append")
        streamed = {
            (r["series"], r["ts"]): tuple(r[c] for c in cols)
            for r in spark.sql("SELECT * FROM theta_sk_s").collect()
        }
        assert len(streamed) == len(expected) > 0
        assert streamed == expected

    def test_validation(self, spark):
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_croston,
            streaming_theta,
        )

        df = spark.readStream.format("rate").load().selectExpr(
            "value AS user_id", "timestamp AS ts",
            "cast(value as double) AS value",
        )
        with pytest.raises(ValueError, match="alpha"):
            streaming_theta(df, alpha=1.5)
        with pytest.raises(ValueError, match="min_points"):
            streaming_theta(df, min_points=1)
        with pytest.raises(ValueError, match="alpha"):
            streaming_croston(df, alpha=0.0)


class TestStreamingTransitions:
    """streaming_transitions (r12): the lag walk of transition_matrix
    with one string of state per session key. Aggregating the streamed
    transition rows reproduces the batch matrix's cnt (and hence prob
    — same integer divisions) EXACTLY on in-order multi-micro-batch
    replay."""

    def test_matches_batch_matrix_exactly(self, spark, sf_dir, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
            transition_matrix,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_transitions,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        batch = {
            (r["from_type"], r["to_type"]): (r["cnt"], r["prob"])
            for r in transition_matrix(
                ev, ["user_id"], ["ts", "event_id"], "event_type"
            ).collect()
        }

        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, "trans_g"
        )
        out = streaming_transitions(
            stream,
            session_cols=["user_id"],
            order_cols=["ts", "event_id"],
            type_col="event_type",
        )
        assert out.isStreaming
        _run_stream_to_memory(out, "trans_s", "append")
        rows = spark.sql(
            "SELECT from_type, to_type, count(*) AS cnt FROM trans_s "
            "GROUP BY from_type, to_type"
        ).collect()
        cnts = {(r["from_type"], r["to_type"]): r["cnt"] for r in rows}
        froms: dict[str, int] = {}
        for (f_, _), c in cnts.items():
            froms[f_] = froms.get(f_, 0) + c
        got = {
            k: (c, c / froms[k[0]]) for k, c in cnts.items()
        }
        assert got == batch and len(batch) > 0

    def test_session_boundary_and_null_types(self, spark, tmp_path):
        # transitions never cross the session key; a null PREVIOUS type
        # suppresses the emission (the batch lag-filter contract) while
        # a null CURRENT type is a transition TO null
        import datetime as dt

        from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
            transition_matrix,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_transitions,
        )

        B = dt.datetime(2024, 1, 1)
        rows = [
            (1, B, 1, "a"),
            (1, B, 2, None),
            (1, B + dt.timedelta(minutes=1), 3, "b"),
            (1, B + dt.timedelta(minutes=2), 4, "c"),
            (2, B, 5, "x"),
            (2, B + dt.timedelta(minutes=1), 6, "x"),
        ]
        ev = spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, event_id bigint, event_type string"
        )
        batch = {
            (r["from_type"], r["to_type"]): r["cnt"]
            for r in transition_matrix(
                ev, ["user_id"], ["ts", "event_id"], "event_type"
            ).collect()
        }
        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, "trans_null_g"
        )
        out = streaming_transitions(
            stream,
            session_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        _run_stream_to_memory(out, "trans_null_s", "append")
        got_rows = spark.sql("SELECT * FROM trans_null_s").collect()
        got = {}
        for r in got_rows:
            k = (r["from_type"], r["to_type"])
            got[k] = got.get(k, 0) + 1
        assert got == batch
        assert ("a", None) in got       # transition TO null is real
        assert all(f_ is not None for f_, _ in got)  # never FROM null


class TestStreamingAttribution:
    """streaming_attribution (r12): bounded per-user touch-list state;
    aggregating the streamed per-conversion credit rows equals the
    batch attribution_credit output exactly (all five models) on
    in-order multi-micro-batch replay."""

    def test_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
            attribution_credit,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_attribution,
        )

        MODELS = ("first", "last", "linear", "position", "decay")
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        batch = {
            (r["model"], r["channel"]): (r["conversions"], r["credit_ppm"])
            for r in attribution_credit(
                ev, "ts", "user_id", "event_type",
                is_touch=F.col("event_type").isin("signup", "view", "click"),
                is_conversion=F.col("event_type") == "purchase",
                lookback="7 days",
                models=MODELS,
                half_life="1 day",
            ).collect()
        }

        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, "attr_g"
        )
        out = streaming_attribution(
            stream,
            channel_col="event_type",
            touch_types=("signup", "view", "click"),
            conversion_types=("purchase",),
            models=MODELS,
            key_cols=["user_id"],
        )
        assert out.isStreaming
        _run_stream_to_memory(out, "attr_s", "append")
        got = {
            (r["model"], r["channel"]): (r["conversions"], r["credit_ppm"])
            for r in spark.sql(
                "SELECT model, channel, count(*) AS conversions, "
                "sum(ppm) AS credit_ppm FROM attr_s GROUP BY model, channel"
            ).collect()
        }
        assert got == batch and len(batch) > 0

    def test_validation(self, spark, sf_dir):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_attribution,
        )

        ev = load_table(spark, sf_dir, "events")
        with _pytest.raises(ValueError):
            streaming_attribution(ev, models=("nope",))
        with _pytest.raises(ValueError):
            streaming_attribution(ev, models=("linear", "linear"))


class TestStreamingFunnel:
    """streaming_funnel (r13, ledger row 22): O(steps) scalars of
    per-user state; the streamed max depth per user equals the batch
    funnel_user_depth exactly — plain AND anchored (within) variants —
    on in-order multi-micro-batch replay."""

    STEPS = ("view", "click", "purchase")

    def _parity(self, spark, sf_dir, tmp_path, within, tag):
        from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
            funnel_user_depth,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_funnel,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        batch = {
            r["user_id"]: r["funnel_depth"]
            for r in funnel_user_depth(
                ev, "ts", "user_id", "event_type", list(self.STEPS),
                within=within,
            ).collect()
        }
        within_us = None
        if within is not None:
            n, unit = within.split()
            within_us = int(n) * (
                86_400_000_000 if unit.startswith("day") else 3_600_000_000
            )
        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, f"funnel_g_{tag}"
        )
        out = streaming_funnel(
            stream, list(self.STEPS), within_us=within_us,
            key_cols=["user_id"],
        )
        assert out.isStreaming
        _run_stream_to_memory(out, f"funnel_s_{tag}", "append")
        rows = spark.sql(
            "SELECT user_id, max(funnel_depth) AS depth, "
            f"count(*) AS n FROM funnel_s_{tag} GROUP BY user_id"
        ).collect()
        got = {r["user_id"]: r["depth"] for r in rows}
        # every advance emitted exactly once: n rows == final depth
        assert all(r["n"] == r["depth"] for r in rows)
        expected = {u: d for u, d in batch.items() if d >= 1}
        assert got == expected and len(expected) > 0

    def test_matches_batch_exactly(self, spark, sf_dir, tmp_path):
        self._parity(spark, sf_dir, tmp_path, within=None, tag="p")

    def test_anchored_within_matches_batch(self, spark, sf_dir, tmp_path):
        self._parity(spark, sf_dir, tmp_path, within="1 days", tag="w")

    def test_validation(self, spark, sf_dir):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_funnel,
        )

        ev = load_table(spark, sf_dir, "events")
        with _pytest.raises(ValueError):
            streaming_funnel(ev, [])
        with _pytest.raises(ValueError):
            streaming_funnel(ev, ["a", "a"])


class TestStreamingJourneyPaths:
    """streaming_journey_paths (r13, ledger row 23): O(k) state per
    session; grouping the streamed per-run rows by path equals the
    batch journey_paths counts exactly on in-order multi-micro-batch
    replay — k=3 and k=4 on real events, plus a NULL-bearing synthetic
    replay pinning the lag-filter convention (a NULL occupies its
    position and poisons the runs it joins, emitting nothing)."""

    def _parity(self, spark, ev, tmp_path, k, tag):
        from amonaly_detection_in_time_series_data_spark.operators.product_analytics import (
            journey_paths,
        )
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_journey_paths,
        )

        batch = {
            r["path"]: r["cnt"]
            for r in journey_paths(
                ev, ["user_id"], ["ts", "event_id"], "event_type", k=k
            ).collect()
        }
        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, f"jp_g_{tag}"
        )
        out = streaming_journey_paths(
            stream, k=k, session_cols=["user_id"],
            order_cols=["ts", "event_id"],
        )
        assert out.isStreaming
        _run_stream_to_memory(out, f"jp_s_{tag}", "append")
        got = {
            r["path"]: r["cnt"]
            for r in spark.sql(
                f"SELECT path, count(*) AS cnt FROM jp_s_{tag} GROUP BY path"
            ).collect()
        }
        assert got == batch and len(batch) > 0

    def test_matches_batch_k3(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        self._parity(spark, ev, tmp_path, 3, "k3")

    def test_matches_batch_k4(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        self._parity(spark, ev, tmp_path, 4, "k4")

    def test_null_types_poison_runs(self, spark, tmp_path):
        import datetime as dt

        B = dt.datetime(2024, 1, 1)

        def ts(m):
            return B + dt.timedelta(minutes=m)

        rows = [
            (1, ts(1), 1, "a"), (1, ts(2), 2, "b"), (1, ts(3), 3, None),
            (1, ts(4), 4, "c"), (1, ts(5), 5, "d"), (1, ts(6), 6, "e"),
            (2, ts(7), 7, "a"), (2, ts(8), 8, "b"), (2, ts(9), 9, "c"),
        ]
        ev = spark.createDataFrame(
            rows,
            "user_id bigint, ts timestamp, event_id bigint, "
            "event_type string",
        )
        self._parity(spark, ev, tmp_path, 3, "nulls")

    def test_validation(self, spark, sf_dir):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_journey_paths,
        )

        ev = load_table(spark, sf_dir, "events")
        with _pytest.raises(ValueError):
            streaming_journey_paths(ev, k=1)


class TestStreamingSax:
    """streaming_sax (r14, ledger row 24): O(window) bounded per-key
    state; the streamed (series, win) -> (win_start, word) rows equal
    the batch sax_words output bit-for-bit on in-order multi-micro-
    batch replay — real events (incl. windows split across micro-batch
    boundaries), a NULL-bearing synthetic replay, and the downstream
    word-frequency (motif) aggregation equal to the batch word
    counts."""

    KW = dict(window_rows=16, word_len=4, alphabet_size=4)

    def _parity(self, spark, ev, tmp_path, tag, **kw):
        from amonaly_detection_in_time_series_data_spark.operators.sax import sax_words
        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_sax,
        )

        kw = {**self.KW, **kw}
        batch = {
            (r["user_id"], r["win"]): (r["win_start"], r["word"])
            for r in sax_words(
                ev, "ts", "value", ["user_id"],
                order_tiebreak=["event_id"], **kw,
            ).collect()
        }
        stream = TestStreamingForecast._replay_grid(
            spark, ev, tmp_path, f"sax_g_{tag}"
        )
        out = streaming_sax(
            stream, series_cols=["user_id"], value_col="value",
            ts_col="ts", order_tiebreak=["event_id"],
            **kw,
        )
        assert out.isStreaming
        _run_stream_to_memory(out, f"sax_s_{tag}", "append")
        got = {
            (r["user_id"], r["win"]): (r["win_start"], r["word"])
            for r in spark.sql(f"SELECT * FROM sax_s_{tag}").collect()
        }
        assert got == batch and len(batch) > 0
        return batch, f"sax_s_{tag}"

    def test_matches_batch_on_events(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "value"
        )
        batch, view = self._parity(spark, ev, tmp_path, "ev")
        # the composition SAX exists for: live motif counting — the
        # downstream open aggregation over streamed words equals the
        # batch word frequencies (heavy-hitter input parity)
        batch_counts: dict[str, int] = {}
        for _, (_, w) in batch.items():
            batch_counts[w] = batch_counts.get(w, 0) + 1
        got_counts = {
            r["word"]: r["cnt"]
            for r in spark.sql(
                f"SELECT word, count(*) AS cnt FROM {view} GROUP BY word"
            ).collect()
        }
        assert got_counts == batch_counts

    def test_null_poisons_its_window(self, spark, tmp_path):
        # batch sax_words assigns row_number BEFORE the null filter, so
        # a NULL occupies its position: its window emits nothing, and
        # window INDICES keep counting through the poisoned window —
        # the twin must replay both (win 0 and win 2 emit, win 1 not)
        import datetime as dt

        B = dt.datetime(2024, 1, 1)
        vals = (
            [0, 0, 10, 10, 20, 20, 30, 30]      # win 0: emits
            + [5, 5, 5, None, 5, 5, 5, 5]        # win 1: poisoned
            + [7.0] * 8                           # win 2: emits (flat)
            + [1, 2, 3]                           # partial: dropped
        )
        rows = [
            (1, B + dt.timedelta(minutes=j), j,
             None if v is None else float(v))
            for j, v in enumerate(vals)
        ]
        ev = spark.createDataFrame(
            rows,
            "user_id bigint, ts timestamp, event_id bigint, value double",
        )
        batch, _ = self._parity(spark, ev, tmp_path, "nulls", window_rows=8)
        assert sorted(w for (_, w) in batch) == [0, 2]

    def test_validation(self, spark, sf_dir):
        import pytest as _pytest

        from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
            streaming_sax,
        )

        ev = load_table(spark, sf_dir, "events")
        with _pytest.raises(ValueError, match="alphabet_size"):
            streaming_sax(ev, alphabet_size=17)
        with _pytest.raises(ValueError, match="divisible"):
            streaming_sax(ev, window_rows=10, word_len=4)


class TestStreamingKeyedRunner:
    """The shared keyed-state runner (``streaming.rolling._keyed_fold``)
    end to end: a key's rows are folded in event order even when one
    micro-batch hands them to Python in several Arrow chunks, a NULL
    value does not switch the z-score twin off for a window, many keys
    sharing a bucket each fold on their own, NULL keys do not cost the
    other keys their integer type, a checkpoint resumed with the same
    bucket count keeps every key's window, and one resumed with another
    bucket count is refused."""

    SCHEMA = "user_id bigint, event_id bigint, ts timestamp, value double"

    def _stream_vs_batch(self, spark, rows, tmp_path, name):
        path = str(tmp_path / name)
        # one file, rows in the given (possibly shuffled) order
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.parquet(path)
        stream = spark.readStream.schema(self.SCHEMA).parquet(path)
        flags = streaming_zscore_flags(
            stream, window_rows=24, threshold=3.0
        )
        _run_stream_to_memory(flags, name, "append")
        streamed = {
            r["event_id"]: (r["zscore"], r["is_anomaly"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        batch = {
            r["event_id"]: (r["value_zscore"], r["is_anomaly"])
            for r in rolling_zscore(
                spark.createDataFrame(rows, self.SCHEMA), "value", 24,
                ["user_id"], ["ts", "event_id"], 3.0,
            ).collect()
        }
        assert streamed.keys() == batch.keys()
        for eid, (z, flag) in batch.items():
            sz, sflag = streamed[eid]
            if z is None:
                assert sz is None, eid
            else:
                assert sz == pytest.approx(z, rel=1e-9), eid
            assert sflag == flag, eid
        return streamed

    def test_key_split_across_arrow_chunks_folds_in_order(self, spark, tmp_path):
        import datetime as dt
        import random

        rng = random.Random(11)
        B = dt.datetime(2024, 1, 1)
        rows = [
            (1, j, B + dt.timedelta(hours=j), rng.randint(0, 2000) / 100)
            for j in range(60)
        ]
        rng.shuffle(rows)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "7")  # the key's 60 rows arrive in 9 chunks
        try:
            self._stream_vs_batch(spark, rows, tmp_path, "z_arrow_chunks")
        finally:
            spark.conf.set(key, old)

    def test_null_then_spike_matches_batch(self, spark, tmp_path):
        import datetime as dt
        import random

        rng = random.Random(5)
        B = dt.datetime(2024, 1, 1)
        vals = [10.0 + rng.randint(-100, 100) / 100 for _ in range(40)]
        vals[10], vals[30] = None, 60.0
        rows = [
            (1, j, B + dt.timedelta(hours=j), v) for j, v in enumerate(vals)
        ]
        streamed = self._stream_vs_batch(spark, rows, tmp_path, "z_null_spike")
        assert streamed[30][1] == 1
        assert all(streamed[j][0] is not None for j in range(11, 35))

    def _with_partitions(self, spark, n, fn):
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            return fn()
        finally:
            spark.conf.set(key, old)

    def test_many_keys_sharing_buckets_match_batch(self, spark, tmp_path):
        """60 keys, rows interleaved and shuffled, in 2 key buckets: each
        bucket's book holds ~30 keys folded in one call, and every key
        still equals the batch rolling_zscore."""
        import datetime as dt
        import random

        rng = random.Random(23)
        B = dt.datetime(2024, 1, 1)
        rows = [
            (u, u * 1000 + j, B + dt.timedelta(hours=j),
             10.0 + rng.randint(-300, 300) / 100 if j != 40 else 90.0)
            for u in range(60)
            for j in range(48)
        ]
        rng.shuffle(rows)
        streamed = self._with_partitions(
            spark, 2,
            lambda: self._stream_vs_batch(spark, rows, tmp_path, "z_buckets"),
        )
        assert len(streamed) == 60 * 48
        assert sum(flag for _, flag in streamed.values()) >= 60

    def test_big_keys_stay_exact_beside_null_keys(self, spark, tmp_path):
        """bigint keys >= 2**60 come out exactly while the same
        micro-batch holds NULL-key rows: those go to a bucket of their
        own, so no key column of the other buckets reaches pandas as
        float64."""
        import datetime as dt

        B = dt.datetime(2024, 1, 1)
        users = [2**60 + k for k in (1, 3, 5)] + [None]
        rows = [
            (u, i * 100 + j, B + dt.timedelta(hours=j), float(j % 7))
            for i, u in enumerate(users)
            for j in range(30)
        ]
        self._stream_vs_batch(spark, rows, tmp_path, "z_big_keys")
        got = {
            r["event_id"]: r["user_id"]
            for r in spark.sql("SELECT event_id, user_id FROM z_big_keys").collect()
        }
        assert got == {eid: u for u, eid, _, _ in rows}

    def _land(self, spark, src, hours, value):
        import datetime as dt

        B = dt.datetime(2024, 1, 1)
        rows = [
            (u, u * 1000 + j, B + dt.timedelta(hours=j), value(u, j))
            for u in range(20)
            for j in hours
        ]
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return rows

    def _drain_alerts(self, spark, src, tmp_path):
        from amonaly_detection_in_time_series_data_spark.streaming.sinks import (
            write_anomaly_alerts,
        )

        stream = spark.readStream.schema(self.SCHEMA).parquet(src)
        q = write_anomaly_alerts(
            streaming_zscore_flags(stream, threshold=1.0),
            str(tmp_path / "alerts"), str(tmp_path / "ckpt"),
        )
        try:
            assert q.awaitTermination(240), "the alert query did not drain"
        finally:
            q.stop()

    def test_resume_from_own_checkpoint_keeps_windows(self, spark, tmp_path):
        """Hours 0-9 drained, hours 10-19 landed and drained again from
        the same checkpoint with the same partition count: the second
        run loads every bucket's book back (its state delta and checksum
        companion, written through the session's checkpoint manager),
        so the alerts of both runs equal the batch rolling_zscore flags
        over all 20 hours, each exactly once."""
        import random

        rng = random.Random(31)
        src = str(tmp_path / "in")
        vals = {(u, j): rng.randint(0, 1000) / 100 for u in range(20) for j in range(20)}
        value = lambda u, j: vals[u, j]  # noqa: E731

        drain = partial(self._drain_alerts, spark, src, tmp_path)
        rows = self._land(spark, src, range(0, 10), value)
        self._with_partitions(spark, 2, drain)
        rows += self._land(spark, src, range(10, 20), value)
        self._with_partitions(spark, 2, drain)

        def flagged(rs):
            return {
                r["event_id"]
                for r in rolling_zscore(
                    spark.createDataFrame(rs, self.SCHEMA), "value", 24,
                    ["user_id"], ["ts", "event_id"], 1.0,
                ).filter("is_anomaly = 1").collect()
            }

        want = flagged(rows)
        # a twin that lost its books would score hours 10-19 from empty
        # windows, which flags another set
        late = [r for r in rows if r[2].hour >= 10]
        assert flagged(late) != {e for e in want if e % 1000 >= 10}
        got = [
            r["event_id"]
            for r in spark.read.parquet(str(tmp_path / "alerts")).collect()
        ]
        assert len(got) == len(set(got))
        assert set(got) == want

    def test_resume_with_other_partition_count_is_refused(self, spark, tmp_path):
        """A checkpoint written with 2 key buckets, resumed with 3: the
        keys would hash to other buckets and restart silently, so the
        state function refuses the book instead of emitting wrong rows."""
        from pyspark.errors import StreamingQueryException

        src = str(tmp_path / "in")
        drain = partial(self._drain_alerts, spark, src, tmp_path)
        value = lambda u, j: float(j % 5)  # noqa: E731

        self._land(spark, src, range(0, 10), value)
        self._with_partitions(spark, 2, drain)
        self._land(spark, src, range(10, 20), value)
        with pytest.raises(
            StreamingQueryException, match="holds 2 key buckets but this query runs 3"
        ):
            self._with_partitions(spark, 3, drain)
