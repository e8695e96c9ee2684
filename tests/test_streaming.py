"""Structured Streaming tests: file source → watermarked operators →
AvailableNow sinks. Exercises the true streaming path the batch
``stream_*`` queries mirror."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from insurance_helper_spark.streaming import ops

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def write_events_file(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def event_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    write_events_file(
        d / "batch1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "view", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "view", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01T07:00:00", "user_id": 1, "event_type": "click", "value": 3.0},
            {"event_id": 3, "ts": "2024-01-01T07:00:00", "user_id": 1, "event_type": "click", "value": 3.0},
            {"event_id": 4, "ts": "2024-01-01T09:30:00", "user_id": 2, "event_type": "view", "value": 4.0},
        ],
    )
    return d


def test_stream_static_enrichment_broadcast(spark, event_dir):
    dim = spark.createDataFrame(
        [(1, "gold"), (3, "silver")], "user_id long, tier string"
    )
    stream = ops.read_event_stream(spark, str(event_dir), EVENT_SCHEMA)
    enriched = ops.enrich_with_dim(stream, dim, "user_id")
    ops.run_to_memory(enriched, "enrich_t", output_mode="append")
    rows = spark.sql("SELECT * FROM enrich_t").collect()
    tiers = {r["event_id"]: r["tier"] for r in rows}
    assert tiers[1] == "gold"
    # missing dim row must NOT drop the fact (left join)
    assert tiers[4] is None
    assert len(rows) == 5


def test_stream_stream_interval_join(spark, tmp_path):
    # clicks within 30 minutes AFTER an impression, per user
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    write_events_file(
        imp_dir / "i.json",
        [
            {"event_id": 10, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "imp", "value": 0.0},
            {"event_id": 11, "ts": "2024-01-01T11:00:00", "user_id": 2, "event_type": "imp", "value": 0.0},
        ],
    )
    write_events_file(
        clk_dir / "c.json",
        [
            # in-window click for user 1 (+10 min)
            {"event_id": 20, "ts": "2024-01-01T10:10:00", "user_id": 1, "event_type": "clk", "value": 1.0},
            # out-of-window click for user 2 (+45 min)
            {"event_id": 21, "ts": "2024-01-01T11:45:00", "user_id": 2, "event_type": "clk", "value": 1.0},
            # wrong-user click inside user 1's window
            {"event_id": 22, "ts": "2024-01-01T10:05:00", "user_id": 3, "event_type": "clk", "value": 1.0},
        ],
    )
    imp = ops.read_event_stream(spark, str(imp_dir), EVENT_SCHEMA).select(
        "user_id", "ts", F.col("event_id").alias("imp_id")
    )
    clk = ops.read_event_stream(spark, str(clk_dir), EVENT_SCHEMA).select(
        "user_id", "ts", F.col("event_id").alias("clk_id")
    )
    joined = ops.interval_join(
        imp, clk, key="user_id", watermark="2 hours", max_delay="30 minutes"
    ).select(F.col("l.imp_id"), F.col("r.clk_id"))
    ops.run_to_memory(joined, "ssj_t", output_mode="append")
    pairs = {(r["imp_id"], r["clk_id"]) for r in spark.sql("SELECT * FROM ssj_t").collect()}
    assert pairs == {(10, 20)}


class TestCorpusIngestStream:
    """End-to-end streaming corpus ingest: quality gates + in-batch +
    cross-batch dedup + append, idempotent under reruns."""

    GOOD = "the quick brown fox jumps over the lazy dog again and again today"
    SPAMMY = "spam ham spam ham spam ham spam ham spam ham spam ham spam ham"
    SHORT = "too short"

    def _write_batch(self, spark, path, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("append").parquet(path)

    def _run(self, spark, tmp_path):
        from insurance_helper_spark.streaming import ops

        ops.corpus_ingest_stream(
            spark,
            input_dir=str(tmp_path / "in"),
            corpus_dir=str(tmp_path / "corpus"),
            fingerprints_dir=str(tmp_path / "fp"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        import pyspark.sql.utils  # noqa: F401

        try:
            return {
                r["doc_id"]
                for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
            }
        except Exception:
            return set()

    def test_gates_dedup_and_incremental(self, spark, tmp_path):
        self._write_batch(
            spark,
            str(tmp_path / "in"),
            [
                (1, self.GOOD, "en", "s1", len(self.GOOD)),
                (2, self.GOOD, "en", "s1", len(self.GOOD)),  # in-batch dup
                (3, self.SHORT, "en", "s1", len(self.SHORT)),  # gated: length
                (4, self.SPAMMY, "en", "s1", len(self.SPAMMY)),  # gated: repetition
            ],
        )
        assert self._run(spark, tmp_path) == {1}

        # batch 2: cross-batch dup of doc 1 + genuinely new doc
        fresh = "completely different sentence with plenty of distinct useful words here"
        self._write_batch(
            spark,
            str(tmp_path / "in"),
            [
                (5, self.GOOD, "en", "s2", len(self.GOOD)),  # dup vs history
                (6, fresh, "en", "s2", len(fresh)),
            ],
        )
        assert self._run(spark, tmp_path) == {1, 6}
        # idle rerun: nothing new, corpus unchanged
        assert self._run(spark, tmp_path) == {1, 6}
        # fingerprint table tracks exactly the accepted docs
        fps = spark.read.parquet(str(tmp_path / "fp")).distinct().count()
        assert fps == 2

    def test_replay_after_lost_checkpoint_no_duplicates(self, spark, tmp_path):
        """Crash-replay: losing the commit log replays every batch; the
        dynamic partition overwrite on ingest_batch must keep both the
        corpus and the fingerprint table exact (no duplicate docs)."""
        import shutil

        self._write_batch(
            spark,
            str(tmp_path / "in"),
            [(1, self.GOOD, "en", "s1", len(self.GOOD))],
        )
        assert self._run(spark, tmp_path) == {1}
        shutil.rmtree(tmp_path / "ckpt")
        assert self._run(spark, tmp_path) == {1}
        corpus = spark.read.parquet(str(tmp_path / "corpus"))
        assert corpus.count() == 1  # one ROW, not just one distinct id
        assert spark.read.parquet(str(tmp_path / "fp")).count() == 1

    def test_ingest_batch_readback_type_pinned_long(self, spark, tmp_path):
        """ingest_batch is a directory partition key, so bare reads
        re-infer its type (INT) instead of the LONG the pipeline
        stamps; the read helpers must pin LONG so unions across
        layouts/engines never hit the long-vs-int parquet mismatch."""
        from pyspark.sql.types import LongType

        from insurance_helper_spark.streaming import ops

        self._write_batch(
            spark,
            str(tmp_path / "in"),
            [(1, self.GOOD, "en", "s1", len(self.GOOD))],
        )
        assert self._run(spark, tmp_path) == {1}
        corpus = ops.read_ingested_corpus(spark, str(tmp_path / "corpus"))
        fps = ops.read_ingested_fingerprints(spark, str(tmp_path / "fp"))
        assert corpus.schema["ingest_batch"].dataType == LongType()
        assert fps.schema["ingest_batch"].dataType == LongType()
        # The hazard is real: inference hands back a non-long type.
        inferred = spark.read.parquet(str(tmp_path / "corpus"))
        assert inferred.schema["ingest_batch"].dataType != LongType()
        # A union with a LONG-stamped delta (the mixed-layout case)
        # must work through the pinned readers.
        delta = spark.createDataFrame(
            [(99, self.GOOD, "en", "s9", len(self.GOOD), 7)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, ingest_batch long",
        )
        assert corpus.unionByName(delta).count() == 2


class TestLeftOuterIntervalJoin:
    def test_unmatched_impression_emits_null_after_watermark(self, spark, tmp_path):
        import os
        import time as _time

        imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
        imp_dir.mkdir(), clk_dir.mkdir()
        write_events_file(
            imp_dir / "i1.json",
            [
                {"event_id": 10, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "imp", "value": 0.0},
                {"event_id": 11, "ts": "2024-01-01T10:00:00", "user_id": 2, "event_type": "imp", "value": 0.0},
            ],
        )
        write_events_file(
            clk_dir / "c1.json",
            [
                {"event_id": 20, "ts": "2024-01-01T10:10:00", "user_id": 1, "event_type": "clk", "value": 1.0},
            ],
        )
        # far-future events on BOTH sides push both watermarks well past
        # impression 11's interval, finalizing its no-match verdict
        now = _time.time()
        write_events_file(
            imp_dir / "i2.json",
            [{"event_id": 12, "ts": "2024-01-02T10:00:00", "user_id": 9, "event_type": "imp", "value": 0.0}],
        )
        write_events_file(
            clk_dir / "c2.json",
            [{"event_id": 29, "ts": "2024-01-02T10:00:00", "user_id": 9, "event_type": "clk", "value": 1.0}],
        )
        for i, f in enumerate([imp_dir / "i1.json", clk_dir / "c1.json",
                               imp_dir / "i2.json", clk_dir / "c2.json"]):
            os.utime(f, (now + i * 10, now + i * 10))

        imp = ops.read_event_stream(spark, str(imp_dir), EVENT_SCHEMA, max_files_per_trigger=1).select(
            "user_id", "ts", F.col("event_id").alias("imp_id")
        )
        clk = ops.read_event_stream(spark, str(clk_dir), EVENT_SCHEMA, max_files_per_trigger=1).select(
            "user_id", "ts", F.col("event_id").alias("clk_id")
        )
        joined = ops.interval_join(
            imp, clk, key="user_id", watermark="1 hour",
            max_delay="30 minutes", how="leftOuter",
        ).select(F.col("l.imp_id"), F.col("r.clk_id"))
        ops.run_to_memory(joined, "loj_t", output_mode="append")
        pairs = {(r["imp_id"], r["clk_id"]) for r in spark.sql("SELECT * FROM loj_t").collect()}
        # matched impression pairs with its click; unmatched impression 11
        # emits exactly once with a NULL click after watermark passage
        assert (10, 20) in pairs
        assert (11, None) in pairs


class TestDriftGate:
    """drift_gate_stream: PSI drift scoring against the maintained
    vocabulary, replay-safe per the content-key contract."""

    @staticmethod
    def _write_batches(tmp_path):
        import pandas as pd

        in_dir = tmp_path / "drift_in"
        in_dir.mkdir()
        base = "alpha beta gamma delta epsilon zeta " * 5
        shifted = "omega psi chi phi upsilon tau " * 5
        for name, text in (("b1", base), ("b2", base), ("b3", shifted)):
            pd.DataFrame({
                "doc_id": [1], "text": [text], "lang": ["en"],
                "source": ["s"], "n_chars": [len(text)],
            }).to_parquet(in_dir / f"{name}.parquet")
        return str(in_dir)

    def test_psi_scores_and_alarm(self, spark, tmp_path):
        in_dir = self._write_batches(tmp_path)
        counts, reports = str(tmp_path / "c"), str(tmp_path / "r")
        ops.drift_gate_stream(spark, in_dir, counts, reports, str(tmp_path / "k"))
        rows = sorted(
            ops.drift_reports(spark, reports).collect(), key=lambda r: r.batch_id
        )
        assert len(rows) == 3
        # batch 1: no history yet
        assert rows[0].psi is None and rows[0].note == "baseline_empty"
        assert rows[0].alarm is False and rows[0].batch_tokens == 30
        # batch 2: same distribution as history -> tiny PSI, no alarm
        assert rows[1].note == "ok" and rows[1].psi is not None
        assert rows[1].psi < 0.2 and rows[1].alarm is False
        # batch 3: disjoint vocabulary -> all mass in __other__ -> alarm
        assert rows[2].psi >= 0.2 and rows[2].alarm is True
        # the gate maintains the SAME mergeable partials contract
        counts_back = {
            r.term: r.cnt
            for r in ops.trending_vocabulary(spark, counts).collect()
        }
        assert counts_back["alpha"] == 10 and counts_back["omega"] == 5

    def test_rerun_is_idempotent(self, spark, tmp_path):
        in_dir = self._write_batches(tmp_path)
        counts, reports = str(tmp_path / "c"), str(tmp_path / "r")
        args = (spark, in_dir, counts, reports, str(tmp_path / "k"))
        ops.drift_gate_stream(*args)
        first = sorted(map(tuple, ops.drift_reports(spark, reports).collect()))
        ops.drift_gate_stream(*args)  # checkpoint: second drain is a no-op
        second = sorted(map(tuple, ops.drift_reports(spark, reports).collect()))
        assert first == second

    def test_replay_after_lost_checkpoint_is_idempotent(self, spark, tmp_path):
        import shutil

        in_dir = self._write_batches(tmp_path)
        counts, reports = str(tmp_path / "c"), str(tmp_path / "r")
        ops.drift_gate_stream(spark, in_dir, counts, reports, str(tmp_path / "k"))
        first = sorted(map(tuple, ops.drift_reports(spark, reports).collect()))
        vocab_first = sorted(
            map(tuple, ops.trending_vocabulary(spark, counts).collect())
        )
        # lose the checkpoint: full replay in a NEW lineage
        shutil.rmtree(tmp_path / "k")
        ops.drift_gate_stream(spark, in_dir, counts, reports, str(tmp_path / "k2"))
        second = sorted(map(tuple, ops.drift_reports(spark, reports).collect()))
        vocab_second = sorted(
            map(tuple, ops.trending_vocabulary(spark, counts).collect())
        )
        # no double-merge: the maintained vocabulary is exact
        assert vocab_first == vocab_second
        # reports rewrite, never append: still one row per content key
        keys_of = lambda rows: sorted(t[-1] for t in rows)
        assert len(second) == len(first) == 3
        assert keys_of(first) == keys_of(second)
        # the LAST batch's baseline (everything except its own
        # partitions) is unchanged by replay -> bit-identical report;
        # earlier batches are rescored against as-of-now history (the
        # documented content-key caveat), but the alarm on the shifted
        # batch must survive replay.
        last_first = max(first, key=lambda t: t[0])
        last_second = max(second, key=lambda t: t[0])
        assert last_first == last_second
        assert last_second[2] is True  # alarm column
