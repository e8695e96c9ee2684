"""Structured Streaming operators (SURVEY §2B streaming group).

- stream–static enrichment (``enrich_with_dim``) and the watermarked
  stream–stream interval join (``interval_join``) that the batch
  ``stream_*`` queries mirror
- streaming corpus ingest (``corpus_ingest_stream``): quality gates and
  in-/cross-batch dedup under Trigger.AvailableNow over a file source —
  the reference's monthly delta cron becomes "process whatever arrived
  since the last checkpoint, then stop"
  (ref: scripts/delta_download.py:167-211, scrape.yml:4-6)
- the PSI drift gate (``drift_gate_stream``) over per-file term partials

``read_event_stream`` and ``run_to_memory`` are the file-source and
memory-sink helpers the streaming tests drive these operators with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_event_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream (json lines); the test harness drops
    files into ``path`` to simulate arrival."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drain an AvailableNow stream into a memory sink (tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream–static enrichment join: each microbatch joins against the
    (re-evaluated) static relation, broadcast when small — the
    streaming analog of the scrape pipeline's product↔result join.
    Left join keeps events whose dimension row is missing (late dim
    loads must not drop facts)."""
    return stream.join(F.broadcast(dim), on, "left")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream–stream interval join: right events within
    (left_ts, left_ts + max_delay] per key — the impression→click /
    request→response correlation shape. Both sides carry watermarks so
    the join state is bounded: each side's buffer evicts once the other
    side's watermark passes the interval bound.

    ``how='leftOuter'`` is the attribution variant: an unmatched left
    row (impression with no click) is EMITTED WITH NULL right columns —
    but only once the watermark proves no match can still arrive, so
    outer results trail the inner ones by up to the watermark delay.
    The time-bound condition is mandatory for outer stream-stream joins
    (it is what lets Spark finalize "no match ever").
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l.join(r, cond, how)


def corpus_ingest_stream(
    spark,
    input_dir: str,
    corpus_dir: str,
    fingerprints_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    min_tokens: int = 5,
    max_dup_2gram: float = 0.6,
) -> None:
    """Streaming corpus ingest — the daily-crawl-to-training-corpus
    shape end to end: micro-batches of raw documents flow through
    quality + repetition gates, dedup exactly against EVERY previously
    accepted document (cross-batch, via the persisted fingerprint
    table), and append to the gold corpus. Trigger.AvailableNow, so a
    cron invocation drains whatever landed since the last checkpoint
    and stops — the reference's monthly delta job (delta_download.py,
    scrape.yml cron) generalized to corpus construction.

    foreachBatch is the right tool (not a stateful operator): the dedup
    state is the ACCEPTED-DOCUMENT set, which must live in a queryable
    table shared with batch jobs, not in stream-internal state-store
    shards. Within each micro-batch:

    1. gate: token-count + duplicate-2-gram repetition thresholds
       (shuffle-free column arithmetic);
    2. in-batch dedup: window argmin per fingerprint;
    3. cross-batch dedup: left_anti against the fingerprint table (at
       100 TB: 32-byte keys, broadcastable daily deltas, never rescans
       corpus text);
    4. append survivors to the corpus, their fingerprints to the key
       table. Both writes are dynamic partition overwrites on
       ingest_batch, so a replayed batch (crash before the checkpoint
       commit — including BETWEEN the two writes) rewrites its own
       partition with identical rows instead of appending duplicates;
       when the fingerprints did land, the anti-join empties the
       replay and both partitions keep their (already correct) data.

    ``ingest_batch`` is written as a DIRECTORY partition key, so bare
    ``spark.read.parquet`` re-infers it — as INT, not the LONG this
    pipeline stamps (the long-vs-int parquet-union hazard). Read both
    tables back through ``read_ingested_corpus`` /
    ``read_ingested_fingerprints``, which pin the column to LONG with
    an explicit schema; the in-stream history read does the same.
    """
    from pyspark.sql import functions as F

    from insurance_helper_spark.functions import text as T
    from insurance_helper_spark.operators import corpus as C
    from insurance_helper_spark.operators import dedup as D

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        # Two scale fixes from the r14 sf1 probe (9.45× wall at 10×
        # rows): (1) the gate is built with repetition_gate_col, whose
        # bind_once let-bindings stop predicate pushdown from
        # re-inlining the tokenizer per 2-gram element (the dominant
        # cost — 13 regexp copies in the old optimized plan); (2) the
        # micro-batch inherits FILE-SPLIT parallelism (maxFilesPerTrigger
        # → a handful of tasks), but the work is per-DOCUMENT column
        # arithmetic, so size tasks by compute fan-out: one round-robin
        # repartition restores full-width tasks. Values are unchanged
        # and the replay contract only depends on row SETS.
        batch_df = batch_df.repartition(
            spark_b.sparkContext.defaultParallelism
        )
        gated = batch_df.filter(
            C.repetition_gate_col(F.col("text"), min_tokens, max_dup_2gram)
        )
        fresh = gated.withColumn("fingerprint", T.fingerprint(F.col("text")))
        # in-batch keep-first, then anti-join history
        fresh = D.dedup_exact(fresh, ["fingerprint"], [F.col("doc_id")])
        from pyspark.errors import AnalysisException

        try:
            seen = read_ingested_fingerprints(spark_b, fingerprints_dir).select(
                "fingerprint"
            )
            # History GROWS without bound — never broadcast it. left_anti
            # shuffles both sides on the 32-byte key; the delta side is
            # small, history is append-only sorted-ish parquet, and AQE
            # may still choose a broadcast while history genuinely fits.
            fresh = fresh.join(seen, "fingerprint", "left_anti")
        except AnalysisException:
            pass  # first batch: no fingerprint table yet (only this
            # analysis error is absorbed — corruption must fail loudly)
        fresh = fresh.withColumn("ingest_batch", F.lit(batch_id).cast("long"))
        fresh = fresh.localCheckpoint(eager=True)  # cut the double-write lineage
        (
            fresh.drop("fingerprint")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(corpus_dir)
        )
        (
            fresh.select("fingerprint", "ingest_batch")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(fingerprints_dir)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_ingested_corpus(
    spark,
    corpus_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
) -> DataFrame:
    """Corpus read-back with ``ingest_batch`` PINNED to LONG.

    The ingest stream writes ``ingest_batch`` as a directory partition
    key; partition-column type inference would hand it back as INT,
    which breaks any union with the LONG the pipeline stamps
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH). An explicit read schema overrides the
    inference, so every layout ever written reads back identically."""
    return spark.read.schema(schema + ", ingest_batch long").parquet(corpus_dir)


def read_ingested_fingerprints(spark, fingerprints_dir: str) -> DataFrame:
    """Fingerprint-table read-back with ``ingest_batch`` pinned to LONG
    (see read_ingested_corpus)."""
    return spark.read.schema("fingerprint string, ingest_batch long").parquet(
        fingerprints_dir
    )


_FOLDED_DIR = "_compaction"  # leading underscore: invisible to parquet reads
_COMPACTED_KEY = "c0"  # legacy (pre-generational) compacted key
_COMPACTED_RE = r"^c[0-9]+$"


def _read_manifest(spark, counts_dir: str):
    """Read the compaction manifest: returns ``(folded, current)`` where
    ``folded`` is the set of src_keys whose counts were absorbed into
    some compacted generation, and ``current`` is the live compacted
    key (highest manifested generation) or None if never compacted.
    Legacy manifests (no ``new_key`` column) map to generation c0.
    Stored under a leading-underscore dir so the main partition read
    never sees it."""
    import os

    from pyspark.errors import AnalysisException

    path = os.path.join(counts_dir, _FOLDED_DIR)
    try:
        pdf = spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException:
        return set(), None
    if "new_key" in pdf.columns:
        rows = [
            (r["src_key"], r["new_key"] or _COMPACTED_KEY)
            for r in pdf.select("src_key", "new_key").collect()
        ]
    else:
        rows = [(r[0], _COMPACTED_KEY) for r in pdf.select("src_key").collect()]
    folded = {k for k, _ in rows}
    gens = {nk for _, nk in rows}
    current = max(gens, key=lambda k: int(k[1:])) if gens else None
    return folded, current


def _live_filter(df, folded, current):
    """Keep exactly the partitions whose counts should be counted:
    drop manifest-folded keys (their counts live inside ``current``)
    and drop any compacted-pattern key that is NOT the manifested
    current generation (an unmanifested c* partition can only be the
    staging output of a compaction that crashed before its manifest
    commit — counting it would double)."""
    from pyspark.sql import functions as F

    cond = ~F.col("src_key").rlike(_COMPACTED_RE) | (
        F.col("src_key") == F.lit(current if current is not None else "")
    )
    if folded:
        cond = cond & ~F.col("src_key").isin(sorted(folded))
    return df.filter(cond)


def trending_vocabulary(spark, counts_dir: str) -> DataFrame:
    """Cumulative term counts from the per-file partials that
    drift_gate_stream maintains: sum over ``src_key`` partitions —
    the read half of the mergeable-partials contract. One shuffle on
    the term key. Partials listed in the compaction manifest are
    EXCLUDED (their counts live inside the current compacted
    generation; a live partition with a folded key can only be a
    post-compaction replay of an already-folded input file), and so is
    any compacted partition the manifest does not declare current (a
    crashed compaction's staging output)."""
    from pyspark.sql import functions as F

    folded, current = _read_manifest(spark, counts_dir)
    df = _live_filter(spark.read.parquet(counts_dir), folded, current)
    return df.groupBy("term").agg(F.sum("cnt").alias("cnt"))


def drift_gate_stream(
    spark,
    input_dir: str,
    counts_dir: str,
    reports_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    top_v: int = 50,
    threshold: float = 0.2,
) -> None:
    """Streaming distribution-drift gate: each micro-batch's term
    distribution is PSI-scored against the MAINTAINED historical
    vocabulary (mergeable per-file term partials, read back through
    trending_vocabulary), and a one-row drift report is written
    per batch — the gate a training-data ingest pipeline puts in front
    of "did today's crawl change character?".

    PSI: the bucket space is the top ``top_v`` historical terms plus
    ``__other__`` (fixed B = top_v + 1 buckets); both sides are
    Laplace-smoothed — p_i = (c_i + 1) / (n + B) for the batch,
    q_i = (h_i + 1) / (m + B) for the history — and
    PSI = sum (p_i - q_i) * ln(p_i / q_i). Per-bucket contributions are
    quantized round(1e9 ·) to BIGINT before the fold, so the report is
    bit-stable under replay regardless of partial-aggregation order.
    ``alarm`` fires at psi >= threshold (0.2 = the conventional
    "significant shift" line). The first batch (empty history) reports
    psi NULL / alarm false / note 'baseline_empty'.

    Replay safety follows the content-key contract: term partials are
    partitioned by a hash of the input FILE name, reports by a hash of
    the batch's file list, and every write is a dynamic partition
    overwrite of exactly its own content partitions — replaying a batch
    in ANY checkpoint lineage rewrites identical data instead of
    double-merging. A replayed batch's baseline is "all partials except
    its own partitions": for the latest batch that is exactly the
    history the original run saw (bit-identical report); an EARLIER
    batch replayed after later files were ingested is rescored against
    as-of-now history; the counts table stays exact either way.
    Compaction-manifest handling matches trending_vocabulary.

    Scale: the vocabulary is |terms|-sized (normal shuffle join against
    the batch delta); the bucket spine is top_v + 1 rows (broadcast);
    only the one-row report and the top_v term list ever reach the
    driver.
    """
    import hashlib

    from pyspark.sql import functions as F

    from insurance_helper_spark.functions import text as T

    n_buckets = top_v + 1  # fixed smoothing denominator

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        staged = batch_df.withColumn("_src", F.input_file_name())
        files = sorted(r[0] for r in staged.select("_src").distinct().collect())
        if not files:
            return
        snap_key = "s" + hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]
        src_key = F.concat(F.lit("f"), F.substring(F.sha2(F.col("_src"), 256), 1, 16))
        batch_keys = ["f" + hashlib.sha256(f.encode()).hexdigest()[:16] for f in files]
        partials = (
            staged.select("_src", F.explode(T.tokens(F.col("text"))).alias("term"))
            .groupBy(src_key.alias("src_key"), "term")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)  # feeds the score AND the counts write
        )
        batch_counts = partials.groupBy("term").agg(
            F.sum("cnt").cast("long").alias("bc")
        )

        from pyspark.errors import AnalysisException

        try:
            hist_partials = spark_b.read.parquet(counts_dir)
        except AnalysisException:
            hist_partials = None  # first batch only; corrupt tables must fail

        if hist_partials is not None:
            folded, current = _read_manifest(spark_b, counts_dir)
            dead = sorted(k for k in folded if k not in batch_keys)
            hist = (
                _live_filter(hist_partials, set(dead), current)
                .filter(~F.col("src_key").isin(batch_keys))
                .groupBy("term")
                .agg(F.sum("cnt").cast("long").alias("hc"))
                .localCheckpoint(eager=True)  # top-v + totals + join
            )
            hist_total = hist.agg(F.coalesce(F.sum("hc"), F.lit(0))).first()[0]
        else:
            hist, hist_total = None, 0

        n_total = batch_counts.agg(F.coalesce(F.sum("bc"), F.lit(0))).first()[0]
        if hist is None or hist_total == 0:
            report = [
                (snap_key, int(batch_id), None, False, int(n_total), "baseline_empty")
            ]
        else:
            top_terms = [
                r["term"]
                for r in hist.orderBy(F.desc("hc"), "term").limit(top_v).collect()
            ]
            spine = spark_b.createDataFrame(
                [(t,) for t in top_terms] + [("__other__",)], "b string"
            )
            to_bucket = lambda col: (
                F.when(col.isin(top_terms), col).otherwise("__other__")
                if top_terms
                else F.lit("__other__")
            )
            bp = batch_counts.groupBy(to_bucket(F.col("term")).alias("b")).agg(
                F.sum("bc").cast("long").alias("c")
            )
            bq = hist.groupBy(to_bucket(F.col("term")).alias("b")).agg(
                F.sum("hc").cast("long").alias("h")
            )
            joined = (
                F.broadcast(spine)
                .join(bp, "b", "left")
                .join(bq, "b", "left")
                .select(
                    "b",
                    F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
                    F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h"),
                )
            )
            p = (F.col("c") + 1).cast("double") / F.lit(float(n_total + n_buckets))
            q = (F.col("h") + 1).cast("double") / F.lit(float(hist_total + n_buckets))
            contrib_q = F.round(F.lit(1e9) * (p - q) * F.log(p / q)).cast("long")
            psi_q = joined.agg(F.sum(contrib_q)).first()[0]
            psi = round(psi_q / 1e9, 6)
            report = [
                (
                    snap_key,
                    int(batch_id),
                    psi,
                    bool(psi >= threshold),
                    int(n_total),
                    "ok",
                )
            ]

        report_df = spark_b.createDataFrame(
            report,
            "snap_key string, batch_id long, psi double, alarm boolean, "
            "batch_tokens long, note string",
        )
        (
            report_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("snap_key")
            .parquet(reports_dir)
        )
        (
            partials.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("src_key")
            .parquet(counts_dir)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drift_reports(spark, reports_dir: str) -> DataFrame:
    """Read back the drift gate's per-batch reports (one row per
    content-keyed batch; replays rewrite in place)."""
    return spark.read.parquet(reports_dir)
