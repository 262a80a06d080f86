package graft.pipeline

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The resumable run's logical tables and the data table's write
  * options. */
object LineageStore {
  val DataTable = "data"
  val LineageTable = "lineage"

  /** `extracted_text` is high-cardinality: its parquet dictionary is
    * built, overflows, and falls back to PLAIN inside every chunk
    * (footer encodings showed PLAIN_DICTIONARY + PLAIN together), so
    * the build is pure wasted write CPU — bytes measured identical
    * with it off. Every OTHER column keeps dictionary encoding
    * (cells.text and the low-cardinality columns compress well). */
  val DataWriteOptions: Map[String, String] =
    Map("parquet.enable.dictionary#extracted_text" -> "false")
}

/** Idempotent, resumable extraction runs (SURVEY §4.3).
  *
  * The reference's only cross-request state is one scalar high-water
  * mark written back after each submit (backend/main.py:607-636).
  * Generalized here to per-bucket lineage rows: conversations are
  * hashed into `nBuckets` stable buckets; a run processes only
  * buckets with no lineage row, writes each bucket's output under
  * `out/data/bucket=K/` with dynamic partition overwrite (so a crashed
  * run's partial bucket is cleanly rewritten), and only then appends
  * lineage rows for the completed buckets. Crash between the two
  * writes ⇒ bucket re-runs next time ⇒ same bytes (extraction is
  * deterministic) — idempotent resume.
  *
  * Storage goes through the [[TableIO]] trait (SURVEY §7 step 3):
  * [[ParquetTableIO]] here (no Iceberg jar offline); on a cluster
  * [[IcebergTableIO]] collapses the two writes into one snapshot
  * transaction and these resume semantics carry over unchanged.
  *
  * Scale note: bucketing by conv-hash keeps resume units coarse
  * (10^12 turns / e.g. 1024 buckets ≈ 10^9 turns per unit) while the
  * kernel still runs on the scan partitions, so a long conversation is
  * spread by the input's splits, never funnelled through one task.
  */
object ResumableExtract {

  def bucketOf(convId: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(convId), lit(nBuckets.toLong)).cast("int")

  /** Run (or resume) an extraction over `turns`, writing
    * `ExtractedTurn` rows partitioned by bucket. Returns the set of
    * buckets processed in THIS invocation (empty ⇒ nothing pending).
    */
  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      outDir: String,
      nBuckets: Int = 16,
      runId: String = "run"): Set[Int] =
    run(spark, turns, new ParquetTableIO(outDir, LineageStore.DataWriteOptions),
      nBuckets, runId)

  /** Same run/resume protocol through any [[TableIO]] — this is the
    * entry the cluster uses with [[IcebergTableIO]] (snapshot commits
    * instead of the parquet two-write protocol). */
  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      io: TableIO,
      nBuckets: Int,
      runId: String): Set[Int] = {
    import spark.implicits._
    val done = io.readIfExists(spark, LineageStore.LineageTable)
      .fold(Set.empty[Int])(_.select("partition_id").as[Int].collect().toSet)
    val pending = (0 until nBuckets).filterNot(done).toSet
    if (pending.isEmpty) return Set.empty

    val metrics = new ExtractPipeline.Metrics(spark)
    val withBucket = turns
      .withColumn("bucket", bucketOf($"conv_id", nBuckets))
      .filter($"bucket".isin(pending.toSeq: _*))
      .drop("bucket")
      .as[Turn]

    val extracted = ExtractPipeline
      .extract(withBucket, metrics)
      .withColumn("bucket", bucketOf($"conv_id", nBuckets))

    // dynamic overwrite: only the pending buckets' partitions are
    // replaced; completed buckets' data is untouched. Two write-path
    // invariants, both measured (BENCH/BASELINE.md, rounds 4-5):
    //  - the sort is PREFIXED WITH THE PARTITION COLUMN, so the
    //    partitioned writer stays on its single-writer path (no
    //    re-sort, no open-writer-per-partition-value; 3.6× on the
    //    identical write in round 4);
    //  - rows are placed EXACTLY on their bucket's task
    //    (BucketLayout.exactRepartition), so the write emits
    //    one file per bucket — the round-4 hash
    //    repartition on (bucket, conv_id) mixed every bucket into
    //    every task and a 64-task write emitted ~4096 files, each
    //    with its own footer and commit rename (9.2 s vs 6.7 s for
    //    the bucket-contiguous layout; and unlike repartitionByRange
    //    the exact placement needs no sampling job, which would
    //    re-compute the extraction upstream a second time).
    // Within each bucket the (conv_id, turn_idx) W2 layout is
    // unchanged.
    io.overwritePartitions(
      BucketLayout.exactRepartition(extracted, $"bucket", nBuckets)
        .sortWithinPartitions($"bucket", $"conv_id", $"turn_idx"),
      LineageStore.DataTable, "bucket")

    // lineage rows from the data just written (cheap agg over the
    // pending buckets only) — committed strictly after the data. The
    // aggregate is COLLECTED once (one row per pending bucket — a
    // bounded, bucket-count-sized result, never data-sized) and the
    // append runs from the local rows: leaving it lazy re-ran the
    // full written-data scan a second time inside the append
    // (measured ~1.5 s of a 10M-turn run).
    val now = new Timestamp(System.currentTimeMillis())
    val stats = io.read(spark, LineageStore.DataTable)
      .filter(col("bucket").isin(pending.toSeq: _*))
      .groupBy($"bucket")
      .agg(
        min($"conv_id").as("conv_min"),
        max($"conv_id").as("conv_max"),
        count(lit(1)).as("turns_done"),
        sum($"n_cells").cast("long").as("cells_emitted"),
        // derived from the bucket's own written rows (NOT the run-wide
        // accumulator, which spans all pending buckets and can
        // double-count under task retries)
        sum($"n_dropped").cast("long").as("boxes_dropped"))
      .select($"bucket", $"conv_min", $"conv_max", $"turns_done",
        $"cells_emitted", $"boxes_dropped")
      .as[(Int, String, String, Long, Long, Long)]
      .collect()
    val present = stats.map(_._1).toSet
    // buckets with zero turns still need a lineage row
    val allRows = (stats.toSeq ++
      (pending -- present).toSeq.map(b => (b, "", "", 0L, 0L, 0L)))
      .map { case (b, cmin, cmax, t, c, d) => (runId, b, cmin, cmax, t, c, d, now) }
      .toDF("run_id", "partition_id", "conv_min", "conv_max",
        "turns_done", "cells_emitted", "boxes_dropped", "completed_at")
    io.append(allRows, LineageStore.LineageTable)
    pending
  }

  /** Read the (complete) extracted output of prior runs. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    new ParquetTableIO(outDir).read(spark, LineageStore.DataTable)
}
