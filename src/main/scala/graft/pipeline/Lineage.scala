package graft.pipeline

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
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
      .fold(Set.empty[Int])(completedBuckets(_, io, nBuckets))
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
    //    (BucketLayout.exactRepartition: Spark's repartitionById, the
    //    bucket id is the task), so the write emits one file per
    //    bucket — the round-4 hash repartition on (bucket, conv_id)
    //    mixed every bucket into every task and a 64-task write
    //    emitted ~4096 files, each with its own footer and commit
    //    rename (9.2 s vs 6.7 s for the bucket-contiguous layout; and
    //    unlike repartitionByRange the exact placement needs no
    //    sampling job, which would re-compute the extraction upstream
    //    a second time).
    // Within each bucket the (conv_id, turn_idx) W2 layout is
    // unchanged.
    //
    // The lineage statistics are observed on this write, not read back
    // from it: the observation sits above the exchange and the sort, so
    // it runs in the write's RESULT stage. Spark applies a result task's
    // accumulator updates once per partition and drops those of failed
    // attempts, so a retried write task cannot count its rows twice (in
    // a shuffle-map stage, such as the kernel's, a re-run would count
    // again). The run-wide `graft.*` accumulators are progress, not
    // lineage, for that reason.
    val stats = Observation()
    io.overwritePartitions(
      BucketLayout.exactRepartition(extracted, $"bucket", nBuckets)
        .sortWithinPartitions($"bucket", $"conv_id", $"turn_idx")
        .observe(stats, udaf(new BucketStatsAgg(nBuckets), BucketStatsAgg.inputEncoder)
          .apply($"bucket", $"conv_id", $"n_cells", $"n_dropped").as("buckets")),
      LineageStore.DataTable, "bucket")

    // lineage rows committed strictly after the data; buckets with zero
    // turns still need a lineage row
    val now = new Timestamp(System.currentTimeMillis())
    val observed = stats.get("buckets").asInstanceOf[scala.collection.Map[Int, Row]]
    val allRows = pending.toSeq.sorted.map { b =>
      observed.get(b).fold((runId, b, nBuckets, "", "", 0L, 0L, 0L, now)) { r =>
        (runId, b, nBuckets, r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), now)
      }
    }.toDF("run_id", "partition_id", "n_buckets", "conv_min", "conv_max",
      "turns_done", "cells_emitted", "boxes_dropped", "completed_at")
    io.append(allRows, LineageStore.LineageTable)
    pending
  }

  /** The buckets a prior run completed, from its lineage rows. A resume
    * with a different bucket count would hash conversations into other
    * buckets and write them a second time, so it is refused, as is a
    * lineage table that does not record its bucket count. */
  private def completedBuckets(lineage: DataFrame, io: TableIO, nBuckets: Int): Set[Int] = {
    import lineage.sparkSession.implicits._
    if (!lineage.columns.contains("n_buckets"))
      throw new IllegalStateException(s"lineage of $io records no bucket count " +
        "(n_buckets); it cannot be resumed safely — re-run into a fresh output")
    val rows = lineage.select("partition_id", "n_buckets").as[(Int, Int)].collect()
    rows.map(_._2).find(_ != nBuckets).foreach { n =>
      throw new IllegalStateException(s"output $io was written with $n buckets, but this " +
        s"run asks for $nBuckets; resume with $n buckets or re-run into a fresh output")
    }
    rows.map(_._1).toSet
  }

  /** Read the (complete) extracted output of prior runs. */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    new ParquetTableIO(outDir).read(spark, LineageStore.DataTable)
}

/** One bucket's lineage statistics; the strings follow Spark's string
  * order, as `min`/`max` over the column would. */
final case class BucketStats(conv_min: String, conv_max: String,
    turns_done: Long, cells_emitted: Long, boxes_dropped: Long)

/** The buffer of [[BucketStatsAgg]]: one slot per bucket, updated in
  * place. */
final case class BucketStatsBuf(convMin: Array[String], convMax: Array[String],
    turns: Array[Long], cells: Array[Long], dropped: Array[Long])

/** Per-bucket lineage statistics in one aggregate, for
  * `Dataset.observe`, which takes no GROUP BY (and no built-in
  * aggregate returns a per-key map). Input: (bucket, conv_id, n_cells,
  * n_dropped) with 0 <= bucket < nBuckets; output: bucket → stats for
  * every bucket with at least one row. Null conv_ids count as turns
  * but are skipped by conv_min/conv_max, as `min`/`max` skip them. */
final class BucketStatsAgg(nBuckets: Int)
    extends Aggregator[(Int, String, Int, Int), BucketStatsBuf, Map[Int, BucketStats]] {

  def zero: BucketStatsBuf = BucketStatsBuf(new Array[String](nBuckets),
    new Array[String](nBuckets), new Array[Long](nBuckets), new Array[Long](nBuckets),
    new Array[Long](nBuckets))

  def reduce(b: BucketStatsBuf, in: (Int, String, Int, Int)): BucketStatsBuf = {
    val k = in._1
    b.turns(k) += 1
    b.cells(k) += in._3
    b.dropped(k) += in._4
    b.convMin(k) = least(in._2, b.convMin(k))
    b.convMax(k) = greatest(in._2, b.convMax(k))
    b
  }

  def merge(a: BucketStatsBuf, b: BucketStatsBuf): BucketStatsBuf = {
    var k = 0
    while (k < nBuckets) {
      a.turns(k) += b.turns(k)
      a.cells(k) += b.cells(k)
      a.dropped(k) += b.dropped(k)
      a.convMin(k) = least(b.convMin(k), a.convMin(k))
      a.convMax(k) = greatest(b.convMax(k), a.convMax(k))
      k += 1
    }
    a
  }

  // null is "no conv_id yet" and loses to any string
  private def least(x: String, y: String): String =
    if (x == null) y else if (y == null || BucketStatsAgg.compare(x, y) < 0) x else y
  private def greatest(x: String, y: String): String =
    if (x == null) y else if (y == null || BucketStatsAgg.compare(x, y) > 0) x else y

  def finish(b: BucketStatsBuf): Map[Int, BucketStats] =
    (0 until nBuckets).filter(b.turns(_) > 0).map { k =>
      k -> BucketStats(b.convMin(k), b.convMax(k), b.turns(k), b.cells(k), b.dropped(k))
    }.toMap

  def bufferEncoder: Encoder[BucketStatsBuf] = BucketStatsAgg.bufferEncoder
  def outputEncoder: Encoder[Map[Int, BucketStats]] = BucketStatsAgg.outputEncoder
}

object BucketStatsAgg {
  // Built once per JVM rather than per run, and without Scala
  // reflection where Spark offers a constructor (`udaf`'s TypeTag
  // overload reflects on every call). The buffer is one Java-serialized
  // object: each write task serializes its buffer once, and a product
  // encoder over five arrays generated a serializer projection in every
  // task (about 2 ms of CPU per task in a profile of a 16-bucket write).
  val inputEncoder: Encoder[(Int, String, Int, Int)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaInt, Encoders.scalaInt)
  lazy val bufferEncoder: Encoder[BucketStatsBuf] = Encoders.javaSerialization[BucketStatsBuf]
  lazy val outputEncoder: Encoder[Map[Int, BucketStats]] = ExpressionEncoder[Map[Int, BucketStats]]()

  /** Spark's string order: UTF-8 byte order (`UTF8String.compareTo`),
    * which is code-point order. `String.compareTo` compares UTF-16
    * units, which puts a surrogate pair (U+10000 and above) below
    * U+E000–U+FFFF; comparing code points at the first differing unit
    * fixes that without encoding either string. */
  private[graft] def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length
    else Character.codePointAt(a, i) - Character.codePointAt(b, i)
  }
}
