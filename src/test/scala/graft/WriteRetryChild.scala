package graft

import graft.gen.TranscriptGen
import graft.pipeline.{LineageStore, ParquetTableIO, ResumableExtract, TableIO}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

/** A [[TableIO]] whose data write fails attempt 0 of partition 0 once
  * `afterRows` rows have passed: a filter above the frame the pipeline
  * hands over (and so above its observation), in the write's own
  * stage. The UDF is nondeterministic, so the optimizer cannot push it
  * below the exchange into the kernel's stage. */
final class FailOnceTableIO(inner: TableIO, afterRows: Int) extends TableIO {
  def readIfExists(spark: SparkSession, table: String): Option[DataFrame] =
    inner.readIfExists(spark, table)
  def read(spark: SparkSession, table: String): DataFrame = inner.read(spark, table)
  def append(df: DataFrame, table: String): Unit = inner.append(df, table)
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit = {
    val n = afterRows
    val failOnce = udf { () =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          FailOnceTableIO.passed.incrementAndGet() > n) {
        FailOnceTableIO.thrown.incrementAndGet()
        throw new RuntimeException(s"injected write failure after $n rows")
      }
      true
    }.asNondeterministic()
    inner.overwritePartitions(
      if (table == LineageStore.DataTable) df.filter(failOnce()) else df, table, partitionCol)
  }
}

object FailOnceTableIO {
  val passed = new AtomicInteger
  val thrown = new AtomicInteger
}

/** Child-JVM half of PipelineSpec's forced-retry test. The suites share
  * one `local[4]` context, whose task max-failures is 1; a retry needs
  * `local[4,2]`, hence its own JVM. Runs the resumable extraction into
  * `root/clean`, then into `root/retry` through [[FailOnceTableIO]],
  * and prints one `RESULT` line for the parent to check:
  * failures injected, lineage turns_done summed, rows written, and
  * whether the retried output equals the clean one key for key. */
object WriteRetryChild {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-write-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val turns = spark.createDataset(TranscriptGen.corpus(nConvs = 40).turns)
    ResumableExtract.run(spark, turns, s"$root/clean", nBuckets = 4)
    ResumableExtract.run(spark, turns, new FailOnceTableIO(
      new ParquetTableIO(s"$root/retry", LineageStore.DataWriteOptions), afterRows = 50),
      nBuckets = 4, runId = "retry")

    def rows(dir: String) = spark.read.parquet(s"$dir/data").drop("bucket")
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r).toMap
    def lineage(dir: String) = spark.read.parquet(s"$dir/lineage")
      .drop("run_id", "completed_at").collect().toSet
    val clean = rows(s"$root/clean")
    val retried = rows(s"$root/retry")
    val turnsDone = spark.read.parquet(s"$root/retry/lineage")
      .agg(sum("turns_done")).head().getLong(0)
    println(s"RESULT thrown=${FailOnceTableIO.thrown.get()} turns_done=$turnsDone " +
      s"rows=${retried.size} clean_rows=${clean.size} " +
      s"same_rows=${retried.size == clean.size && retried.forall { case (k, r) => clean.get(k).contains(r) }} " +
      s"same_lineage=${lineage(s"$root/retry") == lineage(s"$root/clean")}")
    spark.stop()
  }
}
