package graft.streaming

import graft.kernel.Extractor
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming lift of the extraction pipeline (SURVEY §2.10):
  * every per-turn operator is stateless, so the batch island runs
  * unchanged under `readStream` — `Trigger.AvailableNow` turns the
  * same job into an incremental, checkpointed catch-up run over new
  * transcript files (the streaming analog of the lineage-bucket
  * resume; on a cluster the source would be an Iceberg streaming
  * read). The extraction stream lands in one way only:
  * [[runDurableAvailableNow]], whose microbatches commit through the
  * [[graft.pipeline.TableIO]] layer ([[commitBatch]]).
  */
object StreamingExtract {

  /** The turn source every streaming job reads: a parquet directory
    * of `Turn` rows, at most `maxFilesPerTrigger` new files per
    * microbatch. */
  private def turnStream(spark: SparkSession, inDir: String,
                         maxFilesPerTrigger: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(Encoders.product[Turn].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inDir)
      .as[Turn]
  }

  /** Streaming per-turn extraction: the batch island
    * ([[ExtractPipeline.extract]]) over the turn stream, so every
    * microbatch flushes the same `graft.*` counters as a batch run. */
  def extractStream(spark: SparkSession, inDir: String): Dataset[ExtractedTurn] =
    ExtractPipeline.extract(turnStream(spark, inDir, 16), new ExtractPipeline.Metrics(spark))

  /** Event-time SESSION windows under `readStream` (the w3 shape,
    * streaming): per-(conv_id, session) turn/cell counts with a gap
    * timeout. Append mode semantics: partial sessions from different
    * triggers MERGE in the state store, and a session is emitted
    * exactly once — when the watermark passes its close (last event +
    * gap). The watermark delay is a parameter because the caller
    * knows the corpus's disorder bound; a delay shorter than the
    * cross-file timestamp skew silently drops late turns. */
  def sessionMetrics(spark: SparkSession, inDir: String,
                     gap: String = "10 minutes",
                     watermarkDelay: String = "48 hours"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // its own map, not the batch island: the window needs `ts`, which
    // `ExtractedTurn` does not carry; the counters flush like the island's
    val metrics = new ExtractPipeline.Metrics(spark)
    turnStream(spark, inDir, 4)
      .mapPartitions { it =>
        val ctr = metrics.taskCounters()
        it.map { t =>
          val e = Extractor.extract(t, ctr)
          (t.ts, t.conv_id, e.n_cells)
        }
      }
      .toDF("ts", "conv_id", "n_cells")
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("conv_id"))
      .agg(count(lit(1)).as("turns"), sum(col("n_cells")).as("cells"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("conv_id"), col("turns"), col("cells"))
  }

  val StreamDataTable = "stream_data"
  val StreamLineageTable = "stream_lineage"

  /** Per-microbatch durable commit into the pipeline's table layer:
    * the batch's rows land in `stream_data` PARTITIONED BY batch_id
    * with dynamic partition overwrite, then one lineage row is
    * committed the same way. `foreachBatch` is at-least-once — after a
    * crash between the data write and the checkpoint commit the same
    * batch REPLAYS — so idempotency must come from the sink: a
    * replayed batch rewrites its own data partition AND its own
    * lineage row instead of duplicating either (a plain lineage append
    * would leave a duplicate batch row after replay, silently breaking
    * `sum(n_rows) = table contents` — the invariant the batch
    * pipeline's bucket protocol keeps by appending lineage only for
    * buckets lacking a row). This is the streaming twin of that
    * two-phase protocol; on a cluster
    * [[graft.pipeline.IcebergTableIO]] collapses each write into a
    * snapshot transaction.
    *
    * Layout note (round-4 change): `stream_lineage` is PARTITIONED BY
    * batch_id (that is what makes the row overwrite idempotent). A
    * directory written by the earlier flat-append layout cannot be
    * mixed with this one — migrate by rewriting the old lineage once
    * (`read -> write.partitionBy("batch_id")`) before resuming.
    *
    * `n_rows` is counted by an `Observation` on the data write itself,
    * so the microbatch is extracted once and never cached. The count
    * runs in the write's result stage, whose accumulator updates Spark
    * applies once per partition and drops for failed attempts: a
    * retried write task does not count its rows twice. */
  def commitBatch(io: graft.pipeline.TableIO,
                  batch: Dataset[ExtractedTurn], batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    import spark.implicits._
    val rows = Observation()
    io.overwritePartitions(
      batch.toDF().withColumn("batch_id", lit(batchId))
        .observe(rows, count(lit(1)).as("n_rows")),
      StreamDataTable, "batch_id")
    io.overwritePartitions(
      Seq((rows.get("n_rows").asInstanceOf[Long], System.currentTimeMillis(), batchId))
        .toDF("n_rows", "committed_at_ms", "batch_id"),
      StreamLineageTable, "batch_id")
  }

  /** Streaming ingestion into the durable table layer: AvailableNow
    * catch-up whose every microbatch commits through [[commitBatch]].
    * Restarts resume from the checkpoint; a batch replayed across a
    * crash overwrites its own partition — exactly-once TABLE contents
    * over an at-least-once sink callback. `Main stream`, `tools.Demo`
    * and the engine benchmark all run this path. */
  def runDurableAvailableNow(
      spark: SparkSession,
      inDir: String,
      io: graft.pipeline.TableIO,
      checkpointDir: String): StreamingQuery = {
    extractStream(spark, inDir).writeStream
      .foreachBatch { (batch: Dataset[ExtractedTurn], batchId: Long) =>
        commitBatch(io, batch, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
