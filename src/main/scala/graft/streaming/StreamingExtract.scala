package graft.streaming

import graft.kernel.Extractor
import graft.model.{ExtractedTurn, Turn}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming lift of the extraction pipeline (SURVEY §2.10):
  * every per-turn operator is stateless, so the batch kernel runs
  * unchanged under `readStream` — `Trigger.AvailableNow` turns the
  * same job into an incremental, checkpointed catch-up run over new
  * transcript files (the streaming analog of the lineage-bucket
  * resume; on a cluster the source would be an Iceberg streaming
  * read).
  */
object StreamingExtract {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** The turn source every streaming job reads, any file-source
    * FORMAT: the source node is the only format-specific piece; the
    * kernel and every downstream stage are format-agnostic (a
    * one-sided edit to a per-format copy was the divergence risk). */
  private def turnStream(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int,
                         format: String = "parquet"): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(turnSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .format(format)
      .load(inDir)
      .as[Turn]
  }

  /** The batch kernel over a turn stream, one pooled counter set per
    * partition. */
  private def kernel(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      val ctr = new Extractor.Counters
      it.map(t => Extractor.extract(t, ctr))
    }
  }

  /** Streaming per-turn extraction over a parquet directory source. */
  def extractStream(spark: SparkSession, inDir: String): Dataset[ExtractedTurn] =
    kernel(turnStream(spark, inDir, 16))

  /** The same streaming extraction over a JSON-LINES source — the
    * second ingest format (transcript dumps commonly arrive as JSONL
    * exports rather than parquet). */
  def extractStreamJson(spark: SparkSession, inDir: String): Dataset[ExtractedTurn] =
    kernel(turnStream(spark, inDir, 16, "json"))

  /** Event-time windowed extraction metrics with a watermark: counts
    * of turns and extracted cells per (1-minute window, tool), late
    * data beyond 10 minutes dropped — the stateful-streaming shape
    * (watermark + tumbling window) over the same extraction kernel. */
  def windowedMetrics(spark: SparkSession, inDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    turnStream(spark, inDir, 16)
      .mapPartitions { it =>
        val ctr = new Extractor.Counters
        it.map { t =>
          val e = Extractor.extract(t, ctr)
          (t.ts, e.tool, e.n_cells)
        }
      }
      .toDF("ts", "tool", "n_cells")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("tool"))
      .agg(count(lit(1)).as("turns"), sum(col("n_cells")).as("cells"))
  }

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
    turnStream(spark, inDir, 4)
      .mapPartitions { it =>
        val ctr = new Extractor.Counters
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

  /** Source hygiene for at-least-once delivery: drop RE-DELIVERED
    * turns — same (conv_id, turn_idx) arriving again from a retried
    * file or replayed partition — before the kernel runs. The state
    * is keyed per (conv_id, turn_idx) and BOUNDED BY THE WATERMARK:
    * keys older than (watermark − delay) are evicted, which is what
    * makes streaming dedup viable at all — an unbounded-time
    * `dropDuplicates` accumulates one state row per key forever, the
    * classic streaming-state OOM. The delay is a parameter because
    * the caller knows the source's redelivery horizon. */
  def dedupedExtractStream(spark: SparkSession, inDir: String,
                           watermarkDelay: String = "48 hours"): Dataset[ExtractedTurn] =
    kernel(turnStream(spark, inDir, 4)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx"))

  /** Running per-conversation progress as CUSTOM streaming state
    * (SURVEY §2.10 / K5): `flatMapGroupsWithState` keyed on conv_id
    * maintains (turns seen, cells emitted, max turn index) across
    * triggers — the streaming form of the high-water-mark update the
    * batch pipeline writes to lineage. Update output mode: each
    * trigger emits the refreshed summary only for conversations that
    * received new turns. */
  final case class ConvState(turns: Long, cells: Long, maxTurn: Int)
  final case class ConvProgress(conv_id: String, turns: Long, cells: Long,
                                max_turn_idx: Int)

  def conversationProgress(spark: SparkSession, inDir: String): Dataset[ConvProgress] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    extractStream(spark, inDir)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (convId: String, rows: Iterator[ExtractedTurn], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, 0L, -1))
          var t = prev.turns
          var c = prev.cells
          var m = prev.maxTurn
          rows.foreach { e =>
            t += 1; c += e.n_cells; m = math.max(m, e.turn_idx)
          }
          state.update(ConvState(t, c, m))
          Iterator(ConvProgress(convId, t, c, m))
      }
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
    * (`read -> write.partitionBy("batch_id")`) before resuming. */
  def commitBatch(io: graft.pipeline.TableIO,
                  batch: Dataset[ExtractedTurn], batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    import spark.implicits._
    val out = batch.toDF().withColumn("batch_id", lit(batchId)).persist()
    try {
      io.overwritePartitions(out, StreamDataTable, "batch_id")
      io.overwritePartitions(
        Seq((out.count(), System.currentTimeMillis(), batchId))
          .toDF("n_rows", "committed_at_ms", "batch_id"),
        StreamLineageTable, "batch_id")
    } finally out.unpersist()
  }

  /** Streaming ingestion into the durable table layer: AvailableNow
    * catch-up whose every microbatch commits through [[commitBatch]].
    * Restarts resume from the checkpoint; a batch replayed across a
    * crash overwrites its own partition — exactly-once TABLE contents
    * over an at-least-once sink callback. */
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

  /** Run an AvailableNow catch-up: process every file not yet in the
    * checkpoint, write parquet, stop. Re-invoking later processes only
    * new files — idempotent incremental extraction. */
  def runAvailableNow(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    extractStream(spark, inDir).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
