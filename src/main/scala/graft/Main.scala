package graft

import graft.pipeline.{ExtractPipeline, ResumableExtract}
import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry point (the north rule's cluster shape):
  *
  *   spark-submit --class graft.Main app.jar <command> [args…]
  *
  * Commands:
  *   gen <outDir> [nConvs]                      write the synthetic corpus
  *   extract <corpusDir> <outDir> [nBuckets]    resumable extraction run
  *   assemble <corpusDir> <extractDir> <outDir> BOM assembly + dual sink
  *   stream <inDir> <tablesDir> <ckptDir>       durable streaming catch-up
  *                                              (AvailableNow; idempotent
  *                                              batch-id commits; re-run
  *                                              processes only new files)
  *   demo [sfDir]                               drive every surface
  *
  * Under spark-submit no master is set here (the launcher provides
  * it); standalone runs fall back to local[*]. All knobs that matter
  * at cluster scale (shuffle partitions, AQE) are left to submit-time
  * `--conf`, with sane local defaults.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // only force a master when not launched through spark-submit
    if (sys.props.get("spark.master").isEmpty && sys.env.get("SPARK_MASTER_URL").isEmpty)
      builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors().toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    args.toList match {
      case "gen" :: outDir :: rest =>
        gen.WriteCorpus.write(spark, outDir, rest.headOption.map(_.toInt).getOrElse(24000))

      case "extract" :: corpusDir :: outDir :: rest =>
        val nBuckets = rest.headOption.map(_.toInt).getOrElse(16)
        val turns = spark.read.parquet(s"$corpusDir/transcripts").as[model.Turn]
        val done = ResumableExtract.run(spark, turns, outDir, nBuckets = nBuckets)
        println(s"[extract] processed buckets: ${done.toSeq.sorted.mkString(",")} " +
          s"(empty = already complete); lineage at $outDir/lineage")

      case "assemble" :: corpusDir :: extractDir :: outDir :: Nil =>
        val extracted = ResumableExtract.readOutput(spark, extractDir)
          .drop("bucket")
          .as[model.ExtractedTurn]
        val convMeta = spark.read.parquet(s"$corpusDir/conv_meta")
        val assembled = ExtractPipeline.assembleBom(extracted,
          spark.read.parquet(s"$corpusDir/drawings"), convMeta)
        val (ok, msgs) = ExtractPipeline.validationSummary(assembled)
        println(s"[assemble] validation: ok=$ok ${msgs.mkString("; ")}")
        val routed = ExtractPipeline.routed(assembled)
        // the printed count is observed on the write, not read back
        val routedRows = Observation()
        routed.observe(routedRows, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite)
          .partitionBy("row_type").parquet(s"$outDir/bom")
        ExtractPipeline.quarantined(assembled)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/quarantine")
        ExtractPipeline.highWaterMarks(routed, convMeta)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/hwm")
        println(s"[assemble] wrote $outDir/bom (+hwm); " +
          s"rows=${routedRows.get("rows")}")

      case "stream" :: inDir :: tablesDir :: ckptDir :: Nil =>
        val io = new pipeline.ParquetTableIO(tablesDir)
        streaming.StreamingExtract
          .runDurableAvailableNow(spark, inDir, io, ckptDir)
          .awaitTermination()
        // one lineage row per batch: its n_rows sum is the table's row
        // count, without scanning the data every batch ever landed
        val lineage = io.readIfExists(spark, streaming.StreamingExtract.StreamLineageTable)
        val rows = lineage.map(_.agg(coalesce(sum($"n_rows"), lit(0L))).as[Long].head())
        println(s"[stream] caught up; rows=${rows.getOrElse(0L)} " +
          s"lineage at $tablesDir/${streaming.StreamingExtract.StreamLineageTable}")

      case "demo" :: rest =>
        tools.Demo.main(rest.toArray)

      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println("usage: gen|extract|assemble|stream|demo — see scaladoc")
        sys.exit(2)
    }
    spark.stop()
  }
}
