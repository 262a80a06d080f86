package graft.tools

import graft.operators.Multimodal
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._

/** End-to-end drive of the engine's surfaces — extraction, BOM
  * assembly, multimodal decode, the durable streaming catch-up that
  * `Main stream` runs (into a [[graft.pipeline.ParquetTableIO]],
  * read back from `stream_data`) and session windows — printing
  * observable output. This is the manual-verification entry point
  * (see .claude/skills/verify/SKILL.md); it exercises real flows,
  * not test assertions.
  *
  * Usage: runMain graft.tools.Demo [sfDir]
  *
  * Everything it writes goes under one `demo_*` temp directory, which
  * it deletes once the session has stopped.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val scratch = java.nio.file.Files.createTempDirectory("demo_").toString
    val spark = graft.Sessions.local("graft-demo")
    try show(spark, sfDir, scratch)
    finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch)): Unit
    }
  }

  private def show(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      scratch: String): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    println("── extraction (flagship) " + "─" * 40)
    val extracted = graft.SparkEntry.entry(spark).cache()
    extracted.groupBy("tool").agg(count(lit(1)).as("turns"),
      sum("n_cells").as("cells")).orderBy("tool").show(false)
    extracted.filter($"tool" === "quick" && length($"extracted_text") > 20)
      .select("conv_id", "turn_idx", "extracted_text").show(3, false)

    println("── BOM assembly " + "─" * 40)
    graft.SparkEntry.queries("x_bom_pipeline")(spark, sfDir)
      .select("conv_id", "item_number", "row_type", "matched", "quantity", "ocr_warning")
      .show(5, false)
    println("── BOM sink routing ledger " + "─" * 30)
    graft.SparkEntry.queries("x_bom_rows")(spark, sfDir).show(false)

    println("── CSV sink (K2) round-trip " + "─" * 30)
    val csvDir = s"$scratch/csv"
    val routed = graft.SparkEntry.queries("x_bom_pipeline")(spark, sfDir)
    routed.write.mode("overwrite").option("header", "true").csv(csvDir)
    val back = spark.read.option("header", "true").csv(csvDir)
    println(s"csv round-trip: wrote ${routed.count()} rows, read back ${back.count()}")

    println("── multimodal " + "─" * 40)
    val media = Multimodal.mediaTable(spark, sfDir)
    Multimodal.extractFeatures(media).toDF()
      .select($"doc_id", $"kind", $"n_bytes", slice($"feature", 1, 3).as("f0_2"))
      .show(4, false)
    println("── REAL codec round-trips (JDK PNG / WAV) " + "─" * 20)
    graft.SparkEntry.queries("m5_image_decode")(spark, sfDir).show(3, false)
    graft.SparkEntry.queries("m6_audio_decode")(spark, sfDir).show(3, false)

    println("── BPE tokenizer: learn merges, encode the corpus " + "─" * 12)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, rounds = 4)
    println("learned merges: " + merges.map { case (l, r, n) => s"($l+$r ×$n)" }
      .mkString(", "))
    graft.operators.TextAnalysis.bpeEncode(docs, merges.map(m => (m._1, m._2)))
      .select($"doc_id", $"n_pieces", slice($"pieces", 1, 8).as("first_pieces"))
      .show(3, false)

    println("── durable streaming catch-up (Main stream's path) " + "─" * 13)
    val in = s"$scratch/in"
    val io = new graft.pipeline.ParquetTableIO(s"$scratch/tables")
    val ck = s"$scratch/ck"
    def streamed = io.read(spark, StreamingExtract.StreamDataTable)
    val corpus = graft.gen.TranscriptGen.corpus(10)
    spark.createDataset(corpus.turns).repartition(3).write.mode("overwrite").parquet(in)
    StreamingExtract.runDurableAvailableNow(spark, in, io, ck).awaitTermination()
    println(s"pass1: ${streamed.count()} rows (batch wrote ${corpus.turns.size})")
    StreamingExtract.runDurableAvailableNow(spark, in, io, ck).awaitTermination()
    println(s"pass2 (no new files): ${streamed.count()} rows")
    // malformed payloads must flow through, not kill the stream
    spark.createDataset(corpus.turns.take(3).map(t =>
      t.copy(conv_id = "junk", text = "{not json", tool = "quick")))
      .coalesce(1).write.mode("append").parquet(in)
    StreamingExtract.runDurableAvailableNow(spark, in, io, ck).awaitTermination()
    println(s"pass3 (+3 malformed): ${streamed.count()} rows")
    streamed.filter($"conv_id" === "junk")
      .select("extracted_text", "n_cells").show(3, false)

    println("── streaming session windows (append mode, watermark flush) " + "─" * 5)
    val sessIn = s"$scratch/sess"
    val burst = corpus.turns.filter(_.turn_idx < 20).map(t =>
      t.copy(ts = new java.sql.Timestamp(
        1767225600000L + (t.turn_idx / 5) * 3600000L + t.turn_idx * 1000L)))
    spark.createDataset(burst).repartition(2).write.mode("overwrite").parquet(sessIn)
    val sq = StreamingExtract.sessionMetrics(spark, sessIn).writeStream
      .format("memory").queryName("demo_sess").outputMode("append").start()
    sq.processAllAvailable()
    // watermark flush: one far-future sentinel closes every real session
    spark.createDataset(Seq(burst.head.copy(conv_id = "sentinel",
        ts = new java.sql.Timestamp(1767225600000L + 365L * 24 * 3600000L))))
      .coalesce(1).write.mode("append").parquet(sessIn)
    sq.processAllAvailable(); sq.processAllAvailable(); sq.stop()
    spark.table("demo_sess").orderBy("conv_id", "session_start").show(6, false)
  }
}
