package enginebench

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import graft.model.{ExtractedTurn, PayloadCodec, Tool, Turn}
import graft.pipeline._
import graft.streaming.StreamingExtract
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The engine's benchmark: one process, `local[cpus]`, `graft.Main`'s
  * session settings, a closed loop with one client (the driver thread
  * submits one call at a time and waits for it).
  *
  * A run prepares a seeded corpus three times, warms up untimed, then
  * runs whole cycles for `--seconds`, at least one:
  *  - batch: the `Main extract` shape (`ResumableExtract.run` on a fresh
  *    output, then the immediate re-run), twice unrecorded to settle and
  *    then three times recorded, then the `Main assemble` shape over the
  *    last output;
  *  - stream: the `Main stream` shape catching up the backlog, then
  *    small increments landing one by one, each caught up on its own.
  * Every measured cycle's outputs are checked, except those of the
  * settle runs; a cycle with a failed check counts as failed. The last stdout line is the result JSON.
  *
  * Usage: Bench --workload W --seed N --seconds S --trace 0|1 --cpus C
  *              --root DIR [--scale F] [--corrupt]
  */
object Bench {

  val Buckets = 16
  val ExtractReps = 3
  val SettleReps = 2
  val TracedExtractReps = 1
  val NoopExtractPasses = 6
  val CorpusTurns = 18000
  val InputFiles = 32
  val Increments = 3
  val IncrementTurns = 1000

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, root: Path, scale: Double, corrupt: Boolean)

  def parse(argv: List[String], a: Args): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest    => parse(rest, a.copy(trace = v == "1"))
    case "--cpus" :: v :: rest     => parse(rest, a.copy(cpus = v.toInt))
    case "--root" :: v :: rest     => parse(rest, a.copy(root = Paths.get(v)))
    case "--scale" :: v :: rest    => parse(rest, a.copy(scale = v.toDouble))
    case "--corrupt" :: rest       => parse(rest, a.copy(corrupt = true))
    case Nil                       => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args("", 0L, 10.0, trace = false, 4, Paths.get("."), 1.0,
      corrupt = false))
    val mix: (Long, Corpus.Budget) => Corpus = args.workload match {
      case "default_mix" => Corpus.defaultMix
      case "bom_dense"   => Corpus.bomDense
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    new Bench(args, mix).run()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def parquetBytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet")).map(Files.size).sum

  /** Unit of a per-layer metric, from its name. */
  def layerUnit(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_us") || n.contains("us_per_turn") => "us"
    case n if n.endsWith("bytes_per_turn") => "bytes/turn"
    case n if n.endsWith("bytes") => "bytes"
    case n if n.endsWith("ratio") || n.endsWith("skew") || n.endsWith("util") => "ratio"
    case "kernel.cells_per_turn" => "cells/turn"
    case _ => "count"
  }

  def parquetFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq.sorted
}

final class Bench(args: Bench.Args, mix: (Long, Corpus.Budget) => Corpus) {
  import Bench._

  private val root = args.root.toAbsolutePath
  private val inputDir = root.resolve("input")
  private val turnsTotal = math.max(2000, (CorpusTurns * args.scale).toInt)
  private val incTurns = math.max(60, (IncrementTurns * args.scale).toInt)

  private var spark: SparkSession = _
  private var corpus: Corpus = _
  private var incs: Seq[Corpus] = Nil
  private var tracer: Tracer = _
  private var turnsDs: Dataset[Turn] = _

  // per-cycle samples
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private var attempted = 0
  private var failed = 0
  private var cycle = 0

  private def session(): SparkSession = {
    val s = SparkSession.builder().appName("graft")
      .master(s"local[${args.cpus}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Corpus generation and the input writes. */
  private def setup(): Unit = {
    val ss = spark
    import ss.implicits._
    deleteTree(inputDir)
    val (_, genS) = seconds {
      corpus = mix(args.seed, Corpus.Budget.ofTotal(turnsTotal))
      incs = Corpus.increments(args.seed, corpus, Increments, incTurns)
    }
    println(f"[enginebench] setup generate_s=$genS%.3f")
    spark.createDataset(corpus.turns).repartition(InputFiles)
      .write.parquet(inputDir.resolve("transcripts").toString)
    spark.createDataset(corpus.drawings).write.parquet(inputDir.resolve("drawings").toString)
    spark.createDataset(corpus.convMeta).write.parquet(inputDir.resolve("conv_meta").toString)
    // one file per increment, all written by one job
    incs.zipWithIndex.map { case (c, k) => spark.createDataset(c.turns).withColumn("k", lit(k)) }
      .reduce(_ union _).repartition($"k")
      .write.partitionBy("k").parquet(inputDir.resolve("increments").toString)
  }

  def run(): Unit = {
    val (ss, sessionS) = seconds(session())
    spark = ss
    println(f"[enginebench] session_start_s=$sessionS%.3f")
    val setupReps = if (args.trace) 1 else 3
    val setupS = (1 to setupReps).map(_ => seconds(setup())._2)
    phase("setup")
    turnsDs = {
      val ss = spark
      import ss.implicits._
      spark.read.parquet(inputDir.resolve("transcripts").toString).as[Turn]
    }
    tracer = new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}", traced = false)
    spark.streams.addListener(tracer.streamListener)
    val checks = new Checks(corpus, Buckets)
    println(s"[enginebench] ${corpus.describe} input_bytes=${parquetBytes(inputDir.resolve("transcripts"))}")

    val hostKernelUs = calibrate()
    phase("calibrate")
    val layers = mutable.LinkedHashMap.empty[String, Double]
    try {
      warmUp(checks)
      phase("warm-up")
      if (args.trace) kernelLayers(layers)
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val minCycles = if (args.trace) 4 else 1
      var k = 0
      while (k < minCycles || elapsed < args.seconds) {
        // the traced run interleaves untraced and traced cycles in the
        // order U T T U, so both sets see the same host window and warmth
        tracer.traced = args.trace && (k % 4 == 1 || k % 4 == 2)
        val (_, wall) = seconds {
          batchCycle(checks, measure = true)
          streamCycle(measure = true)
        }
        record(if (tracer.traced) "cycle.traced_s" else "cycle.untraced_s", wall)
        if (args.trace && k % 4 == 1) stagedExtract()
        k += 1
      }
      tracer.traced = false
    } finally deleteTree(root.resolve("work"))

    phase("measure")
    tracer.drain()
    val rssMb = peakRssMb()
    println(f"[enginebench] host cpus=${args.cpus} host_kernel_us=$hostKernelUs%.3f " +
      f"peak_rss_mb=$rssMb%.1f attempted=$attempted failed=$failed " +
      f"error_rate=${failed.toDouble / math.max(1, attempted)}%.4f")
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("extract_turns_per_s", med("extract_turns_per_s"), "turns/s"),
        ("extract_cpu_us_per_turn", med("extract_cpu_us_per_turn"), "us"),
        ("stored_bytes_ratio", med("stored_bytes_ratio"), "ratio"),
        ("bom_pipeline_s", med("bom_pipeline_s"), "s"),
        ("assemble_s", med("assemble_s"), "s"),
        ("stream_turns_per_s", med("stream_turns_per_s"), "turns/s"),
        ("peak_rss_mb", rssMb, "MB"))
      else {
        tracerLayers(layers)
        layers("host.cpus") = args.cpus
        layers("host.kernel_us") = hostKernelUs
        tracer.summary.foreach(println)
        tracer.writeSpans(root.getParent.resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
        layers.toSeq.map { case (k, v) => (k, v, Bench.layerUnit(k)) }
      }
    samples.foreach { case (k, v) =>
      println(f"[enginebench] $k n=${v.size} median=${median(v.toSeq)}%.6f " +
        s"all=${v.map(x => f"$x%.4f").mkString(",")}")
    }
    spark.stop()
    val bad = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }
    if (bad.nonEmpty) {
      System.err.println(s"[enginebench] no value for: ${bad.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
  }

  /** Prints how long the JVM has been up at the end of a run phase. */
  private def phase(name: String): Unit = {
    val upS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"[enginebench] phase $name done at jvm_uptime_s=$upS%.1f")
  }

  private def med(name: String): Double = samples.get(name).map(v => median(v.toSeq)).getOrElse(Double.NaN)

  private def work(name: String): Path = root.resolve("work").resolve(s"$name-$cycle")

  /** Runs one checked operation; a thrown error or a failed check counts
    * the operation as failed. */
  private def operation(name: String, measure: Boolean)(body: => Seq[String]): Unit = {
    if (!measure) { body; return } // warm-up: unchecked, and an error ends the run
    attempted += 1
    val errs = try body catch {
      case e: Exception => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (errs.nonEmpty) {
      failed += 1
      errs.foreach(e => System.err.println(s"[enginebench] FAILED $e"))
    }
  }

  /** Untimed and unchecked: JIT, codegen and file system caches. Cheap
    * passes of the kernel to a no-op sink first, so the kernel's code is
    * compiled for the multi-threaded path before the durable runs. */
  private def warmUp(checks: Checks): Unit = {
    for (_ <- 1 to NoopExtractPasses)
      ExtractPipeline.extract(turnsDs, new ExtractPipeline.Metrics(spark)).toDF()
        .write.format("noop").mode(SaveMode.Overwrite).save()
    batchCycle(checks, measure = false)
    streamCycle(measure = false)
  }

  // ── batch cycle: Main extract, then Main assemble ──────────────────

  private def batchCycle(checks: Checks, measure: Boolean): Unit = operation("batch", measure) {
    cycle += 1
    val n = corpus.turns.size
    val errs = Seq.newBuilder[String]
    // extraction is the cheapest step and the slowest to warm up: its
    // per-turn CPU still falls over its first runs, and most after other
    // work. So a measured cycle first runs it unrecorded to settle, then
    // repeats it and reports medians; the last output goes on to assembly
    val settle = if (measure) SettleReps else 1
    val reps = settle + (if (!measure) 0 else if (args.trace) TracedExtractReps else ExtractReps)
    val runs = (1 to reps).map { r =>
      val out = work(s"extract$r")
      tracer.drain()
      val cpu0 = tracer.total.cpuNs
      val (_, extractS) = seconds(tracer.span("ResumableExtract.run") {
        ResumableExtract.run(spark, turnsDs, out.toString, nBuckets = Buckets)
      })
      tracer.drain()
      val cpuNs = tracer.total.cpuNs - cpu0
      val (rerun, resumeS) = seconds(tracer.span("ResumableExtract.run(resume)") {
        ResumableExtract.run(spark, turnsDs, out.toString, nBuckets = Buckets)
      })
      if (measure && r > settle) {
        record("extract_turns_per_s", n / extractS)
        record("extract_cpu_us_per_turn", cpuNs / 1e3 / n)
        record("stored_bytes_ratio", parquetBytes(out.resolve(LineageStore.DataTable)).toDouble /
          parquetBytes(inputDir.resolve("transcripts")))
        if (args.corrupt && r == reps) dropOneRow(out.resolve(LineageStore.DataTable))
        if (rerun.nonEmpty) errs += s"extract: re-run processed buckets ${rerun.mkString(",")}"
        errs ++= checks.extract(spark, out.toString, withOracle = r == reps)
      }
      if (r < reps) deleteTree(out)
      (out, extractS, resumeS)
    }
    val (out, extractS, resumeS) = runs.last
    val bomOut = work("bom")
    val (routed, assembleS) = seconds(tracer.span("Main.assemble")(assemble(out, bomOut)))
    if (measure) {
      record("bom_pipeline_s", extractS + assembleS)
      record("assemble_s", assembleS)
      if (tracer.traced) {
        layer("pipeline.resume_noop_s", resumeS)
        batchLayers(out, bomOut, assembleS, routed)
      }
      errs ++= checks.bom(spark, bomOut.resolve("bom").toString)
    }
    deleteTree(out)
    deleteTree(bomOut)
    errs.result()
  }

  /** The `Main assemble` shape; returns the rows routed. */
  private def assemble(extractDir: Path, outDir: Path): Long = {
    val ss = spark
    import ss.implicits._
    val extracted = ResumableExtract.readOutput(spark, extractDir.toString)
      .drop("bucket").as[ExtractedTurn]
    val convMeta = spark.read.parquet(inputDir.resolve("conv_meta").toString)
    val assembled = ExtractPipeline.assembleBom(extracted,
      spark.read.parquet(inputDir.resolve("drawings").toString), convMeta)
    tracer.span("validationSummary")(ExtractPipeline.validationSummary(assembled))
    val routed = ExtractPipeline.routed(assembled)
    tracer.span("routed.write") {
      routed.write.mode(SaveMode.Overwrite).partitionBy("row_type").parquet(s"$outDir/bom")
    }
    tracer.span("quarantined.write") {
      ExtractPipeline.quarantined(assembled).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/quarantine")
    }
    tracer.span("highWaterMarks.write") {
      ExtractPipeline.highWaterMarks(routed, convMeta).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/hwm")
    }
    spark.read.parquet(s"$outDir/bom").count()
  }

  /** Test hook: removes one row from the extract output, so the checks
    * must fail. */
  private def dropOneRow(table: Path): Unit = {
    val file = parquetFiles(table).head
    val tmp = root.resolve("work").resolve("corrupt")
    val df = spark.read.parquet(file.toString)
    df.limit((df.count() - 1).toInt).coalesce(1).write.parquet(tmp.toString)
    Files.delete(file)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    Files.move(parquetFiles(tmp).head, file)
    deleteTree(tmp)
  }

  // ── stream cycle: Main stream, backlog then increments ─────────────

  private def streamCycle(measure: Boolean): Unit = operation("stream", measure) {
    val dir = work("stream")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    parquetFiles(inputDir.resolve("transcripts")).foreach(f => Files.createLink(in.resolve(f.getFileName), f))
    val io = new ParquetTableIO(dir.resolve("tables").toString)
    val ckpt = dir.resolve("checkpoint").toString
    def catchUp(): Unit = tracer.span("StreamingExtract.runDurableAvailableNow") {
      StreamingExtract.runDurableAvailableNow(spark, in.toString, io, ckpt).awaitTermination()
    }
    val progress0 = tracer.progress.size
    val (_, backlogS) = seconds(catchUp())
    if (measure) record("stream_turns_per_s", corpus.turns.size / backlogS)
    if (measure && tracer.traced) streamLayers(progress0)
    // the warm-up lands one increment: enough to warm a restart from the checkpoint
    val incS = incs.indices.take(if (measure) incs.size else 1).map { k =>
      seconds {
        parquetFiles(inputDir.resolve("increments").resolve(s"k=$k"))
          .foreach(f => Files.copy(f, in.resolve(s"increment$k-${f.getFileName}")))
        catchUp()
      }._2
    }
    if (measure) incS.foreach(record("stream_increment_s", _))
    val errs = if (!measure) Nil
      else Checks.stream(spark, dir.resolve("tables").toString,
        corpus.turns.size + incs.map(_.turns.size).sum)
    deleteTree(dir)
    errs
  }

  // ── layers ─────────────────────────────────────────────────────────

  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def layer(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def batchLayers(out: Path, bomOut: Path, assembleS: Double,
                          routedRows: Long): Unit = {
    tracer.drain()
    val n = corpus.turns.size.toDouble
    val run = tracer.named("ResumableExtract.run").last
    val w = tracer.workUnder(run)
    val c = w.counters
    layer("kernel.cells_per_turn", c("graft.cellsOut") / n)
    layer("kernel.box_keep_ratio", 1.0 - c("graft.boxesDropped").toDouble / c("graft.boxesIn"))
    layer("kernel.block_keep_ratio",
      c("graft.blocksKept").toDouble / (c("graft.blocksKept") + c("graft.blocksDropped")))
    layer("pipeline.shuffle_bytes_per_turn", w.shuffleWriteBytes / n)
    layer("pipeline.output_files", parquetFiles(out.resolve(LineageStore.DataTable)).size)
    layer("pipeline.jobs", w.jobs)
    layer("pipeline.stages", w.stages)
    layer("spark.task_cpu_ms", w.cpuNs / 1e6)
    layer("spark.gc_ms", w.gcMs)
    layer("spark.spill_bytes", w.spillBytes)
    layer("spark.task_skew", tracer.kernelStageSkew(run))

    val asm = tracer.named("Main.assemble").last
    val aw = tracer.workUnder(asm)
    for ((metric, span) <- Seq("validation_s" -> "validationSummary",
      "routed_write_s" -> "routed.write", "quarantine_write_s" -> "quarantined.write",
      "hwm_write_s" -> "highWaterMarks.write"))
      layer(s"assemble.$metric", tracer.named(span).last.seconds)
    layer("assemble.exchanges", tracer.exchangesUnder(asm))
    layer("assemble.stages", aw.stages)
    layer("assemble.shuffle_bytes", aw.shuffleWriteBytes)
    layer("assemble.cpu_util", aw.runMs / 1e3 / (assembleS * args.cpus))
    layer("assemble.rows_routed", routedRows)
    layer("assemble.rows_quarantined", spark.read.parquet(s"$bomOut/quarantine").count())
  }

  private def streamLayers(progress0: Int): Unit = {
    tracer.drain()
    val ps = tracer.progress.slice(progress0, tracer.progress.size).map(_.progress)
      .filter(_.numInputRows > 0)
    def meanS(keys: String*): Double =
      ps.map(p => keys.map(k => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum).sum /
        1e3 / ps.size
    layer("streaming.batches", ps.size)
    layer("streaming.batch_s", meanS("triggerExecution"))
    layer("streaming.add_batch_s", meanS("addBatch"))
    layer("streaming.wal_commit_s", meanS("walCommit", "commitOffsets"))
    layer("streaming.planning_s", meanS("queryPlanning"))
  }

  /** The extract path built up stage by stage, each to a no-op sink:
    * scan; then `as[Turn]`; then the kernel; then placement and sort;
    * then the real parquet write. Each layer is the difference to the
    * stage before. A reference `ResumableExtract.run` sits between two
    * staged passes, whose times are averaged, so staged and reference
    * run see the same warmth; the lineage commit is the part of the
    * reference run outside its data write. */
  private def stagedExtract(): Unit = {
    val ss = spark
    import ss.implicits._
    def noop(df: DataFrame): Double =
      seconds(df.write.format("noop").mode(SaveMode.Overwrite).save())._2
    def extracted = ExtractPipeline.extract(turnsDs, new ExtractPipeline.Metrics(spark))
    def placed = {
      val withBucket = extracted.withColumn("bucket", ResumableExtract.bucketOf($"conv_id", Buckets))
      BucketLayout.exactRepartition(withBucket, $"bucket", Buckets)
        .sortWithinPartitions($"bucket", $"conv_id", $"turn_idx")
    }
    def pass(): Seq[Double] = {
      val dir = work("staged")
      val times = Seq(
        tracer.span("staged.scan")(noop(turnsDs.toDF())),
        tracer.span("staged.as[Turn]")(noop(turnsDs.mapPartitions(it => Iterator(it.size)).toDF())),
        tracer.span("staged.extract")(noop(extracted.toDF())),
        tracer.span("staged.place_sort")(noop(placed)),
        tracer.span("staged.write")(seconds(new ParquetTableIO(dir.toString,
          LineageStore.DataWriteOptions).overwritePartitions(placed, LineageStore.DataTable, "bucket"))._2))
      deleteTree(dir)
      times
    }
    val first = pass()
    val ref = work("reference")
    val (_, refS) = seconds(tracer.span("ResumableExtract.run(reference)") {
      ResumableExtract.run(spark, turnsDs, ref.toString, nBuckets = Buckets)
    })
    deleteTree(ref)
    val t = first.zip(pass()).map { case (a, b) => (a + b) / 2 }
    tracer.drain()
    val lineage = refS - tracer.writeSeconds(tracer.named("ResumableExtract.run(reference)").last,
      ref.resolve(LineageStore.DataTable).toString)
    layer("spark.scan_s", t(0))
    layer("model.turn_decode_s", t(1) - t(0))
    layer("kernel.spark_s", t(2) - t(1))
    layer("pipeline.place_sort_s", t(3) - t(2))
    layer("pipeline.write_s", t(4) - t(3))
    layer("pipeline.lineage_s", lineage)
    layer("trace.layer_sum_ratio", (t(4) + lineage) / refS)
  }

  /** Single-thread kernel and payload-decode cost per turn, by tool,
    * on turns of this run's corpus; no Spark. */
  private def kernelLayers(layers: mutable.Map[String, Double]): Unit = {
    val byTool = corpus.turns.groupBy(_.tool).map { case (t, ts) => t -> ts.take(4000).toArray }
    def usPerTurn(turns: Array[Turn])(f: Turn => Int): Double = {
      val reps = (0 until 6).map { _ =>
        var acc = 0
        val (_, s) = seconds(turns.foreach(t => acc += f(t)))
        if (acc == -1) Double.NaN else s * 1e6 / turns.length
      }
      median(reps.drop(1))
    }
    val ctr = new Extractor.Counters
    for (tool <- Corpus.tools) layers(s"kernel.us_per_turn.$tool") =
      usPerTurn(byTool(tool))(t => Extractor.extract(t, ctr).n_cells)
    val payloads = Corpus.tools.filter(_ != Tool.HtmlMain).flatMap(t => byTool(t)).toArray
    layers("model.decode_us_per_turn") = usPerTurn(payloads)(t => PayloadCodec.decode(t.text).boxes.length)
  }

  private def tracerLayers(layers: mutable.Map[String, Double]): Unit = {
    layerSamples.foreach { case (k, v) => layers(k) = median(v.toSeq) }
    layers("streaming.increment_s") = med("stream_increment_s")
    layers("trace.overhead_ratio") = med("cycle.traced_s") / med("cycle.untraced_s")
  }

  /** Single-thread kernel cost on a fixed corpus (the generator's seed,
    * 300 conversations), so a slow host window shows in every result. */
  private def calibrate(): Double = {
    val turns = (0 until 300).flatMap(c => TranscriptGen.convTurns(c)._1).toArray
    val ctr = new Extractor.Counters
    val reps = (0 until 3).map { _ =>
      val (_, s) = seconds(turns.foreach(t => Extractor.extract(t, ctr)))
      s * 1e6 / turns.length
    }
    reps.drop(1).min
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
