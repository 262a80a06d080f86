package graft

import graft.gen.TranscriptGen
import graft.model._
import graft.oracle.Oracle
import graft.pipeline.{ExtractPipeline, ResumableExtract}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Spark half of the per-turn-equality gate: pipeline output must
  * equal the plain-Scala oracle for every turn, independent of input
  * order and partitioning, and resume must be idempotent. */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private lazy val corpus = TranscriptGen.corpus(nConvs = 40)

  test("Spark extraction equals oracle per turn; accumulators populated") {
    import spark.implicits._
    val ds = spark.createDataset(corpus.turns).repartition(7) // arbitrary split
    val metrics = new ExtractPipeline.Metrics(spark)
    val got = ExtractPipeline.extract(ds, metrics, partitions = 8)
      .collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
    assert(got.size == corpus.turns.size)
    for (turn <- corpus.turns) {
      val e = got((turn.conv_id, turn.turn_idx))
      val (expText, expCells) = SparkSuite.oracleExtract(turn)
      assert(e.extracted_text == expText, s"${turn.conv_id}/${turn.turn_idx}")
      assert(e.cells.toSeq == expCells, s"${turn.conv_id}/${turn.turn_idx}")
    }
    assert(metrics.turns.value == corpus.turns.size)
    assert(metrics.cellsOut.value > 0 && metrics.boxesIn.value > 0)
  }

  test("accumulators keep the counts of a partition a limit stops early") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val k = 5
    val got = ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics)
      .limit(k).collect()
    assert(got.length == k)
    assert(metrics.turns.value >= k, s"turns=${metrics.turns.value} after limit($k)")
  }

  test("input permutation and partitioning never change per-turn output") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val perm = new scala.util.Random(99).shuffle(corpus.turns)
    val a = ExtractPipeline.extract(
      spark.createDataset(corpus.turns).repartition(3), metrics)
      .collect().map(e => (e.conv_id, e.turn_idx) -> (e.extracted_text, e.cells.toSeq)).toMap
    val b = ExtractPipeline.extract(
      spark.createDataset(perm).repartition(11), metrics, partitions = 5)
      .collect().map(e => (e.conv_id, e.turn_idx) -> (e.extracted_text, e.cells.toSeq)).toMap
    assert(a == b)
  }

  // ── BOM assembly vs oracle ─────────────────────────────────────────

  private def oracleDictFor(project: String, part: String): Seq[String] = {
    val re = "(?i)/([^/]+)\\.pdf$".r
    corpus.drawings.filter(d => d.project == project && d.part_number == part)
      .flatMap(d => re.findFirstMatchIn(d.drawing_link).map(_.group(1)))
      .map(n => java.net.URLDecoder.decode(n, "UTF-8"))
      .filter(_.nonEmpty)
  }

  test("Catalyst BOM assembly equals oracle assemble+number+route per conversation") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val extracted = ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics)
    val assembled = ExtractPipeline.assembleBom(
      extracted,
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF())
    val routedRows = ExtractPipeline.routed(assembled)
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("row_idx")) -> r)
      .toMap

    // oracle expectation, conversation by conversation
    val metaByConv = corpus.convMeta.map(m => m.conv_id -> m).toMap
    var convsWithRows = 0
    val expected = scala.collection.mutable.Map.empty[(String, Int), BomRow]
    for ((convId, turns) <- corpus.turns.groupBy(_.conv_id)) {
      val colCells: Map[String, Seq[Cell]] = turns
        .filter(t => t.tool == Tool.TableSimple)
        .flatMap { t =>
          val pl = PayloadCodec.decode(t.text)
          if (pl.col.nonEmpty) Some(pl.col -> Oracle.simpleCells(pl.boxes.toSeq)) else None
        }.toMap
      if (colCells.nonEmpty) {
        val meta = metaByConv(convId)
        val dict = oracleDictFor(meta.project, meta.part_number)
        val staged = Oracle.assemble(colCells, dict).map(_.copy(conv_id = convId))
        val (rows, _) = Oracle.gatedNumberAndRoute(staged, meta.last_item)
        if (rows.nonEmpty) convsWithRows += 1
        rows.foreach(r => expected((r.conv_id, r.row_idx)) = r)
      }
    }
    assert(convsWithRows > 0, "fixture must produce at least one BOM conversation")
    assert(routedRows.keySet == expected.keySet)
    for ((key, r) <- routedRows) {
      val e = expected(key)
      assert(r.getAs[Long]("item_number") == e.item_number, s"item @$key")
      assert(r.getAs[String]("row_type") == e.row_type, s"type @$key")
      assert(r.getAs[String]("matched") == e.matched, s"matched @$key")
      assert(r.getAs[String]("quantity") == e.quantity, s"qty @$key")
      assert(r.getAs[String]("description") == e.description, s"desc @$key")
      assert(r.getAs[String]("material") == e.material, s"mat @$key")
      assert(r.getAs[String]("ocr_warning") == e.ocr_warning, s"warning @$key")
    }
  }

  test("quarantine holds exactly the oracle-invalid conversations; disjoint from routed") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val assembled = ExtractPipeline.assembleBom(
      ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics),
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF()).cache()
    val routedConvs = ExtractPipeline.routed(assembled)
      .select("conv_id").distinct().as[String].collect().toSet
    val quarantinedConvs = ExtractPipeline.quarantined(assembled)
      .select("conv_id").distinct().as[String].collect().toSet
    assert(routedConvs.intersect(quarantinedConvs).isEmpty)

    val metaByConv = corpus.convMeta.map(m => m.conv_id -> m).toMap
    val expectedInvalid = scala.collection.mutable.Set.empty[String]
    for ((convId, turns) <- corpus.turns.groupBy(_.conv_id)) {
      val colCells = turns.filter(_.tool == Tool.TableSimple).flatMap { t =>
        val pl = PayloadCodec.decode(t.text)
        if (pl.col.nonEmpty) Some(pl.col -> Oracle.simpleCells(pl.boxes.toSeq)) else None
      }.toMap
      if (colCells.nonEmpty) {
        val meta = metaByConv(convId)
        val staged = Oracle.assemble(colCells, oracleDictFor(meta.project, meta.part_number))
        if (!Oracle.validate(staged)._1) expectedInvalid += convId
      }
    }
    assert(quarantinedConvs == expectedInvalid.toSet)
    assert(quarantinedConvs.nonEmpty, "fixture must exercise the quarantine path")
  }

  test("high-water marks advance to max emitted item per conversation") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val extracted = ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics)
    val assembled = ExtractPipeline.assembleBom(extracted,
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF())
    val routed = ExtractPipeline.routed(assembled).cache()
    val hwm = ExtractPipeline.highWaterMarks(routed,
      spark.createDataset(corpus.convMeta).toDF())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxEmitted = routed.groupBy("conv_id").agg(max("item_number"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (m <- corpus.convMeta) {
      val exp = math.max(m.last_item, maxEmitted.getOrElse(m.conv_id, 0L))
      assert(hwm(m.conv_id) == exp, m.conv_id)
    }
  }

  test("assembleBom materializes once: routed and quarantined scan its checkpoint") {
    import spark.implicits._
    val assembled = ExtractPipeline.assembleBom(
      ExtractPipeline.extract(spark.createDataset(corpus.turns), new ExtractPipeline.Metrics(spark)),
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF())
    for ((name, df) <- Seq("routed" -> ExtractPipeline.routed(assembled),
        "quarantined" -> ExtractPipeline.quarantined(assembled))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), s"$name does not read the checkpoint:\n$p")
      assert(!p.contains("Exchange"), s"$name re-shuffles:\n$p")
      assert(!p.contains("MapPartitions"), s"$name re-runs the kernel:\n$p")
    }
  }

  test("salted repartition spreads one giant conversation across all partitions") {
    import spark.implicits._
    // one conversation dominating the input — the heavy-tail case the
    // salt exists for (plain conv_id partitioning would put all 20k
    // turns in ONE task)
    val giant = (0 until 20000).map { i =>
      corpus.turns.head.copy(conv_id = "conv-giant", turn_idx = i)
    }
    val ds = spark.createDataset(giant ++ corpus.turns.take(100))
    val metrics = new ExtractPipeline.Metrics(spark)
    val perPartition = ExtractPipeline
      .extract(ds, metrics, partitions = 16)
      .toDF()
      .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perPartition.size == 16, s"all partitions must carry work: $perPartition")
    val mean = perPartition.values.sum.toDouble / perPartition.size
    assert(perPartition.values.max < mean * 2,
      s"giant conversation must not concentrate: $perPartition")
  }

  test("C2 re-upload: latest same-label turn replaces the WHOLE column") {
    import spark.implicits._
    def et(turnIdx: Int, label: String, cells: Seq[Cell]) =
      ExtractedTurn("conv-c2", turnIdx, "tool", Tool.TableSimple, label,
        "", cells.toArray, cells.length, cells.length)
    val extracted = spark.createDataset(Seq(
      et(0, "PartNumber", Seq(Cell("DWG-100", 0.9), Cell("DWG-200", 0.9), Cell("DWG-300", 0.9))),
      et(1, "Quantity", Seq(Cell("7", 0.9), Cell("8", 0.9), Cell("9", 0.9))),
      // re-upload of Quantity at turn 5: SHORTER column, must fully
      // replace turn 1's — no stale tail cells at pos 1/2
      et(5, "Quantity", Seq(Cell("42", 0.95)))))
    val meta = Seq(("conv-c2", "projE", "partE", 0L))
      .toDF("conv_id", "project", "part_number", "last_item")
    val assembled = ExtractPipeline.assembleBom(extracted,
      spark.createDataset(corpus.drawings).toDF(), meta)
    val qtyByPos = assembled
      .select($"row_idx", $"quantity")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(qtyByPos(0) == "42")
    assert(qtyByPos(1) == "", "stale tail cell must not survive re-upload")
    assert(qtyByPos(2) == "")
  }

  test("C1 manual-match precedence: input matched column suppresses re-classification") {
    import spark.implicits._
    def et(label: String, cells: Seq[Cell]) =
      ExtractedTurn("conv-m", 0, "tool", Tool.TableSimple, label,
        "", cells.toArray, cells.length, cells.length)
    // part "DWG-100" auto-matches the dict exactly; row 1 ("ZZZ") would
    // auto-classify BO+review
    val extracted = spark.createDataset(Seq(
      et("PartNumber", Seq(Cell("DWG-100", 0.9), Cell("ZZZ", 0.9))),
      et("Quantity", Seq(Cell("1", 0.9), Cell("2", 0.9)))))
    val meta = Seq(("conv-m", "projE", "partE", 0L))
      .toDF("conv_id", "project", "part_number", "last_item")
    val manual = Seq(("conv-m", 0, "HAND-SET", "BO"))
      .toDF("conv_id", "row_idx", "matched", "row_type")
    val out = ExtractPipeline.assembleBom(extracted,
        spark.createDataset(corpus.drawings).toDF(), meta, Some(manual))
      .select($"row_idx", $"matched", $"row_type", $"needs_review", $"similarity")
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3), r.getDouble(4))).toMap
    // row 0: manual wins over the exact auto-match; similarity still stored
    assert(out(0) == (("HAND-SET", "BO", false, 1.0)))
    // row 1: no manual row → normal auto-classification (BO + review)
    val (m1, t1, rev1, sim1) = out(1)
    assert(m1 == "ZZZ" && t1 == "BO" && rev1 && sim1 == 0.0)
  }

  test("validation summary reports missing columns in first-seen row order") {
    import spark.implicits._
    // (convA, row0) misses only Quantity; (convB, row0) misses only
    // Type — first-seen order is (Quantity, Type), NOT check order
    val assembled = Seq(
      ("convA", 0, Seq("Quantity"), false, false),
      ("convB", 0, Seq("Type"), false, true))
      .toDF("conv_id", "row_idx", "missing", "invalid_qty", "emit")
    val (_, msgs) = ExtractPipeline.validationSummary(assembled)
    assert(msgs == Seq("(Quantity, Type)"))
    // and within one row, tie-break follows the reference's fixed
    // per-row check sequence Type, Part Number, Quantity
    val oneRow = Seq(("convA", 0, Seq("Quantity", "Type"), false, false))
      .toDF("conv_id", "row_idx", "missing", "invalid_qty", "emit")
    assert(ExtractPipeline.validationSummary(oneRow)._2 == Seq("(Type, Quantity)"))
  }

  // ── resume / idempotence ───────────────────────────────────────────

  test("resumable run: crash-rewrite is idempotent; second run is a no-op") {
    import spark.implicits._
    val dirA = tempDir("graft_a")
    val dirB = tempDir("graft_b")
    val turns = spark.createDataset(corpus.turns)

    val processedA = ResumableExtract.run(spark, turns, dirA, nBuckets = 4)
    assert(processedA == Set(0, 1, 2, 3))
    val again = ResumableExtract.run(spark, turns, dirA, nBuckets = 4)
    assert(again.isEmpty, "completed run must be a no-op")

    // dirB: simulate a crash — run fully, then delete the lineage rows
    // and corrupt the data of two buckets; resume must rewrite exactly
    // those buckets and converge to dirA's content
    ResumableExtract.run(spark, turns, dirB, nBuckets = 4)
    spark.read.parquet(s"$dirB/lineage").filter(col("partition_id").isin(0, 1))
      .write.mode("overwrite").parquet(s"$dirB/lineage_tmp")
    // rewrite lineage dir with only buckets 0,1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dirB/lineage"))
    spark.read.parquet(s"$dirB/lineage_tmp").write.parquet(s"$dirB/lineage")
    // corrupt bucket 2 and 3 data (stale partial output from the "crash")
    for (b <- Seq(2, 3)) {
      val d = new java.io.File(s"$dirB/data/bucket=$b")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val resumed = ResumableExtract.run(spark, turns, dirB, nBuckets = 4)
    assert(resumed == Set(2, 3))

    def snapshot(dir: String) =
      spark.read.parquet(s"$dir/data")
        .select("conv_id", "turn_idx", "extracted_text")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(snapshot(dirA) == snapshot(dirB))
    assert(snapshot(dirA).size == corpus.turns.size)
  }

  test("lineage boxes_dropped is a per-bucket metric derived from the bucket's rows") {
    import spark.implicits._
    val dir = tempDir("graft_lin")
    val turns = spark.createDataset(corpus.turns)
    ResumableExtract.run(spark, turns, dir, nBuckets = 4)
    val lineage = spark.read.parquet(s"$dir/lineage")
      .select("partition_id", "boxes_dropped")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // ground truth: a fresh extraction run's accumulator total
    val metrics = new ExtractPipeline.Metrics(spark)
    ExtractPipeline.extract(turns, metrics).foreach((_: ExtractedTurn) => ())
    assert(lineage.values.sum == metrics.boxesDropped.value)
    assert(metrics.boxesDropped.value > 0, "corpus must exercise dropped boxes")
    // the run-global-constant bug would stamp the same value in every
    // bucket; real per-bucket counts differ
    assert(lineage.values.toSet.size > 1, s"per-bucket values must differ: $lineage")
  }

  test("default extraction shuffles ZERO bytes: the kernel runs on scan partitions") {
    // the load-bearing 100 TB property: raw turn payloads never cross
    // the network — the kernel consumes scan partitions in place, and
    // salting (partitions > 0) is an opt-in for skewed corpora. A
    // regression that slips a repartition/sort before the kernel would
    // ship the full corpus through a shuffle.
    import spark.implicits._
    val in = tempDir("graft_noshuffle")
    spark.createDataset(corpus.turns).repartition(4)
      .write.mode("overwrite").parquet(in)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    withListener(listener) {
      val metrics = new ExtractPipeline.Metrics(spark)
      ExtractPipeline.extract(
        spark.read.parquet(in).as[Turn], metrics, partitions = 0)
        .foreach(_ => ()) // foreach: an agg would add its own exchange
    }
    assert(shuffleBytes.get() == 0,
      s"extraction shuffled ${shuffleBytes.get()} bytes — payloads crossed the wire")
  }

  // ── lineage observed on the data write ─────────────────────────────

  test("BucketStatsAgg.compare is Spark's UTF-8 string order, not String.compareTo") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(5)
    // ASCII, Latin-1, the U+E000–U+FFFF block and surrogate pairs
    val alphabet = Seq("a", "z", "é", "～", "", "😀", "𐀀", "𝔸")
    val strs = Seq.fill(400)(Seq.fill(rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    for (a <- strs; b <- strs.take(40))
      assert(math.signum(graft.pipeline.BucketStatsAgg.compare(a, b)) ==
        math.signum(UTF8String.fromString(a).compareTo(UTF8String.fromString(b))), s"$a vs $b")
    assert("😀".compareTo("～") < 0, "UTF-16 order puts the pair first")
    assert(graft.pipeline.BucketStatsAgg.compare("😀", "～") > 0)
  }

  test("lineage rows equal a read-back of the written data (16 buckets, empty bucket, UTF-8 order)") {
    import spark.implicits._
    val n = 16
    val dir = tempDir("graft_lin_rb")
    def bucketOf(ids: Seq[String]): Map[String, Int] =
      ids.toDF("id").select($"id", ResumableExtract.bucketOf($"id", n))
        .as[(String, Int)].collect().toMap
    val byConv = bucketOf(corpus.turns.map(_.conv_id).distinct)
    // two ids whose UTF-16 and UTF-8 orders differ, hashed into one bucket
    val cands = bucketOf((0 until 200).flatMap(i => Seq(s"～$i", s"😀$i")))
    val (wide, narrow) = (0 until 200).iterator
      .flatMap(i => (0 until 200).iterator.map(j => (s"😀$i", s"～$j")))
      .find { case (a, b) => cands(a) == cands(b) }.get
    val shared = cands(wide)
    // one bucket (not the shared one) left empty: no turn hashes into it
    val empty = (0 until n).find(_ != shared).get
    val convs = corpus.turns.map(_.conv_id).distinct.sorted
    val donorA = corpus.turns.filter(_.conv_id == convs(0)).map(_.copy(conv_id = wide))
    val donorB = corpus.turns.filter(_.conv_id == convs(1)).map(_.copy(conv_id = narrow))
    val turns = corpus.turns.filter(t => byConv(t.conv_id) != empty) ++ donorA ++ donorB
    ResumableExtract.run(spark, spark.createDataset(turns), dir, nBuckets = n)

    val cols = Seq("conv_min", "conv_max", "turns_done", "cells_emitted", "boxes_dropped")
    val lineage = spark.read.parquet(s"$dir/lineage")
      .select("partition_id", cols: _*).as[(Int, String, String, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // the stats query the lineage used to run over the written data
    val readBack = spark.read.parquet(s"$dir/data")
      .groupBy($"bucket")
      .agg(min($"conv_id"), max($"conv_id"), count(lit(1)),
        sum($"n_cells").cast("long"), sum($"n_dropped").cast("long"))
      .as[(Int, String, String, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(!readBack.contains(empty))
    assert(lineage.keySet == (0 until n).toSet)
    assert(lineage(empty) == ((empty, "", "", 0L, 0L, 0L)), "an empty bucket keeps its row")
    assert(lineage - empty == readBack)
    assert(lineage(shared)._3 == wide, s"conv_max of bucket $shared: ${lineage(shared)._3}")
    assert(spark.read.parquet(s"$dir/lineage").select("n_buckets").as[Int].collect()
      .forall(_ == n))
  }

  test("a fresh run submits no job that scans the data table after the write") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val dir = tempDir("graft_jobs")
    val dataPath = s"$dir/data"
    def scans(p: SparkPlanInfo): Boolean =
      p.metadata.get("Location").exists(_.contains(dataPath)) || p.children.exists(scans)
    val dataScans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val scanJobs = new java.util.concurrent.atomic.AtomicInteger()
    // SQL execution starts precede their jobs on the bus, which
    // delivers in order: each job's execution is classified already
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if scans(s.sparkPlanInfo) =>
          dataScans.add(s.executionId.toString): Unit
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == "lineage-run")) {
          jobs.incrementAndGet()
          if (props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .exists(dataScans.contains)) scanJobs.incrementAndGet()
        }
      }
    }
    withListener(listener) {
      sc.setJobGroup("lineage-run", "resumable run, fresh output")
      try ResumableExtract.run(spark, spark.createDataset(corpus.turns), dir, nBuckets = 4)
      finally sc.clearJobGroup()
    }
    assert(jobs.get() > 0, "the run's jobs were not seen")
    assert(scanJobs.get() == 0,
      s"${scanJobs.get()} of ${jobs.get()} jobs scanned $dataPath after writing it")
  }

  test("a write task retried after a failure counts its rows once (child JVM, local[4,2])") {
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft_retry")
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", sys.props("java.class.path"), "graft.WriteRetryChild", root)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    val result = out.find(_.startsWith("RESULT ")).getOrElse(fail(out.takeRight(40).mkString("\n")))
    val kv = result.stripPrefix("RESULT ").split(" ").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    assert(kv("thrown") == "1", result)
    assert(kv("rows") == corpus.turns.size.toString, result)
    assert(kv("turns_done") == kv("rows"), result)
    assert(kv("clean_rows") == kv("rows"), result)
    assert(kv("same_rows") == "true", result)
    assert(kv("same_lineage") == "true", result)
  }

  test("a resume whose pending buckets hold no turns still commits their lineage rows") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val dir = tempDir("graft_empty_pending")
    val turns = spark.createDataset(TranscriptGen.corpus(nConvs = 3).turns)
    ResumableExtract.run(spark, turns, dir, nBuckets = 16)
    val lineage = spark.read.parquet(s"$dir/lineage")
    val empty = lineage.filter($"turns_done" === 0).select("partition_id").as[Int].collect().toSet
    assert(empty.nonEmpty, "3 conversations must leave some of 16 buckets empty")
    lineage.filter(!$"partition_id".isin(empty.toSeq: _*)).write.parquet(s"$dir/lineage_kept")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/lineage"))
    new java.io.File(s"$dir/lineage_kept").renameTo(new java.io.File(s"$dir/lineage"))
    // the observation must complete on a write of zero rows, not block
    val resumed = Await.result(Future(ResumableExtract.run(spark, turns, dir, nBuckets = 16))(
      scala.concurrent.ExecutionContext.global), 120.seconds)
    assert(resumed == empty)
    val after = spark.read.parquet(s"$dir/lineage")
    assert(after.count() == 16)
    assert(after.filter($"partition_id".isin(empty.toSeq: _*)).select("turns_done").as[Long]
      .collect().forall(_ == 0L))
  }

  test("resume refuses a changed bucket count: 4 buckets, then 8") {
    import spark.implicits._
    val dir = tempDir("graft_nb")
    val turns = spark.createDataset(corpus.turns)
    ResumableExtract.run(spark, turns, dir, nBuckets = 4)
    val e = intercept[IllegalStateException](ResumableExtract.run(spark, turns, dir, nBuckets = 8))
    assert(e.getMessage.contains("4 buckets") && e.getMessage.contains("asks for 8") &&
      e.getMessage.contains(dir), e.getMessage)
    assert(spark.read.parquet(s"$dir/data").count() == corpus.turns.size, "nothing rewritten")
  }

  test("resume refuses a lineage table that records no bucket count") {
    import spark.implicits._
    val dir = tempDir("graft_nb_old")
    val turns = spark.createDataset(corpus.turns)
    ResumableExtract.run(spark, turns, dir, nBuckets = 4)
    // the lineage layout before n_buckets was recorded
    spark.read.parquet(s"$dir/lineage").drop("n_buckets")
      .write.parquet(s"$dir/lineage_old")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/lineage"))
    new java.io.File(s"$dir/lineage_old").renameTo(new java.io.File(s"$dir/lineage"))
    val e = intercept[IllegalStateException](ResumableExtract.run(spark, turns, dir, nBuckets = 4))
    assert(e.getMessage.contains("re-run into a fresh output"), e.getMessage)
  }

  test("each bucket is placed on one write task: one file per bucket, fresh run and resume") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val n = 16
    val dir = tempDir("graft_one_file")
    val turns = spark.createDataset(corpus.turns)
    // bucket -> names of the parquet files under data/bucket=K/
    def files(): Map[Int, Set[String]] =
      new java.io.File(s"$dir/data").listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName.stripPrefix("bucket=").toInt ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    val plan = executions {
      assert(ResumableExtract.run(spark, turns, dir, nBuckets = n) == (0 until n).toSet)
    }.map(_._2.executedPlan).find(_.toString.contains(s"$dir/data"))
      .getOrElse(fail("the data write was not seen"))

    val withTurns = spark.read.parquet(s"$dir/lineage").filter($"turns_done" > 0)
      .select("partition_id").as[Int].collect().toSet
    assert(withTurns.size > 2)
    val fresh = files()
    assert(fresh.keySet == withTurns && fresh.values.forall(_.size == 1), fresh)

    // the write's one exchange passes the bucket id through as the
    // partition id: no hash over a probe lookup
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan.treeString)
    assert(exchanges.head.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough],
      plan.treeString)

    // drop two buckets' lineage rows and data: the resume rewrites
    // exactly those two, one file each, and leaves the others' files
    val lost = withTurns.toSeq.sorted.take(2)
    spark.read.parquet(s"$dir/lineage").filter(!$"partition_id".isin(lost: _*))
      .write.parquet(s"$dir/lineage_kept")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/lineage"))
    new java.io.File(s"$dir/lineage_kept").renameTo(new java.io.File(s"$dir/lineage"))
    for (b <- lost)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/data/bucket=$b"))
    assert(ResumableExtract.run(spark, turns, dir, nBuckets = n) == lost.toSet)
    val resumed = files()
    assert(resumed.keySet == withTurns && resumed.values.forall(_.size == 1), resumed)
    assert(resumed -- lost == fresh -- lost)
  }
}
