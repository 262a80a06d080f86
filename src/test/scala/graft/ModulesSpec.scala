package graft

import graft.operators.Multimodal
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing + Structured Streaming parity with the batch
  * pipeline. */
class ModulesSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Sums every finished task's `graft.turns` accumulator update into `counted`. */
  private def turnsCounter(counted: java.util.concurrent.atomic.AtomicLong) =
    new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.filter(_.name.contains("graft.turns"))
          .foreach(_.update.foreach(u => counted.addAndGet(u.asInstanceOf[Long])))
    }

  test("canonicalUrl: adversarial crawl-URL shapes collapse to the right key") {
    import graft.operators.Dedup
    val cases = Seq(
      // scheme/case/www/port/query/fragment/index/trailing-slash soup
      "HTTPS://WWW.Site.COM:443/A/b/?x=1#f" -> "site.com/A/b",
      "http://site.com" -> "site.com", // no path at all
      "site.com/index.html" -> "site.com", // scheme-less input
      "http://site.com?q=1" -> "site.com", // path-less query must not join the host
      "http://site.com#frag" -> "site.com", // path-less fragment likewise
      "http://www.site.com:80/" -> "site.com",
      "ftp://Site.com/Path/INDEX" -> "site.com/Path/INDEX", // path case preserved
      "https://w3.site.com/a" -> "w3.site.com/a", // only a LEADING www. strips
      "http://site.com:8080/a" -> "site.com:8080/a" // non-default port kept
    )
    val df = spark.createDataFrame(cases).toDF("raw", "expected")
      .withColumn("canon", Dedup.canonicalUrl(col("raw")))
    val bad = df.filter(col("canon") =!= col("expected")).collect()
    assert(bad.isEmpty, bad.map(r =>
      s"${r.getString(0)} -> ${r.getString(2)} (want ${r.getString(1)})").mkString("; "))
  }

  test("media table: binary column round-trips the utf-8 payload; typed metadata") {
    val rows = Multimodal.mediaTable(spark, sfDir).limit(50).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val id = r.getAs[Long]("doc_id")
      val bytes = r.getAs[Array[Byte]]("bytes")
      assert(bytes.nonEmpty)
      val kinds = Seq("image", "audio", "video")
      assert(r.getAs[String]("kind") == kinds((id % 3).toInt))
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Int]("width") == (64 + id % 512).toInt)
    }
  }

  test("real PNG codec round-trip: every decoded pixel equals the generator formula") {
    import graft.operators.Multimodal.ImageCodec
    // boundary sizes (all (w,h) residues) + a large id; per-pixel
    // equality, not just sums — the m5 oracle checks sums, this pins
    // the stronger invariant locally
    for (id <- (0L to 40L) ++ Seq(999999L, 123456789L)) {
      val bytes = ImageCodec.encodePng(id)
      assert(bytes.length > 8 && (bytes(1) & 0xFF) == 'P'.toInt, "not a PNG")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img.getWidth == ImageCodec.widthOf(id))
      assert(img.getHeight == ImageCodec.heightOf(id))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        assert(((p >> 16) & 0xFF) == ImageCodec.pixel(id, x, y, 0), s"r($id,$x,$y)")
        assert(((p >> 8) & 0xFF) == ImageCodec.pixel(id, x, y, 1), s"g($id,$x,$y)")
        assert((p & 0xFF) == ImageCodec.pixel(id, x, y, 2), s"b($id,$x,$y)")
      }
    }
  }

  test("aHash: decoded-bytes hash equals the formula reference; planted dups collide") {
    import graft.operators.Multimodal.{ImageCodec, PHash}
    // independent scalar reference straight from the pixel formula —
    // if the decode, grid sampling, integer mean, or bit packing in
    // PHash.aHash drifts, this catches it without the oracle
    def refHash(mid: Long): (Long, Long) = {
      val w = ImageCodec.widthOf(mid); val h = ImageCodec.heightOf(mid)
      val v = Array.tabulate(64) { i =>
        val gx = (i % 8) * w / 8; val gy = (i / 8) * h / 8
        (ImageCodec.pixel(mid, gx, gy, 0) + ImageCodec.pixel(mid, gx, gy, 1) +
          ImageCodec.pixel(mid, gx, gy, 2)) / 3
      }
      val mean = v.map(_.toLong).sum / 64
      val bits = v.map(x => if (x > mean) 1L else 0L)
      ((32 until 64).map(i => bits(i) << (i - 32)).sum,
        (0 until 32).map(i => bits(i) << i).sum)
    }
    def decoded(mid: Long) = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageCodec.encodePng(mid)))
    for (doc <- 0L to 50L) {
      val mid = PHash.mediaId(doc)
      val got = PHash.aHash(decoded(mid))
      assert(got == refHash(mid), s"doc $doc")
      assert(got._1 >= 0 && got._1 < (1L << 32) &&
        got._2 >= 0 && got._2 < (1L << 32), "halves must be sign-free")
    }
    // planted near-dups: doc_ids congruent mod 160 carry pixel-identical
    // images (mediaId period lcm(256,8,5)=1280 over the ×24 spacing) —
    // the d14 dup classes must exist by construction at every sf
    for (doc <- 0L to 9L)
      assert(PHash.aHash(decoded(PHash.mediaId(doc))) ==
        PHash.aHash(decoded(PHash.mediaId(doc + 160L))), s"doc $doc vs ${doc + 160}")
    // and distinct content does separate (not a constant hash)
    assert((0L to 9L).map(d => PHash.aHash(decoded(PHash.mediaId(d)))).distinct.size > 5)
  }

  test("corrupt media bytes: decoders drop-and-return-None, never crash") {
    import graft.operators.Multimodal.{AudioCodec, ImageCodec, VideoCodec}
    val garbage = Seq(Array.empty[Byte], Array[Byte](1, 2, 3),
      "not an image".getBytes("UTF-8"),
      ImageCodec.encodePng(7L).take(20), // truncated header
      AudioCodec.encodeWav(7L).take(10),
      VideoCodec.encodeGif(7L).take(12))
    for (g <- garbage) {
      assert(ImageCodec.decodeSums(g).isEmpty)
      assert(AudioCodec.decodeStats(g).isEmpty)
      assert(VideoCodec.decodeFrameSums(g).isEmpty)
    }
    // and genuine payloads still decode
    assert(ImageCodec.decodeSums(ImageCodec.encodePng(7L)).isDefined)
    assert(AudioCodec.decodeStats(AudioCodec.encodeWav(7L)).isDefined)
    assert(VideoCodec.decodeFrameSums(VideoCodec.encodeGif(7L)).isDefined)
  }

  test("real animated-GIF codec round-trip: every decoded frame pixel equals the formula") {
    import graft.operators.Multimodal.VideoCodec
    // all (w, h, nFrames) residues + a large id; per-pixel per-frame
    // equality — the m7 oracle checks per-frame sums, this pins the
    // stronger invariant locally (the GIF palette round-trip must be
    // EXACT: a quantizing encoder would still often pass a sums check)
    for (id <- (0L to 40L) ++ Seq(999999L, 123456789L)) {
      val bytes = VideoCodec.encodeGif(id)
      assert(new String(bytes, 0, 6, "US-ASCII") == "GIF89a", "not an animated GIF")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      assert(reader.getNumImages(true) == VideoCodec.nFramesOf(id))
      for (f <- 0 until VideoCodec.nFramesOf(id)) {
        val img = reader.read(f)
        assert(img.getWidth == VideoCodec.widthOf(id))
        assert(img.getHeight == VideoCodec.heightOf(id))
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
          assert((img.getRGB(x, y) & 0xFF) == VideoCodec.pixel(id, f, x, y),
            s"pixel($id, f=$f, $x, $y)")
      }
      reader.dispose()
    }
  }

  test("real WAV codec round-trip: every decoded sample equals the generator formula") {
    import graft.operators.Multimodal.AudioCodec
    for (id <- (0L to 20L) ++ Seq(127L, 999999L)) {
      val bytes = AudioCodec.encodeWav(id)
      assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF", "not a WAV")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val pcm = ais.readAllBytes()
      assert(pcm.length / 2 == AudioCodec.nSamplesOf(id))
      for (i <- 0 until pcm.length / 2) {
        val v = (((pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xFF))).toShort.toInt
        assert(v == AudioCodec.sample(id, i), s"sample($id, $i)")
      }
    }
  }

  test("feature extraction: deterministic, pooled, stable across partitioning") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val a = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    val b = Multimodal.extractFeatures(media.repartition(7)).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    assert(a == b)
    assert(a.values.forall(_.length == 16))
    // content-sensitive: distinct payloads ⇒ (almost surely) distinct features
    assert(a.values.toSeq.distinct.size > a.size / 2)
    // pinned value: codec must stay deterministic across refactors
    val probe = new Multimodal.FakeCodec().decodeFeature("abc".getBytes("UTF-8"), 4)
    assert(probe.length == 4)
    assert(new Multimodal.FakeCodec().decodeFeature("abc".getBytes("UTF-8"), 4)
      .toSeq == probe.toSeq)
  }

  test("resize halves metadata dimensions with a floor, keeps payload") {
    val out = Multimodal.resizeMeta(Multimodal.mediaTable(spark, sfDir))
      .select(col("doc_id"), col("meta.width"), col("meta.height")).limit(20).collect()
    for (r <- out) {
      val id = r.getLong(0)
      assert(r.getInt(1) == math.max(16, ((64 + id % 512) / 2).toInt))
    }
  }

  test("streaming session windows under readStream match batch session_window") {
    import spark.implicits._
    val in = tempDir("graft_sess_in")
    // remap timestamps into bursts: 5 turns 1 s apart, then a 1 h gap —
    // multiple sessions per conversation at the 10-minute gap, and a
    // conversation's turns scatter across files/triggers so the state
    // store must MERGE partial sessions
    val base = 1767225600000L
    val turns = graft.gen.TranscriptGen.corpus(nConvs = 10).turns
      .filter(_.turn_idx < 40)
      .map(t => t.copy(ts = new java.sql.Timestamp(
        base + (t.turn_idx / 5) * 3600000L + t.turn_idx * 1000L)))
    spark.createDataset(turns).repartition(3).write.mode("overwrite").parquet(in)

    val counted = new java.util.concurrent.atomic.AtomicLong
    val expected = withListener(turnsCounter(counted)) {
      val q = StreamingExtract.sessionMetrics(spark, in).writeStream
        .format("memory").queryName("sess_out").outputMode("append").start()
      q.processAllAvailable()
      // append mode: nothing may emit until the watermark passes a
      // session close — the 48 h delay exceeds the whole corpus span
      assert(spark.table("sess_out").isEmpty)
      // one far-future sentinel advances the watermark past every real
      // session; its own session is never emitted (the watermark never
      // passes it), so the flushed output is exactly the real sessions
      val sentinel = turns.head.copy(conv_id = "sentinel",
        ts = new java.sql.Timestamp(base + 365L * 24 * 3600000L))
      spark.createDataset(Seq(sentinel)).coalesce(1).write.mode("append").parquet(in)

      def batchTwin = {
        val ctr2 = () => new graft.kernel.Extractor.Counters
        spark.createDataset(turns)
          .mapPartitions { it =>
            val ctr = ctr2()
            it.map(t => (t.ts, t.conv_id, graft.kernel.Extractor.extract(t, ctr).n_cells))
          }
          .toDF("ts", "conv_id", "n_cells")
          .groupBy(session_window(col("ts"), "10 minutes"), col("conv_id"))
          .agg(count(lit(1)).as("turns"), sum(col("n_cells")).as("cells"))
          .select(col("session_window.start"), col("session_window.end"),
            col("conv_id"), col("turns"), col("cells"))
          .collect()
          .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
            r.getString(2), r.getLong(3), r.getLong(4))).toSet
      }
      val expected = batchTwin
      // the post-watermark flush may land in a trailing no-data batch;
      // poke the stream until the output is complete
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sess_out").count() < expected.size &&
          System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
      q.stop()
      expected
    }
    // the kernel counters flush per task: every turn read (the corpus
    // plus the sentinel) is counted at least once
    assert(counted.get() >= turns.size + 1,
      s"graft.turns summed ${counted.get()} over ${turns.size + 1} turns read")
    val got = spark.table("sess_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
    // the remap really produced multi-session conversations
    assert(expected.size > turns.map(_.conv_id).distinct.size,
      "corpus must yield multiple sessions per conversation")
  }

  test("linear-counting sketch: estimate within 15% of exact distinct count") {
    // the ln() estimate is deliberately NOT an output column (float
    // cross-engine parity); this spec is where the sketch's accuracy
    // contract lives
    val rows = SparkEntry.queries("a8_linear_count")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val m = r.getAs[Long]("m").toDouble
      val occ = r.getAs[Long]("occupied").toDouble
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val est = -m * math.log((m - occ) / m)
      assert(math.abs(est - exact) / exact < 0.15,
        s"linear-count estimate $est too far from exact $exact (occupied=$occ)")
    }
  }

  test("durable streaming sink: batch-id overwrite makes replayed batches idempotent") {
    import spark.implicits._
    val root = tempDir("graft_durable")
    val in = s"$root/in"
    val io = new graft.pipeline.ParquetTableIO(s"$root/tables")
    val turns = graft.gen.TranscriptGen.corpus(nConvs = 8).turns
    spark.createDataset(turns).repartition(2).write.mode("overwrite").parquet(in)

    val q = StreamingExtract.runDurableAvailableNow(spark, in, io, s"$root/ckpt")
    q.awaitTermination()
    val data = io.read(spark, StreamingExtract.StreamDataTable)
    assert(data.count() == turns.size)
    val lineage = io.read(spark, StreamingExtract.StreamLineageTable)
    assert(lineage.count() >= 1)
    assert(lineage.agg(sum("n_rows")).head().getLong(0) == turns.size)

    // crash-replay: re-commit batch 0's exact payload — the partition
    // overwrite must leave table contents unchanged (no duplicates),
    // and the LINEAGE must stay idempotent too: a replayed batch
    // rewrites its own lineage row, so sum(n_rows) still equals table
    // contents and no batch_id appears twice
    val batch0 = data.filter(col("batch_id") === 0L)
      .drop("batch_id").as[graft.model.ExtractedTurn]
    StreamingExtract.commitBatch(io, batch0, 0L)
    assert(io.read(spark, StreamingExtract.StreamDataTable).count() == turns.size)
    val lineageAfter = io.read(spark, StreamingExtract.StreamLineageTable)
    assert(lineageAfter.agg(sum("n_rows")).head().getLong(0) == turns.size,
      "replayed batch duplicated its lineage row")
    assert(lineageAfter.groupBy("batch_id").count()
      .filter(col("count") > 1).count() == 0)

    // incremental catch-up: only the new file's turns are added
    val more = turns.take(10).map(t => t.copy(conv_id = t.conv_id + "-n"))
    spark.createDataset(more).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamingExtract.runDurableAvailableNow(spark, in, io, s"$root/ckpt")
    q2.awaitTermination()
    assert(io.read(spark, StreamingExtract.StreamDataTable).count()
      == turns.size + more.size)
  }

  test("durable streaming sink flushes the batch island's extraction counters") {
    import spark.implicits._
    val root = tempDir("graft_stream_ctr")
    val in = s"$root/in"
    val io = new graft.pipeline.ParquetTableIO(s"$root/tables")
    val turns = graft.gen.TranscriptGen.corpus(nConvs = 6).turns
    spark.createDataset(turns).repartition(2).write.mode("overwrite").parquet(in)

    val counted = new java.util.concurrent.atomic.AtomicLong
    withListener(turnsCounter(counted)) {
      StreamingExtract.runDurableAvailableNow(spark, in, io, s"$root/ckpt").awaitTermination()
    }
    val landed = io.read(spark, StreamingExtract.StreamDataTable).count()
    assert(landed == turns.size)
    // accumulators are progress, not truth: a recomputed task counts twice
    assert(counted.get() >= landed, s"graft.turns summed ${counted.get()} over $landed turns")
  }

  test("durable streaming sink: a two-batch catch-up's lineage n_rows equal the rows landed") {
    import spark.implicits._
    val root = tempDir("graft_stream_nrows")
    val in = s"$root/in"
    val io = new graft.pipeline.ParquetTableIO(s"$root/tables")
    val turns = graft.gen.TranscriptGen.corpus(nConvs = 8).turns
    // 20 files: the source takes at most 16 per microbatch, so two batches
    spark.createDataset(turns).repartition(20).write.mode("overwrite").parquet(in)
    StreamingExtract.runDurableAvailableNow(spark, in, io, s"$root/ckpt").awaitTermination()
    val lineage = io.read(spark, StreamingExtract.StreamLineageTable)
      .select("batch_id", "n_rows").as[(Long, Long)].collect().toMap
    val data = io.read(spark, StreamingExtract.StreamDataTable)
    assert(lineage.keySet == Set(0L, 1L), s"batches: ${lineage.keySet}")
    val perBatch = data.groupBy("batch_id").count().as[(Long, Long)].collect().toMap
    assert(lineage == perBatch)
    assert(lineage.values.sum == data.count())
    assert(lineage.values.sum == turns.size)
  }

  test("streaming AvailableNow equals batch extraction; second run is incremental no-op") {
    import spark.implicits._
    val in = tempDir("graft_stream_in")
    val io = new graft.pipeline.ParquetTableIO(
      tempDir("graft_stream_tables"))
    val ckpt = tempDir("graft_stream_ckpt")

    val corpus = graft.gen.TranscriptGen.corpus(nConvs = 15)
    spark.createDataset(corpus.turns).repartition(4).write.mode("overwrite").parquet(in)

    val q = StreamingExtract.runDurableAvailableNow(spark, in, io, ckpt)
    q.awaitTermination()

    val streamed = io.read(spark, StreamingExtract.StreamDataTable)
      .select("conv_id", "turn_idx", "extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val metrics = new graft.pipeline.ExtractPipeline.Metrics(spark)
    val batch = graft.pipeline.ExtractPipeline
      .extract(spark.createDataset(corpus.turns), metrics)
      .collect().map(e => (e.conv_id, e.turn_idx) -> e.extracted_text).toMap
    assert(streamed == batch)

    // incremental: append one new file, rerun — only the new turns land
    val extra = corpus.turns.take(5).map(t => t.copy(conv_id = "conv-extra"))
    spark.createDataset(extra).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamingExtract.runDurableAvailableNow(spark, in, io, ckpt)
    q2.awaitTermination()
    val after = io.read(spark, StreamingExtract.StreamDataTable).count()
    assert(after == batch.size + extra.size)
  }

  test("continuous ingest (Trigger.ProcessingTime) over a growing directory: no dupes, no losses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft_cont_in")
    val out = tempDir("graft_cont_out")
    val ckpt = tempDir("graft_cont_ckpt")
    val corpus = graft.gen.TranscriptGen.corpus(nConvs = 12)
    val (first, late) = corpus.turns.splitAt(corpus.turns.size / 2)
    spark.createDataset(first).coalesce(2).write.mode("overwrite").parquet(in)

    // the only trigger mode the suite had not exercised: a long-lived
    // query that keeps polling the source — files that arrive WHILE it
    // runs must flow through without restart
    val stream = StreamingExtract.extractStream(spark, in)
    val q = stream.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("300 milliseconds"))
      .start()
    try {
      // the read names the sink's schema: before the first file lands
      // there is none to infer, and a failed read is logged as an ERROR
      // by the session's Observation listener
      def landed(): Long =
        try spark.read.schema(stream.schema).parquet(out).count()
        catch { case _: Throwable => 0L }
      var deadline = System.currentTimeMillis() + 60000
      while (landed() < first.size && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(landed() == first.size, s"initial files: ${landed()} of ${first.size}")

      // grow the directory mid-flight, in two separate arrivals
      val (lateA, lateB) = late.splitAt(late.size / 2)
      spark.createDataset(lateA).coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(400)
      spark.createDataset(lateB).coalesce(1).write.mode("append").parquet(in)
      deadline = System.currentTimeMillis() + 60000
      while (landed() < corpus.turns.size && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally q.stop()

    // exactly-once file-sink contents: every turn extracted once, and
    // the per-turn text equals the batch kernel's
    val streamed = spark.read.parquet(out)
      .select("conv_id", "turn_idx", "extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
    assert(streamed.length == corpus.turns.size, "duplicate or lost turns")
    val metrics = new graft.pipeline.ExtractPipeline.Metrics(spark)
    val batch = graft.pipeline.ExtractPipeline
      .extract(spark.createDataset(corpus.turns), metrics)
      .collect().map(e => (e.conv_id, e.turn_idx) -> e.extracted_text).toMap
    assert(streamed.toMap == batch)
  }

  // ── BPE merge learning (t15's iterated form) ──────────────────────

  /** code-point split (a surrogate pair stays one symbol) */
  private def cps(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** independent pure-Scala BPE reference: same tokenization, greedy
    * leftmost merge, (count DESC, pair ASC) argmax tie-break. */
  private def refBpe(texts: Seq[String], rounds: Int): Seq[(String, String, Long)] = {
    def applyMerge(sym: Vector[String], l: String, r: String): Vector[String] =
      sym.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    var freq: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) =>
        cps(w) -> g.size.toLong
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sym, n) <- freq; i <- 0 until sym.length - 1)
        counts((sym(i), sym(i + 1))) =
          counts.getOrElse((sym(i), sym(i + 1)), 0L) + n
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((l, r, cnt))
        freq = freq.toSeq.map { case (sym, n) => (applyMerge(sym, l, r), n) }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("bpeMerges equals the pure-Scala reference learner over 6 rounds") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val texts = docs.select(col("text")).collect().map(_.getString(0)).toSeq
    val got = graft.operators.TextAnalysis.bpeMerges(docs, rounds = 6)
    assert(got.size == 6)
    assert(got == refBpe(texts, 6))
    // merges are distinct pairs, counts non-increasing is NOT required
    // (a merge can create a new dominant pair), but counts stay > 0
    assert(got.map(m => (m._1, m._2)).distinct.size == 6)
    assert(got.forall(_._3 > 0))
  }

  test("bpeEncode segments every doc exactly as a naive per-word encoder; concat invariant") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, rounds = 6)
      .map(m => (m._1, m._2))
    val rank = merges.zipWithIndex.toMap
    def mergeAll(sym: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += sym(i); i += 1 }
      }
      out.result()
    }
    def naive(w: String): Vector[String] = {
      var sym = cps(w)
      var go = sym.length >= 2
      while (go) {
        val present = sym.indices.dropRight(1)
          .flatMap(i => rank.get((sym(i), sym(i + 1))))
        if (present.isEmpty) go = false
        else {
          val (l, r) = merges(present.min)
          sym = mergeAll(sym, l, r); go = sym.length >= 2
        }
      }
      sym
    }
    val got = graft.operators.TextAnalysis.bpeEncode(docs, merges)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[scala.collection.Seq[String]]("pieces").toSeq,
          r.getAs[Long]("n_pieces")))).toMap
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    assert(got.size == texts.length)
    for ((id, text) <- texts) {
      val toks = text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).toSeq
      val expected = toks.flatMap(naive)
      val (pieces, n) = got(id)
      assert(pieces == expected, s"doc $id segmentation mismatch")
      assert(n == expected.size)
      // pieces concatenate back to the tokens: segmentation is lossless
      assert(pieces.mkString == toks.mkString, s"doc $id lost characters")
    }
    // zero merges: every piece is a single character
    val chars = graft.operators.TextAnalysis.bpeEncode(docs, Nil)
      .select(col("pieces")).collect()
    assert(chars.forall(
      _.getAs[scala.collection.Seq[String]]("pieces").forall(_.length == 1)))
  }

  test("t15_bpe_pairs rank-1 row IS the first learned merge") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val first = graft.operators.TextAnalysis.bpeMerges(docs, rounds = 1).head
    val q = SparkEntry.queries("t15_bpe_pairs")(spark, sfDir)
      .filter(col("rank") === 1).collect()
    assert(q.length == 1)
    assert((q(0).getAs[String]("l"), q(0).getAs[String]("r"),
      q(0).getAs[Long]("cnt")) == first)
  }

  test("BPE symbolization is code-point safe: learner, query, and encoder agree beyond the BMP") {
    import spark.implicits._
    // supplementary-plane (surrogate-pair) + non-ASCII-BMP + cased text
    val texts = Seq(
      "😀😀 a😀b AB abab",
      "😀😀 a😀b ab ab",
      "ΔΔα ΔΔα x😀 x😀 abab")
    def wellFormed(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (Character.isHighSurrogate(c)) {
          if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1)))
            return false
          i += 2
        } else if (Character.isLowSurrogate(c)) return false
        else i += 1
      }
      true
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_bpe_unicode")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // learner symbols must be whole code points — no lone surrogates,
    // no replacement-char mangling
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, rounds = 4)
    assert(merges.nonEmpty)
    for ((l, r, _) <- merges; s <- Seq(l, r)) {
      assert(wellFormed(s), s"lone surrogate in learned symbol: $s")
      assert(!s.contains('�') && !s.contains('?'),
        s"mangled learned symbol: $s")
    }
    // the t15 query over the same corpus sees the same first pair
    val q = SparkEntry.queries("t15_bpe_pairs")(spark, dir)
      .filter(col("rank") === 1).collect()
    assert((q(0).getAs[String]("l"), q(0).getAs[String]("r"),
      q(0).getAs[Long]("cnt")) == merges.head)
    // encoder: lossless concat per doc, every piece well-formed
    val enc = graft.operators.TextAnalysis
      .bpeEncode(docs, merges.map(m => (m._1, m._2))).collect()
    assert(enc.length == texts.length)
    for (r <- enc) {
      val toks = texts(r.getAs[Long]("doc_id").toInt)
        .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      val pieces = r.getAs[scala.collection.Seq[String]]("pieces")
      assert(pieces.mkString == toks.mkString)
      assert(pieces.forall(wellFormed))
    }
  }
}
