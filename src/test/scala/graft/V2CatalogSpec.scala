package graft

import graft.pipeline.{IcebergTableIO, ResumableExtract}
import graft.v2.FakeV2Catalog
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Proves — against Spark's real analyzer and V2 write planner, via
  * the [[graft.v2.FakeV2Catalog]] test double — that
  * [[IcebergTableIO]]'s writes resolve to the V2 plans its
  * documentation promises: `append` to `AppendData`,
  * `overwritePartitions` to `OverwritePartitionsDynamic` whatever the
  * session's partition overwrite mode, both matching columns by name.
  * This is the only suite that drives the class: it needs a V2
  * catalog, and an Iceberg jar does not exist offline. The double
  * implements the public connector SPI (TableCatalog / SupportsWrite /
  * SupportsDynamicOverwrite) and records which write mode each commit
  * used — if the analyzer picked a different plan (e.g. truncate-
  * overwrite), the recorded mode and the resulting table contents
  * would both betray it. The resume protocol (full run, no-op re-run,
  * crash-resume, partial resume) runs through it end to end.
  */
class V2CatalogSpec extends AnyFunSuite with BeforeAndAfterEach with SparkSuite {

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.fakev2", classOf[FakeV2Catalog].getName)
  }

  override def beforeEach(): Unit = FakeV2Catalog.reset()

  private def io = new IcebergTableIO("fakev2", "ns", format = "fakev2")

  private def events: Seq[String] = FakeV2Catalog.events.asScala.toSeq

  test("overwritePartitions on a V2 table resolves to dynamic partition overwrite") {
    import spark.implicits._
    val df0 = Seq((1, "a", 10L), (1, "b", 11L), (2, "c", 20L))
      .toDF("bucket", "k", "v")
    io.overwritePartitions(df0, "data", "bucket") // creates, partitioned
    // overwrite bucket 1 only — with SHUFFLED column order, which the
    // ADVICE fix must realign to the table's actual schema
    val df1 = Seq(("a2", 12L, 1)).toDF("k", "v", "bucket")
    io.overwritePartitions(df1, "data", "bucket")

    // the second write hit the EXISTING table: the analyzer must have
    // planned OverwritePartitionsDynamic (mode recorded at commit) —
    // not truncate (static overwrite) and not append
    assert(events.contains("ns.data:overwriteDynamic"),
      s"expected a dynamic-overwrite commit; saw $events")
    assert(!events.exists(_.endsWith(":truncate")), s"static overwrite planned: $events")

    // semantics: bucket 1 fully replaced, bucket 2 untouched
    val got = io.read(spark, "data")
      .select("bucket", "k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1, "a2", 12L), (2, "c", 20L)))
  }

  test("append on a V2 table resolves to AppendData, not an overwrite") {
    import spark.implicits._
    io.append(Seq((1, "x")).toDF("id", "s"), "log") // create
    io.append(Seq((2, "y")).toDF("id", "s"), "log") // append to existing
    assert(events.contains("ns.log:append"), s"saw $events")
    assert(!events.exists(e => e.endsWith(":truncate") || e.endsWith(":overwriteDynamic")))
    assert(io.read(spark, "log").count() == 2)
  }

  test("V2 crash-resume: partial data without a lineage row is rewritten cleanly") {
    import spark.implicits._
    val corpus = graft.gen.TranscriptGen.corpus(nConvs = 10)
    val turns = spark.createDataset(corpus.turns)
    // simulate the crash window of the two-write protocol: bucket data
    // (stale AND partial — only half of bucket 1's rows) landed, but
    // the lineage row never committed. The resume must treat bucket 1
    // as pending and its dynamic overwrite must REPLACE the partial
    // partition, not merge with it.
    val metrics = new graft.pipeline.ExtractPipeline.Metrics(spark)
    val full = graft.pipeline.ExtractPipeline.extract(turns, metrics, partitions = 0)
      .withColumn("bucket",
        graft.pipeline.ResumableExtract.bucketOf(col("conv_id"), 4))
    val partial = full.filter(col("bucket") === 1)
      .limit((full.filter(col("bucket") === 1).count() / 2).toInt)
    io.overwritePartitions(partial, "data", "bucket") // creates the table
    assert(io.read(spark, "data").count() < full.count())

    val done = ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "crash")
    assert(done == Set(0, 1, 2, 3), "all buckets pending: no lineage existed")
    val data = io.read(spark, "data")
    assert(data.count() == corpus.turns.size, "partial bucket must be replaced")
    assert(data.filter(col("bucket") === 1).count()
      == full.filter(col("bucket") === 1).count())
    // and the rewrite used the dynamic-overwrite (snapshot-shaped) path
    assert(events.exists(_ == "ns.data:overwriteDynamic"), s"saw $events")
  }

  test("full resume protocol runs through a V2 catalog: complete run, then no-op") {
    import spark.implicits._
    val corpus = graft.gen.TranscriptGen.corpus(nConvs = 12)
    val turns = spark.createDataset(corpus.turns)
    val done = ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "v2run")
    assert(done == Set(0, 1, 2, 3))
    val data = io.read(spark, "data")
    assert(data.count() == corpus.turns.size)
    val lineage = io.read(spark, "lineage")
    assert(lineage.select("partition_id").as[Int].collect().toSet == Set(0, 1, 2, 3))
    assert(lineage.agg(sum("turns_done")).head().getLong(0) == corpus.turns.size)
    // every data write on the existing table went through dynamic
    // overwrite — the Iceberg-snapshot-shaped commit path
    assert(events.count(_ == "ns.data:overwriteDynamic") >= 0) // may be 0: first write created
    // resume: nothing pending, no further table writes
    val evBefore = events.size
    assert(ResumableExtract.run(spark, turns, io, 4, "v2run2") == Set.empty)
    assert(events.size == evBefore, "resume no-op must not write")
  }

  test("overwritePartitions carries dynamic mode in its plan, not the session conf") {
    import spark.implicits._
    io.overwritePartitions(Seq((1, "a"), (2, "b")).toDF("bucket", "k"), "data", "bucket")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try io.overwritePartitions(Seq((1, "a2")).toDF("bucket", "k"), "data", "bucket")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // the commit ran under the static session mode, yet replaced only
    // the partition present in the frame
    assert(FakeV2Catalog.sessionOverwriteModes.asScala.last == "static")
    assert(events.last == "ns.data:overwriteDynamic", s"saw $events")
    val got = io.read(spark, "data").select("bucket", "k").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a2"), (2, "b")))
  }

  test("V2 partial resume: buckets whose lineage rows are gone are rewritten, data converges") {
    import spark.implicits._
    val turns = spark.createDataset(graft.gen.TranscriptGen.corpus(nConvs = 12).turns)
    def dataMap = io.read(spark, "data")
      .select("conv_id", "turn_idx", "extracted_text").as[(String, Int, String)]
      .collect().map { case (c, i, t) => (c, i) -> t }.toMap
    assert(ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "v2p") == Set(0, 1, 2, 3))
    assert(ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "v2p").isEmpty,
      "completed run must be a no-op")
    val first = dataMap
    // drop the lineage rows of buckets 2 and 3: only those must rerun
    val kept = io.read(spark, "lineage").filter(col("partition_id").isin(0, 1))
    val keptRows = kept.collect().toIndexedSeq
    spark.sql("DROP TABLE fakev2.ns.lineage")
    io.append(spark.createDataFrame(spark.sparkContext.parallelize(keptRows), kept.schema),
      "lineage")
    val evBefore = events.size
    assert(ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "v2p2") == Set(2, 3))
    assert(events.drop(evBefore).contains("ns.data:overwriteDynamic"), s"saw $events")
    assert(io.read(spark, "lineage").select("partition_id").as[Int].collect().sorted.toSeq
      == Seq(0, 1, 2, 3))
    assert(dataMap == first)
  }
}
