package graft.gen

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Writes the deterministic synthetic corpus as parquet tables
  * (transcripts / drawings / conv_meta) in an Iceberg-compatible
  * layout — the sandbox stand-in for the Iceberg transcript tables
  * (FIXTURES.md; no Iceberg jar offline).
  *
  * Usage: runMain graft.gen.WriteCorpus <outDir> [nConvs]
  */
object WriteCorpus {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_corpus")
    val nConvs = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = graft.Sessions.local("graft-gen")
    write(spark, outDir, nConvs)
    spark.stop()
  }

  /** Distributed generation: conversations are seeded independently
    * (TranscriptGen.convTurns), so executors generate their ranges in
    * parallel and the result is identical for any partitioning — the
    * pattern that scales the corpus out (generate-where-read; nothing
    * funnels through the driver). Edge-case conversations and the
    * small dimension tables are driver-side (tiny). */
  def write(spark: SparkSession, outDir: String, nConvs: Int): Unit = {
    import spark.implicits._
    val edge = TranscriptGen.edgeCaseTurns()
    // enough output files that any later scan (even at 4× the cores)
    // gets full map-side parallelism; round-robin spreads the skewed
    // long conversations across generators
    val nFiles = math.max(64, spark.sparkContext.defaultParallelism * 2)
    val turns = spark.range(nConvs)
      .repartition(nFiles)
      .as[Long]
      .mapPartitions(_.flatMap(c => TranscriptGen.convTurns(c.toInt)._1))
      .union(spark.createDataset(edge))
    turns.write.mode(SaveMode.Overwrite).parquet(s"$outDir/transcripts")

    val corpusMeta = (0 until nConvs).map(TranscriptGen.convMeta) ++
      edge.map(_.conv_id).distinct.map(cid =>
        TranscriptGen.ConvMeta(cid, "projE", "partE", 0L))
    spark.createDataset(TranscriptGen.drawingsDict())
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/drawings")
    spark.createDataset(corpusMeta)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/conv_meta")
    println(s"[gen] wrote $nConvs convs (+${edge.size} edge turns) → $outDir")
  }
}
