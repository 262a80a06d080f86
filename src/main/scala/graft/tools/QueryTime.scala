package graft.tools

import org.apache.spark.sql.functions._

/** Times SparkEntry queries with warm-up + reps in a single session
  * (host CPU fluctuates — compare mins across variants). To include
  * the recompile the cycle-major bench pays (96 queries evict Spark's
  * 100-entry whole-stage-codegen cache), shrink that static cache:
  * `GRAFT_JVM_OPTS="-Dspark.sql.codegen.cache.maxEntries=1"`.
  * Usage: runMain graft.tools.QueryTime <name[,name…]> [sfDir] [reps] [cores]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local("graft-qtime",
      args.lift(3).fold(graft.Sessions.defaultCores)(_.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      var best = Double.MaxValue
      for (r <- 0 to reps) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        val n = df.select(h.as("h")).agg(expr("bit_xor(h)"), count(lit(1))).head().getLong(1)
        val sec = (System.nanoTime() - t0) / 1e9
        if (r > 0 && sec < best) best = sec
        println(f"[qtime] $name rep=$r sec=$sec%.2f rows=$n" + (if (r == 0) " (warmup)" else ""))
      }
      println(f"[qtime] $name BEST=$best%.2f")
    }
    spark.stop()
  }
}
