package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe for the side tools (Demo, WriteCorpus,
  * ScalingBench, StressBench, PlanSnap, QueryTime): `Bench`'s settings,
  * so a tool's plans and timings are the shapes the bench runs.
  * `Main` keeps its own builder (under spark-submit it must not force
  * a master); `Bench` and `Verify` keep theirs byte-stable.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]`, one shuffle partition per core, AQE, UTC, no UI,
    * and 16 MB splits with a 1 MB open cost. The split sizing is the
    * 100 TB playbook applied at bench scale: the 2.5M-turn corpus
    * scans as ~17 128MB-default splits — ONE task wave at 16 cores, so
    * the slowest straggler (skewed long conversations) set the wall
    * clock and 4→16 efficiency read 0.75 for a purely structural
    * reason. 16MB splits give every config ≥4 waves; measured floors:
    * 4-core 8.7→7.2s, 16-core 2.9→2.2s (BENCH/BASELINE.md, round 3). */
  private[graft] def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.sql.files.openCostInBytes" -> "1m")

  def local(app: String, cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder().appName(app).config(settings(cores)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
