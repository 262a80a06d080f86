package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact partition placement for the durable bucket-sorted write.
  *
  * The round-4 write path hash-repartitioned on (bucket, conv_id), so
  * every write task held rows of ~every bucket and a 64-task write
  * emitted tasks × buckets ≈ 4096 files — each with its own parquet
  * footer and commit-time rename (measured 9.2 s vs 6.7 s for a
  * bucket-contiguous layout on the 2.5M-turn corpus; BENCH/BASELINE.md).
  * `repartitionByRange` fixes the file count but costs a SAMPLING JOB
  * that re-computes the upstream extraction a second time — wrong at
  * any scale where extraction dominates.
  *
  * This helper places rows exactly: partition i receives precisely the
  * rows with `pid = i`, through the public DataFrame API. Spark routes
  * `repartition(n, expr)` rows by `pmod(murmur3(expr), n)`; murmur3 of
  * a 32-bit int is cheap to invert by search, so for each target
  * partition i we precompute (driver-side, ~n·ln n hash evaluations)
  * an int PROBE whose hash lands on i, and repartition on
  * `element_at(probes, pid + 1)`. No sampling pass, no RDD round-trip,
  * no custom partitioner — and the mapping is pinned by a
  * `spark_partition_id()` equality test rather than assumed
  * (BucketLayoutSpec), so a Spark release that changed the internal
  * hash would fail loudly, not scatter silently.
  *
  * Scale: [[ResumableExtract.run]] places one resume bucket per task,
  * which is right while a bucket's rows fit one write task (10M turns
  * / 64 buckets here). At 10^12-turn scale raise `nBuckets` until
  * buckets are task-sized again — file count stays one per bucket by
  * construction, never tasks × buckets.
  */
object BucketLayout {

  /** probes(i) hashes (murmur3 seed 42, Spark's HashPartitioning) to
    * partition i of n. Deterministic; ~n·H(n) tries. */
  private[graft] def identityProbes(n: Int): Array[Int] = {
    require(n > 0, s"identityProbes: n must be positive, got $n")
    val probes = new Array[Int](n)
    val seen = new Array[Boolean](n)
    var found = 0
    var v = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val p = ((h % n) + n) % n
      if (!seen(p)) { seen(p) = true; probes(p) = v; found += 1 }
      v += 1
    }
    probes
  }

  /** Shuffle `df` into exactly `n` partitions with every row placed on
    * partition `pid` (caller contract: 0 <= pid < n; out-of-range pids
    * are pmod-wrapped rather than dropped). */
  def exactRepartition(df: DataFrame, pid: Column, n: Int): DataFrame = {
    val probes = lit(identityProbes(n))
    df.repartition(n, element_at(probes, pmod(pid.cast("int"), lit(n)) + 1))
  }
}
