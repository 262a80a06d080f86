package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

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
  * Contract: partition i of n receives exactly the rows with
  * `pmod(pid, n) = i` (a null pid goes to partition 0). Spark's
  * `Dataset.repartitionById` makes that placement: the id itself is
  * the shuffle partition, so there is no hash, no sampling pass and no
  * custom partitioner, and AQE does not coalesce the exchange.
  * BucketLayoutSpec pins the placement with `spark_partition_id()`.
  *
  * Scale: [[ResumableExtract.run]] places one resume bucket per task,
  * which is right while a bucket's rows fit one write task (10M turns
  * / 64 buckets here). At 10^12-turn scale raise `nBuckets` until
  * buckets are task-sized again — file count stays one per bucket by
  * construction, never tasks × buckets.
  */
object BucketLayout {

  /** Shuffle `df` into exactly `n` partitions with every row placed on
    * partition `pid` (caller contract: 0 <= pid < n; out-of-range pids
    * are pmod-wrapped rather than dropped). */
  def exactRepartition(df: DataFrame, pid: Column, n: Int): DataFrame =
    df.repartitionById(n, pid.cast("int"))
}
