package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage abstraction the resumable pipeline writes through
  * (SURVEY §7 step 3). The engine's contract is logical tables —
  * `data` (extracted turns, partitioned by resume bucket) and
  * `lineage` (per-bucket checkpoint rows) — not paths.
  *
  *  - [[ParquetTableIO]] is the sandbox implementation (no Iceberg jar
  *    offline): dynamic partition overwrite + append, with the
  *    two-write crash protocol ResumableExtract documents.
  *  - [[IcebergTableIO]] is the cluster implementation, written
  *    against Spark's catalog-agnostic V2 writer: with an Iceberg
  *    catalog plugged in, both writes collapse into snapshot-
  *    transactional commits and `readLineage` becomes a snapshot
  *    read — the resume semantics survive unchanged because they
  *    only rely on "lineage row visible ⇒ bucket data complete",
  *    which a snapshot commit gives for free.
  */
trait TableIO {
  /** read a logical table; empty-schema None when it does not exist yet */
  def readIfExists(spark: SparkSession, table: String): Option[DataFrame]
  def read(spark: SparkSession, table: String): DataFrame
  def append(df: DataFrame, table: String): Unit
  /** replace only the partitions present in `df` (dynamic overwrite) */
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit
}

/** Catalog-table implementation over Spark's DataSourceV2 writer —
  * the cluster path the trait doc promises. It compiles against Spark
  * alone: `df.writeTo(...)` resolves the catalog at RUNTIME, so on a
  * cluster with an Iceberg catalog configured
  * (`spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog`,
  * `format = "iceberg"`) both pipeline writes become snapshot-
  * transactional commits: `overwritePartitions()` replaces exactly the
  * partitions present in `df` in one snapshot, and the resume
  * invariant ("lineage row visible ⇒ bucket data complete") holds
  * without the parquet two-write crash protocol. No Iceberg jar exists
  * in this sandbox, so PipelineSpec exercises the same class against
  * the built-in session catalog with `format = "parquet"` — the code
  * path (V2 writer, `tableExists` probe, partitioned create) is
  * identical; only the catalog plugin differs. */
final class IcebergTableIO(catalog: String, namespace: String,
                           format: String = "iceberg") extends TableIO {

  def fq(table: String): String = s"$catalog.$namespace.$table"

  override def toString: String = s"$catalog.$namespace"

  def readIfExists(spark: SparkSession, table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(fq(table))) Some(read(spark, table)) else None

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.table(fq(table))

  /** Writes to an EXISTING table go through `insertInto`, which the
    * analyzer resolves per catalog: on a V2 catalog (Iceberg) an
    * overwrite under dynamic partition-overwrite mode becomes
    * `OverwritePartitionsDynamic` — the same plan as
    * `writeTo(...).overwritePartitions()`, one snapshot commit — and
    * an append becomes `AppendData`; on the V1 session catalog the
    * same calls take the classic Hadoop-FS dynamic-overwrite path
    * (which is how PipelineSpec exercises this class offline, where
    * no Iceberg jar exists). `writeTo(...).create()` handles first
    * creation (partitioned for the data table). */
  def append(df: DataFrame, table: String): Unit =
    if (df.sparkSession.catalog.tableExists(fq(table)))
      df.write.mode(SaveMode.Append).insertInto(fq(table))
    else df.writeTo(fq(table)).using(format).create()

  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    if (df.sparkSession.catalog.tableExists(fq(table))) {
      val spark = df.sparkSession
      // the session conf, not a write option as in ParquetTableIO:
      // insertInto on a V2 catalog picks OverwritePartitionsDynamic from
      // the conf alone, and the V1 session catalog cannot take
      // writeTo(...).overwritePartitions()
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // insertInto is POSITIONAL — normalize to the TARGET TABLE's
      // actual column order (a V1 catalog stores the partition column
      // last; a V2/Iceberg table keeps the creation order), not to a
      // guessed partition-column-last layout
      val ordered = df.select(
        spark.table(fq(table)).columns
          .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      try ordered.write.mode(SaveMode.Overwrite).insertInto(fq(table))
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    } else df.writeTo(fq(table)).using(format)
      .partitionedBy(org.apache.spark.sql.functions.col(partitionCol))
      .create()
}

/** Parquet-directory implementation rooted at `root`; table `t` lives
  * at `root/t`. `writeOptions` pass straight to the parquet writer on
  * every write (per-column encoding toggles, block size, ...); options
  * naming a column a table lacks are ignored by parquet, so one option
  * set can serve all of a store's tables. (The Iceberg path carries
  * the same knobs as table properties set at CREATE, e.g.
  * `write.parquet.dict-size-bytes` — per-table, not per-write.) */
final class ParquetTableIO(root: String,
    writeOptions: Map[String, String] = Map.empty) extends TableIO {

  def path(table: String): String = s"$root/$table"

  override def toString: String = root

  def readIfExists(spark: SparkSession, table: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(path(table))) else None
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).options(writeOptions).parquet(path(table))

  /** Dynamic mode is set on the write itself, which the file writer
    * reads before the session conf: the shared conf is never touched,
    * so a concurrent write in the same session (a stream's
    * `foreachBatch` next to a batch run) cannot flip this one to a
    * static overwrite that deletes every other partition. */
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .options(writeOptions)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(table))
}
