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
  *    against Spark's V2 writer (`writeTo`, columns matched by name)
  *    on any V2 catalog: with an Iceberg catalog plugged in, both
  *    writes collapse into snapshot-transactional commits and
  *    `readLineage` becomes a snapshot read — the resume semantics
  *    survive unchanged because they only rely on "lineage row
  *    visible ⇒ bucket data complete", which a snapshot commit gives
  *    for free.
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
  * transactional commits, and the resume invariant ("lineage row
  * visible ⇒ bucket data complete") holds without the parquet
  * two-write crash protocol. The catalog must be a V2 one: Spark
  * refuses `writeTo` on a V1 session-catalog table. No Iceberg jar
  * exists offline; V2CatalogSpec drives the class through a V2 test
  * catalog against Spark's real analyzer and write planner.
  *
  * Writes to an existing table resolve columns by NAME, whatever the
  * frame's column order: `append` plans `AppendData`, and
  * `overwritePartitions` plans `OverwritePartitionsDynamic`, which
  * replaces exactly the partitions present in `df` in one commit. The
  * overwrite mode is fixed by that plan, not read from the session's
  * `spark.sql.sources.partitionOverwriteMode`, so a concurrent write
  * in the same session cannot turn it into a static overwrite. A
  * missing table is created by `writeTo(...).create()` (partitioned by
  * `partitionCol` for `overwritePartitions`). */
final class IcebergTableIO(catalog: String, namespace: String,
                           format: String = "iceberg") extends TableIO {

  def fq(table: String): String = s"$catalog.$namespace.$table"

  override def toString: String = s"$catalog.$namespace"

  def readIfExists(spark: SparkSession, table: String): Option[DataFrame] =
    if (spark.catalog.tableExists(fq(table))) Some(read(spark, table)) else None

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.table(fq(table))

  def append(df: DataFrame, table: String): Unit =
    if (df.sparkSession.catalog.tableExists(fq(table))) df.writeTo(fq(table)).append()
    else df.writeTo(fq(table)).using(format).create()

  def overwritePartitions(df: DataFrame, table: String, partitionCol: String): Unit =
    if (df.sparkSession.catalog.tableExists(fq(table))) df.writeTo(fq(table)).overwritePartitions()
    else df.writeTo(fq(table)).using(format)
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
