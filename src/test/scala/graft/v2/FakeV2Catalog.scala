package graft.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A minimal DataSourceV2 `TableCatalog` TEST DOUBLE — the closest an
  * offline sandbox can get to an Iceberg catalog (no Iceberg jar ships
  * here). It exists to prove, against Spark's REAL analyzer and V2
  * write planner, that [[graft.pipeline.IcebergTableIO]]'s calls
  * resolve to the V2 write modes its documentation promises:
  * `overwritePartitions`, whatever the session's partition overwrite
  * mode, must reach the table as `overwriteDynamicPartitions()` on the
  * WriteBuilder (the `OverwritePartitionsDynamic` plan — one
  * snapshot-style commit replacing exactly the partitions present in
  * the data), and `append` as a plain build (the `AppendData` plan).
  *
  * Rows live in a JVM-static store (valid because tests run Spark in
  * local mode — executors share the JVM); dynamic overwrite is
  * implemented faithfully: commit replaces exactly the stored rows
  * whose partition values appear in the incoming batch. Every write
  * mode that reaches a table is recorded in [[FakeV2Catalog.events]]
  * for plan-level assertions, and the committing session's partition
  * overwrite mode in [[FakeV2Catalog.sessionOverwriteModes]].
  */
class FakeV2Catalog extends TableCatalog {
  import FakeV2Catalog._

  private var catalogName: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.filter(_.namespace().sameElements(namespace)).toArray

  override def loadTable(ident: Identifier): Table =
    tables.getOrElse(ident, throw new NoSuchTableException(ident))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tables.contains(ident)) throw new TableAlreadyExistsException(ident)
    val t = new FakeTable(ident.toString, schema, partitions)
    tables.put(ident, t)
    t
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("alterTable")

  override def dropTable(ident: Identifier): Boolean = tables.remove(ident).isDefined

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable")
}

object FakeV2Catalog {
  /** ident → table (static: the catalog instance is created per
    * session by Spark, but test assertions need cross-instance state) */
  private[v2] val tables = TrieMap.empty[Identifier, FakeTable]
  /** "<table>:<mode>" per committed batch write, in commit order */
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** the committing session's `spark.sql.sources.partitionOverwriteMode`
    * per committed batch write, in commit order */
  val sessionOverwriteModes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def reset(): Unit = { tables.clear(); events.clear(); sessionOverwriteModes.clear() }
}

private[v2] class FakeTable(tableName: String, tableSchema: StructType,
                            partitions: Array[Transform])
    extends Table with SupportsWrite with SupportsRead {

  /** 0-based indices of identity-partition columns in the schema */
  private val partIdx: Seq[Int] = partitions.toSeq.collect {
    case t if t.name == "identity" && t.references.length == 1 =>
      tableSchema.fieldIndex(t.references.head.fieldNames.head)
  }

  // rows are stored as copied InternalRows; guarded by this
  private var rows = Vector.empty[InternalRow]

  private def partKey(r: InternalRow): Seq[Any] =
    partIdx.map(i => r.get(i, tableSchema.fields(i).dataType))

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = partitions
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsDynamicOverwrite with SupportsTruncate {
      private var mode = "append"
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "overwriteDynamic"; this
      }
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            new FakeWriterFactory(tableName)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val incoming = messages.flatMap {
              case m: FakeCommitMessage => FakeWriterFactory.drain(m.key)
            }.toVector
            FakeTable.this.synchronized {
              mode match {
                case "append" => rows = rows ++ incoming
                case "truncate" => rows = incoming
                case "overwriteDynamic" =>
                  val replaced = incoming.map(partKey).toSet
                  rows = rows.filterNot(r => replaced(partKey(r))) ++ incoming
              }
            }
            FakeV2Catalog.sessionOverwriteModes.add(SparkSession.active.conf
              .get("spark.sql.sources.partitionOverwriteMode").toLowerCase)
            FakeV2Catalog.events.add(s"$tableName:$mode"): Unit
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            messages.foreach {
              case m: FakeCommitMessage => FakeWriterFactory.drain(m.key): Unit
            }
        }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          Array(new FakeInputPartition(FakeTable.this.synchronized(rows)))
        override def createReaderFactory(): PartitionReaderFactory = {
          case p: FakeInputPartition =>
            new PartitionReader[InternalRow] {
              private val it = p.rows.iterator
              private var cur: InternalRow = _
              override def next(): Boolean =
                if (it.hasNext) { cur = it.next(); true } else false
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
        }
      }
    }
}

private[v2] class FakeInputPartition(val rows: Vector[InternalRow])
    extends InputPartition

/** Local-mode only: rows travel driver-ward through a JVM-static map
  * keyed per writer task (the commit message carries only the key). */
private[v2] class FakeWriterFactory(table: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val key = s"$table:$partitionId:$taskId:${System.nanoTime()}"
      private var buf = Vector.empty[InternalRow]
      override def write(record: InternalRow): Unit = buf = buf :+ record.copy()
      override def commit(): WriterCommitMessage = {
        FakeWriterFactory.stage(key, buf)
        FakeCommitMessage(key)
      }
      override def abort(): Unit = buf = Vector.empty
      override def close(): Unit = ()
    }
}

private[v2] object FakeWriterFactory {
  private val staged = TrieMap.empty[String, Vector[InternalRow]]
  def stage(key: String, rows: Vector[InternalRow]): Unit = staged.put(key, rows): Unit
  def drain(key: String): Vector[InternalRow] =
    staged.remove(key).getOrElse(Vector.empty)
}

private[v2] case class FakeCommitMessage(key: String) extends WriterCommitMessage
