package graft.sinks.v2

import java.util.{Map => JMap}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 SINK: a named in-memory table exercising the full V2
  * write path — `SupportsWrite` → `WriteBuilder` (+ `SupportsTruncate`
  * for overwrite) → `BatchWrite` → per-task `DataWriter` with the
  * two-phase commit contract:
  *
  *  - each task BUFFERS rows and ships them to the driver only inside its
  *    `WriterCommitMessage` — nothing a task writes is visible until the
  *    DRIVER's `BatchWrite.commit(messages)` publishes the epoch
  *    atomically;
  *  - duplicate/speculative task attempts are harmless BY CONSTRUCTION:
  *    the scheduler passes commit() exactly one message per partition, so
  *    a lost or duplicated attempt never double-publishes (the
  *    exactly-once semantics every real V2 sink — Iceberg/Delta commit
  *    protocols included — builds on; MemTableSinkSpec pins it at the API
  *    level);
  *  - `abort()` publishes nothing.
  *
  * The store itself is a process-local registry (the test double for a
  * remote table service); rows are `InternalRow.copy()`s because Spark
  * reuses row buffers inside a partition.
  *
  * Usage:
  * {{{
  *   df.write.format("graft.sinks.v2.MemTable").option("name", "t1")
  *     .mode("append" /* or "overwrite" */).save()
  *   spark.read.format("graft.sinks.v2.MemTable").option("name", "t1").load()
  * }}}
  */
class MemTable extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MemTableStore.schemaOf(options.get("name"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val name = properties.get("name")
    require(name != null, "MemTable requires .option(\"name\", ...)")
    new MemTableTable(name, schema)
  }
  override def supportsExternalMetadata(): Boolean = true
}

/** Process-local published-epoch store: name -> (schema, rows). */
object MemTableStore {
  private val tables = TrieMap.empty[String, (StructType, Array[InternalRow])]

  def publish(name: String, schema: StructType, rows: Array[InternalRow],
      truncate: Boolean): Unit =
    tables.synchronized {
      val prior = if (truncate) Array.empty[InternalRow]
        else tables.get(name).map(_._2).getOrElse(Array.empty[InternalRow])
      tables.put(name, (schema, prior ++ rows))
    }

  def rowsOf(name: String): Array[InternalRow] =
    tables.get(name).map(_._2).getOrElse(Array.empty)
  def schemaOf(name: String): StructType =
    tables.get(name).map(_._1).getOrElse(new StructType())
  def drop(name: String): Unit = tables.remove(name)
}

final class MemTableTable(name: String, writeSchema: StructType)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = s"mem_table($name)"
  override def schema(): StructType =
    if (writeSchema.nonEmpty) writeSchema else MemTableStore.schemaOf(name)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MemWriteBuilder(name, info.schema())

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new MemTableScan(name)
    }
}

final class MemWriteBuilder(name: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new MemBatchWrite(name, schema, doTruncate)
  }
}

final case class MemCommitMessage(partitionId: Int, rows: Array[InternalRow])
  extends WriterCommitMessage

final class MemBatchWrite(name: String, schema: StructType, truncate: Boolean)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new MemWriterFactory
  /** The atomic publish: exactly the rows carried by the scheduler-chosen
    * commit messages — one per partition, regardless of how many task
    * attempts ran. */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    MemTableStore.publish(name, schema,
      messages.flatMap(_.asInstanceOf[MemCommitMessage].rows), truncate)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class MemWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = ArrayBuffer.empty[InternalRow]
      override def write(row: InternalRow): Unit = buf += row.copy()
      override def commit(): WriterCommitMessage =
        MemCommitMessage(partitionId, buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

/** Read path: rows are embedded INTO the `InputPartition` at planning
  * time — `planInputPartitions` runs on the DRIVER, where the store
  * lives, and Spark serializes the partition (UnsafeRow copies are
  * serializable) to whichever executor runs the read task. The earlier
  * shape resolved the store at EXECUTOR time, which silently returned
  * empty on any real multi-JVM cluster; the scan is
  * cluster-correct by construction: writes travel driver-ward in commit
  * messages, reads travel executor-ward in the partition. */
final class MemTableScan(name: String) extends Scan with Batch {
  override def readSchema(): StructType = MemTableStore.schemaOf(name)
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(MemTablePartition(MemTableStore.rowsOf(name)))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val rows = p.asInstanceOf[MemTablePartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = rows(i)
          override def close(): Unit = ()
        }
      }
    }
}

final case class MemTablePartition(rows: Array[InternalRow]) extends InputPartition
