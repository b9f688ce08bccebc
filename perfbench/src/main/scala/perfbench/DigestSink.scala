package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count plus an order-insensitive hash of every row's bytes. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.trim.split(":")
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

/**
 * A write sink that does what Spark's `noop` sink does and also digests
 * what it discards: each task hashes its rows (as `UnsafeRow` bytes) into a
 * count and a wrapping sum, and the commit adds the tasks' parts. Use as
 * `df.write.format(classOf[DigestSink].getName).option("key", k)
 * .mode("overwrite").save()`, then read [[DigestSink.take]]`(k)`.
 */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DigestSink.DigestTable(properties.get("key"))
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest of the last write under `key`, removed once read. */
  def take(key: String): Option[Digest] = Option(results.remove(key))

  private final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private final class DigestTable(key: String) extends Table with SupportsWrite {
    require(key != null, "DigestSink needs option(\"key\", …)")
    override def name(): String = s"digest-$key"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val rowSchema = info.schema()
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new DigestBatch(key, rowSchema)
        }
      }
    }
  }

  private final class DigestBatch(key: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new DigestWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      results.put(key, Digest(parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = results.remove(key)
  }

  private final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toUnsafe = UnsafeProjection.create(schema)
        private var rows = 0L
        private var hash = 0L
        override def write(record: InternalRow): Unit = {
          val u = toUnsafe(record)
          rows += 1
          hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        override def commit(): WriterCommitMessage = Part(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
