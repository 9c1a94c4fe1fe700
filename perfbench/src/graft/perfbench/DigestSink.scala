package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A sink like Spark's `noop`: it takes every row of the plan and keeps
  * none, so the same physical plan executes. It also folds each row into
  * an order-insensitive digest (row count plus two 64-bit sums of row
  * hashes), so a query's output is checked without running it twice.
  *
  * {{{ df.write.format(classOf[DigestSink].getName).option("id", key).mode("overwrite").save()
  *     DigestSink.take(key) }}}
  *
  * Floating-point values are rounded to 29 significant bits (about nine
  * decimal digits) before hashing, so a sum that adds in another order
  * still matches; map entries are hashed in any order.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = DigestSink.SinkTable
}

object DigestSink {
  final case class Digest(rows: Long, hash: String)

  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest of the write that used `id`, removed from the registry. */
  def take(id: String): Option[Digest] = Option(results.remove(id))

  private object SinkTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-digest"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = Set(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new DigestBatch(info.schema(), info.options().get("id"))
        }
      }
  }

  final case class Part(rows: Long, lo: Long, hi: Long) extends WriterCommitMessage

  private final class DigestBatch(schema: StructType, id: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      val lo = parts.map(_.lo).sum
      val hi = parts.map(_.hi).sum
      if (id != null) results.put(id, Digest(parts.map(_.rows).sum, f"$hi%016x$lo%016x"))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val types = schema.fields.map(_.dataType)
        private var rows, lo, hi = 0L
        override def write(row: InternalRow): Unit = {
          val h = mix(hashRow(row, types))
          rows += 1
          lo += h & 0xffffffffL
          hi += h >>> 32
        }
        override def commit(): WriterCommitMessage = Part(rows, lo, hi)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def hashRow(row: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = h * 0x9e3779b97f4a7c15L + (if (row.isNullAt(i)) 0x5bd1e995L else hashValue(row.get(i, types(i)), types(i)))
      i += 1
    }
    h
  }

  private def hashValue(v: Any, t: DataType): Long = t match {
    case DoubleType => hashDouble(v.asInstanceOf[Double])
    case FloatType => hashDouble(v.asInstanceOf[Float].toDouble)
    case s: StructType => mix(hashRow(v.asInstanceOf[InternalRow], s.fields.map(_.dataType)))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 31L
      var i = 0
      while (i < a.numElements()) {
        h = h * 0x9e3779b97f4a7c15L + (if (a.isNullAt(i)) 0x5bd1e995L else hashValue(a.get(i, et), et))
        i += 1
      }
      mix(h)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map { i =>
        mix(hashValue(ks.get(i, kt), kt) * 31 +
          (if (vs.isNullAt(i)) 0x5bd1e995L else hashValue(vs.get(i, vt), vt)))
      }.sum
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _ => v match {
      case n: java.lang.Number if !t.isInstanceOf[DecimalType] => n.longValue()
      case b: java.lang.Boolean => if (b) 1L else 2L
      case other => mix(other.toString.hashCode.toLong)
    }
  }

  /** The bits of `d` with the mantissa rounded to its top 29 bits; a
    * carry runs on into the exponent, as it does in decimal rounding. */
  private def hashDouble(d: Double): Long =
    if (d.isNaN || d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d.abs)
    else (java.lang.Double.doubleToLongBits(d) + (1L << 22)) & ~((1L << 23) - 1)
}
