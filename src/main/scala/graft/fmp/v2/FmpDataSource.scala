package graft.fmp.v2

import java.io.InputStream
import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, IsNotNull, IsNull, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.slf4j.LoggerFactory

import graft.fmp.FmpReader

/** DataSource V2 provider for FMPXMLRESULT exports — the idiomatic
  * ingestion surface (SURVEY.md §7.3 stretch goal):
  *
  * {{{ spark.read.format("fmp").load("/path/export.xml.bz2") }}}
  *
  * Design:
  *  - schema inference parses only the `<METADATA>` header on the driver
  *    (early-exit, no row parse — the A5/`dump_headers` path);
  *  - row parsing happens INSIDE the executor task with the same
  *    constant-memory StAX pull iterator — the document never materializes
  *    on the driver (this IS the default [[FmpReader.read]] path; the
  *    driver-side parse survives only in `readWithSchemaAndSha`);
  *  - an uncompressed export is cut into row-aligned byte ranges sized
  *    by Spark's own file-split rule, one task each ([[FmpPartitions]]);
  *    a bz2 snapshot is not byte-splittable and scans as one task, so a
  *    directory of exports scans as one task per snapshot;
  *  - column pruning is pushed into the reader's ROW PROJECTION: every
  *    `<DATA>` cell is still parsed (StAX must walk the document), but
  *    only required columns are converted to UTF8String and carried in
  *    the InternalRow, so `select(two_cols)` does not pay 126-column
  *    row construction downstream.
  *
  * Registered via META-INF/services as short name `fmp`.
  */
class FmpDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fmp"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("format(\"fmp\") requires a path"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FmpReader.toStructType(FmpReader.readSchemaOnly(pathOf(options)),
      options.getBoolean("repeatingAsArray", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FmpTable(schema, properties.get("path"))
}

class FmpTable(tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"fmp:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FmpScanBuilder(tableSchema, path, options.getBoolean("allSnapshots", false),
      options.getBoolean("repeatingAsArray", false),
      options.getBoolean("trustHeaderCount", true))
}

class FmpScanBuilder(fullSchema: StructType, path: String, allSnapshots: Boolean,
    repeatingAsArray: Boolean, trustHeaderCount: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var countPushed = false

  /** COUNT(*) with no filters and no grouping is answered from the
    * header's `FOUND` attribute — the export's declared result-set size,
    * which the document's `<ROW>` count equals by the format contract
    * (the same value the reference trusts for its progress totals). The
    * header parse early-exits at `<RESULTSET>`, so the count is
    * O(header) instead of a full StAX walk of the document. PARTIAL
    * pushdown (supportCompletePushDown stays false): each snapshot
    * partition emits its own count row and Spark's final aggregate sums
    * them, which keeps `allSnapshots` directories correct with zero
    * extra logic. Any pushed filter or grouping declines the pushdown —
    * row-level predicates change the count.
    *
    * TRUST TRADE-OFF: a file whose body is damaged AFTER the header
    * still counts (the row scan would throw) — right for bookkeeping
    * over healthy exports, wrong for integrity accounting. Callers
    * auditing file health set `trustHeaderCount=false` to force the
    * row-parsing count. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = trustHeaderCount &&
      pushed.isEmpty && aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (ok) countPushed = true
    ok
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accepted filters are applied row-by-row on the RAW parsed strings
    * (before UTF8String conversion and InternalRow construction), with
    * full SQL three-valued semantics — so they are claimed completely and
    * only genuinely unsupported shapes remain for Spark to re-evaluate.
    * `repeatingAsArray` mode declines everything: its cells are `<DATA>`
    * LISTS, and the flat string comparison below would see only a
    * truncated scalar view of them. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] =
    if (repeatingAsArray) filters
    else {
      val (sup, rest) = filters.partition(FmpFilters.isSupported)
      pushed = sup
      rest
    }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    if (countPushed) new FmpCountScan(path, allSnapshots)
    else new FmpScan(fullSchema, required, path, allSnapshots, repeatingAsArray, pushed)
}

/** Pushed-filter support and evaluation for the FMP scan. The value side
  * of every comparison is a String (the source is all-string by design —
  * A9); any other value type (a cast the analyzer pushed past the scan)
  * is declined rather than mis-compared. */
object FmpFilters {
  def isSupported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => v == null || v.isInstanceOf[String]
    case EqualNullSafe(_, v) => v == null || v.isInstanceOf[String]
    case In(_, vs) => vs != null && vs.forall(v => v == null || v.isInstanceOf[String])
    case IsNull(_) | IsNotNull(_) => true
    case StringStartsWith(_, _) | StringEndsWith(_, _) | StringContains(_, _) => true
    case And(l, r) => isSupported(l) && isSupported(r)
    case Or(l, r) => isSupported(l) && isSupported(r)
    case Not(c) => isSupported(c)
    case _ => false
  }

  /** Kleene three-valued evaluation over the raw parsed row (`get`
    * resolves a clean column name to the cell value, null when absent —
    * including columns missing from an old snapshot, which thereby filter
    * exactly like the nulls they read as). None is SQL NULL; a row is
    * emitted iff every pushed filter yields Some(true). */
  def eval(f: Filter, get: String => String): Option[Boolean] = f match {
    case EqualTo(a, v) =>
      val x = get(a)
      if (x == null || v == null) None else Some(x == v.asInstanceOf[String])
    case EqualNullSafe(a, v) =>
      val x = get(a)
      Some(if (v == null) x == null else x != null && x == v.asInstanceOf[String])
    case In(a, vs) =>
      val x = get(a)
      if (x == null) None
      else if (vs.exists(v => v != null && v.asInstanceOf[String] == x)) Some(true)
      else if (vs.contains(null)) None
      else Some(false)
    case IsNull(a) => Some(get(a) == null)
    case IsNotNull(a) => Some(get(a) != null)
    case StringStartsWith(a, p) => Option(get(a)).map(_.startsWith(p))
    case StringEndsWith(a, p) => Option(get(a)).map(_.endsWith(p))
    case StringContains(a, p) => Option(get(a)).map(_.contains(p))
    case And(l, r) => (eval(l, get), eval(r, get)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, get), eval(r, get)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => eval(c, get).map(!_)
    case _ => None // unreachable: only supported shapes are pushed
  }
}

class FmpScan(fullSchema: StructType, required: StructType, path: String,
    allSnapshots: Boolean, repeatingAsArray: Boolean, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Shown by BatchScanExec in `.explain` — the same `PushedFilters: [...]`
    * convention the built-in file sources use, so plan audits can gate on
    * it (FmpDataSourceSpec does). */
  override def description(): String =
    s"FmpScan $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  // Spark may ask a scan for its partitions more than once; the byte scan
  // that cuts the ranges runs once per scan.
  private lazy val partitions = FmpPartitions.plan(path, allSnapshots, splitRows = true)

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new FmpPartitionReaderFactory(fullSchema.fieldNames, required, repeatingAsArray, pushed)
}

object FmpPartitions {
  /** Default directory semantics follow the reference (latest *.bz2
    * snapshot). With `allSnapshots=true` every archive in the directory
    * becomes its own partition, so a directory of N exports ingests
    * N-wide. Per-file schemas resolve by clean column name in the reader
    * (snapshot schema evolution by name).
    *
    * With `splitRows`, an uncompressed file is cut into row-aligned
    * [[FmpRanges]] of Spark's file-split size,
    * `min(maxPartitionBytes, max(openCostInBytes, fileBytes / minPartitionNum))`,
    * one partition each; a file at or below `openCostInBytes`, a bz2
    * snapshot and any file [[FmpRanges]] declines stay one partition. The
    * pushed-COUNT scan plans without `splitRows`: it emits one header
    * count per partition. */
  def plan(path: String, allSnapshots: Boolean, splitRows: Boolean): Array[InputPartition] = {
    val p = Paths.get(path)
    val files =
      if (allSnapshots && Files.isDirectory(p)) FmpReader.snapshots(p)
      else Seq(FmpReader.resolvePath(path))
    files.flatMap { f =>
      val ranges =
        if (!splitRows || FmpReader.isBz2(f)) Nil
        else {
          val bytes = Files.size(f)
          val split = splitBytes(bytes)
          if (split >= bytes) Nil else FmpRanges(f, split)
        }
      if (ranges.isEmpty) Seq(FmpInputPartition(f.toString))
      else ranges.map(r => FmpInputPartition(f.toString, Some(r)))
    }.toArray
  }

  /** Spark's file-split size for one file of `fileBytes` bytes. */
  private def splitBytes(fileBytes: Long): Long = {
    val conf = SQLConf.get
    val minPartitionNum = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, fileBytes / minPartitionNum))
  }
}

/** Pushed-COUNT(*) scan: one row per snapshot partition carrying that
  * file's header-declared `FOUND` count — rows are never parsed (the
  * header read early-exits at `<RESULTSET>`). Spark's final aggregate
  * sums the partition rows (partial pushdown). */
class FmpCountScan(path: String, allSnapshots: Boolean) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      "count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"FmpScan $path, PushedAggregation: [COUNT(*)] (header FOUND; rows not parsed)"
  override def planInputPartitions(): Array[InputPartition] =
    FmpPartitions.plan(path, allSnapshots, splitRows = false)
  override def createReaderFactory(): PartitionReaderFactory =
    new FmpCountReaderFactory
}

class FmpCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val path = partition.asInstanceOf[FmpInputPartition].resolvedPath
      private var emitted = false
      private var row: InternalRow = _
      override def next(): Boolean =
        if (emitted) false
        else {
          row = new GenericInternalRow(
            Array[Any](FmpReader.readSchemaOnly(path).foundCount))
          emitted = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** One scan task's input: a whole document, or one row-aligned range of
  * an uncompressed one. */
case class FmpInputPartition(resolvedPath: String, range: Option[FmpRange] = None)
    extends InputPartition {
  def open(): InputStream = {
    val p = Paths.get(resolvedPath)
    range.fold(FmpReader.open(p))(_.open(p))
  }

  /** Whether this partition reports the file's header warnings: only the
    * range that holds the first row does, so a split file warns once. */
  def warns: Boolean = range.forall(_.first)
}

class FmpPartitionReaderFactory(allColumns: Array[String], requiredSchema: StructType,
    repeatingAsArray: Boolean, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FmpPartitionReader(partition.asInstanceOf[FmpInputPartition],
      allColumns, requiredSchema, repeatingAsArray, pushed)
}

/** Executor-side streaming reader: StAX-parses the document and projects
  * only the pruned columns into InternalRows.
  *
  * Positional mode reads each column from the row's flat `<DATA>` cells.
  * `repeatingAsArray` mode reads it from the row's `<COL>` instead and
  * converts by schema type: MAXREPEAT>1 fields (`array<string>`) carry
  * the full repetition as ArrayData, MAXREPEAT=1 fields (`string`) take
  * the column's first value. A snapshot whose own header declared the
  * field MAXREPEAT=1 still converts fine (its one-element column becomes
  * a one-element array). */
class FmpPartitionReader(partition: FmpInputPartition, allColumns: Array[String],
    requiredSchema: StructType, repeatingAsArray: Boolean, pushedFilters: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val it = new FmpReader.FmpRowIterator(partition.open(),
    repeatingAsArray = repeatingAsArray, warn = partition.warns)
  // Resolution of a schema column to its position in the file — a flat
  // cell index, or a `<COL>` index in array mode — is by clean name
  // against the FILE's own header. Classification of the file checks the
  // FULL schema (not just the pruned columns, which may all be absent from
  // an old snapshot): if the file's header shares any name with the
  // schema, it is a by-name file and a missing column is schema evolution
  // — yield null, never another column's values. Only a header sharing
  // NOTHING with the schema is an external positional schema, where the
  // ordinal fallback applies.
  private val fileIsByName: Boolean =
    allColumns.exists(c => it.schema.cleanNames.contains(c))
  private def resolve(column: String): Int = {
    val i = it.schema.cleanNames.indexOf(column)
    if (i >= 0) i else if (fileIsByName) -1 else allColumns.indexOf(column)
  }
  private val indices: Array[Int] = requiredSchema.fieldNames.map(resolve)
  private val isArray: Array[Boolean] =
    requiredSchema.fields.map(_.dataType.isInstanceOf[ArrayType])
  private var current: InternalRow = _

  // Filters may reference columns Spark pruned OUT of the required schema
  // (it trusts the claim and drops both the Filter node and the column),
  // so their resolution is independent of `indices`.
  private val filterIdx = scala.collection.mutable.HashMap.empty[String, Int]
  private def rawValue(raw: Array[String], name: String): String = {
    val idx = filterIdx.getOrElseUpdate(name, resolve(name))
    if (idx >= 0 && idx < raw.length) raw(idx) else null
  }

  /** Pushed filters run on the RAW parsed strings, so a skipped record
    * pays zero UTF8String conversion and no row allocation. */
  private def passes(raw: Array[String]): Boolean = {
    var i = 0
    while (i < pushedFilters.length) {
      if (!FmpFilters.eval(pushedFilters(i), rawValue(raw, _)).contains(true))
        return false
      i += 1
    }
    true
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  // A string-typed column receiving a multi-<DATA> cell (e.g. an
  // allSnapshots read whose unified schema came from a MAXREPEAT=1
  // snapshot) keeps only the first repetition — warned once per
  // file+column, never silently (the module contract). Which ranges of
  // a split file truncate depends on the data, so they share one record
  // of what was warned, keyed by the stage that runs them.
  private val stage = Option(TaskContext.get()).fold(-1)(_.stageId())

  /** Required column `i` of the row just read, in array mode. */
  private def colValue(raw: Array[String], i: Int): Any = {
    val c = indices(i)
    if (c < 0 || c >= it.colCount) null
    else {
      val from = it.colStart(c)
      val n = it.colEnd(c) - from
      if (isArray(i)) new GenericArrayData(Array.tabulate[Any](n)(k => utf8(raw(from + k))))
      else {
        if (n > 1 && FmpPartitionReader.truncationWarned.add(
            (stage, partition.resolvedPath, requiredSchema.fieldNames(i))))
          FmpPartitionReader.log.warn(s"${Paths.get(partition.resolvedPath).getFileName}: column " +
            s"'${requiredSchema.fieldNames(i)}' carries $n <DATA> " +
            "repetitions but the unified schema types it string; keeping the " +
            "first repetition only (re-read with repeatingAsArray inferred " +
            "from this snapshot to preserve all repetitions)")
        if (n == 0) null else utf8(raw(from))
      }
    }
  }

  override def next(): Boolean = {
    while (it.hasNext) {
      val raw = it.next()
      if (pushedFilters.isEmpty || passes(raw)) {
        val values = new Array[Any](indices.length)
        var i = 0
        while (i < indices.length) {
          values(i) =
            if (repeatingAsArray) colValue(raw, i)
            else {
              val idx = indices(i)
              if (idx >= 0 && idx < raw.length) utf8(raw(idx)) else null
            }
          i += 1
        }
        current = new GenericInternalRow(values)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = it.close()
}

object FmpPartitionReader {
  private val log = LoggerFactory.getLogger(classOf[FmpPartitionReader])

  /** (stage, file, column) truncations already warned about; one entry
    * per truncating column of a scanned file. */
  private val truncationWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String, String)]()
}
