package graft.fmp

import java.io.{BufferedInputStream, FileInputStream, InputStream}
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MetadataBuilder, StringType, StructField, StructType}
import org.slf4j.LoggerFactory

import graft.etl.Sanitize
import graft.sinks.Sinks

/** One `<FIELD EMPTYOK= MAXREPEAT= NAME= TYPE=>` header entry
  * (fmp_reader.py:37-42). */
final case class FmpField(name: String, fieldType: String, emptyOk: Boolean, maxRepeat: Int)

/** Parsed FMPXMLRESULT header (fmp_reader.py:45-50): table name, field
  * definitions, sanitized column names, `<RESULTSET FOUND>` and
  * `<DATABASE RECORDS>` counts. */
final case class FmpSchema(
    name: String,
    fields: Seq[FmpField],
    cleanNames: Seq[String],
    foundCount: Long,
    databaseRecords: Long) {
  /** clean name → original field, insertion-ordered (fmp_reader.py:171). */
  def nameMapping: Seq[(String, FmpField)] = cleanNames.zip(fields)
}

/** FileMaker Pro FMPXMLRESULT reader (reference operator A1,
  * fmp_reader.py:79-187) re-expressed for Spark.
  *
  * Semantics preserved exactly (SURVEY.md §2C): every cell is a raw
  * nullable string (`<DATA/>` → null); clean names via [[Sanitize]];
  * duplicate clean names are a hard failure; `FOUND != RECORDS` warns
  * ("looking at a subset") but proceeds; directory inputs resolve to the
  * lexicographically last `*.bz2` snapshot; `.bz2` decompresses
  * transparently.
  *
  * Architecture: the default [[read]] goes through the `format("fmp")`
  * DataSource V2 provider, which infers the schema from the `<METADATA>`
  * header on the driver and runs the constant-memory StAX pull parse
  * inside executor tasks (unlike the reference, which retains the whole
  * lxml element tree — SURVEY.md §4.1). An uncompressed export is cut
  * into row-aligned byte ranges, one task each, every range parsed by
  * this one [[FmpRowIterator]] over the header, the range and the tail;
  * a bz2 snapshot is not byte-splittable and is one task.
  * [[readWithSchemaAndSha]] keeps the driver-side parse for callers that
  * need the `FmpSchema` record counts with the data.
  */
object FmpReader {
  private val log = LoggerFactory.getLogger(getClass)

  /** A bz2-compressed export, by extension: decompressed on open, and
    * never cut into byte ranges. */
  private[fmp] def isBz2(path: Path): Boolean = path.getFileName.toString.endsWith(".bz2")

  /** The `*.bz2` snapshots in `dir`, sorted by file name (oldest
    * first); a directory without one is an error. */
  private[fmp] def snapshots(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    val snaps = try listing.iterator().asScala
      .filter(isBz2).toSeq.sortBy(_.getFileName.toString)
    finally listing.close()
    require(snaps.nonEmpty, s"No *.bz2 snapshots in directory $dir")
    snaps
  }

  /** Directory input → lexicographically last `*.bz2` (latest snapshot,
    * _cli.py:26-28); plain files pass through. */
  def resolvePath(path: String): Path = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) snapshots(p).last else p
  }

  /** Test seam: every [[open]] call increments this — a CLI command's
    * open-count delta IS its decompression-pass count (FmpCliSpec asserts
    * exactly one per command). */
  private[fmp] val streamOpens = new java.util.concurrent.atomic.AtomicLong

  /** Open with transparent bz2 decompression by extension (_cli.py:30-35). */
  def open(path: Path): InputStream = {
    streamOpens.incrementAndGet()
    val raw = new BufferedInputStream(new FileInputStream(path.toFile))
    if (isBz2(path)) new BZip2CompressorInputStream(raw)
    else raw
  }

  private def newStreamReader(in: InputStream) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  // A header attribute the parse depends on that is missing or not a
  // number fails naming its element and attribute (and the bad value).
  private def requiredAttr(r: XMLStreamReader, element: String, attr: String): String = {
    val v = r.getAttributeValue(null, attr)
    if (v == null) throw new IllegalArgumentException(s"<$element> has no $attr attribute")
    v
  }

  private def numberAttr[T](r: XMLStreamReader, element: String,
      attr: String, parse: String => T): T = {
    val v = requiredAttr(r, element, attr)
    try parse(v) catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"""<$element $attr="$v"> is not a number""")
    }
  }

  /** Advance `r` through the FMPXMLRESULT header and stop just after the
    * `<RESULTSET>` open tag. Shared by the schema-only path and the row
    * iterator so warnings and validation live in exactly one place.
    * `warn = false` silences both header warnings (a range other than a
    * split file's first); `warnRepeating = false` only the MAXREPEAT one. */
  private def parseHeader(r: XMLStreamReader,
      headerStrategy: Seq[String] => Seq[String],
      warn: Boolean = true, warnRepeating: Boolean = true): FmpSchema = {
    var dbName = ""
    var dbRecords = -1L
    val fields = ArrayBuffer.empty[FmpField]
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "RESULTSET" =>
          val found = numberAttr(r, "RESULTSET", "FOUND", _.toLong)
          if (found != dbRecords && warn)
            log.warn(s"Number of records in header ($dbRecords) does not match " +
              s"number of records in result set ($found). " +
              "We are looking at a subset of the database.")
          val clean = headerStrategy(fields.map(_.name).toSeq)
          require(clean.distinct.size == fields.size,
            s"There are duplicate 'cleaned' names in the field list: $clean")
          return FmpSchema(dbName, fields.toSeq, clean, found, dbRecords)
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "DATABASE" =>
          dbName = r.getAttributeValue(null, "NAME")
          dbRecords = numberAttr(r, "DATABASE", "RECORDS", _.toLong)
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "FIELD" =>
          val f = FmpField(
            name = requiredAttr(r, "FIELD", "NAME"),
            fieldType = r.getAttributeValue(null, "TYPE"),
            emptyOk = r.getAttributeValue(null, "EMPTYOK") == "YES",
            maxRepeat = numberAttr(r, "FIELD", "MAXREPEAT", _.toInt))
          // The reference silently assumes one <DATA> per column: it
          // appends EVERY <DATA> text to the record (fmp_reader.py:116-117)
          // and a repeating column therefore misaligns/overflows the row
          // (namedtuple arity failure at fmp_reader.py:112). This parser
          // reproduces that per-<DATA> behavior exactly for parity, but
          // refuses to do it silently.
          if (f.maxRepeat > 1 && warn && warnRepeating)
            log.warn(s"Field '${f.name}' declares MAXREPEAT=${f.maxRepeat}; repeating " +
              "fields are NOT supported in positional mode (reference-parity): each " +
              "<DATA> becomes its own cell, so a row carrying more than one <DATA> for " +
              "this column will misalign or fail. Export with MAXREPEAT=1, flatten " +
              "repetitions upstream, or read with option(\"repeatingAsArray\", true) " +
              "to ingest this column as array<string>.")
          fields += f
        case _ =>
      }
    }
    throw new IllegalArgumentException("No <RESULTSET> element found: not an FMPXMLRESULT document")
  }

  /** Parse the header only and stop at `<RESULTSET>` — the schema-only
    * path (`dump_headers`, _cli.py:38-53) runs no Spark job at all.
    * The stream reader is always closed (closing an XMLStreamReader does
    * not close the underlying InputStream, which the caller owns). */
  def readSchema(in: InputStream,
      headerStrategy: Seq[String] => Seq[String] = Sanitize.defaultHeaderStrategy): FmpSchema = {
    val r = newStreamReader(in)
    try parseHeader(r, headerStrategy) finally r.close()
  }

  /** Pull-based row iterator over an FMPXMLRESULT stream: parses the
    * header eagerly (schema available immediately), then yields one
    * `Array[String]` per `<ROW>` on demand — every `<DATA>` text in
    * document order (`<DATA/>` → null), the positional view both the
    * driver reader and the DataSource V2 reader consume. Constant memory;
    * close() releases the underlying stream.
    *
    * The same pass records each `<COL>` boundary, so the row just returned
    * by next() also reads as one `<DATA>` list per `<COL>`: column `c`
    * holds the cells `[colStart(c), colEnd(c))` (an empty `<COL>` is an
    * empty range). That is the `repeatingAsArray` view, in which a
    * MAXREPEAT>1 column arrives as a real repeated value instead of
    * misaligning the positional row — capability the reference lacks (it
    * appends every `<DATA>` flat, fmp_reader.py:116-117, and a repeating
    * row overflows its namedtuple). Callers that take that view pass
    * `repeatingAsArray = true`, which silences the positional-mode
    * MAXREPEAT warning. The boundaries stay valid until the next
    * hasNext/next call. `warn = false` silences the header warnings, for
    * every range of a split file but the first. */
  final class FmpRowIterator(in: InputStream,
      headerStrategy: Seq[String] => Seq[String] = Sanitize.defaultHeaderStrategy,
      repeatingAsArray: Boolean = false, warn: Boolean = true)
      extends Iterator[Array[String]] with AutoCloseable {
    private val r = newStreamReader(in)
    val schema: FmpSchema = parseHeader(r, headerStrategy, warn, warnRepeating = !repeatingAsArray)

    private val current = ArrayBuffer.empty[String]
    private var colEnds = new Array[Int](math.max(1, schema.fields.size))
    private var nCols = 0
    private var pending: Array[String] = null
    private var inData = false
    private var sawText = false
    private val text = new StringBuilder
    private var exhausted = false

    /** `<COL>` count of the row last returned by next(). */
    def colCount: Int = nCols
    def colStart(c: Int): Int = if (c == 0) 0 else colEnds(c - 1)
    def colEnd(c: Int): Int = colEnds(c)

    private def advance(): Unit = {
      while (pending == null && !exhausted && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "ROW" => current.clear(); nCols = 0
              case "DATA" => inData = true; sawText = false; text.clear()
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inData =>
            text.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
            sawText = true
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "DATA" =>
                current += (if (sawText) text.toString else null)
                inData = false
              case "COL" =>
                if (nCols == colEnds.length) colEnds = java.util.Arrays.copyOf(colEnds, nCols * 2)
                colEnds(nCols) = current.size
                nCols += 1
              case "ROW" =>
                pending = current.toArray
                current.clear()
              case "RESULTSET" => exhausted = true
              case _ =>
            }
          case _ =>
        }
      }
      if (!r.hasNext) exhausted = true
    }

    override def hasNext: Boolean = { if (pending == null) advance(); pending != null }
    override def next(): Array[String] = {
      if (!hasNext) throw new NoSuchElementException
      val out = pending; pending = null; out
    }
    override def close(): Unit = { r.close(); in.close() }
  }

  /** Spark StructType for an FMP schema: all-nullable strings (reference
    * semantics §2C.1), original header name carried as `comment` metadata
    * (the SQL column comment at sql.py:31-34). With `repeatingAsArray`,
    * MAXREPEAT>1 fields surface as `array<string>` instead. */
  def toStructType(schema: FmpSchema, repeatingAsArray: Boolean = false): StructType =
    StructType(schema.nameMapping.map { case (clean, field) =>
      val dt: DataType =
        if (repeatingAsArray && field.maxRepeat > 1) ArrayType(StringType, containsNull = true)
        else StringType
      StructField(clean, dt, nullable = true,
        metadata = new MetadataBuilder().putString("comment", field.name).build())
    })

  /** Single-pass driver read for bulk-load flows (`create_db`): ONE
    * decompression yields the rows, the `FmpSchema` counts, AND the
    * sha256 of the complete decompressed byte stream — a DigestInputStream
    * taps the stream beneath the StAX parser, and the tail bytes after
    * `</RESULTSET>` (which the row iterator never consumes) are drained
    * through it so the digest equals a full-file hash (the reference
    * hashes the whole decompressed handle, _cli.py:146-148).
    *
    * Driver-buffered by design: a FileMaker snapshot is one bounded
    * curated database, and the JDBC bulk load is driver-adjacent anyway
    * (single-transaction parity coalesces to one connection). The rows
    * reach Spark through [[driverFrame]]. The executor-side streaming path
    * for analytics remains [[read]]. */
  def readWithSchemaAndSha(spark: SparkSession, path: String,
      headerStrategy: Seq[String] => Seq[String] = Sanitize.defaultHeaderStrategy)
      : (DataFrame, FmpSchema, String) = {
    val in = Sinks.sha256Tap(open(resolvePath(path)))
    val rows = ArrayBuffer.empty[Array[String]]
    val it = new FmpRowIterator(in, headerStrategy)
    val (schema, sha) = try {
      while (it.hasNext) rows += it.next()
      (it.schema, Sinks.drainSha256(in))
    } finally it.close()
    (driverFrame(spark, rows.toSeq, toStructType(schema)), schema, sha)
  }

  /** Rows parsed on the driver as a DataFrame over a local relation, in
    * row order. The rows are encoded once, on the driver, and its scan
    * ships them to the task as compact `UnsafeRow`s, not as
    * Java-serialized `Row`s the task must deserialize and encode.
    * Each row takes the schema's width, as in the V2 positional reader: a
    * cell past the last column is dropped (a misaligned repeating row),
    * a missing one is null. */
  def driverFrame(spark: SparkSession, rows: Seq[Array[String]], struct: StructType): DataFrame = {
    val width = struct.length
    spark.createDataFrame(rows.map { r =>
      val cells = if (r.length == width) r else java.util.Arrays.copyOf(r, width)
      Row.fromSeq(ArraySeq.unsafeWrapArray(cells))
    }.asJava, struct)
  }

  /** Default read path: the DataSource V2 `format("fmp")` source, which
    * parses rows INSIDE executor tasks (the driver touches only the
    * `<METADATA>` header for schema inference). The driver-side
    * [[readWithSchemaAndSha]] remains for callers that need the
    * `FmpSchema` counts and the content hash alongside the data. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("fmp").load(path)

  /** Schema-only read (no Spark job) for the `dump_headers` path. */
  def readSchemaOnly(path: String): FmpSchema = {
    val in = open(resolvePath(path))
    try readSchema(in) finally in.close()
  }
}
