package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.DriverManager

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.MappingFile
import graft.fmp.{FmpReader, FmpSchema}
import graft.sinks.Sinks

/** What one workload needs from the harness while it runs. */
final class Ctx(val spark: SparkSession, val spans: Spans, val dataDir: String, val workDir: Path) {
  /** The noop sink: the whole plan executes, nothing is kept. */
  def execNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The noop sink's plan, with the rows folded into a digest. */
  def execDigest(df: DataFrame, key: String): DigestSink.Digest = {
    df.write.format(classOf[DigestSink].getName).option("id", key).mode("overwrite").save()
    DigestSink.take(key).getOrElse(throw new IllegalStateException(s"no digest for $key"))
  }
}

/** One timed operation. `run` times its own phases as spans and returns
  * what its output check needs. */
final case class Op(name: String, layer: String, run: Ctx => Any)

/** The outcome of one output check. */
final case class CheckResult(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Untimed: generate this run's inputs from the seed. */
  def prepare(seed: Long, workDir: Path): Unit = ()
  /** Part of set-up: the first touch of a fresh session. */
  def warmup(ctx: Ctx): Unit
  /** Operations timed once, before the first pass (the index build). */
  def coldOps: Seq[Op] = Nil
  def ops: Seq[Op]
  /** Warm passes a run takes at the least. */
  def minPasses: Int = 3
  /** Untimed, outside any pass: drop the previous pass's outputs. */
  def betweenPasses(ctx: Ctx, next: String): Unit = ()
  /** Untimed, after every operation: check what it returned. */
  def verify(op: String, output: Any): Option[CheckResult] = None
  /** Untimed, after the last pass: check the outputs it left behind. */
  def check(ctx: Ctx, last: Map[String, Any]): Seq[CheckResult] = Nil
  /** Operations that read a built index artifact. */
  def indexConsumers: Set[String] = Set.empty
  /** Bytes and record counts for per-layer ratios. */
  def sizes(ctx: Ctx, last: Map[String, Any]): Map[String, Double] = Map.empty
}

/** Query workloads on the parquet tables: each operation constructs a
  * registered query and executes it to the digest sink (the noop sink's
  * plan). Every execution's digest is checked against a golden file of
  * row counts and hashes. */
class QueryWorkload(queryNames: Seq[String], layerOf: String => String,
    golden: Golden, builds: Seq[(String, (SparkSession, String) => Unit)] = Nil,
    override val indexConsumers: Set[String] = Set.empty) extends Workload {

  def warmup(ctx: Ctx): Unit =
    ctx.execNoop(graft.Tables.t(ctx.spark, ctx.dataDir, "region"))

  override val coldOps: Seq[Op] = builds.map { case (n, build) =>
    Op(n, "index", c => c.spans("construct", n, "index")(build(c.spark, c.dataDir)))
  }

  val ops: Seq[Op] = queryNames.map { q =>
    val fn = SparkEntry.queries(q)
    Op(q, layerOf(q), { c =>
      val df = c.spans("construct", q, layerOf(q))(fn(c.spark, c.dataDir))
      c.spans("exec", q, layerOf(q))(c.execDigest(df, q))
    })
  }

  override def verify(op: String, output: Any): Option[CheckResult] = output match {
    case d: DigestSink.Digest => Some(golden.compare(op, d))
    case _ => None
  }
}

/** The reference's four commands as library calls on a seeded
  * Ceneton-shaped FMPXMLRESULT fixture. */
class FmpEtlWorkload(csv: Path, records: Int) extends Workload {
  // Each pass runs faster than the one before for several passes (JIT,
  // Derby), so the median is taken over more of them.
  override val minPasses = 4
  private var fixture: Path = _
  private var expected: FmpGen.Expected = _
  private var mapping: Map[String, String] = Map.empty
  private val table = "ceneton"

  // The sha-256 of the fixture, for the provenance check.
  private var fixtureSha = ""
  // Names the output locations of the current pass.
  private var tag = ""

  override def prepare(seed: Long, workDir: Path): Unit = {
    fixture = workDir.resolve("ceneton.xml")
    expected = FmpGen.write(fixture, FmpGen.readMappings(csv), records, seed)
    fixtureSha = Sinks.sha256OfFile(fixture.toString)
  }

  private def dbUrl(ctx: Ctx) = s"jdbc:derby:memory:perfbench_${ctx.workDir.getFileName}_$tag"
  private def jsonlDir(ctx: Ctx) = ctx.workDir.resolve(s"jsonl_$tag")

  def warmup(ctx: Ctx): Unit = {
    mapping = MappingFile.readMapping(ctx.spark, s"$csv:english_name")
    FmpReader.readSchemaOnly(fixture.toString)
  }

  override def betweenPasses(ctx: Ctx, next: String): Unit = {
    if (tag.nonEmpty) deleteTree(jsonlDir(ctx))
    tag = next
  }

  val ops: Seq[Op] = Seq(
    Op("header_dump", "fmp", { c =>
      val schema = c.spans("construct", "header_dump", "fmp")(FmpReader.readSchemaOnly(fixture.toString))
      c.spans("exec", "header_dump", "fmp") {
        val b = new StringBuilder("original_name,clean_name\n")
        schema.nameMapping.foreach { case (clean, f) => b.append(f.name).append(',').append(clean).append('\n') }
        b.toString
      }
      schema
    }),
    Op("analytic_scan", "fmp", { c =>
      val df = c.spans("construct", "analytic_scan", "fmp")(FmpReader.read(c.spark, fixture.toString))
      c.spans("exec", "analytic_scan", "fmp")(c.execNoop(df))
      df
    }),
    Op("jsonl_export", "sinks", { c =>
      val out = jsonlDir(c)
      val df = c.spans("construct", "jsonl_export", "sinks")(FmpReader.read(c.spark, fixture.toString))
      c.spans("exec", "jsonl_export", "sinks")(Sinks.writeJsonl(df, out.toString))
      out
    }),
    Op("db_load", "sinks", { c =>
      val url = dbUrl(c)
      val (df, schema, sha) = c.spans("construct", "db_load", "sinks") {
        val (df0, schema, sha) = c.spans("call", "fmp.driver_parse", "fmp")(
          FmpReader.readWithSchemaAndSha(c.spark, fixture.toString))
        val df = c.spans("call", "etl.mapping", "etl")(MappingFile.applyCommentMapping(df0, mapping))
        (df, schema, sha)
      }
      c.spans("exec", "db_load", "sinks") {
        c.spans("call", "sinks.jdbc", "sinks") {
          val comments = mapping.filter { case (clean, _) => df.columns.contains(clean) }
            .map { case (clean, target) => s"column_comment.$clean" -> target }
          Sinks.writeJdbc(df, url + ";create=true", table, sourceSchemaName = schema.name,
            recordCount = schema.foundCount, extraMetadata = comments + ("source_sha256" -> sha))
        }
      }
      url
    }))

  private def jsonlFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq.sorted

  /** The header dump and the database load are checked after every
    * execution; the database is then dropped, so no pass carries the
    * previous one's tables in memory. */
  override def verify(op: String, output: Any): Option[CheckResult] = output match {
    case s: FmpSchema =>
      Some(CheckResult(op, s.cleanNames == expected.fields.map(_.clean) &&
        s.fields.map(_.name) == expected.fields.map(_.original), s"${s.cleanNames.size} fields"))
    case url: String =>
      try Some(checkDb(op, url))
      finally {
        try DriverManager.getConnection(url + ";drop=true").close()
        catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
      }
    case _ => None
  }

  private def checkDb(op: String, url: String): CheckResult = {
    val c = DriverManager.getConnection(url)
    try {
      def query(sql: String): Seq[Seq[String]] = {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val out = Iterator.continually(rs.next()).takeWhile(identity)
          .map(_ => (1 to n).map(rs.getString)).toList
        rs.close(); out
      }
      val rows = query(s"SELECT COUNT(*) FROM $table").head.head.toLong
      val meta = query(s"""SELECT "key", "value" FROM ${table}_metadata""").map(r => r(0) -> r(1)).toMap
      val ok = rows == expected.records &&
        meta.get("record_count").contains(expected.records.toString) &&
        meta.get("source_schema_name").contains(expected.table) &&
        meta.get("source_sha256").contains(fixtureSha) && meta.contains("created_at")
      CheckResult(op, ok, s"$rows rows, ${meta.size} provenance rows")
    } finally c.close()
  }

  /** The JSONL export of the last pass: every line parsed, and its line
    * count and record hash compared with the generator's. */
  override def check(ctx: Ctx, last: Map[String, Any]): Seq[CheckResult] = Seq(
    last.get("jsonl_export") match {
      case Some(dir: Path) =>
        val mapper = Json.mapper
        var lines = 0L
        var sum = 0L
        jsonlFiles(dir).foreach { f =>
          Files.lines(f, StandardCharsets.UTF_8).iterator().asScala.foreach { l =>
            val node = mapper.readTree(l)
            lines += 1
            sum += FmpGen.recordHash(expected.fields, { k =>
              val v = node.get(k); if (v == null || v.isNull) null else v.asText()
            })
          }
        }
        CheckResult("jsonl_export", lines == expected.records && sum == expected.recordHash,
          s"$lines lines, hash ${if (sum == expected.recordHash) "matches" else "differs"}")
      case _ => CheckResult("jsonl_export", ok = false, "no output")
    })

  override def sizes(ctx: Ctx, last: Map[String, Any]): Map[String, Double] =
    Map("records" -> expected.records.toDouble) ++ (last.get("jsonl_export") match {
      case Some(dir: Path) => Map("jsonl_bytes" -> jsonlFiles(dir).map(Files.size).sum.toDouble)
      case _ => Map.empty
    })

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

/** Golden row counts and hashes of the query workloads' outputs, and the
  * operations whose hash is not stable between runs of one commit (those
  * are checked by row count only). */
final class Golden(val entries: Map[String, DigestSink.Digest], val rowsOnly: Set[String]) {
  def compare(q: String, got: DigestSink.Digest): CheckResult = entries.get(q) match {
    case None => CheckResult(q, ok = false, s"no golden entry (got ${got.rows} rows ${got.hash})")
    case Some(want) =>
      val ok = got.rows == want.rows && (rowsOnly(q) || got.hash == want.hash)
      CheckResult(q, ok, if (ok) s"${got.rows} rows" else
        s"want ${want.rows} rows ${want.hash}, got ${got.rows} rows ${got.hash}")
  }
}

object Golden {
  val empty = new Golden(Map.empty, Set.empty)

  def read(path: Path): Golden =
    if (!Files.exists(path)) empty
    else {
      val node = Json.mapper.readTree(path.toFile)
      val entries = node.get("outputs").fields().asScala.map { e =>
        e.getKey -> DigestSink.Digest(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
      }.toMap
      val rowsOnly = node.get("rows_only").elements().asScala.map(_.asText()).toSet
      new Golden(entries, rowsOnly)
    }

  def write(path: Path, digests: Map[String, DigestSink.Digest]): Unit =
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile,
      ListMap("outputs" -> ListMap(digests.toSeq.sortBy(_._1): _*), "rows_only" -> Seq.empty[String]))
}
