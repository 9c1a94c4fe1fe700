package graft.fmp

import org.apache.spark.sql.SparkSession

import graft.etl.{KeyValueArgs, MappingFile, Sanitize}
import graft.sinks.Sinks

/** CLI parity with the reference's four `ct-db` commands (_cli.py:18-181):
  * dump_headers, print, to_json, create_db. Same argument shapes
  * (positional FILE [DB_URL], `--mapping-column f.csv[:col]`,
  * `--table-name t`, repeated `--db-metadata k=v`).
  *
  * Usage:
  *   runMain graft.fmp.FmpCli dump_headers FILE
  *   runMain graft.fmp.FmpCli print FILE
  *   runMain graft.fmp.FmpCli to_json FILE
  *   runMain graft.fmp.FmpCli create_db FILE DB_URL [--mapping-column f.csv:col]
  *       [--table-name t] [--db-metadata k=v]...
  */
object FmpCli {
  private def withSession[T](f: SparkSession => T): T = {
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = graft.Engine.session("graft-fmp-cli", sys.env.get("SPARK_MASTER"))
    // Only stop a context this invocation created — in-process callers
    // (tests, notebooks) keep theirs.
    try f(spark) finally if (preExisting.isEmpty) spark.stop()
  }

  /** RFC 4180 field quoting (the reference uses csv.writer, which quotes
    * fields containing commas/quotes/newlines — FileMaker field names can
    * contain any of them). */
  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Records between progress lines for the `print` command. */
  private[fmp] val ProgressEvery = 5000L

  /** Rows per driver batch for `to_json` — bounds driver memory while
    * keeping the per-batch Spark job overhead negligible. */
  private[fmp] val JsonBatchRows = 10000

  /** `print`'s progress lines: one every [[ProgressEvery]] records plus a
    * final rec/s summary (the tqdm analogue of the reference's `print`,
    * _cli.py:56-68). */
  private final class Progress(fileName: String) {
    private val startNanos = System.nanoTime()
    var count = 0L

    private def recPerSec: Long = {
      val secs = (System.nanoTime() - startNanos) / 1e9
      if (secs > 0) (count / secs).toLong else 0L
    }

    def record(): Unit = {
      count += 1
      if (count % ProgressEvery == 0)
        println(s"[fmp] $fileName: $count records ($recPerSec rec/s)")
    }

    def finish(): Unit = println(s"[fmp] $fileName: parsed $count records ($recPerSec rec/s)")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "dump_headers" :: file :: Nil =>
      // Schema-only path: no Spark job at all (SURVEY.md §3.3).
      val schema = FmpReader.readSchemaOnly(file)
      println("original_name,clean_name")
      schema.nameMapping.foreach { case (clean, f) =>
        println(s"${csvField(f.name)},${csvField(clean)}")
      }

    case "print" :: file :: Nil =>
      // ONE stream, ONE decompression: header counts line, then the same
      // constant-memory StAX iterator continues over the rows with the
      // progress lines (the reference's tqdm analogue, _cli.py:56-68 —
      // also a single pass). The progress lines follow one ordered pass,
      // so the driver counts.
      val resolved = FmpReader.resolvePath(file)
      val it = new FmpReader.FmpRowIterator(FmpReader.open(resolved))
      try {
        println(s"Parsing ${it.schema.foundCount} records from ${it.schema.name}")
        val progress = new Progress(resolved.getFileName.toString)
        while (it.hasNext) { it.next(); progress.record() }
        progress.finish()
        println(s"Materialized ${progress.count} records")
        println("Done")
      } finally it.close()

    case "to_json" :: file :: Nil => withSession { spark =>
      // ONE decompression AND bounded driver memory: the StAX iterator
      // streams rows in fixed-size batches, each converted by the SAME
      // Spark to_json the JSONL sink uses (Jackson escaping + explicit
      // nulls — byte parity with the distributed sink), so a multi-GB
      // export prints its first lines immediately and never materializes
      // whole on the driver. Row order is the document's.
      val it = new FmpReader.FmpRowIterator(FmpReader.open(FmpReader.resolvePath(file)))
      try {
        val struct = FmpReader.toStructType(it.schema)
        it.grouped(JsonBatchRows).foreach { batch =>
          Sinks.toJsonlLines(FmpReader.driverFrame(spark, batch, struct)).foreach(println)
        }
      } finally it.close()
    }

    // The reference's create_db docstring promises "You can also set the
    // DB_URL environment variable" (_cli.py:132) but its click wiring
    // never reads it (no envvar= on the argument) — honor the documented
    // contract: positional DB_URL wins, the env var is the fallback.
    case "create_db" :: file :: rest0 if rest0.isEmpty || rest0.head.startsWith("--") =>
      resolveDbUrl(None, sys.env) match {
        case Some(url) => main(("create_db" :: file :: url :: rest0).toArray)
        case None =>
          System.err.println("create_db requires a DB_URL argument (or the DB_URL environment variable)")
          sys.exit(2)
      }

    case "create_db" :: file :: dbUrl :: rest => withSession { spark =>
      val opts = parseOptions(rest)
      val resolved = FmpReader.resolvePath(file)
      // ONE decompression: rows, header counts, and the provenance hash
      // come from a single tapped stream. The hash covers the
      // DECOMPRESSED content — the reference reads from the
      // bz2-decompressed handle before hashing (_cli.py:146-148), so
      // .bz2 snapshots hash their XML bytes.
      val (df0, schema, sha) = FmpReader.readWithSchemaAndSha(spark, file)
      val mapping = opts.mappingColumn.map(MappingFile.readMapping(spark, _))
      // Reference parity: the table keeps the sanitized clean names; the
      // mapping supplies the column COMMENT metadata (sql.py:29-37).
      // Spark's JDBC writer emits no per-column COMMENT DDL on any
      // dialect, so the comments ALSO persist as `column_comment.<clean>`
      // rows in the provenance metadata table — queryable in the database
      // rather than silently dropped with the DataFrame.
      val df = mapping.fold(df0)(MappingFile.applyCommentMapping(df0, _))
      val tableName = opts.tableName.getOrElse(Sanitize.sanitize(schema.name))
      val commentRows = mapping.getOrElse(Map.empty)
        .filter { case (clean, _) => df0.columns.contains(clean) }
        .map { case (clean, target) => s"column_comment.$clean" -> target }
      val extra = opts.dbMetadata ++ commentRows ++ Map(
        "source_url" -> resolved.toAbsolutePath.normalize.toString,
        "source_sha256" -> sha)
      Sinks.writeJdbc(df, dbUrl, tableName,
        sourceSchemaName = schema.name, recordCount = schema.foundCount,
        extraMetadata = extra)
      println(s"Loaded ${schema.foundCount} records into $tableName")
    }

    case other =>
      System.err.println(
        s"Unknown command: ${other.mkString(" ")}\n" +
          "Commands: dump_headers FILE | print FILE | to_json FILE | " +
          "create_db FILE DB_URL [--mapping-column f.csv[:col]] [--table-name t] [--db-metadata k=v]...")
      sys.exit(2)
  }

  /** Positional DB_URL wins; the DB_URL environment variable is the
    * documented fallback (reference _cli.py:132). */
  private[fmp] def resolveDbUrl(positional: Option[String],
      env: Map[String, String]): Option[String] =
    positional.orElse(env.get("DB_URL"))

  private case class Options(
      mappingColumn: Option[String] = None,
      tableName: Option[String] = None,
      dbMetadata: Map[String, String] = Map.empty)

  private def parseOptions(rest: List[String]): Options = {
    @annotation.tailrec
    def loop(args: List[String], acc: Options, kvs: List[String]): Options = args match {
      case "--mapping-column" :: v :: tail => loop(tail, acc.copy(mappingColumn = Some(v)), kvs)
      case "--table-name" :: v :: tail => loop(tail, acc.copy(tableName = Some(v)), kvs)
      case "--db-metadata" :: v :: tail => loop(tail, acc, v :: kvs)
      case Nil => acc.copy(dbMetadata = KeyValueArgs.parse(kvs.reverse))
      case bad :: _ => throw new IllegalArgumentException(s"Unknown option: $bad")
    }
    loop(rest, Options(), Nil)
  }
}
