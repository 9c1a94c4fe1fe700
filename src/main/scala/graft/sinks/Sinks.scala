package graft.sinks

import java.io.InputStream
import java.nio.file.{Files, Paths}
import java.security.{DigestInputStream, MessageDigest}
import java.sql.DriverManager
import java.time.Instant
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JDBC dialect for HiveQL-family servers (`jdbc:hive2://` —
  * HiveServer2 or a Spark Thrift Server): the ONE load-bearing
  * difference from Spark's default dialect is identifier quoting.
  * The default quotes column names with double quotes, which this SQL
  * family parses as STRING LITERALS — a `spark.read.jdbc` of a 3-column
  * table comes back as three constant strings per row (the column
  * names), silently. Backticks are the identifier quote here. Registered
  * once when [[Sinks]] loads; `JdbcDialects.get` routes by URL prefix so
  * Derby/Postgres/etc. are untouched. */
object HiveQlDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:hive2")
  override def quoteIdentifier(colName: String): String =
    s"`${colName.replace("`", "``")}`"
}

/** Output sinks with reference parity (SURVEY.md §2A A5/A7/A9-A12).
  */
object Sinks {
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(HiveQlDialect)

  // ---------------------------------------------------------------- A7
  /** Null-preserving JSONL sink (`to_json`, _cli.py:71-83). Spark's JSON
    * writer drops null fields by default; the reference emits explicit
    * `"field": null`, so `ignoreNullFields=false` is load-bearing
    * (SURVEY.md §7.4.4). Field order = schema order (struct order).
    *
    * `ordered=true` reproduces the reference's single-stream line order
    * (coalesce to one file after the caller's sort); leave false at scale
    * where line order across part-files is not a contract. */
  def writeJsonl(df: DataFrame, path: String, ordered: Boolean = false): Unit = {
    val out = if (ordered) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("ignoreNullFields", "false").json(path)
  }

  /** JSONL as in-order strings (the stdout-parity path for small data). */
  def toJsonlLines(df: DataFrame): Iterator[String] = {
    val cols = df.columns.map(col)
    df.select(to_json(struct(cols: _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .toLocalIterator().asScala.map(_.getString(0))
  }

  // ---------------------------------------------------------------- A5
  /** The original (pre-sanitization) column name carried in StructField
    * metadata: `fmp_original_name` survives a comment-mapping overwrite
    * of `comment` (MappingFile.applyCommentMapping), so it is preferred;
    * `comment` is the fallback the mapping path writes. */
  private def originalName(f: StructField): Option[String] =
    if (f.metadata.contains("fmp_original_name"))
      Some(f.metadata.getString("fmp_original_name"))
    else if (f.metadata.contains("comment")) Some(f.metadata.getString("comment"))
    else None

  /** Header-mapping CSV (`dump_headers`, _cli.py:38-53): two columns,
    * original_name,clean_name, one row per field in schema order. Built
    * from the DataFrame schema + `comment` metadata as a local relation —
    * no job runs. */
  def headersDf(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.schema.fields.map(f => Row(originalName(f).getOrElse(f.name), f.name))
    spark.createDataFrame(rows.toSeq.asJava,
      StructType(Seq(
        StructField("original_name", StringType, nullable = false),
        StructField("clean_name", StringType, nullable = false))))
  }

  def writeHeadersCsv(spark: SparkSession, df: DataFrame, path: String): Unit =
    headersDf(spark, df).coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  // ---------------------------------------------------------------- A9-A12
  /** Provenance rows for the `<table>_metadata` side table (sql.py:96-113
    * + _cli.py:146-150): created_at, source_schema_name, record_count,
    * plus caller pairs (source_url, source_sha256, user --db-metadata). */
  def provenanceRows(
      sourceSchemaName: String,
      recordCount: Long,
      extra: Map[String, String],
      createdAt: Instant): Seq[(String, String, java.sql.Timestamp)] = {
    val ts = java.sql.Timestamp.from(createdAt)
    Seq(
      ("created_at", createdAt.toString, ts),
      ("source_schema_name", sourceSchemaName, ts),
      ("record_count", recordCount.toString, ts)) ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => (k, v, ts) }
  }

  private val metadataTableTypes = "key VARCHAR(255), value VARCHAR(1000), created_at TIMESTAMP"

  private def existingTablesOn(conn: java.sql.Connection): Set[String] = {
    val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val names = scala.collection.mutable.Set.empty[String]
    while (rs.next()) names += rs.getString("TABLE_NAME").toLowerCase
    names.toSet
  }

  /** Whether the target driver supports `addBatch`/`executeBatch` — the
    * capability Spark's own JDBC writer requires unconditionally. Derby,
    * Postgres, MySQL etc. report true; the Hive/Spark-Thrift JDBC driver
    * reports false (and its `addBatch` throws), which routes the load
    * through [[saveMultiRow]] instead. A driver whose metadata call
    * itself throws is treated as batch-incapable — the multi-row path is
    * valid (if less optimized) SQL on every dialect we can reach. */
  private def supportsBatchOn(conn: java.sql.Connection): Boolean =
    try conn.getMetaData.supportsBatchUpdates
    catch { case _: Exception => false }

  /** Bulk load for batch-incapable dialects: CREATE TABLE from the
    * DataFrame schema (Spark SQL DDL types via `DataType.sql`, unless
    * the caller supplied `createTableColumnTypes`), then multi-row
    * `INSERT INTO t (cols) VALUES (…), (…), …` prepared statements of
    * `batchSize` rows per round-trip — the same batched-write contract
    * as the reference's executemany (batch 500), expressed as SQL the
    * dialect can run. TIMESTAMP/DATE placeholders are wrapped in
    * explicit CASTs because parameter substitution on these drivers is
    * client-side string interpolation, and ANSI engines (Spark SQL
    * itself included) refuse the implicit string→timestamp store
    * assignment. One connection per partition — the caller's
    * `singleTransactionParity` coalesce decides the parallelism, same
    * as the batch path.
    *
    * Identifiers are quoted through the URL's registered `JdbcDialect`
    * (backticks on hive2 via [[HiveQlDialect]]) so reserved-word or
    * spaced column names survive, exactly as the batch writer's DDL
    * does.
    *
    * Retry semantics, stated honestly: each partition wraps its inserts
    * in a transaction WHEN the dialect supports one (rollback on task
    * failure → a Spark retry starts clean). On dialects with neither
    * batches nor transactions (Hive/Spark-Thrift), a task that dies
    * mid-partition and is retried re-inserts its earlier chunks —
    * at-least-once, the same exposure Spark's own JdbcUtils has on
    * non-transactional targets. For those, load into a staging table
    * and atomically rename (the SCALE.md §JDBC discipline), or make
    * the sink idempotent on a key. */
  private def saveMultiRow(df: DataFrame, url: String, tableName: String,
      createTableColumnTypes: Option[String], batchSize: Int): Unit = {
    val schema = df.schema
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    def q(name: String): String = dialect.quoteIdentifier(name)
    // Column COMMENT parity (sql.py:29-37: the reference attaches the
    // original FMP header to every column as a database comment).
    // HiveQL-family targets support `col TYPE COMMENT '…'` in CREATE
    // TABLE, so the metadata the FMP reader carries finally reaches the
    // database itself, not just the exported CSV. Escaping is the Spark/
    // Hive lexer's backslash convention (NOT ANSI quote-doubling, which
    // this parser family reads as two adjacent literals). Other
    // batch-incapable dialects get the bare definition — column-comment
    // DDL has no portable ANSI form.
    def commentSql(f: StructField): String =
      if (!HiveQlDialect.canHandle(url)) ""
      else originalName(f).fold("") { n =>
        s" COMMENT '${n.replace("\\", "\\\\").replace("'", "\\'")}'"
      }
    val colDefs = createTableColumnTypes.getOrElse(
      schema.fields.map(f => s"${q(f.name)} ${f.dataType.sql}${commentSql(f)}")
        .mkString(", "))
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $tableName ($colDefs)") finally st.close()
    } finally conn.close()
    val names = schema.fieldNames.map(q).mkString(", ")
    val rowPh = schema.fields.map(_.dataType match {
      case TimestampType => "CAST(? AS TIMESTAMP)"
      case DateType => "CAST(? AS DATE)"
      case _ => "?"
    }).mkString("(", ", ", ")")
    val nFields = schema.fields.length
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val c = DriverManager.getConnection(url)
        val txCapable =
          try c.getMetaData.supportsTransactions catch { case _: Exception => false }
        if (txCapable) c.setAutoCommit(false)
        var committed = false
        try {
          rows.grouped(batchSize).foreach { chunk =>
            val sql = s"INSERT INTO $tableName ($names) VALUES " +
              Seq.fill(chunk.size)(rowPh).mkString(", ")
            val ps = c.prepareStatement(sql)
            try {
              var i = 1
              chunk.foreach { r =>
                var j = 0
                while (j < nFields) {
                  val v = r.get(j)
                  if (v == null) ps.setNull(i, java.sql.Types.NULL)
                  else ps.setObject(i, v)
                  i += 1
                  j += 1
                }
              }
              ps.executeUpdate()
            } finally ps.close()
          }
          if (txCapable) { c.commit(); committed = true }
        } finally {
          if (txCapable && !committed) {
            try c.rollback() catch { case _: Exception => () }
          }
          c.close()
        }
      }
    }
  }

  /** JDBC bulk-load sink with reference parity (A12, _cli.py:108-181):
    *  - hard failure if the core OR metadata table already exists
    *    (sql.py:65-75 — checked up front, before any DDL);
    *  - batched inserts (`batchsize`, reference default 500);
    *  - provenance side table `<table>_metadata` written alongside.
    *
    * `singleTransactionParity=true` coalesces the load to one partition —
    * one connection, one commit, matching the reference's single outer
    * transaction (_cli.py:169). At scale, leave it false (per-partition
    * parallel connections) and load into a staging table that is atomically
    * renamed — cross-partition transactional writes are not a Spark JDBC
    * primitive (SURVEY.md §7.4.3).
    */
  def writeJdbc(
      df: DataFrame,
      url: String,
      tableName: String,
      sourceSchemaName: String,
      recordCount: Long,
      extraMetadata: Map[String, String] = Map.empty,
      batchSize: Int = 500,
      singleTransactionParity: Boolean = true,
      createTableColumnTypes: Option[String] = None,
      createdAt: Instant = Instant.now()): Unit = {
    val spark = df.sparkSession
    val metaTable = s"${tableName}_metadata"
    val conn0 = DriverManager.getConnection(url)
    val (existing, batchCapable) =
      try (existingTablesOn(conn0), supportsBatchOn(conn0)) finally conn0.close()
    if (existing.contains(tableName.toLowerCase))
      throw new IllegalStateException(s"Table '$tableName' already exists in the database")
    if (existing.contains(metaTable.toLowerCase))
      throw new IllegalStateException(s"Metadata table '$metaTable' already exists in the database")

    val out = if (singleTransactionParity) df.coalesce(1) else df
    import spark.implicits._
    val meta = provenanceRows(sourceSchemaName, recordCount, extraMetadata, createdAt)
      .toDF("key", "value", "created_at")

    if (batchCapable) {
      val props = new Properties()
      val writer = out.write.mode(SaveMode.ErrorIfExists).option("batchsize", batchSize.toString)
      createTableColumnTypes.fold(writer)(t => writer.option("createTableColumnTypes", t))
        .jdbc(url, tableName, props)
      meta.coalesce(1).write.mode(SaveMode.ErrorIfExists)
        .option("createTableColumnTypes", metadataTableTypes)
        .jdbc(url, metaTable, props)
    } else {
      // Batch-incapable dialect (Hive/Spark-Thrift): Spark's writer
      // cannot run here (unconditional addBatch, dialect-foreign DDL
      // quoting) — same contract, multi-row INSERT path.
      saveMultiRow(out, url, tableName, createTableColumnTypes, batchSize)
      saveMultiRow(meta.coalesce(1), url, metaTable, Some(metadataTableTypes), batchSize)
    }
  }

  /** Partitioned parquet sink — the at-rest layout SCALE.md prescribes:
    * directory-partitioned by low-cardinality keys so predicate queries
    * prune whole partitions before any IO. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** JSONL ingestion with a quarantine lane — the robustness path a real
    * crawl/export feed needs: a malformed line (truncated write, encoding
    * damage, a declared field arriving with a conflicting type) must
    * neither kill the job (FAILFAST) nor silently vanish
    * (DROPMALFORMED). PERMISSIVE mode parks unparseable lines in the
    * corrupt-record column; this splits the read into (good rows,
    * quarantined raw lines) so the pipeline ingests what parses and
    * retains the rest for re-processing — byte-for-byte, with
    * provenance intact. Scope, precisely: ADDITIVE drift (a NEW field
    * the schema doesn't declare) still parses cleanly and is dropped
    * per JSON-projection semantics — this lane catches records that
    * fail the declared contract, not contract growth; detect the
    * latter by diffing an inferred-schema sample against the declared
    * one upstream.
    *
    * Scale: one parse pass, persisted — Spark REFUSES corrupt-column-
    * only queries against a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_
    * COLUMN; the parser only materializes the raw line while parsing),
    * so the parsed frame is cached here per the documented contract:
    * both lanes then read the one in-memory parse. Call `release()` on
    * the returned handle when done with both lanes.
    *
    * The explicit schema is required, not optional: schema inference
    * would silently widen types to absorb drift — the exact failure
    * this lane exists to surface. */
  final case class QuarantineRead(good: DataFrame, quarantined: DataFrame,
      release: () => Unit)

  def readJsonlQuarantine(spark: SparkSession, path: String,
      schema: StructType): QuarantineRead = {
    val corrupt = "_quarantined_record"
    val parsed = spark.read
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .cache()
    val good = parsed.filter(col(corrupt).isNull)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val quarantined = parsed.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    QuarantineRead(good, quarantined, () => { parsed.unpersist(); () })
  }

  /** ORC sink — the second columnar at-rest format Spark ships a native
    * vectorized reader/writer for. Same zone-map (min/max + optional
    * bloom) pruning story as parquet; the choice between them is an
    * ecosystem question (Hive-heavy stacks read ORC), not a capability
    * one, so the engine offers both. zstd-compressed (this build's
    * `spark.sql.orc.compression.codec` default; pass
    * `.option("compression", …)` to override), overwrite — mirrors the
    * parquet sinks' semantics; partitioned layout composes via
    * [[writePartitioned]]'s pattern with `.orc(path)`. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** SHA-256 of a file's raw bytes, streamed — driver-side by design; the
    * data-plane analogue is `sha2(col, 256)` (B26). */
  def sha256OfFile(path: String): String = {
    val in = sha256Tap(Files.newInputStream(Paths.get(path)))
    try drainSha256(in) finally in.close()
  }

  /** Wraps `in` so every byte read through it feeds a SHA-256 digest. */
  def sha256Tap(in: InputStream): DigestInputStream =
    new DigestInputStream(in, MessageDigest.getInstance("SHA-256"))

  /** Reads `in` to its end and returns the lowercase hex SHA-256 of every
    * byte that passed through it, including those a parser consumed
    * before the call. The caller closes `in`. */
  def drainSha256(in: DigestInputStream): String = {
    val buf = new Array[Byte](65536)
    while (in.read(buf) != -1) {}
    in.getMessageDigest.digest().map("%02x".format(_)).mkString
  }
}
