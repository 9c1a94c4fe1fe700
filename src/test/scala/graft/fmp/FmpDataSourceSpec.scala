package graft.fmp

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** DataSource V2 surface: `spark.read.format("fmp")` must infer the
  * sanitized schema, stream rows executor-side, prune columns, and match
  * the driver reader exactly, whether or not it cuts a file into
  * row-aligned ranges. */
class FmpDataSourceSpec extends SparkSpec {

  private val ns = "http://www.filemaker.com/fmp/1/result"

  private def doc(n: Int): String = {
    val rows = (1 to n).map { i =>
      s"""    <ROW MODID="0" RECORDID="$i">
         |      <COL><DATA>$i</DATA></COL>
         |      <COL><DATA>author $i</DATA></COL>
         |      <COL>${if (i % 3 == 0) "<DATA/>" else s"<DATA>${1600 + i}</DATA>"}</COL>
         |    </ROW>""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<FMPXMLRESULT xmlns="$ns">
       |  <ERRORCODE>0</ERRORCODE>
       |  <PRODUCT BUILD="x" NAME="FileMaker" VERSION="1"/>
       |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="$n" TIMEFORMAT="h"/>
       |  <METADATA>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr." TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Jaar" TYPE="NUMBER"/>
       |  </METADATA>
       |  <RESULTSET FOUND="$n">
       |$rows
       |  </RESULTSET>
       |</FMPXMLRESULT>""".stripMargin
  }

  private def writeFixture(n: Int): String = {
    val p = Files.createTempDirectory("fmpv2").resolve("export.xml")
    Files.write(p, doc(n).getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("format(\"fmp\") infers the sanitized all-string schema") {
    val df = spark.read.format("fmp").load(writeFixture(5))
    assert(df.columns.toSeq == Seq("aantal_bedr_", "auteur", "jaar"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("V2 scan rows equal the driver-parallelize reader rows") {
    val path = writeFixture(50)
    val v2 = spark.read.format("fmp").load(path).orderBy("aantal_bedr_").collect().toSeq
    val v1 = FmpReader.readWithSchemaAndSha(spark, path)._1.orderBy("aantal_bedr_").collect().toSeq
    assert(v2 == v1)
    assert(v2.size == 50)
    // FmpReader.read IS the V2 path now (the default; VERDICT r1 item 2)
    assert(FmpReader.read(spark, path).rdd.getNumPartitions == 1)
  }

  test("schema evolution: a column absent from an old snapshot reads as null") {
    val dir = Files.createTempDirectory("fmpevo")
    // old snapshot lacks the Jaar column; new snapshot (lexicographically
    // last) has all three — its schema wins at inference time.
    val oldDoc =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<FMPXMLRESULT xmlns="$ns">
         |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="2" TIMEFORMAT="h"/>
         |  <METADATA>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr." TYPE="TEXT"/>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
         |  </METADATA>
         |  <RESULTSET FOUND="2">
         |    <ROW MODID="0" RECORDID="1"><COL><DATA>1</DATA></COL><COL><DATA>old author</DATA></COL></ROW>
         |    <ROW MODID="0" RECORDID="2"><COL><DATA>2</DATA></COL><COL><DATA>older author</DATA></COL></ROW>
         |  </RESULTSET>
         |</FMPXMLRESULT>""".stripMargin
    def bz(name: String, content: String): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(content.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("a-old.xml.bz2", oldDoc)
    bz("b-new.xml.bz2", doc(3))
    val df = spark.read.format("fmp").option("allSnapshots", "true").load(dir.toString)
    assert(df.count() == 5)
    val oldRows = df.filter(df("auteur").contains("old")).collect()
    assert(oldRows.length == 2)
    assert(oldRows.forall(_.isNullAt(df.columns.indexOf("jaar"))),
      "absent column must read as null, never another column's values")
    val newRows = df.filter(!df("auteur").contains("old"))
    assert(newRows.filter(df("jaar").isNotNull).count() == 2, // i=3 is <DATA/>
      "rows from the full-schema snapshot keep their jaar values")

    // Pruning to ONLY the evolved column must not fall back to ordinals:
    // the old snapshot's header shares other names with the schema, so it
    // is a by-name file and its missing jaar is null — never auteur's data.
    val onlyJaar = spark.read.format("fmp").option("allSnapshots", "true")
      .load(dir.toString).select("jaar").collect()
    assert(onlyJaar.length == 5)
    assert(onlyJaar.count(_.isNullAt(0)) == 3, // 2 old rows + <DATA/> in new
      "pruned read of an absent column must yield nulls, not a foreign ordinal")
  }

  test("column pruning pushes into the scan (physical plan reads 1 column)") {
    val df = spark.read.format("fmp").load(writeFixture(10)).select("auteur")
    val got = df.collect().map(_.getString(0)).toSet
    assert(got == (1 to 10).map(i => s"author $i").toSet)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("auteur"), plan)
    assert(!plan.contains("aantal_bedr_"), s"pruned column still in scan: $plan")
  }

  test("nulls survive the V2 path") {
    val df = spark.read.format("fmp").load(writeFixture(9))
    assert(df.filter(df("jaar").isNull).count() == 3)
  }

  test("allSnapshots=true scans every archive in parallel (one task each)") {
    val dir = Files.createTempDirectory("fmpall")
    def bz(name: String, n: Int): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(doc(n).getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("a.xml.bz2", 3)
    bz("b.xml.bz2", 7)
    bz("c.xml.bz2", 5)
    val df = spark.read.format("fmp").option("allSnapshots", "true").load(dir.toString)
    assert(df.count() == 15, "all snapshots read")
    assert(df.rdd.getNumPartitions == 3, "one partition per archive")
    // default behavior unchanged: latest snapshot only
    assert(spark.read.format("fmp").load(dir.toString).count() == 5)
  }

  test("filters push into the scan, show in explain, and are fully claimed") {
    val path = writeFixture(30)
    val df = spark.read.format("fmp").load(path)
      .filter(col("auteur") === "author 3")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("EqualTo(auteur,author 3)"),
      s"equality filter missing from scan description: $physical")
    // Fully claimed: no residual Filter node survives optimization.
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(residual.isEmpty, s"claimed filter re-evaluated by Spark: $residual")
    assert(df.collect().map(_.getString(1)).toSeq == Seq("author 3"))
  }

  test("pushed-filter semantics equal Spark's own post-scan evaluation") {
    val path = writeFixture(30)
    val v2 = spark.read.format("fmp").load(path)
    // Ground truth: the driver reader, whose filters Spark itself
    // evaluates post-scan.
    val v1 = FmpReader.readWithSchemaAndSha(spark, path)._1
    val predicates: Seq[org.apache.spark.sql.Column] = Seq(
      col("jaar").isNull,                        // <DATA/> rows (i % 3 == 0)
      col("jaar").isNotNull && col("jaar") < "1610",
      col("auteur").isin("author 1", "author 2", "author 25"),
      !(col("auteur") === "author 7"),           // must EXCLUDE null-free match only
      col("auteur").startsWith("author 1") || col("jaar").endsWith("5"),
      col("auteur").contains("r 2") && !col("jaar").isNull)
    predicates.foreach { p =>
      val got = v2.filter(p).orderBy("aantal_bedr_").collect().toSeq
      val want = v1.filter(p).orderBy("aantal_bedr_").collect().toSeq
      assert(got == want, s"pushdown diverged for $p: $got vs $want")
    }
  }

  test("filter on a column missing from an old snapshot sees null") {
    val dir = Files.createTempDirectory("fmpfiltevo")
    val oldDoc =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<FMPXMLRESULT xmlns="$ns">
         |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="2" TIMEFORMAT="h"/>
         |  <METADATA>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr." TYPE="TEXT"/>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
         |  </METADATA>
         |  <RESULTSET FOUND="2">
         |    <ROW MODID="0" RECORDID="1"><COL><DATA>1</DATA></COL><COL><DATA>old author</DATA></COL></ROW>
         |    <ROW MODID="0" RECORDID="2"><COL><DATA>2</DATA></COL><COL><DATA>older author</DATA></COL></ROW>
         |  </RESULTSET>
         |</FMPXMLRESULT>""".stripMargin
    def bz(name: String, content: String): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(content.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("a-old.xml.bz2", oldDoc)
    bz("b-new.xml.bz2", doc(3))
    val df = spark.read.format("fmp").option("allSnapshots", "true").load(dir.toString)
    // jaar IS NULL: both old-snapshot rows + the new snapshot's <DATA/> row.
    assert(df.filter(col("jaar").isNull).count() == 3)
    // An equality on the absent column can never match an old-snapshot row.
    val eq = df.filter(col("jaar") === "1601").collect()
    assert(eq.length == 1 && !eq(0).getString(1).contains("old"))
  }

  test("repeatingAsArray mode declines pushdown but filters still apply") {
    val path = writeFixture(12)
    val df = spark.read.format("fmp").option("repeatingAsArray", "true").load(path)
      .filter(col("auteur") === "author 4")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: []"),
      s"array mode must not claim flat-string filters: $physical")
    assert(df.count() == 1, "Spark's post-scan filter still applies")
  }

  test("randomized pushdown equivalence vs post-scan evaluation (seeded)") {
    // Fixture with repeated values, empties, and nulls across 3 columns.
    val rnd = new scala.util.Random(4242)
    val pool = Seq("a", "b", "ab", "ba", "x y", "")
    def cell(): String = rnd.nextInt(8) match {
      case 0 => null
      case _ => pool(rnd.nextInt(pool.length))
    }
    val rows = (1 to 80).map { _ =>
      val cells = Seq(cell(), cell(), cell()).map {
        case null => "<COL><DATA/></COL>" // reader yields null for no text
        case v => s"<COL><DATA>$v</DATA></COL>"
      }.mkString
      s"""<ROW MODID="0" RECORDID="1">$cells</ROW>"""
    }.mkString("\n")
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<FMPXMLRESULT xmlns="$ns">
         |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="80" TIMEFORMAT="h"/>
         |  <METADATA>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="C1" TYPE="TEXT"/>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="C2" TYPE="TEXT"/>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="C3" TYPE="TEXT"/>
         |  </METADATA>
         |  <RESULTSET FOUND="80">
         |$rows
         |  </RESULTSET>
         |</FMPXMLRESULT>""".stripMargin
    val p = Files.createTempDirectory("fmpfuzz").resolve("export.xml")
    Files.write(p, xml.getBytes(StandardCharsets.UTF_8))
    val v2 = spark.read.format("fmp").load(p.toString)
    val v1 = FmpReader.readWithSchemaAndSha(spark, p.toString)._1
    val cols = Seq("c1", "c2", "c3")
    def c() = col(cols(rnd.nextInt(cols.length)))
    def v() = pool(rnd.nextInt(pool.length))
    // Random predicate over every supported shape, with And/Or/Not
    // nesting — the Kleene three-valued cases (nulls under Not/Or) are
    // exactly where a naive boolean evaluation diverges from SQL.
    def pred(depth: Int): org.apache.spark.sql.Column = {
      val leafShapes = 7
      rnd.nextInt(if (depth >= 2) leafShapes else leafShapes + 3) match {
        case 0 => c() === v()
        case 1 => c() <=> v()
        case 2 => c().isin(Seq.fill(rnd.nextInt(3) + 1)(v()): _*)
        case 3 => c().isNull
        case 4 => c().isNotNull
        case 5 => c().startsWith(v())
        case 6 => c().contains(v())
        case 7 => pred(depth + 1) && pred(depth + 1)
        case 8 => pred(depth + 1) || pred(depth + 1)
        case 9 => !pred(depth + 1)
      }
    }
    def key(r: org.apache.spark.sql.Row): String =
      (0 until 3).map(i => Option(r.getString(i)).getOrElse(" ")).mkString("|")
    (1 to 40).foreach { i =>
      val q = pred(0)
      val got = v2.filter(q).collect().map(key).sorted.toSeq
      val want = v1.filter(q).collect().map(key).sorted.toSeq
      assert(got == want, s"iteration $i: pushdown diverged for $q")
    }
  }

  test("count(*) pushes to the header FOUND count; rows are never parsed") {
    val df = spark.read.format("fmp").load(writeFixture(25))
    assert(df.count() == 25)
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"),
      s"count must push to the header read: $plan")
    // The proof rows are never parsed: a document whose RESULTSET body is
    // garbage after the first row still counts (header FOUND=7), while a
    // row scan on the same file throws.
    val corrupt =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<FMPXMLRESULT xmlns="$ns">
         |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="7" TIMEFORMAT="h"/>
         |  <METADATA>
         |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
         |  </METADATA>
         |  <RESULTSET FOUND="7">
         |    <ROW MODID="0" RECORDID="1"><COL><DATA>ok</DATA></COL></ROW>
         |    <BROKEN<<not xml
         |  </RESULTSET>
         |</FMPXMLRESULT>""".stripMargin
    val p = Files.createTempDirectory("fmpcnt").resolve("corrupt.xml")
    Files.write(p, corrupt.getBytes(StandardCharsets.UTF_8))
    val cdf = spark.read.format("fmp").load(p.toString)
    assert(cdf.count() == 7, "pushed count must come from the header alone")
    intercept[Exception] { cdf.collect() } // the row scan DOES parse — and throws
    // Integrity-audit mode: trustHeaderCount=false forces the row-parsing
    // count, which surfaces the corruption instead of trusting FOUND.
    val audited = spark.read.format("fmp")
      .option("trustHeaderCount", "false").load(p.toString)
    intercept[Exception] { audited.count() }
    // A filter declines the pushdown: the count must re-scan rows.
    val filtered = spark.read.format("fmp").load(writeFixture(30))
      .filter(col("jaar").isNotNull)
    assert(filtered.count() == 20) // i % 3 == 0 rows are <DATA/>
    val fplan = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedAggregation: [COUNT(*)]"),
      s"filtered count must not trust the header: $fplan")
  }

  test("count(*) over allSnapshots sums per-file header counts") {
    val dir = Files.createTempDirectory("fmpcntall")
    def bz(name: String, n: Int): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(doc(n).getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("a.xml.bz2", 4)
    bz("b.xml.bz2", 9)
    val df = spark.read.format("fmp").option("allSnapshots", "true").load(dir.toString)
    assert(df.count() == 13)
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
  }

  // ---------------------------------------------------- row-aligned ranges

  /** Runs `f` with Spark's file-split confs so low that a small fixture
    * is cut into ranges of about `bytes` bytes. */
  private def withSplitBytes[T](bytes: Long)(f: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    spark.conf.set(keys(0), bytes.toString)
    spark.conf.set(keys(1), "1")
    try f finally keys.foreach(spark.conf.unset)
  }

  // Rows a byte cut could break: an escaped "<ROW>" inside a cell,
  // multi-byte Dutch text, <ROW> tags with attributes over several lines,
  // and a MAXREPEAT=2 column that repeats in every other row.
  private def trickyDoc(n: Int, records: Int = -1, body: Int => String = _ => ""): String = {
    val rows = (1 to n).map { i =>
      val open =
        if (i % 2 == 0) s"""<ROW\n      MODID="0"\n      RECORDID="$i">"""
        else s"""<ROW MODID="0" RECORDID="$i">"""
      val jaar =
        if (i % 3 == 0) "<DATA/>"
        else if (i % 2 == 0) s"<DATA>${1600 + i}</DATA><DATA>herdruk geëerd</DATA>"
        else s"<DATA>${1600 + i}</DATA>"
      s"""    $open
         |      <COL><DATA>$i</DATA></COL>
         |      <COL><DATA>Ĳsbrand &lt;ROW MODID="9"&gt; $i, geëerd</DATA></COL>
         |      <COL>$jaar</COL>
         |    </ROW>${body(i)}""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<FMPXMLRESULT xmlns="$ns">
       |  <ERRORCODE>0</ERRORCODE>
       |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="${if (records < 0) n else records}" TIMEFORMAT="h"/>
       |  <METADATA>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr." TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="2" NAME="Jaar" TYPE="NUMBER"/>
       |  </METADATA>
       |  <RESULTSET FOUND="$n">
       |$rows
       |  </RESULTSET>
       |</FMPXMLRESULT>
       |""".stripMargin
  }

  private def writeBytes(name: String, bytes: Array[Byte]): String = {
    val p = Files.createTempDirectory("fmpsplit").resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def partitions(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions

  test("a pushed count(*) keeps one partition per file, so a split file counts FOUND once") {
    val path = writeFixture(60)
    withSplitBytes(400) {
      assert(partitions(spark.read.format("fmp").load(path)) > 2, "the row scan is split")
      val df = spark.read.format("fmp").load(path)
      assert(df.count() == 60, "count(*) must equal the header FOUND, not ranges × FOUND")
      assert(df.groupBy().count().queryExecution.executedPlan.toString
        .contains("PushedAggregation: [COUNT(*)]"))
      val audited = spark.read.format("fmp").option("trustHeaderCount", "false").load(path)
      assert(audited.count() == 60, "the row-parsing count sees every row once")
    }
  }

  test("a split read equals the whole-document read, in both modes, with filters and pruning") {
    val xml = trickyDoc(40)
    val bytes = xml.getBytes(StandardCharsets.UTF_8)
    val path = writeBytes("tricky.xml", bytes)
    val rowStart = xml.indexOf("<ROW").toLong
    val arrays = Seq(false, true)
    def reads(asArray: Boolean): Seq[org.apache.spark.sql.DataFrame] = {
      val df = spark.read.format("fmp").option("repeatingAsArray", asArray).load(path)
      Seq(df, df.filter(col("auteur").contains("1")), df.select("jaar", "aantal_bedr_"),
        df.filter(col("aantal_bedr_").isin("2", "17", "40")).select("auteur"))
    }
    val whole = arrays.map(a => reads(a).map(_.collect().toSeq))
    assert(partitions(spark.read.format("fmp").load(path)) == 1)
    assert(whole(0)(0).size == 40 && whole(1)(0).size == 40)
    // Put the first cut target inside a multi-byte character: the two
    // bytes of "Ĳ" and of "ë" in the first row.
    Seq("Ĳ", "ë").foreach { ch =>
      val at = bytes.indexOfSlice(ch.getBytes(StandardCharsets.UTF_8).toSeq, rowStart.toInt)
      assert(at > rowStart && at + 1 < bytes.length / 4)
      withSplitBytes(at + 1) {
        val cuts = graft.fmp.v2.FmpRanges(java.nio.file.Paths.get(path), at + 1)
        assert(cuts.size > 2, s"fixture must split at $ch")
        cuts.tail.foreach(r => assert(new String(bytes, r.start.toInt, 5, "UTF-8").matches("<ROW\\s"), r))
        assert(cuts.map(_.end) == cuts.tail.map(_.start) :+ cuts.last.tailStart, "ranges tile the body")
        arrays.indices.foreach { a =>
          val split = reads(arrays(a))
          assert(partitions(split.head) == cuts.size)
          split.indices.foreach { q =>
            assert(split(q).collect().toSeq == whole(a)(q),
              s"repeatingAsArray=${arrays(a)}, read $q, cut at $ch")
          }
        }
      }
    }
  }

  test("documents the byte cut cannot prove safe stay one partition per file and read correctly") {
    def rowsOf(path: String) = FmpReader.readWithSchemaAndSha(spark, path)._1.collect().toSeq
    def bz2(dir: java.nio.file.Path, name: String, xml: String): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(xml.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    val cdata = trickyDoc(30).replace("<DATA>7</DATA>", "<DATA><![CDATA[7 <ROW MODID=\"1\">]]></DATA>")
    val comment = trickyDoc(30, body = i => if (i == 11) "\n    <!-- <ROW MODID=\"0\"> -->" else "")
    val utf16 = trickyDoc(30).replace("encoding=\"UTF-8\"", "encoding=\"UTF-16\"")
    val latin1 = trickyDoc(30).replace("encoding=\"UTF-8\"", "encoding=\"ISO-8859-1\"")
    val singles = Seq(
      "cdata" -> writeBytes("cdata.xml", cdata.getBytes(StandardCharsets.UTF_8)),
      "comment" -> writeBytes("comment.xml", comment.getBytes(StandardCharsets.UTF_8)),
      "utf16" -> writeBytes("utf16.xml", utf16.getBytes(StandardCharsets.UTF_16)),
      "latin1" -> writeBytes("latin1.xml", latin1.getBytes(StandardCharsets.ISO_8859_1)), {
        val dir = Files.createTempDirectory("fmpsplitbz")
        bz2(dir, "tricky.xml.bz2", trickyDoc(30))
        "bz2" -> dir.resolve("tricky.xml.bz2").toString
      })
    val all = Files.createTempDirectory("fmpsplitall")
    bz2(all, "a.xml.bz2", trickyDoc(20))
    bz2(all, "b.xml.bz2", trickyDoc(30))
    withSplitBytes(200) {
      singles.foreach { case (kind, path) =>
        val df = spark.read.format("fmp").load(path)
        assert(partitions(df) == 1, s"$kind must not be split")
        assert(df.collect().toSeq == rowsOf(path), kind)
        assert(df.count() == 30, kind)
      }
      assert(rowsOf(singles.head._2).exists(_.getString(0) == "7 <ROW MODID=\"1\">"))
      val snaps = spark.read.format("fmp").option("allSnapshots", "true").load(all.toString)
      assert(partitions(snaps) == 2)
      assert(snaps.collect().toSeq ==
        rowsOf(all.resolve("a.xml.bz2").toString) ++ rowsOf(all.resolve("b.xml.bz2").toString))
    }
  }

  /** Warning messages logged under `graft.fmp` while `f` runs. */
  private def warningsDuring(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("fmp-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft.fmp").asInstanceOf[Logger]
    logger.addAppender(appender)
    try f finally { logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a split file warns once per file, not once per range") {
    // FOUND != RECORDS and a MAXREPEAT=2 field: both header warnings.
    val path = writeBytes("warn.xml", trickyDoc(40, records = 50).getBytes(StandardCharsets.UTF_8))
    def count(ws: Seq[String], text: String) = ws.count(_.contains(text))
    withSplitBytes(600) {
      val df = spark.read.format("fmp").load(path)
      assert(partitions(df) > 2)
      val scan = warningsDuring(df.collect())
      assert(count(scan, "does not match number of records") == 1, scan)
      assert(count(scan, "MAXREPEAT=2") == 1, scan)
      // A string-typed schema over the repeating column truncates every
      // even row; the warning comes once for the file.
      val asString = org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(dataType = org.apache.spark.sql.types.StringType)))
      val truncated = spark.read.format("fmp").schema(asString)
        .option("repeatingAsArray", "true").load(path)
      val ws = warningsDuring(truncated.collect())
      assert(count(ws, "keeping the first repetition only") == 1, ws)
      assert(count(ws, "does not match number of records") == 1, ws)
    }
  }

  test("bz2 + directory snapshot resolution work through format(\"fmp\")") {
    val dir = Files.createTempDirectory("fmpv2snap")
    def bz(name: String, n: Int): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(doc(n).getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("a-2024-01.xml.bz2", 3)
    bz("b-2024-06.xml.bz2", 7)
    val df = spark.read.format("fmp").load(dir.toString)
    assert(df.count() == 7, "must read the latest snapshot")
  }
}
