package graft.fmp

import java.io.{ByteArrayInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

import graft.SparkSpec

/** Golden tests for the FMP reader against the FIXTURES.md §3 matrix. */
class FmpReaderSpec extends SparkSpec {

  private val ns = "http://www.filemaker.com/fmp/1/result"

  private def doc(records: Int, found: Int, rows: String, extraField: String = ""): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<FMPXMLRESULT xmlns="$ns">
       |  <ERRORCODE>0</ERRORCODE>
       |  <PRODUCT BUILD="x" NAME="FileMaker" VERSION="1"/>
       |  <DATABASE DATEFORMAT="d-M-yyyy" LAYOUT="" NAME="Ceneton" RECORDS="$records" TIMEFORMAT="h:mm:ss"/>
       |  <METADATA>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr." TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Auteur" TYPE="TEXT"/>
       |    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Jaar" TYPE="NUMBER"/>$extraField
       |  </METADATA>
       |  <RESULTSET FOUND="$found">
       |$rows
       |  </RESULTSET>
       |</FMPXMLRESULT>""".stripMargin

  private val threeRows =
    """    <ROW MODID="0" RECORDID="1">
      |      <COL><DATA>3</DATA></COL>
      |      <COL><DATA>Vondel, Joost van den</DATA></COL>
      |      <COL><DATA>1637</DATA></COL>
      |    </ROW>
      |    <ROW MODID="0" RECORDID="2">
      |      <COL><DATA>5</DATA></COL>
      |      <COL><DATA/></COL>
      |      <COL><DATA>ca. 1660</DATA></COL>
      |    </ROW>
      |    <ROW MODID="0" RECORDID="3">
      |      <COL><DATA>1</DATA></COL>
      |      <COL><DATA>Bredero, G.A.</DATA></COL>
      |      <COL><DATA></DATA></COL>
      |    </ROW>""".stripMargin

  private def write(p: Path, content: String): Path = {
    Files.write(p, content.getBytes(StandardCharsets.UTF_8)); p
  }

  private def stream(s: String) = new ByteArrayInputStream(s.getBytes(StandardCharsets.UTF_8))

  test("basic 3x3: schema, clean names, string values") {
    val (df, schema, _) = FmpReader.readWithSchemaAndSha(spark, {
      val p = Files.createTempDirectory("fmp").resolve("basic.xml")
      write(p, doc(3, 3, threeRows)).toString
    })
    assert(schema.name == "Ceneton")
    assert(schema.foundCount == 3 && schema.databaseRecords == 3)
    assert(df.columns.toSeq == Seq("aantal_bedr_", "auteur", "jaar"))
    assert(df.schema.fields.forall(f => f.dataType.typeName == "string" && f.nullable))
    assert(df.schema("aantal_bedr_").metadata.getString("comment") == "Aantal bedr.")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "Vondel, Joost van den")
    assert(rows(1).getString(2) == "ca. 1660") // NUMBER field stays a raw string
  }

  test("empty <DATA/> and <DATA></DATA> both become null") {
    val p = Files.createTempDirectory("fmp").resolve("nulls.xml")
    val (df, _, _) = FmpReader.readWithSchemaAndSha(spark, write(p, doc(3, 3, threeRows)).toString)
    val rows = df.orderBy("aantal_bedr_").collect()
    val r5 = rows.find(_.getString(0) == "5").get
    val r1 = rows.find(_.getString(0) == "1").get
    assert(r5.isNullAt(1), "<DATA/> must be null")
    assert(r1.isNullAt(2), "<DATA></DATA> must be null")
  }

  test("subset (FOUND < RECORDS) warns but proceeds with FOUND") {
    val schema = FmpReader.readSchema(stream(doc(5, 3, threeRows)))
    assert(schema.foundCount == 3)
    assert(schema.databaseRecords == 5)
  }

  test("duplicate sanitized names abort hard") {
    val dup = """
    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Aantal bedr," TYPE="TEXT"/>"""
    val ex = intercept[IllegalArgumentException] {
      FmpReader.readSchema(stream(doc(3, 3, threeRows, dup)))
    }
    assert(ex.getMessage.toLowerCase.contains("duplicate"))
  }

  test("unicode + leading-digit field names sanitize like the reference") {
    val extra = """
    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="Enschedé" TYPE="TEXT"/>
    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="1e druk" TYPE="TEXT"/>"""
    val schema = FmpReader.readSchema(stream(doc(3, 3, "", extra)))
    assert(schema.cleanNames == Seq("aantal_bedr_", "auteur", "jaar", "enschedé", "_1e_druk"))
  }

  test("bz2 input decompresses transparently and matches uncompressed") {
    val dir = Files.createTempDirectory("fmpbz")
    val xml = doc(3, 3, threeRows)
    val bz = dir.resolve("basic.xml.bz2")
    val out = new BZip2CompressorOutputStream(new FileOutputStream(bz.toFile))
    out.write(xml.getBytes(StandardCharsets.UTF_8)); out.close()
    val (dfBz, _, _) = FmpReader.readWithSchemaAndSha(spark, bz.toString)
    val plain = write(dir.resolve("basic.xml"), xml)
    val (dfPlain, _, _) = FmpReader.readWithSchemaAndSha(spark, plain.toString)
    assert(dfBz.collect().toSeq == dfPlain.collect().toSeq)
  }

  test("directory input picks the lexicographically last *.bz2 snapshot") {
    val dir = Files.createTempDirectory("fmpsnap")
    def bz(name: String, records: Int): Unit = {
      val out = new BZip2CompressorOutputStream(new FileOutputStream(dir.resolve(name).toFile))
      out.write(doc(records, records, "").getBytes(StandardCharsets.UTF_8)); out.close()
    }
    bz("ceneton-2024-01-01.xml.bz2", 10)
    bz("ceneton-2024-06-01.xml.bz2", 20)
    write(dir.resolve("ignored.xml"), doc(99, 99, ""))
    val schema = FmpReader.readSchemaOnly(dir.toString)
    assert(schema.databaseRecords == 20, "must pick the latest snapshot")
  }

  test("schema-only read stops at RESULTSET (early exit, no row parse)") {
    // A document with malformed rows after RESULTSET still yields a schema.
    val broken = doc(3, 3, "").replace("</RESULTSET>", "<ROW><COL><DATA>unterminated")
    val schema = FmpReader.readSchema(stream(broken))
    assert(schema.cleanNames.size == 3)
  }

  test("malformed header attributes fail with an error naming element and attribute") {
    def fails(broken: String): String =
      intercept[IllegalArgumentException](FmpReader.readSchema(stream(broken))).getMessage
    val good = doc(3, 3, threeRows)
    val noFound = fails(good.replace("""<RESULTSET FOUND="3">""", "<RESULTSET>"))
    assert(noFound.contains("<RESULTSET>") && noFound.contains("FOUND"), noFound)
    val badFound = fails(good.replace("""FOUND="3"""", """FOUND="x""""))
    assert(badFound.contains("""<RESULTSET FOUND="x">"""), badFound)
    val noRepeat = fails(good.replace("""MAXREPEAT="1" NAME="Jaar"""", """NAME="Jaar""""))
    assert(noRepeat.contains("<FIELD>") && noRepeat.contains("MAXREPEAT"), noRepeat)
    val noName = fails(good.replace("""NAME="Jaar" """, ""))
    assert(noName.contains("<FIELD>") && noName.contains("NAME"), noName)
    val badRecords = fails(good.replace("""RECORDS="3"""", """RECORDS="3.5""""))
    assert(badRecords.contains("""<DATABASE RECORDS="3.5">"""), badRecords)
  }

  test("MAXREPEAT > 1 is parsed (warned, first <DATA> read — reference parity)") {
    // The reference silently assumes one <DATA> per column
    // (fmp_reader.py:116-117,135); we keep the behavior but warn. A field
    // declaring MAXREPEAT=2 whose rows carry one <DATA> each must parse
    // exactly like MAXREPEAT=1.
    val repeated = doc(3, 3, threeRows)
      .replace("""MAXREPEAT="1" NAME="Jaar"""", """MAXREPEAT="2" NAME="Jaar"""")
    val schema = FmpReader.readSchema(stream(repeated))
    assert(schema.fields.find(_.name == "Jaar").get.maxRepeat == 2)
    val it = new FmpReader.FmpRowIterator(stream(repeated))
    try {
      val rows = it.toSeq.map(_.toSeq)
      assert(rows.size == 3)
      assert(rows.head == Seq("3", "Vondel, Joost van den", "1637"))
    } finally it.close()
  }

  // A MAXREPEAT=2 export whose "Jaar" column really repeats: rows carry
  // two <DATA> (one with an empty second repetition, one with a single
  // value — FileMaker omits trailing empty repetitions).
  private def repeatingDoc: String =
    doc(3, 3,
      """    <ROW MODID="0" RECORDID="1">
        |      <COL><DATA>3</DATA></COL>
        |      <COL><DATA>Vondel, Joost van den</DATA></COL>
        |      <COL><DATA>1637</DATA><DATA>1654</DATA></COL>
        |    </ROW>
        |    <ROW MODID="0" RECORDID="2">
        |      <COL><DATA>5</DATA></COL>
        |      <COL><DATA/></COL>
        |      <COL><DATA>ca. 1660</DATA><DATA/></COL>
        |    </ROW>
        |    <ROW MODID="0" RECORDID="3">
        |      <COL><DATA>1</DATA></COL>
        |      <COL><DATA>Bredero, G.A.</DATA></COL>
        |      <COL><DATA>1618</DATA></COL>
        |    </ROW>""".stripMargin)
      .replace("""MAXREPEAT="1" NAME="Jaar"""", """MAXREPEAT="2" NAME="Jaar"""")

  test("MAXREPEAT=2 rows: positional mode misaligns (warned parity), array mode ingests arrays") {
    val dir = Files.createTempDirectory("fmprep")
    val p = write(dir.resolve("rep.xml"), repeatingDoc)

    // Positional (reference-parity) mode: every <DATA> is its own cell, so
    // row 1 carries 4 cells for 3 columns — exactly the reference's
    // misalignment, reproduced but warned.
    val it = new FmpReader.FmpRowIterator(stream(repeatingDoc))
    try {
      val flat = it.toSeq.map(_.toSeq)
      assert(flat.head == Seq("3", "Vondel, Joost van den", "1637", "1654"))
    } finally it.close()

    // repeatingAsArray: MAXREPEAT>1 column surfaces as array<string>, one
    // element per <DATA> repetition, rows never misalign.
    val df = spark.read.format("fmp").option("repeatingAsArray", "true").load(p.toString)
    assert(df.schema("jaar").dataType.typeName == "array")
    assert(df.schema("auteur").dataType.typeName == "string")
    val rows = df.orderBy("aantal_bedr_").collect()
    val byKey = rows.map(r => r.getString(0) -> r).toMap
    assert(byKey("3").getSeq[String](2) == Seq("1637", "1654"))
    assert(byKey("5").getSeq[String](2) == Seq("ca. 1660", null), "empty repetition → null element")
    assert(byKey("1").getSeq[String](2) == Seq("1618"))
    assert(byKey("5").isNullAt(1), "<DATA/> in a string column stays null")
    // Column pruning still works through the array reader.
    val pruned = spark.read.format("fmp").option("repeatingAsArray", "true")
      .load(p.toString).select("jaar").collect()
    assert(pruned.map(_.getSeq[String](0).length).sorted.toSeq == Seq(1, 2, 2))
  }

  test("positional cells equal the <COL> cells flattened, through the iterator and format(\"fmp\")") {
    // One repeating <COL>, a <DATA/>, a trailing empty repetition and an
    // empty <COL></COL>.
    val xml = doc(3, 3,
      """    <ROW MODID="0" RECORDID="1">
        |      <COL><DATA>3</DATA></COL>
        |      <COL><DATA/></COL>
        |      <COL><DATA>1637</DATA><DATA>1654</DATA></COL>
        |    </ROW>
        |    <ROW MODID="0" RECORDID="2">
        |      <COL><DATA>5</DATA></COL>
        |      <COL><DATA>Vondel</DATA></COL>
        |      <COL><DATA>ca. 1660</DATA><DATA/></COL>
        |    </ROW>
        |    <ROW MODID="0" RECORDID="3">
        |      <COL><DATA>1</DATA></COL>
        |      <COL><DATA>Bredero</DATA></COL>
        |      <COL></COL>
        |    </ROW>""".stripMargin)
      .replace("""MAXREPEAT="1" NAME="Jaar"""", """MAXREPEAT="2" NAME="Jaar"""")
    val it = new FmpReader.FmpRowIterator(stream(xml), repeatingAsArray = true)
    val parsed = try it.map { flat =>
      val cols = (0 until it.colCount).map(c => flat.slice(it.colStart(c), it.colEnd(c)).toSeq)
      (flat.toSeq, cols)
    }.toList finally it.close()
    assert(parsed.map(_._2) == Seq(
      Seq(Seq("3"), Seq(null), Seq("1637", "1654")),
      Seq(Seq("5"), Seq("Vondel"), Seq("ca. 1660", null)),
      Seq(Seq("1"), Seq("Bredero"), Seq())))
    parsed.foreach { case (flat, cols) => assert(flat == cols.flatten) }
    assert(parsed(2)._1 == Seq("1", "Bredero"), "an empty <COL> yields no positional cell")

    val p = write(Files.createTempDirectory("fmpviews").resolve("views.xml"), xml).toString
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val positional = byKey(spark.read.format("fmp").load(p))
    val arrays = byKey(spark.read.format("fmp").option("repeatingAsArray", "true").load(p))
    parsed.foreach { case (flat, _) =>
      val key = flat.head
      assert(positional(key).toSeq == flat.padTo(3, null).take(3), s"positional row $key")
      val a = arrays(key)
      assert(Seq(a.getString(0), a.getString(1)) ++ a.getSeq[String](2) == flat,
        s"array row $key flattened")
    }
    assert(arrays("1").getSeq[String](2).isEmpty, "an empty <COL> is an empty array")
    assert(positional("1").isNullAt(2))
  }
}
