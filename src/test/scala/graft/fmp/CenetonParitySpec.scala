package graft.fmp

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.io.Source

import graft.SparkSpec
import graft.etl.MappingFile
import graft.sinks.Sinks

/** Full-fidelity reference parity: a synthetic export with all 126 REAL
  * Ceneton field names (from the reference's field_mappings.csv) must
  * round-trip through the reader, reproduce the reference's exact
  * header-dump pairs, and rename to the curated English schema. */
class CenetonParitySpec extends SparkSpec {

  private lazy val goldenRows: Seq[Array[String]] = {
    val src = Source.fromResource("field_mappings.csv", getClass.getClassLoader)("UTF-8")
    try src.getLines().toSeq.tail.map(_.split(",", -1)) finally src.close()
  }

  private def fixture(nRows: Int): String = {
    val fields = goldenRows.map(r => r(0))
    val meta = fields.map { n =>
      s"""    <FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="${n.replace("&", "&amp;").replace("\"", "&quot;")}" TYPE="TEXT"/>"""
    }.mkString("\n")
    val rows = (1 to nRows).map { i =>
      val cols = fields.indices.map { j =>
        if ((i + j) % 5 == 0) "<COL><DATA/></COL>" else s"<COL><DATA>v${i}_$j</DATA></COL>"
      }.mkString
      s"""    <ROW MODID="0" RECORDID="$i">$cols</ROW>"""
    }.mkString("\n")
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<FMPXMLRESULT xmlns="http://www.filemaker.com/fmp/1/result">
         |  <ERRORCODE>0</ERRORCODE>
         |  <PRODUCT BUILD="x" NAME="FileMaker" VERSION="1"/>
         |  <DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="$nRows" TIMEFORMAT="h"/>
         |  <METADATA>
         |$meta
         |  </METADATA>
         |  <RESULTSET FOUND="$nRows">
         |$rows
         |  </RESULTSET>
         |</FMPXMLRESULT>""".stripMargin
    val p = Files.createTempDirectory("ceneton").resolve("ceneton.xml")
    Files.write(p, xml.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("126 real field names: reader schema equals the curated clean names") {
    val (df, schema, _) = FmpReader.readWithSchemaAndSha(spark, fixture(50))
    assert(schema.cleanNames == goldenRows.map(r => r(1)),
      "sanitized columns must match field_mappings.csv clean names in order")
    assert(df.columns.length == 126)
    assert(df.count() == 50)
  }

  test("headersDf reproduces the reference dump_headers pairs exactly") {
    val (df, _, _) = FmpReader.readWithSchemaAndSha(spark, fixture(3))
    val got = Sinks.headersDf(spark, df).collect().map(r => (r.getString(0), r.getString(1)))
    val expected = goldenRows.map(r => (r(0), r(1)))
    assert(got.toSeq == expected)
  }

  test("English mapping renames all 126 columns via the curated CSV") {
    val (df, _, _) = FmpReader.readWithSchemaAndSha(spark, fixture(3))
    val res = getClass.getClassLoader.getResource("field_mappings.csv").getPath
    val mapping = MappingFile.readMapping(spark, s"$res:english_name")
    val renamed = MappingFile.applyMapping(df, mapping)
    assert(renamed.columns.toSeq == goldenRows.map(r => r(3)))
    assert(renamed.columns.take(2).toSeq == Seq("act_count", "character_count"))
  }

  test("JSONL line order preserves document order (reference stream parity)") {
    val (df, _, _) = FmpReader.readWithSchemaAndSha(spark, fixture(30))
    val lines = Sinks.toJsonlLines(df.select("aantal_bedr_")).toSeq
    // column 0 is null when (i + 0) % 5 == 0, i.e. rows 5,10,...
    val expected = (1 to 30).map(i =>
      if (i % 5 == 0) """{"aantal_bedr_":null}""" else s"""{"aantal_bedr_":"v${i}_0"}""")
    assert(lines == expected)
  }
}
