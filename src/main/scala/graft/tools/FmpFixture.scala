package graft.tools

import java.nio.file.{Files, Path}

/** Synthetic FMPXMLRESULT generator matching the reference's published
  * benchmark shape: 12,543 records × 126 TEXT fields (BASELINE.md /
  * reference README.md:71-73). Used by [[graft.Bench]], whose JSON line
  * carries the baseline comparison. */
object FmpFixture {
  val BaselineRows = 12543
  val BaselineFields = 126
  /** The reference's published single-thread parse throughput. */
  val BaselineRecsPerSec = 5234.0

  def write(nRows: Int = BaselineRows, nFields: Int = BaselineFields): Path = {
    val fields = (0 until nFields).map(i => s"Field $i")
    val meta = fields.map(n =>
      s"""<FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="$n" TYPE="TEXT"/>""").mkString("\n")
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      .append("<FMPXMLRESULT xmlns=\"http://www.filemaker.com/fmp/1/result\">\n")
      .append("<ERRORCODE>0</ERRORCODE><PRODUCT BUILD=\"x\" NAME=\"FM\" VERSION=\"1\"/>\n")
      .append(s"""<DATABASE DATEFORMAT="d" LAYOUT="" NAME="Ceneton" RECORDS="$nRows" TIMEFORMAT="h"/>\n""")
      .append(s"<METADATA>\n$meta\n</METADATA>\n")
      .append(s"""<RESULTSET FOUND="$nRows">\n""")
    (1 to nRows).foreach { i =>
      sb.append("<ROW><COL><DATA>v").append(i).append("</DATA></COL>")
      (1 until nFields).foreach { j =>
        if ((i + j) % 7 == 0) sb.append("<COL><DATA/></COL>")
        else sb.append("<COL><DATA>cell").append(j).append("</DATA></COL>")
      }
      sb.append("</ROW>\n")
    }
    sb.append("</RESULTSET>\n</FMPXMLRESULT>\n")
    val dir = Files.createTempDirectory("fmpbench")
    val f = dir.resolve("ceneton.xml")
    Files.write(f, sb.toString.getBytes("UTF-8"))
    f
  }

  /** Remove a fixture written by [[write]] (file + its temp directory) —
    * each fixture is ~25 MB, so callers must not leak them across runs. */
  def delete(f: Path): Unit = {
    Files.deleteIfExists(f)
    Files.deleteIfExists(f.getParent)
  }
}
