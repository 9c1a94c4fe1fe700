package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded Ceneton-shaped FMPXMLRESULT fixture: the 126 real field names
  * of `field_mappings.csv`, `<ROW MODID RECORDID>` records of `<COL><DATA>`
  * cells, about one cell in seven empty, and cell text whose kind and
  * length follow the field's section (counts, years, shelf marks, names,
  * titles, long Dutch prose, links). Text carries XML-escaped `& < >`,
  * quotes and non-ASCII Dutch, so the reader's unescaping and the JSONL
  * sink's escaping are both exercised.
  *
  * The generator also returns what a correct reader must produce: the
  * clean column names and an order-insensitive hash of every record,
  * computed from the values before they were escaped.
  */
object FmpGen {
  /** One field of field_mappings.csv. */
  final case class Field(original: String, clean: String, section: String, english: String)

  /** What the fixture holds: its fields, record count and record hash. */
  final case class Expected(table: String, fields: Seq[Field], records: Int, recordHash: Long)

  def readMappings(csv: Path): Seq[Field] =
    Files.readAllLines(csv, StandardCharsets.UTF_8).toArray(Array.empty[String]).toSeq.tail
      .filter(_.nonEmpty)
      .map { l => val c = l.split(",", -1); Field(c(0), c(1), c(2), c(3)) }

  private val Words = Array(
    "de", "het", "een", "van", "en", "in", "op", "met", "voor", "door", "treurspel",
    "blyspel", "klucht", "zinnespel", "gedicht", "liefde", "eer", "deugd", "koning",
    "prinses", "burger", "boer", "schouwburg", "tooneel", "bedryf", "vertooning",
    "Amsterdam", "Leiden", "Haarlem", "Rotterdam", "Antwerpen", "Gent", "Brugge",
    "gedrukt", "uitgegeven", "vertaald", "Fransch", "Latyn", "Spaansch", "naar",
    "Enschedé", "Ĳsbrand", "geëerd", "beëindigd", "zeeën", "café", "rôle",
    "Gysbreght", "Aemstel", "Bredero's", "\"Lucifer\"", "'t", "Hoofdt", "&", "<i>",
    "</i>", "a<b", "x>y", "R&J", "Vondel's")
  private val Surnames = Array("Vondel", "Bredero", "Hooft", "Huygens", "Coster", "Asselijn",
    "Rotgans", "Pels", "Nomsz", "Feitama", "Langendijk", "Van der Goes", "Noozeman")
  private val Given = Array("Joost", "Gerbrand", "Pieter", "Constantijn", "Samuel", "Thomas",
    "Lukas", "Andries", "Jan", "Pieter Arendsz.", "Catharina", "Ariana")
  private val Places = Array("Amsterdam", "Leiden", "'s-Gravenhage", "Haarlem", "Utrecht",
    "Rotterdam", "Antwerpen", "Gent", "Brussel", "Middelburg", "Enkhuizen")

  private def pick(r: SplittableRandom, a: Array[String]) = a(r.nextInt(a.length))

  private def prose(r: SplittableRandom, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + r.nextInt(maxWords - minWords + 1))(pick(r, Words)).mkString(" ")

  /** The unescaped text of one cell, or null for an empty `<DATA/>`. */
  private def cell(r: SplittableRandom, f: Field, rec: Int): String =
    if (r.nextInt(7) == 0) null
    else f.section match {
      case "structure" => (1 + r.nextInt(if (f.english == "page_count") 120 else 12)).toString
      case "identifiers" =>
        if (f.english == "ceneton_id") rec.toString
        else f"${pick(r, Array("C", "D", "E", "G", "H", "STCN"))} ${r.nextInt(99999)}%05d"
      case "holdings" =>
        f"${f.original.take(6)} ${100 + r.nextInt(9900)} ${('A' + r.nextInt(8)).toChar} ${1 + r.nextInt(40)}"
      case "digital" =>
        s"https://www.dbnl.org/tekst/_${pick(r, Surnames).toLowerCase.replace(' ', '_')}${rec}_01?s=${r.nextInt(50)}&p=${r.nextInt(9)}"
      case "metadata" => f.english match {
        case e if e.startsWith("year") => (1575 + r.nextInt(229)).toString
        case e if e.contains("life_dates") =>
          val b = 1560 + r.nextInt(200); s"$b-${b + 25 + r.nextInt(50)}"
        case e if e.contains("author") =>
          s"${pick(r, Surnames)}, ${pick(r, Given)}"
        case e if e.startsWith("title") => prose(r, 3, 18)
        case _ => prose(r, 1, 4)
      }
      case "publication" =>
        if (r.nextBoolean()) s"${pick(r, Places)}: ${pick(r, Given)} ${pick(r, Surnames)}"
        else prose(r, 1, 6)
      case "content" | "notes" | "illustrations" =>
        // Heavy-tailed lengths: most cells a phrase, a few a paragraph.
        if (r.nextInt(10) == 0) prose(r, 40, 120) else prose(r, 2, 15)
      case _ => prose(r, 1, 8)
    }

  private def escape(s: String): String = {
    val b = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => b.append("&amp;")
      case '<' => b.append("&lt;")
      case '>' => b.append("&gt;")
      case '"' => b.append("&quot;")
      case c => b.append(c)
    }
    b.toString
  }

  /** FNV-1a over the UTF-8 bytes of one record's canonical form: the
    * clean names in schema order, each with its value or a null marker.
    * Summed over records, it is independent of record order. */
  def recordHash(fields: Seq[Field], value: String => String): Long =
    recordHash(fields.map(_.clean), fields.indices.map(i => value(fields(i).clean)))

  private def recordHash(names: Seq[String], values: Seq[String]): Long = {
    var h = 0xcbf29ce484222325L
    names.indices.foreach { i =>
      val v = values(i)
      val s = names(i) + "=" + (if (v == null) "\u0000" else v) + "\u0001"
      s.getBytes(StandardCharsets.UTF_8).foreach { b =>
        h ^= (b & 0xff)
        h *= 0x100000001b3L
      }
    }
    h
  }

  def write(out: Path, fields: Seq[Field], records: Int, seed: Long): Expected = {
    val r = new SplittableRandom(seed)
    val names = fields.map(_.clean)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), StandardCharsets.UTF_8), 1 << 16)
    var sum = 0L
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write("<FMPXMLRESULT xmlns=\"http://www.filemaker.com/fmp/1/result\">\n")
      w.write("<ERRORCODE>0</ERRORCODE>\n<PRODUCT BUILD=\"08-21-2017\" NAME=\"FileMaker\" VERSION=\"ProAdvanced 16.0.2\"/>\n")
      w.write(s"""<DATABASE DATEFORMAT="D-m-yyyy" LAYOUT="" NAME="Ceneton" RECORDS="$records" TIMEFORMAT="k:mm:ss "/>\n""")
      w.write("<METADATA>\n")
      fields.foreach { f =>
        val tpe = if (f.section == "structure") "NUMBER" else "TEXT"
        w.write(s"""<FIELD EMPTYOK="YES" MAXREPEAT="1" NAME="${escape(f.original)}" TYPE="$tpe"/>\n""")
      }
      w.write(s"""</METADATA>\n<RESULTSET FOUND="$records">\n""")
      val values = new Array[String](fields.length)
      (1 to records).foreach { rec =>
        var j = 0
        while (j < fields.length) { values(j) = cell(r, fields(j), rec); j += 1 }
        w.write(s"""<ROW MODID="${r.nextInt(40)}" RECORDID="$rec">""")
        values.foreach { v =>
          if (v == null) w.write("<COL><DATA/></COL>")
          else { w.write("<COL><DATA>"); w.write(escape(v)); w.write("</DATA></COL>") }
        }
        w.write("</ROW>\n")
        sum += recordHash(names, values.toSeq)
      }
      w.write("</RESULTSET>\n</FMPXMLRESULT>\n")
    } finally w.close()
    Expected("Ceneton", fields, records, sum)
  }
}
