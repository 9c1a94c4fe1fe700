package graft.fmp.v2

import java.io.{BufferedInputStream, InputStream, SequenceInputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** One row-aligned byte range `[start, end)` of an uncompressed
  * FMPXMLRESULT file whose header ends at `headerEnd` (just after the
  * `<RESULTSET …>` start tag) and whose tail starts at `tailStart` (the
  * `</RESULTSET` end tag). */
final case class FmpRange(headerEnd: Long, start: Long, end: Long, tailStart: Long,
    fileBytes: Long) {
  /** The range that holds the document's first row. */
  def first: Boolean = start == headerEnd

  /** The header, this range and the tail joined into one stream: a
    * well-formed document whose rows are exactly this range's. */
  def open(path: Path): InputStream = new BufferedInputStream(new SequenceInputStream(
    java.util.Collections.enumeration(java.util.List.of[InputStream](
      new FmpRanges.Slice(path, 0, headerEnd),
      new FmpRanges.Slice(path, start, end),
      new FmpRanges.Slice(path, tailStart, fileBytes)))))
}

/** Cuts an uncompressed FMPXMLRESULT file into ranges that each start at
  * a `<ROW` tag, with one buffered byte scan and no XML parse.
  *
  * Cutting at a `<` byte is safe because XML forbids a raw `<` in text
  * and in attribute values, and a UTF-8 multi-byte sequence never holds
  * an ASCII byte: every `<` starts markup, except inside CDATA sections,
  * comments and processing instructions. The header before `<RESULTSET>`
  * may hold comments and processing instructions (they are skipped); the
  * body may hold none of the three, so any `<!` or `<?` after
  * `<RESULTSET>` makes the file one range. So does a document that is not
  * UTF-8 or ASCII, any other `<!` in the header (a DOCTYPE or a CDATA
  * section), a result set without `</RESULTSET`, and a file with fewer
  * than two row-aligned cuts. */
object FmpRanges {
  /** Ranges of about `splitBytes` each, or Nil when the file must be read
    * whole. */
  def apply(path: Path, splitBytes: Long): Seq[FmpRange] = {
    val in = Files.newInputStream(path)
    try scan(new Cursor(in), Files.size(path), splitBytes) finally in.close()
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
  private val XmlDecl = ascii("<?xml")
  private val CommentOpen = ascii("<!--")
  private val CommentClose = ascii("-->")
  private val PiClose = ascii("?>")
  private val ResultSet = ascii("<RESULTSET")
  private val ResultSetEnd = ascii("</RESULTSET")
  private val Row = ascii("<ROW")
  private val Utf8Names = Set("utf-8", "utf8", "us-ascii", "ascii")
  private val EncodingAttr = """encoding\s*=\s*["']([^"']*)["']""".r

  private def scan(c: Cursor, fileBytes: Long, splitBytes: Long): Seq[FmpRange] = {
    if (!utf8(c)) return Nil
    var headerEnd = -1L
    while (headerEnd < 0) {
      if (!c.nextLt()) return Nil
      val skipped =
        if (c.matches(CommentOpen)) c.skipPast(CommentClose)
        else if (c.at(1) == '?') c.skipPast(PiClose)
        else if (c.at(1) == '!') false
        else if (c.matchesTag(ResultSet)) {
          // An empty `<RESULTSET …/>` has no body to cut.
          if (c.skipTag() != '>') return Nil
          headerEnd = c.pos
          true
        } else { c.skip(1); true }
      if (!skipped) return Nil
    }
    val cuts = ArrayBuffer(headerEnd)
    // The first `<ROW` found is the first row, never a cut.
    var next = headerEnd
    var tailStart = -1L
    while (tailStart < 0) {
      if (!c.nextLt()) return Nil
      val b = c.at(1)
      if (b == '!' || b == '?') return Nil
      if (b == '/') {
        if (c.matchesTag(ResultSetEnd)) tailStart = c.pos
      } else if (c.pos >= next && c.matchesTag(Row)) {
        if (next > headerEnd) cuts += c.pos
        next = (c.pos / splitBytes + 1) * splitBytes
      }
      c.skip(1)
    }
    if (cuts.size < 2) Nil
    else cuts.indices.map { i =>
      FmpRange(headerEnd, cuts(i), if (i + 1 < cuts.size) cuts(i + 1) else tailStart,
        tailStart, fileBytes)
    }
  }

  /** A UTF-8 (or ASCII) document: an optional UTF-8 BOM, then an ASCII
    * start, and a declared encoding, if any, that names UTF-8 or ASCII.
    * Leaves the cursor at the first byte after the BOM. */
  private def utf8(c: Cursor): Boolean = {
    if (c.at(0) == 0xEF && c.at(1) == 0xBB && c.at(2) == 0xBF) c.skip(3)
    if (!(0 until 4).forall { k => val b = c.at(k); b > 0 && b < 0x80 }) false
    else if (!c.matches(XmlDecl)) true
    else {
      val decl = new StringBuilder
      var k = 0
      while (k < 256 && c.at(k) > 0 && c.at(k) != '>') { decl.append(c.at(k).toChar); k += 1 }
      EncodingAttr.findFirstMatchIn(decl).forall(m => Utf8Names(m.group(1).toLowerCase))
    }
  }

  /** Forward-only byte cursor over a stream, with a short look-ahead. */
  private final class Cursor(in: InputStream) {
    private val buf = new Array[Byte](1 << 16)
    private var base = 0L
    private var lim = 0
    private var i = 0

    /** File offset of the cursor. */
    def pos: Long = base + i

    /** The byte `k` ahead of the cursor, or -1 past the end. */
    def at(k: Int): Int = {
      if (i + k >= lim) fill(k + 1)
      if (i + k < lim) buf(i + k) & 0xff else -1
    }

    def skip(n: Int): Unit = i += n

    def matches(s: Array[Byte]): Boolean = {
      var k = 0
      while (k < s.length && at(k) == s(k)) k += 1
      k == s.length
    }

    /** `s` as a whole tag name: followed by white space, `>` or `/`. */
    def matchesTag(s: Array[Byte]): Boolean = matches(s) && (at(s.length) match {
      case ' ' | '\t' | '\r' | '\n' | '>' | '/' => true
      case _ => false
    })

    /** Advance to the next `<`; false at the end of the input. */
    def nextLt(): Boolean = {
      while (true) {
        var j = i
        while (j < lim && buf(j) != '<') j += 1
        i = j
        if (j < lim) return true
        if (!fill(1)) return false
      }
      false
    }

    /** Advance past `s`; false when the input ends first. */
    def skipPast(s: Array[Byte]): Boolean = {
      while (at(0) >= 0) {
        if (matches(s)) { skip(s.length); return true }
        skip(1)
      }
      false
    }

    /** Advance past the `>` that ends the tag at the cursor (a `>` inside
      * a quoted attribute value does not end it); returns `/` for an
      * empty-element tag, `>` otherwise, -1 at the end of the input. */
    def skipTag(): Int = {
      var quote = 0
      var prev = 0
      while (true) {
        val b = at(0)
        if (b < 0) return -1
        skip(1)
        if (quote != 0) { if (b == quote) quote = 0 }
        else if (b == '"' || b == '\'') quote = b
        else if (b == '>') return if (prev == '/') '/' else '>'
        prev = b
      }
      -1
    }

    /** Keep at least `need` bytes from the cursor in the buffer when the
      * input has them; true if it does. */
    private def fill(need: Int): Boolean = {
      if (i > 0) {
        System.arraycopy(buf, i, buf, 0, lim - i)
        base += i; lim -= i; i = 0
      }
      var n = 0
      while (lim < need && n >= 0) {
        n = in.read(buf, lim, buf.length - lim)
        if (n > 0) lim += n
      }
      lim >= need
    }
  }

  /** Bytes `[from, to)` of a file. */
  private[v2] final class Slice(path: Path, from: Long, to: Long) extends InputStream {
    private val ch = FileChannel.open(path)
    private var pos = from

    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) == 1) b(0) & 0xff else -1
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= to) -1
      else if (len == 0) 0
      else {
        val n = ch.read(ByteBuffer.wrap(b, off, math.min(len.toLong, to - pos).toInt), pos)
        if (n > 0) pos += n
        n
      }

    override def close(): Unit = ch.close()
  }
}
