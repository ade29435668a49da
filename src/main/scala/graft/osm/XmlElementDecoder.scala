package graft.osm

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.text.NumberFormat
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decodes the bytes of one XML element (as XmlElementRecordReader emits
  * them) straight into a Catalyst row of `schema`, giving the row Spark's
  * XML source gives for the same element under the same schema:
  *
  *  - a top-level `_x` field is the root element's attribute `x`;
  *  - an `ArrayType(StructType(_a, ...))` field named `c` holds one struct
  *    per direct `<c>` child, in document order, filled from the child's
  *    attributes; an element without such a child gives null, not an
  *    empty array;
  *  - a value is normalized as XML requires (tab, newline, CR and CRLF
  *    become one space; entity and character references decode), trimmed
  *    (`String.trim`) and cast with the XML source's rules: a leading sign
  *    is split off before parsing, and a Double that `parseDouble` rejects
  *    falls back to `NumberFormat` (so "1,234.5" is 1234.5); a missing
  *    attribute is null.
  *
  * Text, comments, CDATA sections, processing instructions and all other
  * elements are skipped. A value that does not cast, an unknown entity,
  * broken markup or malformed UTF-8 throws IllegalArgumentException naming
  * the file and the element's byte offset: the read fails instead of
  * yielding a row of nulls. Supported field types: Long, Double, String.
  *
  * Not thread-safe: one instance per task (it reuses its buffers).
  */
final class XmlElementDecoder(schema: StructType) {
  import XmlElementDecoder._

  private val rootAttrs = ArrayBuffer.empty[Attr]
  private val children = ArrayBuffer.empty[Child]
  schema.fields.zipWithIndex.foreach {
    case (StructField(name, ArrayType(s: StructType, _), _, _), slot) =>
      children += Child(name.getBytes(UTF_8), slot, attrs(s), s.length)
    case (f, slot) => rootAttrs += attr(f, slot)
  }
  require(rootAttrs.length <= 64, "at most 64 attribute fields")
  private val rootAttrArray = rootAttrs.toArray
  private val childArray = children.toArray
  private val childRows = childArray.map(_ => ArrayBuffer.empty[Any])

  private val utf8 = UTF_8.newDecoder() // reports malformed input
  private val sb = new java.lang.StringBuilder
  private var buf: Array[Byte] = _
  private var end = 0
  private var p = 0 // cursor into buf
  private var nameStart = 0
  private var nameEnd = 0

  /** The row for the element in `bytes(0 until length)`, whose start tag
    * begins at byte `offset` of `file` (both only name it in errors).
    */
  def decode(bytes: Array[Byte], length: Int, file: String, offset: Long): InternalRow = {
    buf = bytes
    end = length
    p = 0
    try {
      val row = new Array[Any](schema.length)
      childRows.foreach(_.clear())
      if (end == 0 || buf(0) != '<') fail("not an element")
      readName()
      if (!readAttributes(rootAttrArray, row)) readContent()
      var c = 0
      while (c < childArray.length) {
        if (childRows(c).nonEmpty) row(childArray(c).slot) = new GenericArrayData(childRows(c).toArray)
        c += 1
      }
      new GenericInternalRow(row)
    } catch {
      case e: Exception =>
        val excerpt = new String(bytes, 0, math.min(length, 160), UTF_8)
        throw new IllegalArgumentException(
          s"malformed XML element at byte $offset of $file: ${e.getMessage} in: $excerpt", e)
    }
  }

  /** Past `<` and the tag name; sets nameStart/nameEnd. */
  private def readName(): Unit = {
    p += 1
    nameStart = p
    while (p < end && !nameEnds(buf(p))) p += 1
    nameEnd = p
    if (nameEnd == nameStart) fail("empty tag name")
  }

  /** From after the tag name through `>` (false) or `/>` (true), casting
    * the attributes named in `attrs` into `values`.
    */
  private def readAttributes(attrs: Array[Attr], values: Array[Any]): Boolean = {
    var seen = 0L
    while (true) {
      while (p < end && isSpace(buf(p))) p += 1
      if (p >= end) fail("unterminated tag")
      val b = buf(p)
      if (b == '>') { p += 1; return false }
      if (b == '/') {
        if (p + 1 < end && buf(p + 1) == '>') { p += 2; return true }
        fail("stray '/' in tag")
      }
      val ns = p
      while (p < end && !nameEnds(buf(p))) p += 1
      val ne = p
      if (ne == ns) fail("attribute without a name")
      while (p < end && isSpace(buf(p))) p += 1
      if (p >= end || buf(p) != '=') fail("attribute without '='")
      p += 1
      while (p < end && isSpace(buf(p))) p += 1
      if (p >= end || (buf(p) != '"' && buf(p) != '\'')) fail("unquoted attribute value")
      val quote = buf(p)
      p += 1
      val vs = p
      while (p < end && buf(p) != quote) {
        if (buf(p) == '<') fail("'<' in attribute value")
        p += 1
      }
      if (p >= end) fail("unterminated attribute value")
      val ve = p
      p += 1
      var a = 0
      while (a < attrs.length && !sameBytes(attrs(a).name, ns, ne)) a += 1
      if (a < attrs.length) {
        if ((seen & (1L << a)) != 0) fail("duplicate attribute")
        seen |= 1L << a
        values(attrs(a).slot) = cast(vs, ve, attrs(a).dataType)
      }
    }
    false
  }

  /** Element content after the root start tag, through its end tag. */
  private def readContent(): Unit = {
    var depth = 1
    while (true) {
      while (p < end && buf(p) != '<') p += 1
      if (p >= end) fail("missing end tag")
      if (startsWith("<!--")) skipPast("-->")
      else if (startsWith("<![CDATA[")) skipPast("]]>")
      else if (startsWith("<?")) skipPast("?>")
      else if (startsWith("<!")) fail("unexpected declaration")
      else if (startsWith("</")) {
        skipPast(">")
        depth -= 1
        if (depth == 0) return
      } else {
        readName()
        var c = 0
        if (depth == 1)
          while (c < childArray.length && !sameBytes(childArray(c).name, nameStart, nameEnd)) c += 1
        val selfClosed =
          if (depth == 1 && c < childArray.length) {
            val child = childArray(c)
            val values = new Array[Any](child.width)
            val closed = readAttributes(child.attrs, values)
            childRows(c) += new GenericInternalRow(values)
            closed
          } else readAttributes(noAttrs, null)
        if (!selfClosed) depth += 1
      }
    }
  }

  private def cast(vs: Int, ve: Int, dataType: DataType): Any =
    if (isPlain(vs, ve)) dataType match {
      case StringType => UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, vs, ve))
      case LongType => plainLong(vs, ve)
      case _ => toDouble(new String(buf, vs, ve - vs, ISO_8859_1))
    } else {
      val s = normalized(vs, ve).trim
      dataType match {
        case StringType => UTF8String.fromString(s)
        case LongType => toLong(s)
        case _ => toDouble(s)
      }
    }

  /** Printable ASCII without references, nothing to trim: the bytes are
    * the value.
    */
  private def isPlain(vs: Int, ve: Int): Boolean = {
    if (ve == vs || buf(vs) == ' ' || buf(ve - 1) == ' ') return false
    var i = vs
    while (i < ve) {
      val b = buf(i)
      if (b < ' ' || b >= 0x7f || b == '&') return false
      i += 1
    }
    true
  }

  /** `toLong` without a String for up to 18 ASCII digits (no overflow). */
  private def plainLong(vs: Int, ve: Int): Long = {
    val neg = buf(vs) == '-'
    var i = if (neg || buf(vs) == '+') vs + 1 else vs
    if (ve - i < 1 || ve - i > 18) return toLong(new String(buf, vs, ve - vs, ISO_8859_1))
    var v = 0L
    while (i < ve) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9) return toLong(new String(buf, vs, ve - vs, ISO_8859_1))
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  /** The attribute value's characters after XML normalization. */
  private def normalized(vs: Int, ve: Int): String = {
    sb.setLength(0)
    var run = vs
    var i = vs
    while (i < ve) {
      val b = buf(i)
      if (b == '&' || b == '\t' || b == '\n' || b == '\r') {
        appendUtf8(run, i)
        if (b == '&') i = reference(i, ve)
        else {
          sb.append(' ')
          i += (if (b == '\r' && i + 1 < ve && buf(i + 1) == '\n') 2 else 1)
        }
        run = i
      } else i += 1
    }
    appendUtf8(run, ve)
    sb.toString
  }

  private def appendUtf8(from: Int, to: Int): Unit =
    if (to > from) sb.append(utf8.decode(ByteBuffer.wrap(buf, from, to - from)))

  /** Appends the reference starting at `buf(amp) == '&'`; returns the index
    * after its `;`.
    */
  private def reference(amp: Int, ve: Int): Int = {
    var semi = amp + 1
    while (semi < ve && buf(semi) != ';') semi += 1
    if (semi >= ve) fail("unterminated reference")
    new String(buf, amp + 1, semi - amp - 1, ISO_8859_1) match {
      case "lt" => sb.append('<')
      case "gt" => sb.append('>')
      case "amp" => sb.append('&')
      case "quot" => sb.append('"')
      case "apos" => sb.append('\'')
      case ref if ref.startsWith("#x") => sb.appendCodePoint(codePoint(ref.substring(2), 16))
      case ref if ref.startsWith("#") => sb.appendCodePoint(codePoint(ref.substring(1), 10))
      case ref => fail(s"unknown entity &$ref;")
    }
    semi + 1
  }

  private def startsWith(s: String): Boolean = {
    if (p + s.length > end) return false
    var i = 0
    while (i < s.length) {
      if (buf(p + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  private def skipPast(s: String): Unit = {
    while (p < end && !startsWith(s)) p += 1
    if (p >= end) fail(s"missing '$s'")
    p += s.length
  }

  private def sameBytes(name: Array[Byte], from: Int, to: Int): Boolean =
    name.length == to - from && java.util.Arrays.equals(name, 0, name.length, buf, from, to)
}

object XmlElementDecoder {
  private final case class Attr(name: Array[Byte], slot: Int, dataType: DataType)
  private final case class Child(name: Array[Byte], slot: Int, attrs: Array[Attr], width: Int)
  private val noAttrs = Array.empty[Attr]

  private def attr(f: StructField, slot: Int): Attr = {
    require(f.name.startsWith("_") && Seq(LongType, DoubleType, StringType).contains(f.dataType),
      s"unsupported field ${f.name}: ${f.dataType.simpleString} (want an _attribute of " +
        "long/double/string or an array of such structs)")
    Attr(f.name.substring(1).getBytes(UTF_8), slot, f.dataType)
  }

  private def attrs(s: StructType): Array[Attr] = {
    require(s.length <= 64, "at most 64 attribute fields")
    s.fields.zipWithIndex.map { case (f, slot) => attr(f, slot) }
  }

  private def isSpace(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'

  private def nameEnds(b: Byte): Boolean = isSpace(b) || b == '=' || b == '/' || b == '>'

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def codePoint(digits: String, radix: Int): Int = {
    if (digits.isEmpty || digits.exists(c => c >= 128 || Character.digit(c, radix) < 0))
      fail(s"bad character reference '$digits'")
    Integer.parseInt(digits, radix)
  }

  /** The XML source's Long cast: a leading sign is split off first. */
  private def toLong(s: String): Long =
    if (s.startsWith("+")) java.lang.Long.parseLong(s.substring(1))
    else if (s.startsWith("-")) -java.lang.Long.parseLong(s.substring(1))
    else java.lang.Long.parseLong(s)

  /** The XML source's Double cast: sign split off, then `parseDouble`,
    * else the default locale's NumberFormat (which reads a numeric prefix).
    */
  private def toDouble(s: String): Double =
    if (s.startsWith("+")) parseDouble(s.substring(1))
    else if (s.startsWith("-")) -parseDouble(s.substring(1))
    else parseDouble(s)

  private def parseDouble(s: String): Double =
    try java.lang.Double.parseDouble(s)
    catch {
      case _: NumberFormatException => NumberFormat.getInstance(Locale.getDefault).parse(s).doubleValue
    }
}
