package graft.osm

import java.nio.charset.StandardCharsets

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.{NewHadoopRDD, RDD}

/** Splittable XML-element input format: one record per `<rowTag ...>`
  * element, from a SINGLE (possibly huge) uncompressed XML file.
  *
  * The split contract (the same one every line-based Hadoop reader uses):
  * a record BELONGS to the split in which its start tag begins; a reader
  * positioned mid-file scans forward to the first start tag at or after
  * its split start (bytes before it belong to the previous split's reader,
  * which reads past its own end to finish its last element). Memory is
  * O(single element), never O(split) — this is what makes an in-place scan
  * of a 100 GB .osm parallelize, where delimiter-record tricks blow up on
  * sparse row tags (the text before the first `</way>` is the entire
  * nodes section).
  *
  * XML assumptions (hold for any conformant writer, incl. OSM exports):
  * `<` is escaped inside attribute values, so raw `<rowTag` / `</rowTag>`
  * byte sequences only occur as real markup; elements of the same name do
  * not nest (true for OSM node/way/relation). Attribute values MAY contain
  * unescaped `>`, so root-tag scanning tracks quote state. The scanner
  * does NOT skip XML comments or CDATA sections — a literal `<rowTag` /
  * `</rowTag>` inside `<!-- -->` or `<![CDATA[ ]]>` would yield a phantom
  * or truncated record. Machine-generated OSM exports contain neither;
  * for hand-edited inputs use the stock (non-splittable) XML source,
  * whose parser handles them.
  */
class XmlElementInputFormat extends FileInputFormat[LongWritable, Text] {
  override def isSplitable(ctx: JobContext, file: Path): Boolean =
    new CompressionCodecFactory(ctx.getConfiguration).getCodec(file) == null

  override def createRecordReader(split: InputSplit, ctx: TaskAttemptContext)
      : RecordReader[LongWritable, Text] = new XmlElementRecordReader
}

object XmlElementInputFormat {
  /** Configuration key naming the element to extract (e.g. "node"). */
  val ROW_TAG_KEY = "graft.xml.rowtag"

  /** Every `rowTag` element under `path`, decoded split by split: `decode`
    * gets the split's file and an iterator of (byte offset of the element's
    * start tag, element bytes). The Text is reused between records — read
    * or copy it before advancing. `maxSplitBytes` bounds the Hadoop split
    * size (else the default block sizing applies — on a real cluster, the
    * HDFS/object-store block size).
    */
  def readElements[T: ClassTag](sc: SparkContext, path: String, rowTag: String,
      maxSplitBytes: Option[Long] = None)(
      decode: (Path, Iterator[(LongWritable, Text)]) => Iterator[T]): RDD[T] = {
    val conf = new Configuration(sc.hadoopConfiguration)
    conf.set(ROW_TAG_KEY, rowTag)
    maxSplitBytes.foreach(b => conf.set(FileInputFormat.SPLIT_MAXSIZE, b.toString))
    sc.newAPIHadoopFile(path, classOf[XmlElementInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .asInstanceOf[NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit((split, it) =>
        decode(split.asInstanceOf[FileSplit].getPath, it))
  }
}

/** Reads through a plain byte window over the file stream (no per-byte
  * synchronized stream calls) and copies each element into the reused
  * value Text in runs: the bytes of the current window from `runStart` on
  * belong to the element being recorded and are appended in one copy when
  * the window refills or the element ends.
  */
class XmlElementRecordReader extends RecordReader[LongWritable, Text] {
  private var startTag: Array[Byte] = _
  private var endTag: Array[Byte] = _
  private var start = 0L
  private var end = 0L
  private var fsIn: FSDataInputStream = _
  private val window = new Array[Byte](64 * 1024)
  private var windowPos = 0      // next unread byte of `window`
  private var windowLen = 0      // valid bytes in `window`
  private var windowFileStart = 0L // file offset of window(0)
  private var recording = false
  private var runStart = 0       // first window byte not yet copied to `value`
  private val key = new LongWritable
  private val value = new Text

  override def initialize(genericSplit: InputSplit, ctx: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val rowTag = ctx.getConfiguration.get(XmlElementInputFormat.ROW_TAG_KEY)
    require(rowTag != null && rowTag.nonEmpty, s"${XmlElementInputFormat.ROW_TAG_KEY} not set")
    startTag = ("<" + rowTag).getBytes(StandardCharsets.UTF_8)
    endTag = ("</" + rowTag + ">").getBytes(StandardCharsets.UTF_8)
    start = split.getStart
    end = start + split.getLength
    // the reader scans RAW bytes: on compressed input the tag scan would
    // silently find nothing and yield an empty (not failed!) DataFrame
    val codec = new CompressionCodecFactory(ctx.getConfiguration)
      .getCodec(split.getPath)
    if (codec != null)
      throw new UnsupportedOperationException(
        s"XmlElementInputFormat reads raw XML bytes; ${split.getPath} is " +
        s"${codec.getClass.getSimpleName}-compressed — decompress or shard it first")
    val fs = split.getPath.getFileSystem(ctx.getConfiguration)
    fsIn = fs.open(split.getPath)
    fsIn.seek(start)
    windowFileStart = start
  }

  /** File offset of the next unread byte. */
  private def pos: Long = windowFileStart + windowPos

  private def readByte(): Int = {
    if (windowPos == windowLen && !refill()) return -1
    val b = window(windowPos) & 0xff
    windowPos += 1
    b
  }

  /** Next window of the file, after saving the recorded run of this one. */
  private def refill(): Boolean = {
    if (recording) value.append(window, runStart, windowLen - runStart)
    runStart = 0
    val n = fsIn.read(window, 0, window.length)
    if (n <= 0) return false
    windowFileStart += windowLen
    windowPos = 0
    windowLen = n
    true
  }

  /** Scan forward for `tag` (bytes are recorded when `recording`). Returns
    * false at EOF, or — when not recording — once the scan position passes
    * the split end with no match in progress (the next element belongs to
    * the next split). In non-recording (start-tag search) mode a match is
    * accepted only if its FIRST byte lies before the split end: a start tag
    * beginning at/after `end`, reached through a partial-match run crossing
    * the boundary (e.g. "<nod<node"), is the next split's element —
    * emitting it here would duplicate it.
    */
  private def readUntilMatch(tag: Array[Byte]): Boolean = {
    var i = 0
    var matchStart = 0L
    while (true) {
      val b = readByte()
      if (b == -1) return false
      if (b == tag(i)) {
        if (i == 0) matchStart = pos - 1
        i += 1
        if (i >= tag.length) {
          if (recording || matchStart < end) return true
          return false // tag begins in the next split: not ours
        }
      } else {
        if (b == tag(0)) { i = 1; matchStart = pos - 1 } else i = 0
        if (!recording && i == 0 && pos >= end) return false
      }
    }
    false
  }

  /** After the start-tag bytes matched: boundary byte must terminate the
    * tag name ("<node" must not match "<nodeset").
    */
  private def boundaryOk(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '>' || b == '/'

  override def nextKeyValue(): Boolean = {
    while (true) {
      if (!readUntilMatch(startTag)) return false
      val elementStart = pos - startTag.length
      val b0 = readByte()
      if (b0 == -1) return false
      if (boundaryOk(b0)) {
        // record from b0 on (the byte just read, still in this window)
        value.clear()
        value.append(startTag, 0, startTag.length)
        recording = true
        runStart = windowPos - 1
        // phase 1: the root tag itself, quote-aware ('>' is legal inside
        // attribute values). Ends at '>' — "/>" completes the element.
        var rootClosed = b0 == '>'
        var selfClosed = false
        var prev = b0
        var inQuote = 0 // 0 = none, else the active quote char
        while (!rootClosed && !selfClosed) {
          val b = readByte()
          if (b == -1) return false // malformed tail: drop it
          if (inQuote != 0) { if (b == inQuote) inQuote = 0 }
          else if (b == '"' || b == '\'') inQuote = b
          else if (b == '>') { if (prev == '/') selfClosed = true else rootClosed = true }
          prev = b
        }
        // phase 2 (open element): copy bytes through the matching end tag.
        // Same-name elements do not nest and '<' is escaped in values, so a
        // raw end-tag byte match is the element end.
        val complete = selfClosed || readUntilMatch(endTag)
        recording = false
        if (!complete) return false // EOF inside an element: malformed tail, drop it
        value.append(window, runStart, windowPos - runStart)
        key.set(elementStart)
        return true
      }
      // not a real start tag (e.g. "<nodeset"): keep scanning, unless we
      // are already past the split end
      if (pos >= end) return false
    }
    false
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float =
    if (end == start) 1.0f else math.min(1.0f, (pos - start).toFloat / (end - start))
  override def close(): Unit = if (fsIn != null) fsIn.close()
}
