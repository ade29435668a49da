package graft

import graft.osm.OsmPipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** ETL at the reference's actual input scale (~100 MB XML for the real
  * Elgin extract): generate a comparable synthetic OSM file, run the full
  * pipeline, verify counts/cleaning, and record throughput.
  */
class OsmScaleSpec extends SparkSuite {

  private def generate(path: String, nNodes: Int, nWays: Int): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    var i = 0
    while (i < nNodes) {
      val id = 1000000L + i
      w.write(s"""  <node id="$id" lat="${30.25 + (i % 1000) * 1e-4}" lon="${-97.62 + (i % 997) * 1e-4}" version="1" timestamp="2016-0${1 + i % 9}-11T15:43:11Z" changeset="${i % 100000}" uid="${i % 5000}" user="user_${i % 5000}">
""")
      w.write(s"""    <tag k="addr:street" v="Main St"/>
    <tag k="addr:postcode" v="786${i % 10}1-124${i % 10}"/>
    <tag k="highway" v="residential"/>
""")
      w.write("  </node>\n")
      i += 1
    }
    var j = 0
    while (j < nWays) {
      val id = 9000000L + j
      w.write(s"""  <way id="$id" version="1" timestamp="2015-06-01T12:00:00Z" changeset="2" uid="2" user="w_${j % 100}">
    <tag k="addr:city" v="Elgin, TX"/>
    <nd ref="${1000000L + j % nNodes}"/>
    <nd ref="${1000000L + (j * 7) % nNodes}"/>
  </way>
""")
      j += 1
    }
    w.write("</osm>\n")
    w.close()
  }

  test("OsmShard preserves non-ASCII UTF-8 bytes (charset-independent)") {
    // Real OSM is full of multi-byte names; with the platform default
    // charset (US-ASCII when LANG is unset) these were mangled to '?'.
    val dir = Files.createTempDirectory("osm_utf8").toString
    val xml = s"$dir/utf8.osm"
    val names = Seq("Café Señorial", "Große Straße", "北京烤鸭", "Łódź–Żoliborz")
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    names.zipWithIndex.foreach { case (n, i) =>
      w.write(s"""  <node id="${i + 1}" lat="30.1" lon="-97.1" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u">
    <tag k="name" v="$n"/>
  </node>
""")
    }
    w.write("</osm>\n")
    w.close()

    val cut = s"$dir/cut"
    val shards = graft.osm.OsmShard.shard(xml, cut, 1L) // 1 byte/shard: one node per shard
    assert(shards.length == names.length)
    // byte-level: every multi-byte name survives the shard pass verbatim
    val shardText = shards.map(p =>
      new String(Files.readAllBytes(Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8))
      .mkString("\n")
    names.foreach(n => assert(shardText.contains(n), s"mangled: $n"))
    // end-to-end: the Spark scan over shards yields the exact values
    val t = OsmPipeline.process(spark, s"$cut/*.osm")
    val got = t.nodeTags.filter(t.nodeTags("key") === "name")
      .select("value").collect().map(_.getString(0)).toSet
    assert(got == names.toSet)
  }

  test("CSV round-trip preserves embedded newlines in tag values (multiLine)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("osm_csv_nl").toString
    // legal in OSM note/description values: embedded newlines + quotes
    val tricky = Seq(
      (1L, "note", "line one\nline two", "regular"),
      (2L, "description", "said \"hi\",\nthen left", "regular"),
      (3L, "name", "Café Straße", "regular"))
    val tags = tricky.toDF("id", "key", "value", "type")
    val empty = Seq.empty[(Long, String, String, String)].toDF("id", "key", "value", "type")
    val nodes = Seq((1L, 30.1, -97.1, "u", 1L, "1", 1L, "2016-01-01T00:00:00Z"))
      .toDF("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp")
    val ways = Seq.empty[(Long, String, Long, String, Long, String)]
      .toDF("id", "user", "uid", "version", "changeset", "timestamp")
    val wayNodes = Seq.empty[(Long, Long, Long)].toDF("id", "node_id", "position")
    val t = OsmPipeline.OsmTables(nodes, tags, ways, wayNodes, empty)
    OsmPipeline.writeCsv(t, dir)
    val back = OsmPipeline.readCsv(spark, dir)
    val got = back.nodeTags.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got == tricky, s"round-trip mismatch: $got")
  }

  test("splittable XML source: single file parallelizes, rows identical to stock scan") {
    val dir = Files.createTempDirectory("osm_split").toString
    val xml = s"$dir/one.osm"
    val nNodes = 30000
    val nWays = 5000
    generate(xml, nNodes, nWays)
    val bytes = Files.size(Paths.get(xml))
    assert(bytes > 8 * 1024 * 1024)

    // force many small splits on the ONE file
    val split = Some(1024L * 1024)
    val nodes = graft.osm.OsmSplittable.readNodesRaw(spark, xml, split)
    assert(nodes.rdd.getNumPartitions >= 8,
      s"single file did not split: ${nodes.rdd.getNumPartitions} partitions")
    assert(nodes.count() == nNodes)

    // rows identical to the stock (unsplittable) XML scan, not just counts
    val stock = OsmPipeline.readNodesRaw(spark, xml)
    val a = nodes.orderBy("_id").collect().map(_.toSeq).toSeq
    val b = stock.orderBy("_id").collect().map(_.toSeq).toSeq
    assert(a == b)

    // ways: start tags sparse and clustered at the file tail — exactly the
    // case where naive delimiter records blow up; here each split just
    // finds no start tag and returns empty, and counts still agree
    val ways = graft.osm.OsmSplittable.readWaysRaw(spark, xml, split)
    assert(ways.count() == nWays)
    // whole rows, the nd arrays included
    assert(ways.orderBy("_id").collect().map(_.toSeq).toSeq ==
      OsmPipeline.readWaysRaw(spark, xml).orderBy("_id").collect().map(_.toSeq).toSeq)

    // the full 5-table ETL over the splittable scan == over the stock scan
    val ts = OsmPipeline.process(spark, xml, splittable = true)
    val t0 = OsmPipeline.process(spark, xml)
    def rows(d: org.apache.spark.sql.DataFrame, keys: String*) =
      d.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    assert(rows(ts.nodeTags, "id", "key") == rows(t0.nodeTags, "id", "key"))
    assert(rows(ts.wayNodes, "id", "position") == rows(t0.wayNodes, "id", "position"))
  }

  test("splittable XML source: split boundaries cannot drop or duplicate elements") {
    // tiny file, splits far smaller than one element's byte length — every
    // element straddles a boundary; the ownership rule (element belongs to
    // the split where its start tag begins; last element read through the
    // split end) must still yield exactly-once extraction
    val dir = Files.createTempDirectory("osm_split_edge").toString
    val xml = s"$dir/edge.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    (1 to 200).foreach { i =>
      if (i % 2 == 0)
        // self-closing, with '>' inside an attribute value (legal XML)
        w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="a&gt;b>c"/>\n""")
      else
        w.write(s"""  <node id="$i" lat="30.$i" lon="-97.$i" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u">
    <tag k="name" v="n$i"/>
  </node>\n""")
    }
    w.write("</osm>\n")
    w.close()

    for (splitBytes <- Seq(64L, 97L, 256L, 1000L)) {
      val got = graft.osm.OsmSplittable
        .readNodesRaw(spark, xml, Some(splitBytes))
        .select("_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (1L to 200L), s"splitBytes=$splitBytes: got ${got.length} ids")
    }
  }

  test("splittable XML source: decoded rows equal the stock scan on an edge fixture") {
    val dir = Files.createTempDirectory("osm_split_decode").toString
    val xml = s"$dir/edge.osm"
    val w = Files.newBufferedWriter(Paths.get(xml), java.nio.charset.StandardCharsets.UTF_8)
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    // named, decimal and hex entities; literal tab, LF and CRLF (-> one
    // space each); character references (kept, then trimmed at the ends);
    // a comment between children
    w.write(s"""  <node id="1" lat="30.5" lon="-97.5" user="a &amp; b &lt;c&gt; &quot;q&quot; &apos;s&apos;" uid="7" version="1" changeset="3" timestamp="2016-01-01T00:00:00Z">
    <tag k="dec" v="&#65;&#66;&#x43;&#x1F600;&#233;"/>
    <!-- a comment with <tag k="no" v="no"/> and a > inside -->
    <tag k="ws" v="tab\tand\nnewline\r\ncrlf"/>
    <tag k="charref" v="&#9;lead&#10;x&#32;"/>
  </node>
""")
    // surrounding spaces (trimmed), single quotes, '>' and '"' inside a
    // value, spaces around '=', signs, an open-and-closed <tag></tag>, an
    // empty value, a child without attributes and one missing v
    w.write("""  <node id=" 3 " lat=' 30.25 ' lon='-97.25' user="  padded  " uid = "8" version='2' changeset="+4" timestamp="x>y">
    <tag k='single' v='it"s > fine'></tag>
    <tag k="empty" v=""/>
    <tag/>
    <tag k="onlyk"/>
  </node>
""")
    // missing attributes and no children; multi-byte UTF-8; a <tag> below
    // another child (not a direct child: ignored) and one with text
    w.write("""  <node id="4" lat="1.0"/>
  <node id="5" lat="2" lon="1,234.5" user="Ñandú 北京 😀" version="" uid="-9" changeset="0" timestamp=""><tag k="name" v="Łódź"/></node>
  <node id="6" lat="1e3" lon="-0.5" user="x"><foo><tag k="deep" v="deep"/></foo><tag k="top" v="top">text</tag></node>
  <way id="10" user="w" uid="1" version="1" changeset="1" timestamp="t">
    <nd ref="1"/>
    <!-- <nd ref="999"/> -->
    <nd ref=" 3 "/>
    <tag k="highway" v="a&amp;b"/>
    <nd ref="5"></nd>
  </way>
  <way id="11"/>
</osm>
""")
    w.close()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("_id").collect().map(_.toSeq).toSeq
    val stockNodes = rows(OsmPipeline.readNodesRaw(spark, xml))
    val stockWays = rows(OsmPipeline.readWaysRaw(spark, xml))
    // the fixture exercises what it claims (as the stock source reads it)
    assert(stockNodes.map(_.head) == Seq(1L, 3L, 4L, 5L, 6L))
    assert(stockNodes(1)(3) == "padded")
    assert(stockNodes(2)(8) == null) // no children: null, not empty
    assert(stockWays.map(_.last) == Seq(Seq(Row(1L), Row(3L), Row(5L)), null))
    for (split <- Seq(None, Some(64L))) {
      assert(rows(graft.osm.OsmSplittable.readNodesRaw(spark, xml, split)) == stockNodes,
        s"nodes, split $split")
      assert(rows(graft.osm.OsmSplittable.readWaysRaw(spark, xml, split)) == stockWays,
        s"ways, split $split")
    }
  }

  test("a malformed element fails the read on both paths, naming file and offset") {
    val dir = Files.createTempDirectory("osm_split_bad").toString
    val xml = s"$dir/bad.osm"
    val good = """<osm version="0.6">
  <node id="1" lat="30.1" lon="-97.1" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" uid="1" user="u"/>
  """
    val bad = """<node id="2" lat="abc" uid="x" lon="-97.2" version="1" timestamp="2016-01-01T00:00:00Z" changeset="1" user="u"/>"""
    Files.write(Paths.get(xml), (good + bad + "\n</osm>\n").getBytes("UTF-8"))
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")

    // the stock XML source fails the read (a row of nulls would slip
    // through to `nodes` with a null id)
    intercept[Exception](OsmPipeline.readNodesRaw(spark, xml).collect())
    val e = intercept[Exception](graft.osm.OsmSplittable.readNodesRaw(spark, xml).collect())
    val msg = messages(e)
    assert(msg.contains(s"malformed XML element at byte ${good.length} of "), msg)
    assert(msg.contains(xml), msg)
  }

  test("full pipeline over a reference-scale XML input") {
    val dir = Files.createTempDirectory("osm_scale").toString
    val xml = s"$dir/big.osm"
    val nNodes = 120000
    val nWays = 20000
    generate(xml, nNodes, nWays)
    val mb = Files.size(Paths.get(xml)) / 1e6
    assert(mb > 30, s"generated file too small: $mb MB")

    // force multi-split reads so the scan shape matches a distributed run
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
    try {
      val t0 = System.nanoTime()
      val t = OsmPipeline.process(spark, xml)
      assert(t.nodes.count() == nNodes)
      assert(t.nodeTags.count() == nNodes * 3L)
      assert(t.ways.count() == nWays)
      assert(t.wayNodes.count() == nWays * 2L)
      assert(t.wayTags.count() == nWays.toLong)
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"pipeline counted 5 tables over $mb%.1f MB XML in $secs%.1f s " +
        f"(${t.nodes.rdd.getNumPartitions} node-scan partitions)")

      // cleaning applied at scale: every street canonicalized, postcode truncated
      val streets = t.nodeTags.filter(t.nodeTags("key") === "street")
        .select("value").distinct().collect().map(_.getString(0)).toSet
      assert(streets == Set("Main Street"))
      val badZips = t.nodeTags.filter(t.nodeTags("key") === "postcode")
        .filter(!t.nodeTags("value").rlike("^\\d{5}$")).count()
      assert(badZips == 0)

      // SCALE CAVEAT (observed): Spark's XML source does NOT split a single
      // file — one 100 GB .osm would be one task. Mitigation 1: pre-sharded
      // landing zone (many files → per-file parallelism). Demonstrated:
      val shards = s"$dir/shards"
      Files.createDirectories(Paths.get(shards))
      (0 until 4).foreach { s =>
        generate(s"$shards/part_$s.osm", nNodes / 20, 0)
      }
      val sharded = OsmPipeline.readNodesRaw(spark, shards + "/*.osm")
      assert(sharded.rdd.getNumPartitions >= 4,
        s"expected >=4 partitions over 4 shards, got ${sharded.rdd.getNumPartitions}")
      assert(sharded.count() == (nNodes / 20) * 4L)

      // Mitigation 2: OsmShard — one constant-memory pass cuts the
      // monolith into element-aligned shards; the full pipeline over the
      // shard directory must agree exactly with the single-file run.
      val cut = s"$dir/cut"
      val shardPaths = graft.osm.OsmShard.shard(xml, cut, 4L * 1024 * 1024)
      assert(shardPaths.length >= 8, s"expected >=8 shards, got ${shardPaths.length}")
      val ts = OsmPipeline.process(spark, s"$cut/*.osm")
      assert(ts.nodes.count() == nNodes)
      assert(ts.nodeTags.count() == nNodes * 3L)
      assert(ts.ways.count() == nWays)
      assert(ts.wayNodes.count() == nWays * 2L)
      assert(OsmPipeline.readNodesRaw(spark, s"$cut/*.osm").rdd.getNumPartitions >= 8)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}
