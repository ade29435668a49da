package graft.sources

import graft.{Probe, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sitemap ingestion — the crawl DISCOVERY tier: sitemap.xml files
  * (sitemaps.org protocol, public) parsed to frontier entries through
  * the same splittable XML machinery as the OSM source
  * ([[graft.osm.XmlElementInputFormat]] with rowTag `url`), so a
  * multi-GB sitemap scans in place across splits. Entry fields extract
  * with shared-syntax regexes (the HtmlFns cross-engine discipline) and
  * the standard XML entity escapes in `<loc>` decode (`&amp;` is how a
  * conformant writer escapes `&` in URLs — an undecoded loc would break
  * query-parameter canonicalization downstream).
  */
object Sitemap {

  private val entities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")

  /** One `elem` string per `rowTag` element under `path` (splittable). */
  private def elements(spark: SparkSession, path: String, rowTag: String,
      maxSplitBytes: Option[Long] = None): DataFrame = {
    val rows = graft.osm.XmlElementInputFormat.readElements(spark.sparkContext, path, rowTag,
        maxSplitBytes) { (_, records) =>
      records.map { case (_, t) =>
        Row(new String(t.getBytes, 0, t.getLength, java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("elem", StringType, nullable = false))))
  }

  private def field(tag: String): Column => Column = elem =>
    regexp_extract(elem, s"(?s)<$tag>\\s*(.*?)\\s*</$tag>", 1)

  /** &amp; LAST, so double-escaped text decodes one level — the
    * HtmlFns rule order (SitemapSpec pins it).
    */
  private def decodeEntities(c: Column): Column =
    entities.foldLeft(c) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }

  /** DataFrame of every `<url>` entry under `path`: (loc, lastmod,
    * changefreq, priority) — loc entity-decoded, absent fields ''.
    * Splittable exactly like the OSM scan; `maxSplitBytes` bounds the
    * Hadoop split size.
    */
  def readUrlEntries(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    elements(spark, path, "url", maxSplitBytes).select(
      decodeEntities(field("loc")(col("elem"))).as("loc"),
      field("lastmod")(col("elem")).as("lastmod"),
      field("changefreq")(col("elem")).as("changefreq"),
      field("priority")(col("elem")).as("priority"))

  /** X-URL7 — sitemap DISCOVERY composed with frontier canonicalization:
    * documents render as sitemap `<url>` entries (entity-escaped locs
    * with tracking params, per-doc lastmod dates, colliding canonical
    * paths), write as one sitemap.xml (urlset wrapper included), read
    * back through the SPLITTABLE element reader, entity-decode,
    * canonicalize, and roll up per host — entries, distinct canonical
    * pages, and the lastmod range (the recrawl scheduler's freshness
    * table). The oracle recomputes entry construction, entity decode,
    * canonicalization, and the rollup from the documents table.
    */
  private val url7 = Probe(
    "x_url7_sitemap_ingest",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://Ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
       |      CAST(doc_id % 11 AS VARCHAR) ||
       |      '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) AS raw_loc,
       |    '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || '-' ||
       |      lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lastmod,
       |    ${graft.clean.UrlFns.canonicalUrlDuck("raw_loc")} AS canon
       |  FROM d),
       |h AS (
       |  SELECT regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    canon, lastmod
       |  FROM c)
       |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_entries,
       |  CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
       |  MIN(lastmod) AS lastmod_min, MAX(lastmod) AS lastmod_max
       |FROM h GROUP BY host ORDER BY host""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"sitemap:$dir") {
      val p = graft.util.TempDirs.scratch("graft_sitemap")
      // loc is entity-ESCAPED in the file (the & in the query becomes
      // &amp;, as a conformant sitemap writer emits) and wrapped in the
      // urlset envelope; ordered single-file write = the file a site
      // serves
      val entry = concat(
        lit("<url><loc>https://Ex"), (col("doc_id") % 7).cast("string"),
        lit(".com/p/"), (col("doc_id") % 11).cast("string"),
        lit("?utm_source=feed&amp;id="), (col("doc_id") % 5).cast("string"),
        lit("</loc><lastmod>2026-"),
        lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"), lit("-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod></url>"))
      Tables(s, dir, "documents")
        .select(col("doc_id").as("ord"), entry.as("value"))
        .unionAll(s.range(1).select(lit(-1L).as("ord"),
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">").as("value")))
        .unionAll(s.range(1).select(lit(Long.MaxValue).as("ord"),
          lit("</urlset>").as("value")))
        .repartition(1).sortWithinPartitions("ord")
        .select("value")
        .write.mode("overwrite").text(p)
      p
    }
    val entries = readUrlEntries(s, out)
    entries
      .select(graft.clean.UrlFns.canonicalUrl(col("loc")).as("canon"),
        col("lastmod"))
      .groupBy(regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("canon")).as("n_canonical"),
        min(col("lastmod")).as("lastmod_min"),
        max(col("lastmod")).as("lastmod_max"))
      .orderBy("host")
  }

  /** RECRAWL QUEUE — the freshness scheduler over discovered sitemap
    * entries: each canonical page's declared `changefreq` maps to a
    * recrawl interval, `lastmod` age against `asOf` decides DUE-ness,
    * and due pages rank per host by an exact-integer overdue score
    * weighted by the declared `priority` (sitemaps.org fields, public),
    * capped at `cap` fetches per host per cycle. Ordering is
    * row-intrinsic (score desc, canon asc), so the per-host rank uses
    * the same salted two-level top-K as the fetch cap — exact, and a
    * mega-host never becomes one task.
    *
    * Interval model (days): always/hourly 1, daily 1, weekly 7,
    * monthly 30, yearly 365, never 3650, absent/unknown 30.
    * Score = (age_days − interval_days) · priority‰ — integers end to
    * end (priority parses as DECIMAL so 0.9 is exactly 900‰).
    */
  def recrawlQueue(entries: DataFrame, asOf: String, cap: Int = 8,
      salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val interval = when(lower(col("changefreq")).isin("always", "hourly", "daily"), 1L)
      .when(lower(col("changefreq")) === "weekly", 7L)
      .when(lower(col("changefreq")) === "monthly", 30L)
      .when(lower(col("changefreq")) === "yearly", 365L)
      .when(lower(col("changefreq")) === "never", 3650L)
      .otherwise(30L)
    val prioM = (coalesce(nullif(col("priority"), lit("")), lit("0.5"))
      .cast("decimal(4,2)") * 1000).cast("long")
    val scored = entries
      .select(graft.clean.UrlFns.canonicalUrl(col("loc")).as("canon"),
        // real sitemaps carry lastmod as either a bare date or a W3C
        // datetime (2026-01-01T12:00:00Z); normalize BOTH the freshness
        // ordering and the age cast to the 10-char date prefix so the
        // two forms compare consistently and the date cast never sees a
        // datetime suffix (which Spark's cast accepts but an oracle's
        // TRY_CAST may not — a latent cross-engine divergence).
        // Documented approximation (ADVICE r13): the prefix ignores the
        // W3C timezone offset, so '…T23:30:00-05:00' ages as its local
        // date, not its UTC date — off by at most one day, consistent
        // across BOTH engines; parse offsets to UTC in both forms if
        // day-exact freshness ever matters
        substring(col("lastmod"), 1, 10).as("lastmod"),
        col("changefreq"), col("priority"))
      // duplicate locs collapsing to one canonical page are the NORM
      // (tracking-param variants — exactly what canonicalUrl exists
      // for); without this dedup one page could occupy several of its
      // host's cap slots and double-fetch. Freshest knowledge wins
      // (lastmod desc as a string — ISO dates sort correctly and an
      // absent '' sorts last), deterministic tie-breaks after it.
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))
          .orderBy(col("lastmod").desc, col("changefreq").asc, col("priority").asc)))
      .filter(col("__rn") === 1)
      .withColumn("host", regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1))
      // an absent/unparseable lastmod must not silently exempt a page
      // from recrawl forever (lastmod is OPTIONAL in the protocol):
      // unknown freshness is DUE at minimum urgency — age defaults to
      // the interval, so the page qualifies with overdue 0
      .withColumn("interval_days", interval)
      .withColumn("age_days",
        coalesce(
          datediff(lit(asOf).cast("date"),
            expr("try_cast(nullif(lastmod, '') AS DATE)")).cast("long"),
          col("interval_days")))
      .withColumn("score", (col("age_days") - col("interval_days")) * prioM)
      .filter(col("age_days") >= col("interval_days"))
    val ord = Seq(col("score").desc, col("canon").asc)
    scored
      .withColumn("__salt", pmod(hash(col("canon")), lit(salts)))
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col("host"), col("__salt")).orderBy(ord: _*)))
      .filter(col("__lr") <= cap)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("host")).orderBy(ord: _*)).cast("long"))
      .filter(col("rank") <= cap)
      .select(col("host"), col("canon"), col("age_days"), col("interval_days"),
        col("score"), col("rank"))
  }

  /** X-URL9 — the recrawl scheduler composed with discovery: the
    * sitemap fixture carries varied lastmod ages, changefreq classes,
    * and priorities (some absent — the 0.5 default); the queue must
    * select exactly the DUE pages and rank them by the priority-
    * weighted overdue score, top-8 per host. The oracle recomputes
    * interval mapping, date arithmetic, the exact-decimal priority
    * parse, due-ness, and the rank with ONE flat window — hash-matching
    * pins the salted two-level rewrite exact (the x_url4 discipline).
    */
  private val url9 = Probe(
    "x_url9_recrawl_queue",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
       |      CAST(doc_id % 37 AS VARCHAR) AS loc,
       |    CASE WHEN doc_id % 13 = 6 THEN ''
       |      ELSE '2026-' || lpad(CAST(1 + doc_id % 2 AS VARCHAR), 2, '0') || '-' ||
       |        lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') END AS lastmod,
       |    CASE doc_id % 5 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
       |      WHEN 2 THEN 'monthly' WHEN 3 THEN 'yearly' ELSE '' END AS changefreq,
       |    CASE doc_id % 3 WHEN 0 THEN '0.9' WHEN 1 THEN '0.2' ELSE '' END AS priority
       |  FROM documents),
       |c AS (
       |  SELECT canon, lastmod, changefreq, priority FROM (
       |    SELECT ${graft.clean.UrlFns.canonicalUrlDuck("loc")} AS canon,
       |      substr(lastmod, 1, 10) AS lastmod, changefreq, priority,
       |      row_number() OVER (PARTITION BY ${graft.clean.UrlFns.canonicalUrlDuck("loc")}
       |        ORDER BY substr(lastmod, 1, 10) DESC, changefreq, priority) AS rn
       |    FROM d) WHERE rn = 1),
       |s0 AS (
       |  SELECT canon,
       |    regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |    CAST(date_diff('day', TRY_CAST(NULLIF(lastmod, '') AS DATE), DATE '2026-03-01') AS BIGINT) AS raw_age,
       |    CAST(CASE WHEN lower(changefreq) IN ('always','hourly','daily') THEN 1
       |         WHEN lower(changefreq) = 'weekly' THEN 7
       |         WHEN lower(changefreq) = 'monthly' THEN 30
       |         WHEN lower(changefreq) = 'yearly' THEN 365
       |         WHEN lower(changefreq) = 'never' THEN 3650
       |         ELSE 30 END AS BIGINT) AS interval_days,
       |    CAST(CAST(COALESCE(NULLIF(priority, ''), '0.5') AS DECIMAL(4,2)) * 1000 AS BIGINT) AS prio_m
       |  FROM c),
       |s AS (
       |  SELECT canon, host, interval_days, prio_m,
       |    COALESCE(raw_age, interval_days) AS age_days
       |  FROM s0),
       |due AS (
       |  SELECT host, canon, age_days, interval_days,
       |    (age_days - interval_days) * prio_m AS score
       |  FROM s WHERE age_days >= interval_days),
       |r AS (
       |  SELECT host, canon, age_days, interval_days, score,
       |    row_number() OVER (PARTITION BY host ORDER BY score DESC, canon ASC) AS rank
       |  FROM due)
       |SELECT host, canon, age_days, interval_days, CAST(score AS BIGINT) AS score,
       |  CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 8 ORDER BY host, rank""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // RAW entries — duplicate locs per canonical page included; the
    // queue's own dedup (freshest lastmod, deterministic tie-breaks)
    // must collapse them, replicated by the oracle's c CTE
    val entries = docs.select(
      concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
        lit(".com/p/"), (col("doc_id") % 37).cast("string")).as("loc"),
      when(col("doc_id") % 13 === 6, lit(""))
        .otherwise(concat(lit("2026-"),
          lpad((col("doc_id") % 2 + 1).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")))
        .as("lastmod"),
      when(col("doc_id") % 5 === 0, lit("daily"))
        .when(col("doc_id") % 5 === 1, lit("weekly"))
        .when(col("doc_id") % 5 === 2, lit("monthly"))
        .when(col("doc_id") % 5 === 3, lit("yearly"))
        .otherwise(lit("")).as("changefreq"),
      when(col("doc_id") % 3 === 0, lit("0.9"))
        .when(col("doc_id") % 3 === 1, lit("0.2"))
        .otherwise(lit("")).as("priority"))
    recrawlQueue(entries, "2026-03-01").orderBy("host", "rank")
  }

  /** `<sitemap>` entries of a SITEMAP INDEX (sitemaps.org two-level
    * protocol: big sites ship an index whose `<loc>`s point at the
    * actual sitemap files) — same splittable XML machinery, rowTag
    * `sitemap`: (loc, lastmod).
    */
  def readIndexEntries(spark: SparkSession, path: String): DataFrame =
    elements(spark, path, "sitemap").select(
      decodeEntities(field("loc")(col("elem"))).as("loc"),
      field("lastmod")(col("elem")).as("lastmod"))

  /** All `<url>` entries reachable THROUGH a sitemap index: read the
    * index, collect the member locs, scan them all in one splittable
    * pass. The collect is a FILE MANIFEST (an index is capped at 50k
    * member sitemaps by the protocol), the same driver-side role as any
    * input-path listing — never corpus data.
    */
  def readUrlEntriesViaIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val locs = readIndexEntries(spark, indexPath)
      .select("loc").collect().map(_.getString(0)).sorted
    require(locs.nonEmpty, s"sitemap index at $indexPath lists no sitemaps")
    // commas are legal in URIs and setInputPaths splits on unescaped
    // ones — escape each loc before joining
    readUrlEntries(spark,
      locs.map(org.apache.hadoop.util.StringUtils.escapeString).mkString(","))
  }

  /** X-URL10 — two-level discovery: documents shard into THREE sitemap
    * files (by doc_id mod 3) plus a sitemapindex listing them; the
    * pipeline reads the index, fans out to every member sitemap through
    * the splittable reader, entity-decodes, canonicalizes, and rolls up
    * per host — exactly x_url7's rollup, which is the point: the oracle
    * recomputes from the documents table with NO knowledge of the
    * sharding, so a member file skipped, double-read, or mis-listed in
    * the index breaks the hash.
    */
  private val url10 = Probe(
    "x_url10_sitemap_index",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://Ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
       |      CAST(doc_id % 11 AS VARCHAR) ||
       |      '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) AS raw_loc
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ${graft.clean.UrlFns.canonicalUrlDuck("raw_loc")} AS canon
       |  FROM d)
       |SELECT regexp_extract(canon, '^[a-z0-9+.-]+://([^/:?#]+)', 1) AS host,
       |  CAST(COUNT(*) AS BIGINT) AS n_entries,
       |  CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = graft.util.TrainOnce(s"sitemap_index:$dir") {
      val p = graft.util.TempDirs.scratch("graft_smidx")
      val docs = Tables(s, dir, "documents")
      val entry = concat(
        lit("<url><loc>https://Ex"), (col("doc_id") % 7).cast("string"),
        lit(".com/p/"), (col("doc_id") % 11).cast("string"),
        lit("?utm_source=feed&amp;id="), (col("doc_id") % 5).cast("string"),
        lit("</loc></url>"))
      val shards = (0 until 3).map { i =>
        docs.filter(col("doc_id") % 3 === i)
          .select(col("doc_id").as("ord"), entry.as("value"))
          .unionAll(s.range(1).select(lit(-1L).as("ord"), lit("<urlset>").as("value")))
          .unionAll(s.range(1).select(lit(Long.MaxValue).as("ord"),
            lit("</urlset>").as("value")))
          .repartition(1).sortWithinPartitions("ord")
          .select("value")
          .write.mode("overwrite").text(s"$p/sm$i")
        s"$p/sm$i"
      }
      // the index lists the member sitemaps (their storage paths — the
      // fixture's stand-in for the URLs a live site would publish)
      val index = "<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
        shards.map(sp => s"<sitemap><loc>$sp</loc><lastmod>2026-01-01</lastmod></sitemap>")
          .mkString("\n") + "\n</sitemapindex>\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "index.xml"),
        index.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s"$p/index.xml"
    }
    readUrlEntriesViaIndex(s, out)
      .select(graft.clean.UrlFns.canonicalUrl(col("loc")).as("canon"))
      .groupBy(regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("canon")).as("n_canonical"))
      .orderBy("host")
  }

  val all: Seq[Probe] = Seq(url7, url9, url10)
}
