package perfbench

import graft.api.Corpus
import graft.ext.LmStore
import graft.osm.{OsmPipeline, OsmQueries, OsmSplittable}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

private object Timing {
  def apply(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The paper's pipeline on one `.osm` file: ETL to five parquet tables,
  * read back as the notebook's views, Q1-Q5, then the Step-1 audits.
  */
final class OsmEtl(spark: SparkSession, inputs: String, work: String, trace: Boolean)
    extends Workload {
  private val xml = s"$inputs/map.osm"
  private val out = s"$work/osm_tables"
  private val tableNames = Seq("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags")
  private val answers = mutable.HashMap.empty[String, Seq[Seq[Any]]]
  private val writes = if (trace) Some(new WriteTimes) else None
  writes.foreach(spark.listenerManager.register)

  private def answer(key: String, df: DataFrame): Unit =
    answers(key) = df.collect().toSeq.map(_.toSeq)

  private def readBack(): OsmPipeline.OsmTables = {
    def rd(name: String) = spark.read.parquet(s"$out/$name")
    OsmPipeline.OsmTables(rd("nodes"), rd("nodes_tags"), rd("ways"), rd("ways_nodes"), rd("ways_tags"))
  }

  private def step(name: String)(body: => Unit): Op = Op(name, () => body)

  val ops: Seq[Op] = Seq(
    step("etl") {
      OsmPipeline.writeParquet(OsmPipeline.process(spark, xml, splittable = true), out)
    },
    step("views")(OsmPipeline.registerViews(readBack())),
    step("q1")(answer("q1", OsmQueries.q1(spark))),
    step("q2")(answer("q2", OsmQueries.q2(spark))),
    step("q3")(answer("q3", OsmQueries.q3(spark))),
    step("q4")(answer("q4", OsmQueries.q4(spark))),
    step("q5") {
      answer("q5_oldest", OsmQueries.q5Oldest(spark))
      answer("q5_newest", OsmQueries.q5Newest(spark))
    },
    step("audit") {
      val raw = OsmQueries.rawTags(
        OsmSplittable.readNodesRaw(spark, xml), OsmSplittable.readWaysRaw(spark, xml))
      Seq(OsmQueries.auditStreets _, OsmQueries.auditStates _, OsmQueries.auditCities _,
        OsmQueries.auditHousenumbers _, OsmQueries.auditPhones _, OsmQueries.auditPostcodes _)
        .foreach(a => a(raw).collect())
    })

  /** XML scan alone (both element scans to noop) and per-table write times. */
  override def traced(): Map[String, Double] = {
    val scan = Timing {
      OsmSplittable.readNodesRaw(spark, xml).write.format("noop").mode("overwrite").save()
      OsmSplittable.readWaysRaw(spark, xml).write.format("noop").mode("overwrite").save()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    Map("osm.scan_s" -> scan) ++ tableNames.map(t => s"osm.write_s.$t" -> writes.get.steady(t))
  }

  override def finish(): Unit =
    Files.writeString(Paths.get(work, "osm_answers.json"), Json.write(answers.toMap))
}

/** Records the duration of each parquet write by output directory name;
  * the first write of a directory (the warm-up pass) is left out.
  */
final class WriteTimes extends QueryExecutionListener {
  private val times = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
      .foreach(n => synchronized(times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += durationNs / 1e9))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def steady(name: String): Double = synchronized {
    Timing.median(times.get(name).map(_.toSeq.drop(1)).getOrElse(Nil))
  }
}

/** The README training-data chain, one `Corpus` stage per operation, each
  * reading the previous stage's parquet and checkpointing its own, then
  * the JSONL export. The seed picks the eval slice and the DSIR target: ten
  * neighbouring sources of the twenty, about half of the documents. DSIR
  * smooths its bigram-bucket frequencies, so a target with far fewer
  * bigrams than the corpus it scores would leave almost nothing selected.
  */
final class CorpusStages(spark: SparkSession, inputs: String, work: String, seed: Long)
    extends Workload {
  private val variant = java.lang.Math.floorMod(seed, 8L)
  private val docsPath = s"$inputs/documents.parquet"
  private val lm = s"$work/lm"
  private val dir = s"$work/corpus"
  private def docs = spark.read.parquet(docsPath)
  private def evalDocs = docs.filter(col("doc_id") % 50 === variant)
  private def target =
    docs.filter(col("source").isin((0 until 10).map(i => s"src${(variant * 2 + i) % 20}"): _*))

  private val stages: Seq[(String, Corpus => Corpus)] = Seq(
    "withQualityRules" -> (_.withQualityRules()),
    "withLmScoreFromStore" -> (_.withLmScoreFromStore(lm)),
    "filterByQualityRules" -> (_.filterByQualityRules()),
    "filterByLangMedian" -> (_.filterByLangMedian()),
    "dedupSegmentsIntra" -> (_.dedupSegmentsIntra()),
    "dedupSegments" -> (_.dedupSegments()),
    "dedupExact" -> (_.dedupExact()),
    "dedupNearQualitySurvivor" -> (_.dedupNearQualitySurvivor()),
    "dedupNearVerified" -> (_.dedupNearVerified()),
    "filterDupSpans" -> (_.filterDupSpans(maxSpanWords = 64)),
    "decontaminate" -> (_.decontaminate(evalDocs)),
    "decontaminateFuzzy" -> (_.decontaminateFuzzy(evalDocs)),
    "redactPii" -> (_.redactPii()),
    "selectByDsir" -> (_.selectByDsir(target)),
    "mixByTemperature" -> (_.mixByTemperature(0.5)),
    "withBpeTokenCount" -> (_.withBpeTokenCount()),
    "takeTokenBudget" -> (_.takeTokenBudget(5000000000000L)),
    "chunkTokens" -> (_.chunkTokens(window = 2048, stride = 1536)))

  private def stageDir(i: Int): String = f"$dir/${i + 1}%02d_${stages(i)._1}"

  /** Stages that README order leaves without work, each also run once,
    * untimed, on an earlier stage's output that holds their input:
    * dedupSegments drops every exact copy before dedupExact,
    * dedupNearQualitySurvivor every LSH-colliding pair before
    * dedupNearVerified, and decontaminate every document sharing a shingle
    * with the eval set, which are the only candidates decontaminateFuzzy
    * verifies. (stage, stage whose output it reads, stage call)
    */
  private val sideChecks: Seq[(String, String, Corpus => Corpus)] = Seq(
    ("dedupExact", "dedupSegmentsIntra", _.dedupExact()),
    ("dedupNearVerified", "dedupSegments", _.dedupNearVerified()),
    ("decontaminateFuzzy", "filterDupSpans", _.decontaminateFuzzy(evalDocs)))

  override def prepare(): Map[String, Double] =
    Map("lm_store_s" -> Timing(LmStore.buildLm(docs, lm)))

  val ops: Seq[Op] = stages.indices.map { i =>
    val in = if (i == 0) docsPath else stageDir(i - 1)
    Op(stages(i)._1, () =>
      stages(i)._2(Corpus(spark.read.parquet(in))).df.write.mode("overwrite").parquet(stageDir(i)))
  } :+ Op("writeJsonl", () =>
    Corpus(spark.read.parquet(stageDir(stages.size - 1))).writeJsonl(s"$dir/jsonl"))

  override def finish(): Unit = {
    val side = sideChecks.map { case (name, from, f) =>
      val out = s"$work/side/$name"
      f(Corpus(spark.read.parquet(stageDir(stages.indexWhere(_._1 == from))))).df
        .write.mode("overwrite").parquet(out)
      Seq(name, from, out)
    }
    Files.writeString(Paths.get(work, "corpus_outputs.json"), Json.write(Map(
      "variant" -> variant,
      "stages" -> stages.indices.map(i => Seq(stages(i)._1, stageDir(i))),
      "side_checks" -> side,
      "jsonl" -> s"$dir/jsonl")))
  }
}
