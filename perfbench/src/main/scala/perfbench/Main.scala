package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One timed step of a workload: an OSM step or a corpus stage. */
final case class Op(name: String, run: () => Unit)

/** A workload: its operations, set-up work that runs once before the
  * warm-up pass, extra traced-only measurements, and the outputs it leaves
  * in the work directory for the output check.
  */
trait Workload {
  def prepare(): Map[String, Double] = Map.empty
  def ops: Seq[Op]
  def traced(): Map[String, Double] = Map.empty
  def finish(): Unit = ()
}

/** Benchmark entry point, one workload per JVM. Prints nothing useful on stdout;
  * it writes `<work>/result.json` with per-pass, per-operation timings (and,
  * when tracing, per-operation engine counts) for run.py to reduce.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seconds S --trace 0|1 --seed N
  */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val seed = opt("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val wl: Workload = opt("workload") match {
      case "osm_etl" => new OsmEtl(spark, opt("inputs"), work, trace)
      case "corpus_stages" => new CorpusStages(spark, opt("inputs"), work, seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupParts = wl.prepare()
    val runner = new Runner(spark, tracer)
    val tw = System.nanoTime()
    val warmup = runner.pass(wl.ops, "warmup")
    val warmupS = secs(tw)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    runner.settle()

    val passes = ArrayBuffer.empty[Map[String, Any]]
    var liveHeapMb = 0.0
    val tt = System.nanoTime()
    while (passes.isEmpty || secs(tt) < seconds) {
      passes += runner.pass(wl.ops, s"p${passes.size}")
      liveHeapMb = math.max(liveHeapMb, runner.settle())
    }
    val extras = if (trace) wl.traced() else Map.empty[String, Double]
    wl.finish()

    val result = Map(
      "cores" -> cores,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "setup_s" -> setupS,
      "setup_parts" -> setupParts,
      "live_heap_mb" -> liveHeapMb,
      "warmup" -> warmup,
      "passes" -> passes.toSeq,
      "traced" -> extras)
    Files.writeString(Paths.get(work, "result.json"), Json.write(result))
    spark.stop()
  }
}

/** Runs passes over a workload's operations. An operation that throws is
  * recorded as failed and the pass goes on.
  */
final class Runner(spark: SparkSession, tracer: Option[Tracer]) {

  def pass(ops: Seq[Op], tag: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val results = ops.map { op =>
      val group = s"$tag/${op.name}"
      tracer.foreach(_.begin(group))
      val s = System.nanoTime()
      val err =
        try { op.run(); None }
        catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val wall = (System.nanoTime() - s) / 1e9
      val stats = tracer.map(_.end(group, wall)).getOrElse(Map.empty)
      Map("name" -> op.name, "wall_s" -> wall, "ok" -> err.isEmpty,
        "error" -> err.getOrElse(""), "stats" -> stats)
    }
    Map("tag" -> tag, "wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> results)
  }

  /** Before each timed pass, outside the timed section: drop cached frames
    * and persisted RDDs, collect garbage, and return the heap still in use
    * (MB). The second collection frees what the asynchronous ContextCleaner
    * released after the first.
    */
  def settle(): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Traced runs only: a job group per operation and the engine counts the
  * listener attributes to it.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new OpListener
  spark.sparkContext.addSparkListener(listener)

  def begin(group: String): Unit = spark.sparkContext.setJobGroup(group, group)

  def end(group: String, wallS: Double): Map[String, Any] = {
    spark.sparkContext.clearJobGroup()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    listener.take(group, wallS)
  }
}

/** Renders the result files (maps, sequences and plain values) as JSON. */
object Json {
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
