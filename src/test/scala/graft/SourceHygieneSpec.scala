package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guards on `src/main/scala`: one session builder, no
  * profiling-only hooks on production objects, and the environment read
  * only for the documented SPARK_GRAFT_* settings.
  */
class SourceHygieneSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  test("only graft/Session.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val builders = sources.collect { case (f, src) if builder.findFirstIn(src).nonEmpty => f }
    assert(builders == Seq("graft/Session.scala"))
  }

  test("no identifier is a profiling-only hook") {
    // the suffix is split so this file does not match a plain-text search for it
    val hook = ("""\b\w+For""" + """Profile\b""").r
    val hits = sources.flatMap { case (f, src) => hook.findAllIn(src).map(h => s"$f: $h") }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the environment is read only for the documented SPARK_GRAFT_* settings") {
    val allowed = Set("SF_DIR", "CPUS", "BENCH_REPEAT", "DETAIL_PATH", "ROUND")
      .map("SPARK_GRAFT_" + _)
    val read = """(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]+)"""".r
    val any = """sys\.env|System\.getenv""".r
    val bad = sources.flatMap { case (f, src) =>
      val named = read.findAllMatchIn(src).toSeq
      // every read names its variable, and that variable is on the list
      val unnamed = if (any.findAllIn(src).size != named.size) Seq(s"$f: unnamed env read") else Nil
      unnamed ++ named.map(_.group(1)).filterNot(allowed).map(v => s"$f: $v")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(sources.exists(_._2.contains("\"SPARK_GRAFT_CPUS\""))) // the scan saw the reads
  }
}
