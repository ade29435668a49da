package graft

/** Same-JVM A/B of one registered query under several conf arms.
  *
  * Usage: runMain graft.Profile <query> [sfDir] [reps] [arm ...]
  *
  * Each arm is a `k=v,k=v` list of runtime Spark confs; an empty arm (or
  * no arm at all) runs the session defaults. Every arm is warmed up once,
  * then the arms are timed in interleaved rounds through the noop sink, so
  * slow machine drift hits all of them alike. A conf an arm sets is
  * restored to its session value after each run.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <query> [sfDir] [reps] [k=v,k=v ...]"
    val name = args.headOption.getOrElse(sys.error(usage))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt.max(1)).getOrElse(3)
    val arms = (if (args.length > 3) args.drop(3).toSeq else Seq("")).map { arm =>
      arm.split(',').toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k.trim, v.trim)
          case _ => sys.error(s"arm entry '$kv' is not k=v; $usage")
        }
      }
    }
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    for (arm <- arms; (k, _) <- arm if !spark.conf.isModifiable(k))
      sys.error(s"$k cannot be set on a live session")

    def label(arm: Seq[(String, String)]) =
      if (arm.isEmpty) "defaults" else arm.map { case (k, v) => s"$k=$v" }.mkString(",")
    def once(arm: Seq[(String, String)]): Double = {
      val saved = arm.map { case (k, _) => k -> spark.conf.getOption(k) }
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    arms.foreach(once) // warm-up: codegen, JIT and any train-once build
    val times = Seq.fill(arms.size)(collection.mutable.ArrayBuffer[Double]())
    for (rep <- 1 to reps; (arm, i) <- arms.zipWithIndex) {
      times(i) += once(arm)
      println(f"[profile] $name rep $rep arm $i ${times(i).last}%.3f s")
    }
    for ((arm, i) <- arms.zipWithIndex) {
      val ts = times(i).toSeq
      println(f"[profile] $name arm $i ${label(arm)} min=${ts.min}%.3f " +
        s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
