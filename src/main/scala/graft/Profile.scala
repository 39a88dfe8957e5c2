package graft

/** Dev profiler: times individual queries (or all) at a given SF dir, cold
  * then warm, and records the WARM seconds to `profile_last.json`. The
  * cold sf0.1 bench is codegen-compile/JIT-order dominated (±4 s swings on
  * unchanged plans across rounds); the warm run2 numbers are the honest
  * per-query costs, so they are the artifact a regression argument should
  * cite.
  *
  * Usage: runMain graft.Profile <sfDir> <queryName>...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate(Some(sfDir))
    // SPARK_GRAFT_PROFILE_JOBS=1: print per-Spark-job wall times — the
    // breakdown that separates cache-build jobs, codegen-heavy first
    // executions, and the steady-state query cost inside one run() sample
    if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.lastOption.map(s => s"${s.name} [${s.numTasks}t]").getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val v = starts.remove(j.jobId)
          if (v != null)
            println(f"[profile]   job ${j.jobId}: ${(System.nanoTime() - v._1) / 1e9}%.2f s  ${v._2}")
        }
      })
    }
    def time[T](n: String)(f: => T): Double = {
      val t0 = System.nanoTime; f
      val s = (System.nanoTime - t0) / 1e9
      println(f"[profile] $n: $s%.2f s"); s
    }
    // warm the JVM/codegen once
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    // host-speed yardstick for cross-round comparison (see Artifacts.calibrate)
    val calib = Artifacts.calibrate(spark)
    println(f"[profile] calibration: $calib%.2f s")
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val warm = names.map { n =>
      val q = SparkEntry.queries(n)
      // noop sink evaluates every output column (count() would prune)
      def run(): Unit = q(spark, sfDir).write.format("noop").mode("overwrite").save()
      time(s"$n (run1)")(run())
      n -> time(s"$n (run2)")(run())
    }
    val qs = warm.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    Artifacts.writeLine(
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", "profile_last.json"),
      s"""{"metric":"warm_total","value":${fmt(warm.map(_._2).sum)},"unit":"sec","calib":${fmt(calib)},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
