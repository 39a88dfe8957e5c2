package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import graft.GraftSession
import graft.vlm._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timed process. Generates the seeded inputs if they are not cached,
  * starts the library's own session, then runs the workload in a closed
  * loop with one client (one pipeline pass at a time) until `seconds` of
  * pipeline time are measured. Every raw sample, span and counter is written
  * as JSON for `run.py` to reduce; output checks run between passes, outside
  * the timed region.
  *
  * Usage: `perfbench.Bench <workload> <seed> <inputDir> <runDir> <seconds> <trace 0|1> <result.json>`
  */
object Bench {

  val Datasets: Seq[String] = Seq("sunrgbd", "coco", "matterport", "objectron", "hypersim", "taskonomy")

  /** The landing zone: rasters sized so decode carries the Phase-1 spans. */
  val Landing: Inputs.LandingScale = Inputs.LandingScale(
    sunScenes = 20, sunW = 640, sunH = 480, cocoImages = 400, mpFrames = 200,
    objVideos = 8, objFramesPerVideo = 60, hsScenes = 2, hsCams = 2, hsFrames = 8, hsW = 256,
    hsH = 192, tkLocations = 2, tkViews = 8, tkRes = 192)

  /** The Zipf corpus: frames, the box-count support (past the pair cap of
    * 64) and frames per file.
    */
  val Corpus: (Int, Int, Int) = (100, 200, 10)

  /** The pair-shaped tasks: each self-joins a frame's boxes (capped at
    * `QaTasks.MaxPairBoxes`), so the Zipf tail loads them unevenly.
    */
  val PairTasks: Seq[String] = Seq("cam_obj_rel_dist", "obj_obj_distance", "obj_obj_rel_pos")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, inputDir, runDir, secondsArg, traceArg, resultPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val genStart = System.nanoTime()
    val planted = generateOnce(workload, seedArg.toLong, Paths.get(inputDir))
    val genS = (System.nanoTime() - genStart) / 1e9

    val spans = new Spans
    GraftSession.quietStartupWarnings()
    val spark = spans("session.start", -1)(GraftSession.getOrCreate())
    val listener = if (traced) Some(new TaskListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val cores = spark.sparkContext.defaultParallelism

    def tagged[T](name: String, run: Int)(body: => T): T =
      spans(name, run) {
        if (traced) spark.sparkContext.setJobGroup(s"$name#$run", name)
        try body finally if (traced) spark.sparkContext.clearJobGroup()
      }

    // first action: starts the executor's task threads and compiles the
    // first generated code; the program pays this once per process
    tagged("session.warm", -1)(spark.range(1).count())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS
    System.err.println(f"[perfbench] inputs $genS%.2f s, set-up $setupS%.2f s")

    val in = s"$inputDir/input"
    val out = s"$runDir/out"
    def pass(run: Int): Map[String, Long] = workload match {
      case "vlm_e2e" =>
        Datasets.foreach { d =>
          tagged(s"p1.$d", run) {
            Ingest.writeFrames(FrameSchema.conform(processor(spark, d, in)), s"$out/frames/$d")
          }
        }
        tagged("qa", run)(QaPipeline.run(spark, Ingest.readFrames(spark, s"$out/frames"), "vlm", s"$out/qa"))
      case "qa_dense" =>
        tagged("qa", run)(QaPipeline.run(spark, Ingest.readFrames(spark, in), "zipf", s"$out/qa", PairTasks))
    }

    val iterations = scala.collection.mutable.ArrayBuffer.empty[String]
    var measured = 0.0
    var run = 0
    var fatal = false
    while (!fatal && (run == 0 || measured < seconds)) {
      val t0 = System.nanoTime()
      val (counts, error) =
        try (spans("pipeline", run)(pass(run)), None)
        catch { case scala.util.control.NonFatal(e) => (Map.empty[String, Long], Some(e.toString)) }
      val wall = (System.nanoTime() - t0) / 1e9
      measured += wall
      System.err.println(f"[perfbench] pass $run: $wall%.2f s${error.fold("")(e => s" ($e)")}")
      fatal = spark.sparkContext.isStopped
      // a later pass must not find this one's inputs in the cache
      if (!fatal) spark.catalog.clearCache()
      val c0 = System.nanoTime()
      iterations += iterationJson(spark, run, wall, counts, error, out)
      System.err.println(f"[perfbench] checks ${(System.nanoTime() - c0) / 1e9}%.2f s")
      run += 1
    }

    listener.foreach(_ => drainListenerBus(spark))
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
    val spanJson = spans.all.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": ${s.run}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    val groupJson = listener.map(_.stats).getOrElse(Map.empty).toSeq.sortBy(_._1).map { case (g, st) =>
      s""""$g": {"jobs": ${st.jobs}, "tasks": ${st.tasks}, "run_ms": ${st.runMs}, "cpu_ns": ${st.cpuNs}, """ +
        s""""gc_ms": ${st.gcMs}, "input_bytes": ${st.inputBytes}, """ +
        s""""shuffle_read_bytes": ${st.shuffleReadBytes}, "shuffle_write_bytes": ${st.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${st.spillBytes}, "task_skew": ${st.taskSkew}, """ +
        s""""call_sites": [${st.callSites.map(jsonString).mkString(", ")}]}"""
    }
    val json =
      s"""{"workload": "$workload", "cores": $cores, "setup_s": $setupS, "inputs_s": $genS,
         |"peak_rss_mb": $rssMb, "heap_max_mb": ${Runtime.getRuntime.maxMemory / (1 << 20)},
         |"corpus_bytes": ${dirBytes(Paths.get(in))}, "planted": $planted,
         |"iterations": [${iterations.mkString(",\n")}],
         |"spans": [${spanJson.mkString(",\n")}],
         |"groups": {${groupJson.mkString(",\n")}}}
         |""".stripMargin
    Files.write(Paths.get(resultPath), json.getBytes(UTF_8))
    spark.stop()
  }

  /** Seeded inputs under `dir/input`, generated once per (workload, seed);
    * returns the planted manifest as JSON.
    */
  private def generateOnce(workload: String, seed: Long, dir: Path): String = {
    val manifest = dir.resolve("planted.json")
    if (!Files.exists(manifest)) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      deleteTree(tmp)
      val planted: Map[String, Planted] = workload match {
        case "vlm_e2e" => Inputs.landingZone(tmp.resolve("input"), seed, Landing)
        case "qa_dense" =>
          val (frames, maxBoxes, perFile) = Corpus
          Map("zipf" -> Inputs.frameCorpus(tmp.resolve("input"), seed, frames, maxBoxes, perFile))
        case other => sys.error(s"unknown workload $other")
      }
      val json = planted.toSeq.sortBy(_._1).map { case (d, p) =>
        s""""$d": {"frames": ${p.frames}, "boxes": ${p.boxes}, "files": ${p.files}, """ +
          s""""image_ids": [${p.imageIds.map(jsonString).mkString(",")}]}"""
      }.mkString("{\n", ",\n", "\n}\n")
      Files.write(tmp.resolve("planted.json"), json.getBytes(UTF_8))
      deleteTree(dir)
      Files.move(tmp, dir)
    }
    new String(Files.readAllBytes(manifest), UTF_8)
  }

  /** The Phase-1 processor for one dataset, as the library exposes it. */
  def processor(spark: SparkSession, dataset: String, in: String): DataFrame = dataset match {
    case "sunrgbd" => RawSources.sunrgbdToFrames(spark, s"$in/sunrgbd")
    case "coco" => RawSources.cocoToFrames(RawSources.readCoco(spark, s"$in/coco/labels.json"))
    case "matterport" =>
      val (images, instances, categories) = MatterportSources.loadTables(spark, s"$in/matterport")
      MatterportSources.matterportFrames(images, instances, categories)
    case "objectron" => ObjectronPb.objectronFrames(spark, s"$in/objectron/chair", "chair")
    case "hypersim" => HypersimSources.hypersimFrames(spark, s"$in/hypersim")
    case "taskonomy" => TaskonomySources.taskonomyFrames(spark, s"$in/omnidata")
  }

  /** Output facts for one pass, gathered after its timer stopped. */
  private def iterationJson(spark: SparkSession, run: Int, wall: Double,
      counts: Map[String, Long], error: Option[String], out: String): String = {
    val facts =
      if (error.nonEmpty || spark.sparkContext.isStopped) ""
      else try checks(spark, out, counts) catch {
        case scala.util.control.NonFatal(e) => s""""check_error": ${jsonString(e.toString)}, """
      }
    s"""{"run": $run, "wall_s": $wall, $facts"error": ${error.map(jsonString).getOrElse("null")}}"""
  }

  /** Facts `run.py` checks the pass against. Everything that can be read
    * from the written files is checked there; the conformance invariants are
    * the library's own aggregation.
    */
  private def checks(spark: SparkSession, out: String, counts: Map[String, Long]): String = {
    val returned = counts.toSeq.sorted.map { case (t, n) => s""""$t": $n""" }
    val frameFacts =
      if (!new java.io.File(s"$out/frames").exists()) ""
      else {
        val viol = Conformance.violations(Ingest.readFrames(spark, s"$out/frames")).collect().map(r =>
          s""""${r.getString(0)}": ${(1 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum}""")
        s""""violations": {${viol.mkString(", ")}}, "frames_bytes": ${dirBytes(Paths.get(s"$out/frames"))}, """
      }
    s""""returned": {${returned.mkString(", ")}}, "pairs": ${PairTasks.flatMap(counts.get).sum}, """ +
      s""""output_bytes": ${dirBytes(Paths.get(s"$out/qa"))}, $frameFacts"""
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }

  /** Listener events arrive asynchronously; wait until the bus is empty
    * before reading the counters.
    */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
