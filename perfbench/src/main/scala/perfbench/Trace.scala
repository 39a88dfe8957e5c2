package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed region: a call into a library layer, made by the benchmark.
  * `run` is the pipeline iteration the span belongs to (-1 for set-up).
  */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, endNs: Long)

/** Spans kept in memory and written once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, run: Int)(body: => T): T = {
    val id = buf.length
    val parent = open.headOption.getOrElse(-1)
    buf += Span(id, name, parent, run, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      buf(id) = buf(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Seq[Span] = buf.toSeq
}

/** Spark task and job counters per job group. The benchmark tags every
  * traced call with `setJobGroup(<span>#<run>)`; jobs without a group are
  * ignored.
  */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val callSites = mutable.ArrayBuffer.empty[String]

  /** max ÷ median task time in the stage where that ratio is worst. */
  def taskSkew: Double = {
    val ratios = taskMsByStage.values.filter(_.length >= 2).map { ts =>
      val s = ts.sorted
      val mid = if (s.length % 2 == 1) s(s.length / 2).toDouble
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      s.last / math.max(mid, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

final class TaskListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  def stats: Map[String, GroupStats] = synchronized(groups.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val st = groups.getOrElseUpdate(g, new GroupStats)
      st.jobs += 1
      if (e.stageInfos.nonEmpty) st.callSites += e.stageInfos.maxBy(_.stageId).name
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val st = groups(g)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}
