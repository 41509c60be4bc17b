package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-layer counters, attributed to the enclosing span through Spark
  * job groups: the harness runs every timed engine call under a job
  * group named `<span>#<call>` (and the rest of each run phase under
  * `session#<phase>`), and this listener folds each job, and every task
  * of that job's stages, into the group's totals.
  *
  * Only the traced run installs it; the untraced run sets the same job
  * groups, so both runs execute the same harness code. */
final class Layers extends SparkListener {
  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  val byGroup = mutable.HashMap.empty[String, Totals]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  /** Time spent inside this listener's callbacks — the in-band cost of
    * tracing (callbacks run on the listener-bus thread, not the caller's). */
  var busyNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    f
    busyNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      byGroup.getOrElseUpdate(g, new Totals).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobGroup.remove(e.jobId).foreach { g =>
      byGroup(g).jobSpans += ((jobStart.remove(e.jobId).get, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = byGroup(g)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of `[from, to]` covered by at least one job of `g`. */
  def jobMs(g: String, from: Long, to: Long): Long = synchronized {
    val spans = byGroup.get(g).map(_.jobSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
