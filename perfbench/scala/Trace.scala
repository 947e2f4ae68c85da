package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Benchmark-side tracing: spans around the calls into each module, plus a
  * `SparkListener` that sums task metrics per span. The program itself is
  * not instrumented; each span sets the calling thread's job group, and the
  * listener attributes every stage to the job group it was submitted under.
  * Spans are kept in memory and written out once, when the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over every stage submitted under one job group. */
final class TaskAgg {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var jobs = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]

  def +=(o: TaskAgg): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; tasks += o.tasks; jobs += o.jobs
    durationsMs ++= o.durationsMs
  }

  /** Longest task over the median task: 1.0 when tasks are even. */
  def skew: Double =
    if (durationsMs.isEmpty) 0.0
    else {
      val s = durationsMs.sorted
      val mid = s.size / 2
      val median = if (s.size % 2 == 1) s(mid).toDouble else (s(mid - 1) + s(mid)) / 2.0
      s.last / math.max(median, 1.0)
    }
}

final class Tracer(sc: SparkContext, run: String) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val aggs = mutable.Map.empty[String, TaskAgg]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]

  private def agg(group: String): TaskAgg = aggs.synchronized {
    aggs.getOrElseUpdate(group, new TaskAgg)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("")
    val a = agg(g)
    a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("")
    stageGroup.put(e.stageInfo.stageId, g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.durationsMs += e.taskInfo.duration
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Run `body` as span `name`; its Spark jobs carry `group` as job group
    * (default: the span name), so several spans can share one group.
    */
  def span[T](name: String, group: String = null)(body: => T): T = {
    val id = spans.size
    val g = Option(group).getOrElse(name)
    spans += Span(id, name, stack.headOption.map(_._1).getOrElse(-1), run,
      System.nanoTime(), 0L)
    stack = (id, g) :: stack
    sc.setJobGroup(g, name)
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      // the rest of the parent's body runs under the parent's group again
      stack.headOption match {
        case Some((pid, pg)) => sc.setJobGroup(pg, spans(pid).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Task metrics of one job group, after the listener bus has drained. */
  def metrics(group: String): TaskAgg = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    aggs.synchronized(aggs.getOrElse(group, new TaskAgg))
  }

  /** Total wall of every span with this name. */
  def wall(name: String): Double = spans.filter(_.name == name).map(_.wallS).sum

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}
