package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval at a layer boundary, in System.nanoTime. `depth`
  * orders nesting: a deeper span active at an instant owns that instant. */
final case class Span(op: Int, name: String, start: Long, end: Long) {
  def depth: Int = Span.depth(name)
}

object Span {
  val layers: Seq[String] = Seq("op", "config.parse", "ingest.register",
    "sql.plan", "sql.exec", "http.request", "spark.stage")

  def depth(name: String): Int = name match {
    case "op" => 0
    case "http.request" => 2
    case "spark.stage" => 3
    case _ => 1
  }

  /** Self time per layer within `op`: every instant of the op's interval
    * goes to the deepest span active at it, so the values sum to the op's
    * wall time. */
  def selfTimes(op: Span, inner: Seq[Span]): Map[String, Long] = {
    val all = (op +: inner.map(s => s.copy(start = math.max(s.start, op.start),
      end = math.min(s.end, op.end)))).filter(s => s.end > s.start)
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val owner = all.filter(s => s.start <= a && s.end >= b).maxBy(_.depth)
        self(owner.name) += b - a
      case _ =>
    }
    self.toMap
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Records spans in memory while `op >= 0`; a no-op otherwise. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (op < 0) body
    else {
      val t0 = System.nanoTime()
      try body finally spans += Span(op, name, t0, System.nanoTime())
    }
}

/** Scheduler counters of one op, gathered under its job group. */
final class JobStats {
  var jobs, stages, tasks, taskMs, records, shuffleBytes, spillBytes = 0L
  /** Stage intervals, epoch milliseconds. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Benchmark-side listener: attributes jobs, stages and task metrics to the
  * job group each op runs under. */
final class OpListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, JobStats]

  private def stats(g: String) = groups.getOrElseUpdate(g, new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      stats(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) s.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskMs += m.executorRunTime
        s.records += m.inputMetrics.recordsRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def take(group: String): JobStats = synchronized(groups.remove(group).getOrElse(new JobStats))
}
