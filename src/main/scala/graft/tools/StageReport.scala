package graft.tools

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Job and stage report for the dev timers (`TimeQ`, `Dev sqltime`): one
  * line per Spark job (wall, description) and per stage (wall, tasks,
  * shuffle bytes, task-time sum and max, and the RDD scope chain that
  * names the physical operators in the stage — AQE stage-job callsites
  * are all the same generic lambda, so the scope chain is the only
  * stage → operator attribution). Call `reset()` before the run to
  * report and `print()` after it. Not part of any gate. */
final class StageReport private extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[Int, (Long, Long, Int)]()

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.put(j.jobId, (Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("?").take(90), j.time))

  override def onJobEnd(j: SparkListenerJobEnd): Unit = jobEnd.put(j.jobId, j.time)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val wall = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(0L)
    val ops = i.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct.mkString(">")
    stages.put(i.stageId, f"stage ${i.stageId}%3d wall=${wall / 1e3}%7.3f s tasks=${i.numTasks}%4d shufR=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB shufW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB  ${ops.take(140)}%s")
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) tasks.compute(t.stageId, (_, v) => {
      val (tot, mx, n) = if (v == null) (0L, 0L, 0) else v
      (tot + m.executorRunTime, math.max(mx, m.executorRunTime), n + 1)
    })
  }

  def reset(): Unit = { jobs.clear(); jobEnd.clear(); stages.clear(); tasks.clear() }

  def print(): Unit = {
    Thread.sleep(500) // the listener bus delivers asynchronously
    val n = tasks.values.asScala.map(_._3).sum
    println(f"JOBS ${jobs.size}%d, stages=${stages.size}%d, tasks=$n%d")
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, (desc, st)) =>
      println(f"job $id%3d ${(jobEnd.getOrDefault(id, st) - st) / 1e3}%7.3f s  $desc%s")
    }
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, line) =>
      val (tot, mx, k) = tasks.getOrDefault(id, (0L, 0L, 0))
      println(line + f"  taskSum=${tot / 1e3}%7.3f s taskMax=${mx / 1e3}%6.3f s n=$k%d")
    }
  }
}

object StageReport {
  def apply(spark: SparkSession): StageReport = {
    val r = new StageReport
    spark.sparkContext.addSparkListener(r)
    r
  }
}
