package graft.tools

/** Dev-only micro-timer: runs one registered query N times (default 3)
  * bench-style and prints, per iteration, the DataFrame CONSTRUCTION
  * time (driver-side fn(spark, dir) — includes any eager bounds /
  * spread-probe jobs an operator runs while building its frame) and the
  * noop-save EXECUTION time separately, then the [[StageReport]] of the
  * LAST iteration (per job: wall and description; per stage: wall, task
  * count, total and max task time, shuffle bytes) to attribute a slow
  * query to its eager jobs and stages. `graft.Bench.once` times
  * construction + save together — this tool attributes the difference.
  * A/B a conf with `-Dspark.key=value` (see [[graft.Session]]).
  * Not part of any gate.
  *
  * Usage: tools/run.sh graft.tools.TimeQ <name> [sfDir] [iters] */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session("graft-timeq")
    val fn = graft.SparkEntry.queries(name)
    val report = StageReport(spark)
    def compileCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var i = 0
    while (i < iters) {
      if (i == iters - 1) report.reset()
      val c0 = compileCount()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime
      println(f"iter $i%d construct=${(t1 - t0) / 1e9}%.3f s  save=${(t2 - t1) / 1e9}%.3f s  total=${(t2 - t0) / 1e9}%.3f s  codegenCompiles=${compileCount() - c0}%d  jitTotal=${jit / 1e3}%.1f s")
      i += 1
    }
    report.print()
    spark.stop()
  }
}
