package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: one JSON line with per-query steady-state times.
  *
  * Methodology (r3):
  *  - noop sink, not `.count()` — count lets Catalyst prune unused
  *    projections, so scalar-heavy queries would measure scan+count only
  *    (VERDICT r2 item 3); the noop format executes every expression;
  *  - warm measurement: each query runs twice and the SECOND time is
  *    reported (`"mode":"warm"`). The first run pays whole-stage-codegen
  *    compilation + JIT, which on a 62-query suite is per-query constant
  *    overhead unrelated to data-path throughput and dominated
  *    run-to-run noise (measured swings of 2-4× on identical code).
  *    Steady-state is the number that corresponds to "single-node
  *    throughput at the same data scale".
  *
  * Contention attribution (r15, VERDICT r14 item 2): a single
  * calibration sample at bench start cannot explain a run where
  * contention arrives mid-suite (r14 data: driver total 606 s vs
  * builder 430 s with IDENTICAL start-of-run probes). The JSON now
  * carries, per run: the CPU probe re-sampled every [[ProbeEvery]]
  * queries (`calib_cpu_probes` + min/med/max), and per query: the
  * wall-clock offset from bench start (`t0_sec`), the JVM-wide GC time
  * delta (`gc_sec` — exact in local mode, where executors share the
  * driver JVM), and task spill bytes (`spill_bytes`, memory+disk, from
  * the task-metrics listener; the listener bus is asynchronous, so a
  * query's last task metrics can land on the next query's account —
  * a diagnostic-grade, not accounting-grade, attribution). A 40 s
  * query with flat probes and zero gc/spill is host noise; one with a
  * GC spike is memory pressure; one bracketed by slow probes is CPU
  * steal.
  */
object Bench {

  private val ProbeEvery = 50

  /** Warmed single-threaded 3·10⁸-step LCG loop — pure register
    * arithmetic; tracks CPU frequency/steal directly (~0.38 s quiet). */
  private def cpuProbe(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0L
      var i = 0
      while (i < 300000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      if (x == 42L) System.err.print("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    spin() // JIT warm
    spin()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")
    // task spill accounting — local mode: all executors in this JVM
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null)
            spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      })
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // a failed query must not abort the suite, but its (fast) time is
      // meaningless — record the failure into the JSON (the artifact the
      // driver reads) and warn on stderr. getMessage can be null/empty
      // (e.g. NPE), so the description must never itself throw.
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        val msg = Option(e.getMessage).iterator
          .flatMap(_.linesIterator).find(_.nonEmpty)
          .getOrElse(e.getClass.getName)
        System.err.println(s"[bench] WARNING: $name FAILED (time not meaningful): $msg")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // fixed-work calibration probes (VERDICT r13 item 6): identical
    // code measured 380s on the driver's r12 host-day and 520.8s on
    // the judge's — full-suite totals are dominated by host state, so
    // every run carries its own normalizer. (1) the pure-CPU LCG loop,
    // sampled at start AND re-sampled mid-run every ProbeEvery queries
    // (r15); (2) one canonical shuffle query over the round's SF data
    // (warmed once, second run reported) — captures the
    // scheduler+shuffle+IO side the CPU loop misses. Cross-round
    // totals divide by these before comparison (BASELINE.md records
    // the rule).
    val benchT0 = System.nanoTime()
    def sinceStart(): Double = (System.nanoTime() - benchT0) / 1e9
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def sampleProbe(): Unit = probes += ((sinceStart(), cpuProbe()))
    sampleProbe()
    val calibCpu = probes.head._2
    val calibShuffle = {
      def shuffleOnce(): Double = once("__calib_shuffle", (sp, d) =>
        sp.read.parquet(s"$d/events.parquet")
          .groupBy(org.apache.spark.sql.functions.col("user_id"))
          .count()
          .orderBy(org.apache.spark.sql.functions.col("user_id")))
      shuffleOnce() // codegen + JIT warm
      val t = shuffleOnce()
      failed -= "__calib_shuffle" // a probe failure must not taint totals
      spark.catalog.clearCache()
      t
    }
    // dev subset (SparkEntry.only); a subset run marks the JSON "subset"
    val only = SparkEntry.only
    only.foreach(_.diff(SparkEntry.queries.keySet).toSeq.sorted.foreach(n =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY name not in SparkEntry.queries: $n")))
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    var sinceProbe = 0
    val results = selected.map { case (name, fn) =>
      once(name, fn) // warmup: codegen + JIT
      val t0q = sinceStart()
      val gc0 = gcMillis()
      val sp0 = spillBytes.get()
      val t = once(name, fn)
      val gcD = (gcMillis() - gc0) / 1e3
      val spD = spillBytes.get() - sp0
      // drop this query's cached frames before the next one: operators
      // cache per invocation (session-lifetime by design), and 60+ queries
      // of accumulated storage memory otherwise inflate later queries 3-4×
      // through GC pressure + eviction churn (verified r5: simhash 2.6s in
      // the full suite under this harness vs 9.5s in r3's accumulating one)
      spark.catalog.clearCache()
      sinceProbe += 1
      if (sinceProbe >= ProbeEvery) { sinceProbe = 0; sampleProbe() }
      name -> ((t, t0q, gcD, spD))
    }
    if (sinceProbe > 0) sampleProbe() // closing sample brackets the tail
    def jmap(f: ((String, (Double, Double, Double, Long))) => String): String =
      results.map(f).mkString("{", ",", "}")
    val qs = jmap { case (k, (t, _, _, _)) => s"\"" + k + "\":" + t }
    val t0s = jmap { case (k, (_, t0q, _, _)) => s"\"" + k + "\":" + math.round(t0q * 1000) / 1000.0 }
    val gcs = jmap { case (k, (_, _, g, _)) => s"\"" + k + "\":" + math.round(g * 1000) / 1000.0 }
    val sps = jmap { case (k, (_, _, _, sp)) => s"\"" + k + "\":" + sp }
    // failed queries' (near-zero, aborted) times are EXCLUDED from the
    // total — summing them would let a fast-failing query lower the total
    // and pass the within-2x gate spuriously for any consumer that never
    // looks at the "failed" key
    val total = results.collect { case (k, (v, _, _, _)) if !failed(k) => v }.sum
    // a subset run is not comparable to a full-suite round — mark it so a
    // leaked env var can't masquerade as a (suspiciously fast) full bench
    val subset = if (only.isDefined) s""","subset":true,"selected":${selected.size}""" else ""
    val failedJson = if (failed.nonEmpty)
      failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]") else ""
    val ps = probes.map(_._2).toSeq.sorted
    val pMed = ps(ps.size / 2)
    val probesJson = probes.map { case (at, v) =>
      s"""[${math.round(at * 10) / 10.0},$v]""" }.mkString("[", ",", "]")
    val calib =
      s""","calib_cpu_sec":$calibCpu,"calib_shuffle_sec":$calibShuffle""" +
      s""","calib_cpu_min":${ps.head},"calib_cpu_med":$pMed,"calib_cpu_max":${ps.last}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","mode":"warm"$calib,"calib_cpu_probes":$probesJson,"queries":$qs,"t0_sec":$t0s,"gc_sec":$gcs,"spill_bytes":$sps,"sf":"$sfDir"$subset$failedJson}""")
    // the per-query line above is one giant JSON object and tail-capturing
    // harnesses have truncated it (BENCH_r05 lost the total and 18 query
    // times); repeat the headline numbers on a short final line that
    // always survives a tail capture
    println(s"""{"metric":"total","value":$total,"unit":"sec","mode":"warm"$calib,"n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"$subset$failedJson}""")
    spark.stop()
  }
}
