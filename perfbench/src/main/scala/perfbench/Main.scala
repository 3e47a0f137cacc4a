package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

/** Leak probe taken before and after every op. */
final case class Probe(cacheEntries: Int, persisted: Int, storageBytes: Long, tmpDirs: Set[String])

final case class OpRecord(id: Int, stmt: Int, pass: Int, traced: Boolean, wallNs: Long, ok: Boolean,
                          resultRows: Long, http: HttpStats, jobs: JobStats, gcMs: Long,
                          before: Probe, after: Probe) {
  def leaked: Boolean =
    after.cacheEntries > before.cacheEntries || after.persisted > before.persisted
  def tmpLeft: Int = (after.tmpDirs -- before.tmpDirs).size
}

/** Runs one workload: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir>`. Closed loop, one client: ops run back to back in one
  * `local[nproc]` session. Prints each metric as `name value unit`, then one
  * JSON line: end-to-end metrics with `--trace 0`, per-layer metrics (from
  * half of the passes, run traced) with `--trace 1`. Writes the trace's spans
  * and per-op self times to `<out>/spans-<workload>-<seed>.jsonl`. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, usage(s"missing --$k"))
    val name = need("workload")
    if (!Workload.names.contains(name)) usage(s"unknown workload: $name")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(out)

    val cpus = Runtime.getRuntime.availableProcessors
    val w = Workload(name, seed)
    val stub = new Stub(w.tables, cpus)
    val tracer = new Tracer
    try {
      val (setupS, setupHttp, spark) = setUp(w, stub, tracer, cpus, out, trace)
      val ms = measure(name, seed, seconds, trace, w, Ctx(spark, stub, tracer), setupS, setupHttp, out)
      val failed = ms.records.count(!_.ok)
      val metrics = if (trace) ms.perLayer else ms.endToEnd
      ms.notes.foreach(println)
      metrics.foreach { case (k, v, u) => println(f"$k%-24s $v%.6f $u") }
      val json = metrics.map { case (k, v, u) =>
        s""""$k": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")
      println(s"""{"correct": ${failed == 0}, "attempted": ${ms.records.size}, """ +
        s""""failed": $failed, "metrics": $json}""")
      spark.stop()
    } finally stub.stop()
    System.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workload.names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --out <dir>")
    System.exit(2)
    throw new IllegalStateException
  }

  /** Seconds for a fixed single-threaded integer loop, after one warm-up
    * spin: the host's speed during this run, to tell host drift from a
    * change in the program. */
  private def cpuProbe(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0L
      var i = 0
      while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    spin()
    spin()
  }

  /** Same session confs as `graft.Bench`; scratch dirs under `out`. */
  private def session(cpus: Int, out: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.nanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Starts a session, registers and warms up `Setups` times; every
    * session but the last is stopped. The last is traced when `trace`, and
    * then computes the expected answers, untimed. */
  private def setUp(w: Workload, stub: Stub, tracer: Tracer, cpus: Int, out: Path,
                    trace: Boolean): (Seq[Double], HttpStats, SparkSession) = {
    var spark: SparkSession = null
    var http: HttpStats = null
    val times = (1 to Setups).map { i =>
      val last = i == Setups
      http = stub.begin(trace && last)
      if (trace && last) tracer.op = 0
      val t0 = System.nanoTime()
      spark = session(cpus, out)
      w.setup(Ctx(spark, stub, tracer))
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.op = -1
      if (!last) spark.stop()
      dt
    }
    w.expect(spark, out.resolve("parquet").toString)
    (times, http, spark)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def tmpDirs(): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft-")).toSet
    finally s.close()
  }

  private def probe(spark: SparkSession): Probe = {
    val sc = spark.sparkContext
    Probe(PerfbenchAccess.cachedEntries(spark), sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum, tmpDirs())
  }

  final class Measured(val records: Seq[OpRecord], val endToEnd: Seq[(String, Double, String)],
                       val perLayer: Seq[(String, Double, String)], val notes: Seq[String])

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def measure(name: String, seed: Long, seconds: Double, trace: Boolean, w: Workload,
                      c: Ctx, setupS: Seq[Double], setupHttp: HttpStats,
                      out: Path): Measured = {
    val sc = c.spark.sparkContext
    val listener = new OpListener
    if (trace) sc.addSparkListener(listener)
    val clock0Ns = System.nanoTime()
    val clock0Ms = System.currentTimeMillis()
    def msToNs(ms: Long): Long = clock0Ns + (ms - clock0Ms) * 1000000L

    val rnd = new Random(seed * 31 + 7)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passNs = mutable.ArrayBuffer.empty[(Boolean, Long)]
    val passStorage = mutable.ArrayBuffer.empty[Long]
    val passLeaks = mutable.ArrayBuffer.empty[(Int, Int)]
    var opId = 0
    val passes = w.passes(seconds)
    for (p <- 0 until passes) {
      // untraced, traced, traced, untraced, ...: a warm-up trend across
      // passes cancels out of trace.overhead_s
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      val ops = w.pass(rnd)
      ops.foreach { op =>
        opId += 1
        val before = probe(c.spark)
        val http = c.stub.begin(traced)
        if (traced) {
          c.tracer.op = opId
          sc.setJobGroup(s"op-$opId", "perfbench op", interruptOnCancel = false)
        }
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        val result = try Right(c.tracer.span("op")(w.run(op, c)))
          catch { case NonFatal(e) => Left(e) }
        val wall = System.nanoTime() - t0
        val gc = gcMs() - gc0
        c.tracer.op = -1
        var jobs = new JobStats
        if (traced) {
          sc.clearJobGroup()
          PerfbenchAccess.drain(sc)
          jobs = listener.take(s"op-$opId")
          jobs.stageSpans.foreach { case (a, b) => c.tracer.spans += Span(opId, "spark.stage", msToNs(a), msToNs(b)) }
          http.intervals.asScala.foreach { case (a, b) => c.tracer.spans += Span(opId, "http.request", a, b) }
        }
        val ok = result match {
          case Right(answers) => w.check(op, answers) || {
            System.err.println(s"perfbench: op $opId (statement ${op.stmt}) answer differs from parquet"); false }
          case Left(e) =>
            System.err.println(s"perfbench: op $opId (statement ${op.stmt}) threw: $e"); false
        }
        val rows = result.map(_.map(_.length.toLong).sum).getOrElse(0L)
        records += OpRecord(opId, op.stmt, p, traced, wall, ok, rows, http, jobs, gc, before, probe(c.spark))
      }
      val mine = records.filter(_.pass == p)
      passNs += ((traced, mine.map(_.wallNs).sum))
      passStorage += mine.last.after.storageBytes
      passLeaks += ((mine.count(_.leaked), mine.map(_.tmpLeft).sum))
    }

    val plain = records.filterNot(_.traced)
    val walls = plain.map(_.wallNs / 1e9).sorted
    // highest percentile with at least 10 samples beyond it
    val tailIdx = math.max(0, walls.size - 11)
    val passS = median(passNs.filterNot(_._1).map(_._2 / 1e9).toSeq)
    val endToEnd = Seq(
      ("setup_s", median(setupS), "s"),
      ("pass_s", passS, "s"),
      ("op_s.p50", median(walls.toSeq), "s"),
      ("op_s.tail", walls(tailIdx), "s"))
    val notes = mutable.ArrayBuffer(
      s"workload $name seed $seed: ${records.size} ops in ${passNs.size} passes " +
        s"(${plain.size} untraced), setups ${setupS.map(s => f"$s%.3f").mkString(" ")} s",
      f"run wall ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s; op_s.tail is the ${100.0 * (tailIdx + 1) / walls.size}%.1fth percentile of ${walls.size} ops",
      "pass_s samples: " + passNs.map { case (tr, ns) => f"${ns / 1e9}%.3f${if (tr) "t" else ""}" }.mkString(" "),
      "op_s.p50 by statement: " + plain.groupBy(_.stmt).toSeq.sortBy(_._1).map { case (i, rs) =>
        f"$i:${median(rs.map(_.wallNs / 1e9).toSeq)}%.3f" }.mkString(" "))

    val perLayer = if (!trace) Nil else {
      val t = records.filter(_.traced).toSeq
      val n = t.size.toDouble
      val spans = c.tracer.spans.toSeq
      val byOp = spans.groupBy(_.op)
      def spanS(op: Int, names: String*): Double =
        byOp.getOrElse(op, Nil).filter(s => names.contains(s.name)).map(s => s.end - s.start).sum / 1e9
      def firstExecS(op: Int): Double =
        byOp.getOrElse(op, Nil).find(_.name == "sql.exec").map(s => (s.end - s.start) / 1e9).getOrElse(0.0)
      def perOp(f: OpRecord => Double): Double = t.map(f).sum / n
      def httpSpanS(h: HttpStats): Double = {
        val iv = h.intervals.asScala.toSeq
        if (iv.isEmpty) 0.0 else (iv.map(_._2).max - iv.map(_._1).min) / 1e9
      }
      val selfs = t.map { r =>
        val ops = byOp(r.id)
        val root = ops.find(_.name == "op").get
        r -> Span.selfTimes(root, ops.filterNot(_ eq root))
      }
      val selfById = selfs.map { case (r, m) => r.id -> m }.toMap
      val unaccounted = selfs.map { case (r, s) => math.abs(s.values.sum - r.wallNs) / 1e9 }.max
      // the program's ingest happens inside each op, or once in set-up
      val ingestOps = t.exists(r => spanS(r.id, "ingest.register") > 0)
      val (registerS, infer, firstQ) =
        if (ingestOps) {
          val reg = perOp(r => spanS(r.id, "ingest.register"))
          (reg, reg - perOp(r => httpSpanS(r.http)), perOp(r => firstExecS(r.id)))
        } else {
          val reg = spanS(0, "ingest.register")
          (reg, reg - httpSpanS(setupHttp), firstExecS(0))
        }
      val requests = t.map(_.http.requests.get).sum
      val scanRows = t.map(_.jobs.records).sum
      val tracedPass = median(passNs.filter(_._1).map(_._2 / 1e9).toSeq)
      notes += s"trace: ${t.size} traced ops; self times sum to op wall within ${unaccounted}s"
      writeSpans(out.resolve(s"spans-$name-$seed.jsonl"), spans, selfs, clock0Ns)
      Seq(
        ("config.parse_s", perOp(r => spanS(r.id, "config.parse")), "s"),
        ("http.requests", perOp(_.http.requests.get.toDouble), "count"),
        ("http.retries", perOp(_.http.retries.get.toDouble), "count"),
        ("http.useful_ratio", if (requests == 0) 0.0 else t.map(_.http.okPages.size).sum.toDouble / requests, "ratio"),
        ("http.mb", perOp(_.http.bytes.get / 1e6), "MB"),
        ("http.active_s", perOp(r => Span.union(r.http.intervals.asScala.toSeq) / 1e9), "s"),
        ("http.inflight_max", t.map(_.http.inflightMax.get.toDouble).max, "count"),
        ("http.span_s", perOp(r => httpSpanS(r.http)), "s"),
        ("ingest.register_s", registerS, "s"),
        ("ingest.infer_s", infer, "s"),
        ("ingest.first_query_s", firstQ, "s"),
        ("ingest.rows_per_s", if (passS > 0) w.rowsPerPass / passS else 0.0, "rows/s"),
        ("spark.scan_rows", perOp(_.jobs.records.toDouble), "count"),
        ("connector.kept_ratio", if (scanRows == 0) 0.0 else t.map(_.resultRows).sum.toDouble / scanRows, "ratio"),
        ("sql.plan_s", perOp(r => spanS(r.id, "sql.plan")), "s"),
        ("sql.exec_s", perOp(r => spanS(r.id, "sql.exec")), "s"),
        ("ops.leaked_cache", median(passLeaks.map(_._1.toDouble).toSeq), "count"),
        ("ops.tmp_dirs_left", median(passLeaks.map(_._2.toDouble).toSeq), "count"),
        ("spark.jobs", perOp(_.jobs.jobs.toDouble), "count"),
        ("spark.stages", perOp(_.jobs.stages.toDouble), "count"),
        ("spark.tasks", perOp(_.jobs.tasks.toDouble), "count"),
        ("spark.task_s", perOp(_.jobs.taskMs / 1e3), "s"),
        ("spark.stage_wall_s", perOp(r => Span.union(r.jobs.stageSpans.toSeq) / 1e3), "s"),
        ("spark.driver_gap_s", perOp(r => r.wallNs / 1e9 - Span.union(r.jobs.stageSpans.toSeq) / 1e3), "s"),
        ("spark.shuffle_mb", perOp(_.jobs.shuffleBytes / 1e6), "MB"),
        ("spark.spill_mb", perOp(_.jobs.spillBytes / 1e6), "MB"),
        ("spark.gc_s", perOp(_.gcMs / 1e3), "s"),
        ("spark.storage_mb", perOp(_.after.storageBytes / 1e6), "MB"),
        ("retained_storage_mb", passStorage.head / 1e6, "MB"),
        ("retained_growth_mb", median(passStorage.toSeq.sliding(2).collect {
          case Seq(a, b) => (b - a) / 1e6 }.toSeq), "MB"),
        ("failed_ratio", records.count(!_.ok).toDouble / records.size, "ratio"),
        ("trace.overhead_s", tracedPass - passS, "s")) ++
        Span.layers.map(l => (s"self.${l}_s", perOp(r => selfById(r.id).getOrElse(l, 0L) / 1e9), "s"))
    }
    val probeS = cpuProbe()
    notes += f"host.cpu_probe_s $probeS%.4f"
    new Measured(records.toSeq, endToEnd,
      if (trace) perLayer :+ (("host.cpu_probe_s", probeS, "s")) else Nil, notes.toSeq)
  }

  private def writeSpans(path: Path, spans: Seq[Span], selfs: Seq[(OpRecord, Map[String, Long])],
                         t0: Long): Unit = {
    def s(ns: Long) = (ns - t0) / 1e9
    val lines = spans.map(x => s"""{"op": ${x.op}, "span": "${x.name}", "start_s": ${s(x.start)}, "end_s": ${s(x.end)}}""") ++
      selfs.map { case (r, m) =>
        val self = m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${v / 1e9}""" }.mkString(", ")
        s"""{"op": ${r.id}, "wall_s": ${r.wallNs / 1e9}, "self_s": {$self}}"""
      }
    Files.write(path, lines.asJava)
  }
}
