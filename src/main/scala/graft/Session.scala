package graft

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (`Main`, `Bench`, `Verify`,
  * the dev tools, the test harness) builds its session here, so all of
  * them run on the same conf set.
  *
  * Defaults go through `SparkConf.setIfMissing` on a `new SparkConf()`,
  * which has already loaded every `-Dspark.*` JVM property — a property
  * therefore overrides the default for its key, and that is the A/B
  * channel (`tools/run.sh` passes `-D` options through to `java`). */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The factory's conf: `local[cpus]` (or `master`), one shuffle
    * partition per core, a UTC session clock, nanos-as-long parquet
    * timestamps ([[Tables.nanosConf]]), no UI, and constant codegen class
    * names. AQE materializes independent query stages concurrently, so
    * codegen stage ids vary run to run; with the id in the generated
    * class NAME (Spark's default) a re-run of the identical query
    * produces byte-different source, misses the codegen cache and
    * recompiles inside the timed run with the other task threads parked
    * on the compile lock (q_eval_chrf warm run: 6-12 recompiles,
    * +2-8 s). Constant names make the cache key the structural source;
    * the larger cache keeps shapes shared across queries alive. */
  def conf(appName: String, cpus: Int = Session.cpus,
           master: Option[String] = None): SparkConf = {
    val c = new SparkConf()
    master.foreach(c.setMaster)
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      Tables.nanosConf -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.useIdInClassName" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
    ).foreach { case (k, v) => c.setIfMissing(k, v) }
    c
  }

  def apply(appName: String, cpus: Int = Session.cpus,
            master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder().config(conf(appName, cpus, master)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Give the session's context a checkpoint dir if it has none. A dir
    * the caller set is kept; a dir made here is deleted, recursively,
    * when the application ends. */
  def ensureCheckpointDir(s: SparkSession): Unit = synchronized {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
      sc.setCheckpointDir(dir.toString)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      })
    }
  }
}
