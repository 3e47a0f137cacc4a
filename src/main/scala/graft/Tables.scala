package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * All `SparkEntry.queries` read through here so that filter/projection
  * pushdown reaches the parquet scan (Catalyst prunes columns and pushes
  * predicates automatically on `spark.read.parquet`). At cluster scale the
  * same code path works over a directory of many files: Spark splits by
  * `spark.sql.files.maxPartitionBytes`, so a 100 TB table simply yields
  * more input partitions — nothing here assumes single-file input.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized base-table HANDLES, one per (session, dir, name) — plan
    * metadata only, never data: each
    * `spark.read.parquet` call re-lists the path and re-reads parquet
    * footers to build a fresh relation (~70–100 ms), and a 459-query
    * bench run pays that per table REFERENCE per run. The cached object
    * is the immutable analyzed DataFrame; every query still plans its
    * own operators (filter pushdown / column pruning are per-query,
    * applied above the shared relation) and every action still reads
    * the parquet files. The listing fingerprint (names/sizes/mtimes —
    * a stat, no data read) keeps the handle honest when a table is
    * regenerated behind the same path mid-session (the
    * [[graft.ops.Artifacts]] in-place-replacement contract, exercised
    * by ArtifactsSpec): changed files → the entry is replaced by a
    * fresh relation. Keyed on the session object itself (reference
    * equality; `sessionUUID` is `private[sql]` in Spark 4.1), so a
    * `newSession()` (own SQLConf) never reads another session's handle;
    * the key retains nothing the cached DataFrame does not already. */
  private[graft] val handles = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (String, DataFrame)]()

  /** One listed file's fingerprint line; a file deleted between the
    * listing and the stat reads as absent instead of throwing. */
  private[graft] def stat(p: java.nio.file.Path): String = {
    import java.nio.file.Files
    try s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    catch { case _: java.nio.file.NoSuchFileException => s"$p:absent" }
  }

  private def listingFp(path: String): String = {
    import java.nio.file.{Files, NoSuchFileException, NotDirectoryException, Paths}
    import scala.jdk.CollectionConverters._
    val d = Paths.get(path)
    val files =
      try {
        val stream = Files.list(d)
        try stream.iterator().asScala.toSeq.sortBy(_.toString)
        finally stream.close()
      } catch { case _: NotDirectoryException | _: NoSuchFileException => Seq(d) }
    files.map(stat).mkString("\n")
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val fp = listingFp(s"$dir/$name.parquet")
    handles.compute((spark, dir, name), (_, old) =>
      if (old != null && old._1 == fp) old
      else (fp,
        if (name == "events") events(spark, dir)
        else spark.read.parquet(s"$dir/$name.parquet")))._2
  }

  /** Conf required to read events.parquet; the session factory
    * ([[Session]]) sets it once at session-build time so loading events has no
    * session-wide side effects (ADVICE r1). */
  val nanosConf: String = "spark.sql.legacy.parquet.nanosAsLong"

  /** FIXTURES.md only promises `ts: timestamp`; the driver has shipped it
    * as TIMESTAMP(NANOS) (read as long via the legacy conf) in rounds ≤6
    * and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark: TIMESTAMP_NTZ)
    * from round 7 on. Branch on the schema Spark actually read so any of
    * the three encodings loads identically:
    *   - LongType (nanos-as-long): nanos are microsecond-exact in the
    *     testdata, so `timestamp_micros(ts DIV 1000)` is lossless;
    *   - TimestampNTZType: `cast("timestamp")` — an exact relabel ONLY
    *     under a UTC session tz, so the loader pins it itself (same
    *     fallback pattern as `nanosConf` below): a direct caller with a
    *     non-UTC session would otherwise silently shift every event
    *     instant away from the oracle, unlike the nanos branch, which
    *     is timezone-independent (ADVICE r8);
    *   - TimestampType: passthrough. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    if (spark.conf.getOption(nanosConf).forall(_ != "true"))
      spark.conf.set(nanosConf, "true") // harmless when the file isn't nanos
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        if (spark.conf.get("spark.sql.session.timeZone", "") != "UTC")
          spark.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  /** Input-parallelism guard for compute-heavy narrow pipelines
    * (optimization guide §2.5: "one huge unsplittable file …
    * repartition immediately after the read"). The test tables are
    * single-row-group parquet files, so a scan plans ONE partition and
    * an expensive map stage above it (per-shingle md5 lanes, n-gram
    * explode+hash) runs serially while the other cores idle — measured
    * 4.7 s of a 5.6 s query in one task at sf0.1. When the planned
    * scan parallelism is below the session's default parallelism, one
    * round-robin repartition spreads the rows; on a real many-split
    * table the branch is the identity, so nothing is tuned to the
    * local core count. Call it on an unfiltered scan (a filter above
    * the repartition would no longer push down to parquet) and only
    * under compute that dwarfs one extra pass of the rows' bytes. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Register every test table as a temp view (for spark.sql-style queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Register only the named tables — per-query SQL paths use this so a
    * single query doesn't pay parquet-footer reads for 10 tables it never
    * touches (VERDICT r2 item 4: `registerAll` inside per-query functions
    * polluted the bench). */
  def register(spark: SparkSession, dir: String, only: String*): Unit =
    only.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
