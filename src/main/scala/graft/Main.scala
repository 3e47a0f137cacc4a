package graft

import graft.config.YamlConfig
import graft.source.HttpTables
import org.apache.spark.sql.SparkSession

/** Config-driven SQL runner — the shipped binary's behavior (reference:
  * /root/reference/src/main.rs:22-49): read YAML, register every source as
  * a table, and for each source with a `sql:` run it and pretty-print up
  * to 20 rows.
  *
  * Usage: graft.Main <config.yaml> [master]
  */
object Main {

  /** Register every source and plan each source's SQL (lazily — nothing
    * executes until the caller consumes the frames). Registration caches
    * nothing, so repeated runs on one session leave no storage behind.
    * Separated from `main` so the pipeline is e2e-testable against a live
    * session. */
  def run(spark: SparkSession, cfg: graft.config.Config)
      : Seq[(String, org.apache.spark.sql.DataFrame)] =
    cfg.sources.flatMap { src =>
      HttpTables.register(spark, src)
      src.getSql.map(sql => src.name -> spark.sql(sql))
    }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Main <config.yaml> [master]")
      sys.exit(2)
    }
    val cfg = YamlConfig.load(java.nio.file.Paths.get(args(0)))
    val spark = Session("graft", master = args.lift(1))
    try run(spark, cfg).foreach { case (_, df) => df.show(20, truncate = true) }
    finally spark.stop()
  }
}
