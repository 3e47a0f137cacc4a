package graft.source

import graft.config.Source
import graft.connector.HttpTableProvider
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTTP table registration — the engine's library entry point (reference:
  * `dataframe::url` at dataframe.rs:7-24, which fetches eagerly and
  * `ctx.register_table`s the snapshot).
  *
  * A thin wrapper over the `format("http")` connector in snapshot mode:
  * the driver fetches once and infers the schema from all rows; each query
  * then decodes only its projected columns in parallel scan tasks, and
  * Catalyst runs every other operator above the scan. Nothing is cached,
  * so a registration leaves the session's CacheManager as it found it.
  */
object HttpTables {

  /** Fetch and register `source.name` as a temp view. Returns the
    * registered DataFrame. */
  def register(spark: SparkSession, source: Source): DataFrame = {
    val df = load(spark, source)
    df.createOrReplaceTempView(source.name)
    df
  }

  /** Load without registering. */
  def load(spark: SparkSession, source: Source): DataFrame =
    spark.read.format("http").options(HttpTableProvider.options(source)).load()
}
