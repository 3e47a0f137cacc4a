package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs — one JVM-wide session (Spark's
  * getOrCreate) so the suite doesn't pay session startup per spec class.
  */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
