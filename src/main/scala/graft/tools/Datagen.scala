package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver-generated testdata (TESTDATA.md):
  * stages an sfN fixture from sf0.1 by replicating each table `factor`
  * times with disjoint key spaces, so the scale-decade bench (VERDICT r9
  * item 1) can measure how every query's runtime actually grows.
  *
  * Scaling model — the TPC-H one: row counts grow, PER-KEY fanout stays
  * constant (an order still has the same number of lineitems, a customer
  * the same number of orders). Each replica i gets key offsets of
  * i × (max key + 1) per table, and foreign keys get the SAME offset as
  * their referenced table, so join selectivity, group-size distributions,
  * and value distributions are bit-identical to sf0.1 within each replica.
  *
  * Content columns can NOT be replicated verbatim — ten byte-identical
  * copies of every document would make every doc a 10-way duplicate
  * cluster and quadratically distort the dedup/similarity family, which
  * is exactly the family the scale bench watches. So:
  *  - documents.text: replica i>0 applies a deterministic VOCABULARY map
  *    (word w → w+"x"+i when xxhash64(w,i)%3==0). Within a replica the
  *    map is a bijection on the vocabulary, so the planted exact/near-dup
  *    structure of sf0.1 is preserved verbatim; across replicas ~1/3 of
  *    words differ, so an 8-gram shingle survives with p=(2/3)^8≈4% and
  *    cross-replica Jaccard collapses below every dedup threshold.
  *    Duplicate DENSITY (the thing that drives LSH candidate volume)
  *    therefore stays constant per decade, as it does in a real crawl.
  *  - embeddings.embedding: replica i rotates dimensions by (7i) mod dim.
  *    Norms and all within-replica pairwise cosines are exactly preserved
  *    (rotation is applied uniformly inside a replica); cross-replica
  *    cosines are pseudo-random (~0), so kNN/ANN candidate structure
  *    scales instead of degenerating into 10-way ties.
  *  - name-like strings (c_name/s_name/p_name) get a " r<i>" suffix so
  *    distinct-cardinality grows with SF (TPC-H behavior), not collapses.
  * Events keep their time window (10× density in the same range — the
  * realistic shape for a busier service, and what keeps windowed/series
  * queries comparable per decade).
  *
  * Usage: tools/run.sh graft.tools.Datagen /root/testdata/sf0.1 testdata/sf1 10
  */
object Datagen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val spark = graft.Session("graft-datagen")
    generate(spark, src, out, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // max+1 so offsets are disjoint even with 0-based keys
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val custSpan = span(load("customer"), "c_custkey")
    val suppSpan = span(load("supplier"), "s_suppkey")
    val partSpan = span(load("part"), "p_partkey")
    val orderSpan = span(load("orders"), "o_orderkey")
    val eventSpan = span(load("events"), "event_id")
    val userSpan = span(load("events"), "user_id")
    val docSpan = span(load("documents"), "doc_id")
    val vecSpan = span(load("embeddings"), "vec_id")

    /** Replicate `factor` copies of `df`, transforming each via `f(df, i)`;
      * replica 0 is the untouched original. */
    def rep(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = load(name)
      val all = (0 until factor).map(i => if (i == 0) base else f(base, i))
        .reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[datagen] $name x$factor written")
    }
    def off(c: String, s: Long, i: Int) = col(c) + lit(s * i)
    def suffix(c: String, i: Int) = concat(col(c), lit(s" r$i"))

    // dims that do NOT grow with SF stay fixed (TPC-H: region/nation const)
    Seq("region", "nation").foreach { n =>
      load(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[datagen] $n copied (fixed dim)")
    }

    rep("customer", (df, i) => df
      .withColumn("c_custkey", off("c_custkey", custSpan, i))
      .withColumn("c_name", suffix("c_name", i)))
    rep("supplier", (df, i) => df
      .withColumn("s_suppkey", off("s_suppkey", suppSpan, i))
      .withColumn("s_name", suffix("s_name", i)))
    rep("part", (df, i) => df
      .withColumn("p_partkey", off("p_partkey", partSpan, i))
      .withColumn("p_name", suffix("p_name", i)))
    rep("orders", (df, i) => df
      .withColumn("o_orderkey", off("o_orderkey", orderSpan, i))
      .withColumn("o_custkey", off("o_custkey", custSpan, i)))
    rep("lineitem", (df, i) => df
      .withColumn("l_orderkey", off("l_orderkey", orderSpan, i))
      .withColumn("l_partkey", off("l_partkey", partSpan, i))
      .withColumn("l_suppkey", off("l_suppkey", suppSpan, i)))
    rep("events", (df, i) => df
      .withColumn("event_id", off("event_id", eventSpan, i))
      .withColumn("user_id", off("user_id", userSpan, i)))
    rep("documents", (df, i) => df
      .withColumn("doc_id", off("doc_id", docSpan, i))
      .withColumn("text", array_join(transform(
        split(col("text"), " "),
        w => when(pmod(xxhash64(w, lit(i)), lit(3)) === 0,
          concat(w, lit("x"), lit(i))).otherwise(w)), " "))
      .withColumn("n_chars", length(col("text")).cast("long")))
    rep("embeddings", (df, i) => df
      .withColumn("embedding", {
        val k = (7 * i) % 64 // dim=64 in the fixture; rotation amount per replica
        val rotated =
          concat(expr(s"slice(embedding, ${k + 1}, size(embedding) - $k)"),
                 expr(s"slice(embedding, 1, $k)"))
        // per-replica deterministic sign flips (splitmix64 of (i, dim)):
        // diag(±1)∘rotation is orthogonal, and ±1 float multiplies are
        // EXACT, so norms and within-replica cosines are still preserved
        // bit-for-bit. Rotation ALONE is not composition-safe: staging
        // sf10 as (sf0.1 ×10) ×10 makes replica pairs with equal i+j
        // share the total rotation 7(i+j) mod 64, collapsing up to 10
        // replicas into IDENTICAL vectors — measured at sf10 as ~100-way
        // near-dup clusters (max SRP bucket occupancy 105 at 17 bits)
        // that broke the documented "cross-replica cosines ~0" contract
        // and inflated kNN-graph candidates 17×/decade. Sign patterns
        // compose multiplicatively, so distinct replica paths stay
        // distinct.
        val signs = (0 until 64).map { d =>
          var z = i.toLong * 64 + d + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0f else -1.0f
        }
        org.apache.spark.sql.functions.zip_with(
          rotated,
          org.apache.spark.sql.functions.typedLit(signs),
          (x, sg) => x * sg)
      })
      .withColumn("vec_id", off("vec_id", vecSpan, i)))
  }
}
