package graft.tools

import scala.util.Random

/** Differential SQL fuzzer (VERDICT r9 item 3): seeded generator of
  * small relational queries — join chains × filters × aggregates ×
  * windows × set-ops × [anti-]semi-joins — over the TPC-H fixtures,
  * rendered in the SQL subset whose semantics Spark and DuckDB share BY
  * SPEC, and executed on BOTH engines through the existing oracle
  * harness (`Verify`-shaped parquet dump + `tools/check.py` value/type
  * compare). 61 hand-picked Tier-D queries pin the surface; a few
  * hundred generated plans per run is how residual engine-parity bugs
  * (join reordering vs null semantics, distinct-vs-all set ops, window
  * frame defaults, type widening) actually get flushed out.
  *
  * The generator stays inside the determinism contracts the suite
  * already obeys (memory: graft-build-workflow), so any mismatch is a
  * real parity defect, not comparison noise:
  *  - no FP accumulation: SUM only over ints (CAST AS BIGINT — DuckDB
  *    widens to HUGEINT otherwise) or via DECIMAL(12,2) with a pinned
  *    result width; doubles appear only in predicates and MIN/MAX
  *    (exact selection, not accumulation);
  *  - every LIMIT sits under a total ORDER BY (the base table's unique
  *    key survives N:1 FK joins) with NULLS FIRST pinned (the engines'
  *    defaults differ);
  *  - timestamp columns never reach the output (Spark writes
  *    UTC-adjusted parquet, DuckDB reads the fixture as NTZ — a client-
  *    representation drift, not a value one); predicates compare through
  *    CAST(col AS DATE) which both engines define identically;
  *  - ROW_NUMBER orders by the unique key; RANK may order by non-unique
  *    columns (value-deterministic);
  *  - window/aggregate outputs are CAST to the same declared type on
  *    both engines (check.py fails on declared-type drift by design).
  *
  * `main` dumps `count` cases at `sfDir` into `outDir` in the exact
  * layout check.py consumes. `props.SqlDifferentialProps` drives the
  * same generator in-JVM for structural guarantees; the cross-engine
  * run is `tools/fuzz.sh`.
  *
  * FINDINGS LOG — genuine engine divergences this fuzzer surfaced
  * (each verified by hand, then excluded from generation since the
  * gate requires parity on every emitted case):
  *  1. ROLLUP/CUBE over EMPTY input: Spark emits 0 rows; DuckDB (and
  *     Postgres, per the SQL standard's grouping-set semantics) emits
  *     the grand-total row `(NULL…, COUNT=0)`. Spark's Expand operator
  *     produces nothing from nothing — an engine-level divergence any
  *     migration off/onto Spark must account for. Generator: no WHERE
  *     under hierarchical grouping (base tables are never empty).
  *  2. Not an engine bug but a fixture fact worth recording:
  *     (l_orderkey, l_linenumber) is NOT unique in the synthetic
  *     lineitem (unlike real TPC-H), so LIMIT under that ORDER BY is
  *     nondeterministic. Generator: every LIMIT orders by ALL output
  *     columns — boundary ties then carry identical values, making the
  *     result multiset deterministic.
  *  3. ROLLUP/CUBE over JOIN-EQUAL key pairs: for
  *     `a JOIN b ON a.x = b.y GROUP BY ROLLUP(a.x, b.y)`, Spark emits
  *     the standard level-(x) rows `(x, NULL, …)` while DuckDB
  *     propagates the join equivalence INTO the grouping-set output and
  *     emits `(x, x, …)` — its optimizer rewrites b.y to a.x before
  *     Expand, erasing the NULL the grouping set is defined to produce.
  *     Verified by hand on supplier⋈nation (Spark `(0, NULL, 2)` vs
  *     DuckDB `(0, 0, 2)`). Generator: hierarchical grouping is skipped
  *     when the chosen keys contain both sides of any join equality.
  */
object Fuzz {

  /** One generated case: the SQL runs verbatim on both engines. */
  final case class Case(name: String, sql: String)

  private case class Dim(table: String, fk: String, pk: String)
  private case class Tbl(
      name: String,
      key: Seq[String],            // unique key (total order for LIMIT)
      ints: Seq[String],           // integral, non-negative, small-ish
      bigs: Seq[String],           // integral ids (BIGINT)
      nums: Seq[(String, Double, Double)], // double cols with range
      cats: Map[String, Seq[String]],
      dates: Seq[(String, String, String)], // (col, lo, hi) ISO dates
      dims: Seq[Dim])

  private val lineitem = Tbl("lineitem",
    key = Seq("l_orderkey", "l_linenumber"),
    ints = Seq("l_linenumber"),
    bigs = Seq("l_orderkey", "l_partkey", "l_suppkey"),
    nums = Seq(("l_quantity", 1, 50), ("l_extendedprice", 900, 50000),
      ("l_discount", 0.0, 0.1), ("l_tax", 0.0, 0.08)),
    cats = Map("l_returnflag" -> Seq("R", "A", "N"),
      "l_linestatus" -> Seq("O", "F")),
    dates = Seq(("l_shipdate", "1995-01-01", "2001-09-01")),
    dims = Seq(Dim("orders", "l_orderkey", "o_orderkey"),
      Dim("part", "l_partkey", "p_partkey"),
      Dim("supplier", "l_suppkey", "s_suppkey")))

  private val orders = Tbl("orders",
    key = Seq("o_orderkey"),
    ints = Seq.empty,
    bigs = Seq("o_orderkey", "o_custkey"),
    nums = Seq(("o_totalprice", 1000, 500000)),
    cats = Map("o_orderstatus" -> Seq("O", "F", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")),
    dates = Seq(("o_orderdate", "1995-01-01", "2001-08-01")),
    dims = Seq(Dim("customer", "o_custkey", "c_custkey")))

  private val customer = Tbl("customer",
    key = Seq("c_custkey"),
    ints = Seq("c_nationkey"),
    bigs = Seq("c_custkey"),
    nums = Seq(("c_acctbal", -999, 9999)),
    cats = Map("c_mktsegment" -> Seq("BUILDING", "AUTOMOBILE", "MACHINERY",
      "HOUSEHOLD", "FURNITURE")),
    dates = Seq.empty,
    dims = Seq(Dim("nation", "c_nationkey", "n_nationkey")))

  private val part = Tbl("part",
    key = Seq("p_partkey"),
    ints = Seq("p_size"),
    bigs = Seq("p_partkey"),
    nums = Seq(("p_retailprice", 900, 1000)),
    cats = Map("p_brand" -> (1 to 24).map(i => s"Brand#$i"),
      "p_type" -> Seq("MEDIUM", "STANDARD", "LARGE", "ECONOMY", "PROMO", "SMALL")),
    dates = Seq.empty,
    dims = Seq.empty)

  private val supplier = Tbl("supplier",
    key = Seq("s_suppkey"),
    ints = Seq("s_nationkey"),
    bigs = Seq("s_suppkey"),
    nums = Seq(("s_acctbal", -999, 9999)),
    cats = Map.empty,
    dates = Seq.empty,
    dims = Seq(Dim("nation", "s_nationkey", "n_nationkey")))

  private val nation = Tbl("nation",
    key = Seq("n_nationkey"),
    ints = Seq("n_nationkey", "n_regionkey"),
    bigs = Seq.empty, nums = Seq.empty, cats = Map.empty, dates = Seq.empty,
    dims = Seq(Dim("region", "n_regionkey", "r_regionkey")))

  private val region = Tbl("region",
    key = Seq("r_regionkey"),
    ints = Seq("r_regionkey"),
    bigs = Seq.empty, nums = Seq.empty, cats = Map.empty, dates = Seq.empty,
    dims = Seq.empty)

  private val events = Tbl("events",
    key = Seq("event_id"),
    ints = Seq.empty,
    bigs = Seq("event_id", "user_id"),
    nums = Seq(("value", 0.01, 490)),
    cats = Map("event_type" -> Seq("view", "click", "purchase", "signup", "error")),
    dates = Seq(("ts", "2024-01-02", "2024-01-30")),
    dims = Seq.empty)

  private val tables = Map(
    "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
    "part" -> part, "supplier" -> supplier, "nation" -> nation,
    "region" -> region, "events" -> events)

  private val bases = Seq(lineitem, lineitem, orders, orders, customer,
    part, supplier, events) // weight the fact tables

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** A predicate over any already-joined table, rendered dialect-common. */
  private def predicate(r: Random, joined: Seq[Tbl]): String = {
    val t = pick(r, joined)
    val choices = Seq.newBuilder[() => String]
    if (t.nums.nonEmpty) choices += { () =>
      val (c, lo, hi) = pick(r, t.nums)
      val v = BigDecimal(lo + (hi - lo) * r.nextDouble())
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s"${t.name}.$c ${pick(r, Seq("<", "<=", ">", ">="))} $v"
    }
    if (t.ints.nonEmpty) choices += { () =>
      val c = pick(r, t.ints)
      val v = r.nextInt(30)
      s"${t.name}.$c ${pick(r, Seq("<", "<=", ">", ">=", "="))} $v"
    }
    if (t.cats.nonEmpty) choices += { () =>
      val (c, vals) = pick(r, t.cats.toSeq.sortBy(_._1))
      if (r.nextBoolean() || vals.size < 3) s"${t.name}.$c = '${pick(r, vals)}'"
      else {
        val in = r.shuffle(vals).take(1 + r.nextInt(3)).sorted
        s"${t.name}.$c IN (${in.map(v => s"'$v'").mkString(", ")})"
      }
    }
    if (t.dates.nonEmpty) choices += { () =>
      val (c, lo, hi) = pick(r, t.dates)
      val (ly, hy) = (lo.take(4).toInt, hi.take(4).toInt)
      val y = ly + r.nextInt(math.max(1, hy - ly + 1))
      val m = 1 + r.nextInt(12)
      s"CAST(${t.name}.$c AS DATE) ${pick(r, Seq("<", ">="))} DATE '$y-${f"$m%02d"}-15'"
    }
    if (t.bigs.nonEmpty) choices += { () =>
      s"${t.name}.${pick(r, t.bigs)} % ${2 + r.nextInt(7)} = ${r.nextInt(2)}"
    }
    pick(r, choices.result())()
  }

  private def wherePreds(r: Random, joined: Seq[Tbl]): String = {
    val n = r.nextInt(3) // 0..2 predicates
    if (n == 0) ""
    else {
      val ps = Seq.fill(n)(predicate(r, joined))
      val glue = if (r.nextInt(4) == 0) " OR " else " AND "
      "\nWHERE " + ps.mkString(glue)
    }
  }

  /** Base + 0..2 N:1 FK joins; each dim table at most once. */
  private def joinChain(r: Random): (Seq[Tbl], String) = {
    val base = pick(r, bases)
    var joined = Seq(base)
    var sql = new StringBuilder(s"FROM ${base.name}")
    val nJoins = r.nextInt(3)
    var tries = 0
    while (joined.flatMap(_.dims).nonEmpty && joined.size < nJoins + 1 && tries < 6) {
      tries += 1
      val avail = joined.flatMap(t => t.dims.map(d => (t, d)))
        .filter { case (_, d) => !joined.exists(_.name == d.table) }
      if (avail.nonEmpty) {
        val (from, d) = pick(r, avail)
        val dim = tables(d.table)
        sql ++= s"\nJOIN ${d.table} ON ${from.name}.${d.fk} = ${d.table}.${d.pk}"
        joined :+= dim
      }
    }
    (joined, sql.result())
  }

  private def groupKeys(r: Random, joined: Seq[Tbl]): Seq[(String, String)] = {
    // (qualified expr, alias); categorical or small-int columns only
    val pool = joined.flatMap(t =>
      t.cats.keys.toSeq.sorted.map(c => (s"${t.name}.$c", c)) ++
        t.ints.map(c => (s"${t.name}.$c", c)))
    r.shuffle(pool).take(1 + r.nextInt(2)).distinct
  }

  private def aggExprs(r: Random, joined: Seq[Tbl]): Seq[String] = {
    val t = pick(r, joined)
    val opts = Seq.newBuilder[() => String]
    opts += (() => "COUNT(*) AS cnt")
    if (t.bigs.nonEmpty) opts += { () =>
      val c = pick(r, t.bigs)
      s"CAST(COUNT(DISTINCT ${t.name}.$c) AS BIGINT) AS nd_$c"
    }
    if (t.ints.nonEmpty) opts += { () =>
      val c = pick(r, t.ints)
      s"CAST(SUM(${t.name}.$c) AS BIGINT) AS sum_$c"
    }
    if (t.nums.nonEmpty) opts += { () =>
      val (c, _, _) = pick(r, t.nums)
      // exact decimal sum, cast ONCE to DOUBLE at the output boundary —
      // the suite-wide contract (DECIMAL output columns are
      // driver-hash-fragile; see Cluster.kmeansQ and check.py's probe)
      s"CAST(CAST(SUM(CAST(${t.name}.$c AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS dsum_$c"
    }
    if (t.nums.nonEmpty) opts += { () =>
      val (c, _, _) = pick(r, t.nums)
      s"${pick(r, Seq("MIN", "MAX"))}(${t.name}.$c) AS mm_$c"
    }
    if (t.cats.nonEmpty) opts += { () =>
      val c = pick(r, t.cats.keys.toSeq.sorted)
      s"${pick(r, Seq("MIN", "MAX"))}(${t.name}.$c) AS mmc_$c"
    }
    val all = opts.result()
    r.shuffle(all).take(1 + r.nextInt(math.min(3, all.size)))
      .map(_()).distinct
  }

  /** Non-aggregated output columns (timestamps excluded by contract). */
  private def projCols(r: Random, joined: Seq[Tbl]): Seq[String] = {
    val pool = joined.flatMap(t =>
      (t.ints ++ t.bigs ++ t.nums.map(_._1) ++ t.cats.keys.toSeq.sorted)
        .map(c => s"${t.name}.$c"))
    r.shuffle(pool).take(1 + r.nextInt(4)).distinct
  }

  /** Total order over ALL output columns (by ordinal): the fixture's
    * lineitem key is NOT unique (findings log item 2), so a LIMIT is
    * value-deterministic only when boundary ties carry identical
    * output values — i.e. when the sort covers every emitted column. */
  private def orderAll(nCols: Int): String =
    (1 to nCols).map(i => s"$i NULLS FIRST").mkString(", ")

  // ---- query shapes ----------------------------------------------------

  private def aggQuery(r: Random): String = {
    val (joined, from) = joinChain(r)
    val keys = groupKeys(r, joined)
    val aggs = aggExprs(r, joined)
    val having =
      if (r.nextInt(3) == 0) s"\nHAVING COUNT(*) >= ${1 + r.nextInt(4)}" else ""
    // 1-in-3: hierarchical grouping (ROLLUP/CUBE) — the NULL-keyed
    // grand-total rows are a classic parity trap
    val keyList = keys.map(_._1).mkString(", ")
    // findings log item 3: no join-equal key PAIRS under ROLLUP/CUBE
    val joinEqual = joined.flatMap(t => t.dims
      .filter(d => joined.exists(_.name == d.table))
      .map(d => Set(s"${t.name}.${d.fk}", s"${d.table}.${d.pk}")))
    val keySet = keys.map(_._1).toSet
    val hierarchical = keys.size > 1 && r.nextInt(3) == 0 &&
      !joinEqual.exists(_.subsetOf(keySet))
    val grouping =
      if (hierarchical) s"GROUP BY ${pick(r, Seq("ROLLUP", "CUBE"))}($keyList)"
      else s"GROUP BY $keyList"
    val sel = (keys.map { case (e, a) => s"$e AS $a" } ++ aggs).mkString(", ")
    // findings log item 1: no WHERE under ROLLUP/CUBE — Spark and the
    // standard disagree on grouping sets over EMPTY input
    val where = if (hierarchical) "" else wherePreds(r, joined)
    s"SELECT $sel\n$from$where\n$grouping$having"
  }

  /** CTE: an aggregate summary re-joined against its base table. */
  private def cteQuery(r: Random): String = {
    val base = pick(r, bases)
    if (base.cats.isEmpty) return aggQuery(r)
    val cat = pick(r, base.cats.keys.toSeq.sorted)
    val cols = (base.key.map(k => s"${base.name}.$k") :+
      s"${base.name}.$cat").distinct
    s"WITH summary AS (\n" +
      s"  SELECT $cat AS grp, COUNT(*) AS grp_n\n" +
      s"  FROM ${base.name}\n  WHERE ${predicate(r, Seq(base))}\n" +
      s"  GROUP BY $cat)\n" +
      s"SELECT ${cols.mkString(", ")}, summary.grp_n\n" +
      s"FROM ${base.name} JOIN summary ON ${base.name}.$cat = summary.grp" +
      s"${wherePreds(r, Seq(base))}\n" +
      s"ORDER BY ${orderAll(cols.size + 1)}\nLIMIT ${5 + r.nextInt(40)}"
  }

  /** Computed scalar projections — CASE bands, string fns, arithmetic. */
  private def computedQuery(r: Random): String = {
    val (joined, from) = joinChain(r)
    val base = joined.head
    val t = pick(r, joined)
    val comps = Seq.newBuilder[String]
    if (t.cats.nonEmpty) {
      val c = pick(r, t.cats.keys.toSeq.sorted)
      comps += s"upper(${t.name}.$c) AS up_$c"
      comps += s"CAST(length(${t.name}.$c) AS BIGINT) AS len_$c"
      comps += s"substr(${t.name}.$c, 1, ${1 + r.nextInt(4)}) AS pre_$c"
    }
    if (t.nums.nonEmpty) {
      val (c, lo, hi) = pick(r, t.nums)
      val mid = BigDecimal((lo + hi) / 2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      comps += s"CASE WHEN ${t.name}.$c >= $mid THEN 'hi' ELSE 'lo' END AS band_$c"
    }
    if (t.ints.nonEmpty) {
      val c = pick(r, t.ints)
      comps += s"CAST(${t.name}.$c * 2 + 1 AS BIGINT) AS c_$c"
    }
    val all = comps.result()
    if (all.isEmpty) return projQuery(r)
    val chosen = r.shuffle(all).take(1 + r.nextInt(math.min(3, all.size))).distinct
    val cols = base.key.map(k => s"${base.name}.$k") ++ chosen
    s"SELECT ${cols.mkString(", ")}\n$from${wherePreds(r, joined)}" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${5 + r.nextInt(40)}"
  }

  private def projQuery(r: Random): String = {
    val (joined, from) = joinChain(r)
    val base = joined.head
    val cols = (base.key.map(k => s"${base.name}.$k") ++ projCols(r, joined)).distinct
    s"SELECT ${cols.mkString(", ")}\n$from${wherePreds(r, joined)}" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${5 + r.nextInt(40)}"
  }

  private def setOpQuery(r: Random): String = {
    val base = pick(r, bases)
    val cols = {
      val pool = base.ints ++ base.bigs ++ base.cats.keys.toSeq.sorted ++
        base.nums.map(_._1)
      val rr = r.shuffle(pool).take(1 + r.nextInt(2)).distinct
      rr.map(c => s"${base.name}.$c")
    }
    val op = pick(r, Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT",
      "INTERSECT ALL", "EXCEPT ALL"))
    def side = s"SELECT ${cols.mkString(", ")} FROM ${base.name}" +
      s"\nWHERE ${predicate(r, Seq(base))}"
    s"$side\n$op\n$side"
  }

  private def windowQuery(r: Random): String = {
    val (joined, from) = joinChain(r)
    val base = joined.head
    val parts = joined.flatMap(t => t.cats.keys.toSeq.sorted.map(c => s"${t.name}.$c"))
    if (parts.isEmpty) return projQuery(r)
    val partBy = pick(r, parts)
    val uk = base.key.map(k => s"${base.name}.$k").mkString(", ")
    val fn = pick(r, Seq("ROW_NUMBER", "RANK", "DENSE_RANK"))
    // RANK/DENSE_RANK may order by a value column (deterministic as a
    // value); ROW_NUMBER must order by the unique key
    val ord =
      if (fn == "ROW_NUMBER") base.key.map(k => s"${base.name}.$k NULLS FIRST").mkString(", ")
      else {
        val vals = joined.flatMap(t => t.nums.map(n => s"${t.name}.${n._1}"))
        (if (vals.isEmpty) Seq() else Seq(s"${pick(r, vals)} NULLS FIRST"))
          .++(base.key.map(k => s"${base.name}.$k NULLS FIRST")).mkString(", ")
      }
    val inner = s"SELECT $uk, $partBy AS pk_col,\n" +
      s"  CAST($fn() OVER (PARTITION BY $partBy ORDER BY $ord) AS BIGINT) AS rnk\n" +
      s"$from${wherePreds(r, joined)}"
    s"SELECT * FROM (\n$inner\n) ranked WHERE rnk <= ${1 + r.nextInt(5)}"
  }

  private def semiQuery(r: Random): String = {
    val base = pick(r, Seq(lineitem, orders, orders, customer))
    if (base.dims.isEmpty) return projQuery(r)
    val d = pick(r, base.dims)
    val dim = tables(d.table)
    val anti = r.nextBoolean()
    val ex = if (anti) "NOT EXISTS" else "EXISTS"
    val cols = (base.key.map(k => s"${base.name}.$k") ++ projCols(r, Seq(base))).distinct
    s"SELECT ${cols.mkString(", ")}\nFROM ${base.name}\n" +
      s"WHERE $ex (SELECT 1 FROM ${d.table}\n" +
      s"  WHERE ${base.name}.${d.fk} = ${d.table}.${d.pk} AND ${predicate(r, Seq(dim))})" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${5 + r.nextInt(40)}"
  }

  private def scalarSubQuery(r: Random): String = {
    val base = pick(r, Seq(lineitem, orders, part, events))
    val (c, _, _) = pick(r, base.nums)
    // exact-selection scalar (MIN/MAX), never an FP accumulation
    val f = pick(r, Seq("MIN", "MAX"))
    val frac = BigDecimal(0.3 + 0.5 * r.nextDouble())
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val cmp = if (f == "MAX") "<" else ">"
    val cols = (base.key.map(k => s"${base.name}.$k") ++ projCols(r, Seq(base))).distinct
    s"SELECT ${cols.mkString(", ")}\nFROM ${base.name}\n" +
      s"WHERE ${base.name}.$c $cmp (SELECT $f($c) * $frac FROM ${base.name})" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${5 + r.nextInt(40)}"
  }

  private def leftJoinQuery(r: Random): String = {
    val base = pick(r, Seq(lineitem, orders, customer, supplier))
    if (base.dims.isEmpty) return projQuery(r)
    val d = pick(r, base.dims)
    val dim = tables(d.table)
    val dimCol = {
      val pool = dim.ints ++ dim.cats.keys.toSeq.sorted ++ dim.nums.map(_._1)
      pick(r, pool)
    }
    // filtered right side makes real NULLs despite FK integrity
    val cols = base.key.map(k => s"${base.name}.$k") :+ s"f.$dimCol AS d_$dimCol"
    s"SELECT ${cols.mkString(", ")}\nFROM ${base.name}\n" +
      s"LEFT JOIN (SELECT * FROM ${d.table} WHERE ${predicate(r, Seq(dim))}) f" +
      s"\n  ON ${base.name}.${d.fk} = f.${d.pk}" +
      s"\nWHERE ${base.name}.${base.key.head} % ${3 + r.nextInt(5)} = 0" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${10 + r.nextInt(40)}"
  }

  /** Correlated COUNT subquery in the SELECT list — a decorrelation
    * path (rewrite to an outer-joined aggregate) both engines must take
    * without changing the per-row count; exact integers throughout. */
  private def correlatedCountQuery(r: Random): String = {
    val base = pick(r, Seq(lineitem, orders, orders, customer))
    if (base.dims.isEmpty) return projQuery(r)
    val d = pick(r, base.dims)
    val dim = tables(d.table)
    val cols = base.key.map(k => s"${base.name}.$k") :+
      (s"CAST((SELECT COUNT(*) FROM ${d.table}\n" +
        s"    WHERE ${base.name}.${d.fk} = ${d.table}.${d.pk}" +
        s" AND ${predicate(r, Seq(dim))}) AS BIGINT) AS sub_n")
    s"SELECT ${cols.mkString(", ")}\nFROM ${base.name}\n" +
      s"WHERE ${base.name}.${base.key.head} % ${3 + r.nextInt(5)} = 0" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${10 + r.nextInt(40)}"
  }

  /** LAG/LEAD value windows over the unique-key order — offset frames
    * are a different execution path than the ranking functions of
    * [[windowQuery]]; integral payloads keep the compare exact. */
  private def lagLeadQuery(r: Random): String = {
    val base = pick(r, Seq(lineitem, orders, customer, part))
    val parts = base.cats.keys.toSeq.sorted
    if (parts.isEmpty || base.bigs.isEmpty) return projQuery(r)
    val partBy = s"${base.name}.${pick(r, parts)}"
    val v = s"${base.name}.${pick(r, base.bigs)}"
    val fn = pick(r, Seq("LAG", "LEAD"))
    val off = 1 + r.nextInt(3)
    val uk = base.key.map(k => s"${base.name}.$k")
    // the fixture's declared keys are NOT unique (TPC-H-ish generator),
    // so the lagged value column itself joins the sort: rows tied on
    // the key emit their values in sorted order, making the window's
    // output MULTISET deterministic even though row identity isn't
    val ord = (uk :+ v).map(k => s"$k NULLS FIRST").mkString(", ")
    // the outer select sees only the subquery alias — bare names
    val cols = base.key :+ "pk_col" :+ "off_v"
    s"SELECT ${cols.mkString(", ")} FROM (\n" +
      s"  SELECT ${uk.mkString(", ")}, $partBy AS pk_col,\n" +
      s"    CAST($fn($v, $off) OVER (PARTITION BY $partBy" +
      s" ORDER BY $ord) AS BIGINT) AS off_v\n" +
      s"  FROM ${base.name}${wherePreds(r, Seq(base))}\n) w" +
      s"\nORDER BY ${orderAll(cols.size)}\nLIMIT ${10 + r.nextInt(40)}"
  }

  /** The deterministic case list for (seed, n). */
  def cases(seed: Long, n: Int): Seq[Case] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val sql = r.nextInt(11) match {
        case 0 | 1 => aggQuery(r) // weight aggregation highest
        case 2     => projQuery(r)
        case 3     => setOpQuery(r)
        case 4     => windowQuery(r)
        case 5     => pick(r, Seq(semiQuery _, leftJoinQuery _))(r)
        case 6     => scalarSubQuery(r)
        case 7     => cteQuery(r)
        case 8     => computedQuery(r)
        case 9     => correlatedCountQuery(r)
        case 10    => lagLeadQuery(r)
      }
      Case(f"fuzz_$i%04d", sql)
    }
  }

  /** Dump Spark results + oracle_sql.json in the check.py layout.
    * Usage: tools/run.sh graft.tools.Fuzz <sfDir> <outDir> [seed] [count] */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 42L
    val count = if (args.length > 3) args(3).toInt else 150
    val spark = graft.Session("graft-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(spark, sfDir)
    val cs = cases(seed, count)
    var failed = 0
    cs.foreach { c =>
      try
        spark.sql(c.sql).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${c.name} FAILED on Spark: ${e.getMessage}\n${c.sql}")
      }
    }
    val json = cs.map(c =>
      s""""${c.name}": ${escape(c.sql)}""").mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[fuzz] ${cs.size - failed}/${cs.size} executed, seed=$seed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  private def escape(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""
}
