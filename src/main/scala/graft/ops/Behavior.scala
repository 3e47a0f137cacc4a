package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Behavioral analytics over the event stream and order history — the
  * cohort-retention, sequence-transition, and RFM-segmentation tables
  * every product/growth pipeline publishes. On a training-data corpus
  * the same shapes answer "how long do crawl sources keep yielding new
  * documents" (retention) and "what state follows what in a labeling
  * workflow" (transitions).
  *
  * Scale shapes:
  *  - Retention: the stream collapses to DISTINCT (user, week) first —
  *    |users|×|weeks| rows, not |events| — and the cohort table is a
  *    map-side-combinable min per user; the cohort join is an equi-join
  *    on user_id (co-partitioned with the activity groupBy, one
  *    shuffle). Output ≤ |weeks|² rows.
  *  - Transitions: one window per user ordered by time — shards by
  *    user, no global sort; pair counts are map-side-combinable with
  *    ≤ |event_types|² groups; the per-source normalizing total is a
  *    window over those ≤ k² cells, not over events.
  *  - RFM: per-customer metrics are one combinable groupBy; quartile
  *    boundaries use the codegen window-rank + interpolation-weight
  *    shape from [[Profile.binsQ]] (3 metric partitions — swap
  *    `approx_percentile` at real scale); scoring is three 1-row
  *    broadcast joins + comparisons at scan speed. No global `ntile`
  *    sort anywhere.
  *
  * Determinism contract: counts and week indexes are exact integers;
  * ratios are a single IEEE division of identical operands in both
  * engines, rounded to 4 dp before the DECIMAL cast; money follows the
  * dsum contract (per-value DECIMAL(18,2) cast, exact sum).
  */
object Behavior {

  // --- cohort retention -----------------------------------------------------

  /** q_cohort_retention entry: for each signup-week cohort, how many of
    * its users are active k weeks later, and what fraction of the
    * cohort that is. Week index = (days since 2024-01-01) div 7 — pure
    * integer arithmetic, immune to engines' week-truncation choices.
    *
    * The retention ratio is emitted as BASIS POINTS via integer floor
    * division — `(n_active * 10000) div cohort_n` — never as a rounded
    * double: ratios of small integers routinely land exactly on the
    * half-tie at the rounding digit, where engines' `round`-on-double
    * disagree (the driver-hash fragility class of CORRECTNESS r6–r8). */
  def retentionQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weekly = t(s, dir, "events")
      .select($"user_id",
        expr("datediff(to_date(ts), date'2024-01-01') div 7")
          .cast("int").as("wk"))
      .distinct()
    val cohorts = weekly.groupBy($"user_id").agg(min($"wk").as("wk0"))
    val sizes = cohorts.groupBy($"wk0").agg(count(lit(1)).as("cohort_n"))
    weekly.join(cohorts, "user_id")
      .groupBy($"wk0", ($"wk" - $"wk0").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "wk0")
      .select($"wk0".as("cohort_week"), $"week_offset",
        $"n_active".cast("long").as("n_active"),
        $"cohort_n".cast("long").as("cohort_n"),
        expr("CAST((n_active * 10000) DIV cohort_n AS BIGINT)")
          .as("retention_bp"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val retentionSql: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
      |      AS INT) AS wk
      |  FROM events),
      |cohorts AS (SELECT user_id, min(wk) AS wk0 FROM weekly GROUP BY 1),
      |sizes AS (SELECT wk0, COUNT(*) AS cohort_n FROM cohorts GROUP BY 1)
      |SELECT c.wk0 AS cohort_week, w.wk - c.wk0 AS week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(any_value(s.cohort_n) AS BIGINT) AS cohort_n,
      |  CAST((COUNT(*) * 10000) // any_value(s.cohort_n) AS BIGINT)
      |    AS retention_bp
      |FROM weekly w JOIN cohorts c USING (user_id)
      |  JOIN sizes s ON s.wk0 = c.wk0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- event-type transition matrix -----------------------------------------

  /** q_seq_transitions entry: first-order Markov transition counts and
    * probabilities between consecutive event types per user — the
    * navigation-flow / state-machine summary. Tie order pinned by
    * (ts, event_id) so both engines see the same successor.
    * Transition probability emitted as basis points by pure integer
    * floor division (same engine-neutral contract as [[retentionQ]]). */
  def transitionsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wSrc = Window.partitionBy($"src")
    t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("src"))
      .withColumn("dst", lead($"src", 1).over(wSeq))
      .filter($"dst".isNotNull)
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over(wSrc))
      .select($"src", $"dst", $"n".cast("long").as("n"),
        expr("CAST((n * 10000) DIV total AS BIGINT)").as("p_bp"))
      .orderBy($"src", $"dst")
  }

  val transitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events),
      |cnt AS (
      |  SELECT src, dst, COUNT(*) AS n FROM seq
      |  WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, CAST(n AS BIGINT) AS n,
      |  CAST((n * 10000) // sum(n) OVER (PARTITION BY src) AS BIGINT)
      |    AS p_bp
      |FROM cnt ORDER BY src, dst""".stripMargin

  // --- RFM segmentation -----------------------------------------------------

  /** q_rfm_segments entry: customers scored 1–4 on recency, frequency,
    * and monetary quartiles (4 = best), rolled up to segment counts.
    * Recency is a day-index integer (later = larger = score 4).
    * Boundaries use the R-7 interpolated quartiles of [[Profile.binsQ]]
    * rounded to 4 dp, so both engines bin on identical doubles. */
  def rfmQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val metrics = t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(
        datediff(to_date(max($"o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("double").as("r"),
        count(lit(1)).cast("double").as("f"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("m_dec"))
      .withColumn("m", $"m_dec".cast("double"))
    val long = metrics.select($"o_custkey",
      expr("stack(3, 'r', r, 'f', f, 'm', m) AS (met, v)"))
    val wOrd = Window.partitionBy($"met").orderBy($"v")
    val wAll = Window.partitionBy($"met")
    def interp(p: Double): Column = {
      val idx = lit(p) * ($"cnt" - lit(1)).cast("double")
      val d = abs(idx - ($"rn" - lit(1)).cast("double"))
      round(sum(when(d < 1, $"v" * (lit(1d) - d)).otherwise(lit(0d))), 4)
    }
    val bounds = long
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy($"met")
      .agg(interp(0.25).as("p25"), interp(0.5).as("p50"), interp(0.75).as("p75"))
    def b1(met: String, pre: String): DataFrame = bounds.filter($"met" === met)
      .select($"p25".as(s"${pre}25"), $"p50".as(s"${pre}50"),
        $"p75".as(s"${pre}75"))
    def score(v: Column, p25: Column, p50: Column, p75: Column): Column =
      when(v <= p25, 1).when(v <= p50, 2).when(v <= p75, 3).otherwise(4)
    metrics
      .crossJoin(broadcast(b1("r", "r"))).crossJoin(broadcast(b1("f", "f")))
      .crossJoin(broadcast(b1("m", "m")))
      .select(
        score($"r", $"r25", $"r50", $"r75").as("r_score"),
        score($"f", $"f25", $"f50", $"f75").as("f_score"),
        score($"m", $"m25", $"m50", $"m75").as("m_score"),
        $"m_dec")
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        // OUTPUT type contract: rounded DOUBLE (2 dp is float64-exact at
        // these magnitudes) so the driver's client-side serialization
        // cannot diverge; the DECIMAL(18,2) money sum stays internal.
        round(sum($"m_dec").cast("double") / count(lit(1)), 2)
          .as("avg_monetary"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val rfmSql: String =
    """WITH metrics AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', DATE '1992-01-01',
      |      CAST(max(o_orderdate) AS DATE)) AS DOUBLE) AS r,
      |    CAST(COUNT(*) AS DOUBLE) AS f,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m_dec,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT
      |    ROUND(quantile_cont(r, 0.25), 4) AS r25,
      |    ROUND(quantile_cont(r, 0.5), 4) AS r50,
      |    ROUND(quantile_cont(r, 0.75), 4) AS r75,
      |    ROUND(quantile_cont(f, 0.25), 4) AS f25,
      |    ROUND(quantile_cont(f, 0.5), 4) AS f50,
      |    ROUND(quantile_cont(f, 0.75), 4) AS f75,
      |    ROUND(quantile_cont(m, 0.25), 4) AS m25,
      |    ROUND(quantile_cont(m, 0.5), 4) AS m50,
      |    ROUND(quantile_cont(m, 0.75), 4) AS m75
      |  FROM metrics),
      |scored AS (
      |  SELECT
      |    CASE WHEN r <= r25 THEN 1 WHEN r <= r50 THEN 2
      |         WHEN r <= r75 THEN 3 ELSE 4 END AS r_score,
      |    CASE WHEN f <= f25 THEN 1 WHEN f <= f50 THEN 2
      |         WHEN f <= f75 THEN 3 ELSE 4 END AS f_score,
      |    CASE WHEN m <= m25 THEN 1 WHEN m <= m50 THEN 2
      |         WHEN m <= m75 THEN 3 ELSE 4 END AS m_score,
      |    m_dec
      |  FROM metrics, b)
      |SELECT r_score, f_score, m_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  ROUND(CAST(SUM(m_dec) AS DOUBLE) / COUNT(*), 2) AS avg_monetary
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --- last-touch attribution -----------------------------------------------

  /** q_attribution entry: each purchase attributed to the user's most
    * recent preceding click/view within 1 hour (last-touch attribution
    * with a lookback window), rolled up to per-channel conversion counts
    * and revenue. The same carry-forward shape labels documents with
    * the last upstream pipeline stage that touched them.
    *
    * Scale shape: one `last(ignoreNulls)` carry-forward window per user
    * ordered by time — shards by user, single-value state, the exact
    * streaming-friendly shape of [[TimeSeries.resampleQ]]'s gap fill;
    * the rollup is a combinable groupBy over ≤ |channels|+1 groups.
    * Money follows the dsum exact-decimal contract; the 1-hour cutoff
    * compares timestamp differences as intervals — no epoch-double
    * formatting dependence. */
  def attributionQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("t_type",
        when($"event_type".isin("click", "view"), $"event_type"))
      .withColumn("t_ts", when($"t_type".isNotNull, $"ts"))
      .withColumn("lt_type", last($"t_type", ignoreNulls = true).over(w))
      .withColumn("lt_ts", last($"t_ts", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("channel",
        when($"lt_ts".isNotNull &&
          $"ts" - $"lt_ts" <= expr("INTERVAL 1 HOUR"), $"lt_type")
          .otherwise(lit("none")))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast("decimal(18,2)")).as("revenue"))
      .select($"channel", $"n_purchases".cast("long").as("n_purchases"),
        // exact decimal sum, cast ONCE to double at the output
        // boundary (DECIMAL outputs are driver-hash-fragile — see
        // Cluster.kmeansQ contract note)
        $"revenue".cast("decimal(18,2)").cast("double").as("revenue"))
      .orderBy($"channel")
  }

  val attributionSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type IN ('click', 'view') THEN event_type
      |      END AS t_type
      |  FROM events),
      |carried AS (
      |  SELECT *,
      |    last_value(t_type IGNORE NULLS) OVER w AS lt_type,
      |    last_value(CASE WHEN t_type IS NOT NULL THEN ts END IGNORE NULLS)
      |      OVER w AS lt_ts
      |  FROM marked
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT
      |  CASE WHEN lt_ts IS NOT NULL AND ts - lt_ts <= INTERVAL 1 HOUR
      |    THEN lt_type ELSE 'none' END AS channel,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |    AS DOUBLE) AS revenue
      |FROM carried WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_survival_km entry: the Kaplan–Meier life table over user
    * LIFETIMES (days between a user's first and last event) — per
    * distinct lifetime t: the risk set (users surviving ≥ t), the
    * events (users ending exactly at t), and the discrete hazard
    * d/n in basis points. These are the exact ingredients of the KM
    * estimator S(t) = Π(1 − d_i/n_i); the product itself is a
    * client-side fold over this tiny table, kept OUT of the output so
    * the contract stays pure integer (the driver-hash lesson: a
    * cumulative double product is the least portable expression there
    * is). Every user is uncensored here (the fixture window closed),
    * the standard complete-data special case.
    *
    * Scale: lifetimes are one combinable groupBy(user); the life table
    * is one groupBy(lifetime) plus a cumulative window over DISTINCT
    * lifetime values — calendar-bounded (≤ observation window in
    * days), never user-bounded, so the single-task window holds at any
    * corpus size. */
  def survivalQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val life = t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"))
      .groupBy($"user_id")
      .agg(expr("(max(tus) - min(tus)) div 86400000000").as("lifetime_days"))
    val byT = life.groupBy($"lifetime_days").agg(count(lit(1)).as("n_end"))
    val wCum = Window.orderBy($"lifetime_days")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(lit(0))
    byT
      .withColumn("n_risk",
        sum($"n_end").over(wAll) - coalesce(sum($"n_end").over(wCum), lit(0L)))
      .select($"lifetime_days", $"n_risk", $"n_end",
        expr("(10000 * n_end) div n_risk").as("hazard_bp"))
      .orderBy($"lifetime_days")
  }

  val survivalSql: String =
    """WITH life AS (
      |  SELECT user_id,
      |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
      |      AS lifetime_days
      |  FROM events GROUP BY user_id),
      |tab AS (
      |  SELECT lifetime_days, COUNT(*) AS n_end FROM life GROUP BY 1),
      |km AS (
      |  SELECT lifetime_days, n_end,
      |    CAST(SUM(n_end) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(n_end) OVER (ORDER BY lifetime_days
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS n_risk
      |  FROM tab)
      |SELECT lifetime_days, n_risk, CAST(n_end AS BIGINT) AS n_end,
      |  (10000 * n_end) // n_risk AS hazard_bp
      |FROM km ORDER BY lifetime_days""".stripMargin

  /** q_label_churn entry: leakage-safe churn-label construction — the
    * supervised-training-set builder for retention models: a cutoff 7
    * days before the corpus end splits time into a FEATURE window
    * (activity counts, recency, purchases — computed strictly before
    * the cutoff) and a LABEL window (churned = zero events at-or-after
    * it). The split-by-time discipline is the whole point: computing
    * any feature over the label window is target leakage, and this
    * operator encodes the boundary once so every downstream model
    * inherits it.
    *
    * Scale shape: the cutoff is a 1-row broadcast (audit-whitelisted);
    * features and the label flag fold into ONE combinable
    * groupBy(user) of conditional aggregates over one scan. Pure
    * integer outputs (recency in whole hours). */
  def churnQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = t(s, dir, "events")
      .agg((max(unix_micros($"ts")) - 7L * 86400L * 1000000L).as("cut"))
    t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tu"), $"event_type")
      .crossJoin(broadcast(cutoff))
      .groupBy($"user_id")
      .agg(
        sum(($"tu" < $"cut").cast("long")).as("n_before"),
        sum(($"tu" < $"cut" && $"event_type" === "purchase").cast("long"))
          .as("n_purchases"),
        max(when($"tu" < $"cut", $"tu")).as("last_before"),
        max($"cut").as("cut"),
        sum(($"tu" >= $"cut").cast("long")).as("n_after"))
      .filter($"n_before" > 0)
      .select($"user_id",
        expr("(cut - last_before) div 3600000000").as("recency_hours"),
        $"n_before".cast("long").as("n_events"),
        $"n_purchases".cast("long").as("n_purchases"),
        ($"n_after" === 0).cast("int").as("churned"))
      .filter($"user_id" < 300)
      .orderBy($"user_id")
  }

  val churnSql: String =
    """WITH cut AS (
      |  SELECT MAX(epoch_us(ts)) - 7::BIGINT * 86400 * 1000000 AS cut
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN epoch_us(ts) < cut THEN 1 ELSE 0 END) AS n_before,
      |    SUM(CASE WHEN epoch_us(ts) < cut AND event_type = 'purchase'
      |        THEN 1 ELSE 0 END) AS n_purchases,
      |    MAX(CASE WHEN epoch_us(ts) < cut THEN epoch_us(ts) END)
      |      AS last_before,
      |    MAX(cut) AS cut,
      |    SUM(CASE WHEN epoch_us(ts) >= cut THEN 1 ELSE 0 END) AS n_after
      |  FROM events, cut GROUP BY user_id)
      |SELECT user_id,
      |  CAST((cut - last_before) // 3600000000 AS BIGINT) AS recency_hours,
      |  CAST(n_before AS BIGINT) AS n_events,
      |  CAST(n_purchases AS BIGINT) AS n_purchases,
      |  CAST(CASE WHEN n_after = 0 THEN 1 ELSE 0 END AS INT) AS churned
      |FROM u WHERE n_before > 0 AND user_id < 300
      |ORDER BY user_id""".stripMargin

  /** q_attribution_ushape entry: POSITION-BASED (U-shaped) multi-touch
    * attribution — where q_attribution gives the last touch ALL credit,
    * the U-shaped model splits each purchase's value across its WHOLE
    * 1-hour touch journey: 1 touch → 100%; 2 → 50/50; k ≥ 3 → 40%
    * first, 40% last, 20% shared by the middles — the standard
    * marketing-mix compromise between first-touch (discovery) and
    * last-touch (closing) bias. Rolled up to credited value per touch
    * type.
    *
    * Scale shape: purchases interval-join their preceding touches on
    * user_id (the suite's standard user-keyed range join), positions
    * come from one (purchase, ts) window over the joined frame, and
    * the rollup is a combinable groupBy over ≤ |types| rows.
    * Determinism: credit fractions are exact CASE arithmetic over
    * integer positions; each credited value rounds to 9 dp and sums as
    * DECIMAL(28,9). */
  def ushapeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = t(s, dir, "events")
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("pid"),
        $"ts".as("pts"), $"value")
    val touch = e.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("tid"), $"event_type".as("ttype"),
        $"ts".as("tts"))
    val joined = p.join(touch, $"pu" === $"user_id" &&
      $"tts" < $"pts" && $"tts" >= $"pts" - expr("INTERVAL 1 HOUR"))
    val w = Window.partitionBy($"pid").orderBy($"tts", $"tid")
    val credit = joined
      .withColumn("pos", row_number().over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy($"pid")))
      .withColumn("frac",
        when($"k" === 1, lit(1d))
          .when($"k" === 2, lit(0.5d))
          .when($"pos" === 1 || $"pos" === $"k", lit(0.4d))
          .otherwise(lit(0.2d) / ($"k" - 2)))
    credit
      .groupBy($"ttype")
      .agg(count(lit(1)).as("n_touches"),
        sum(round($"value" * $"frac", 9).cast("decimal(28,9)")).as("cv"))
      .select($"ttype".as("touch_type"), $"n_touches",
        round($"cv".cast("double"), 6).as("credited_value"))
      .orderBy($"touch_type")
  }

  val ushapeSql: String =
    """WITH p AS (
      |  SELECT user_id AS pu, event_id AS pid, ts AS pts, value
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id, event_id AS tid, event_type AS ttype, ts AS tts
      |  FROM events WHERE event_type IN ('view', 'click')),
      |j AS (
      |  SELECT pid, value, tid, ttype, tts
      |  FROM p JOIN touch ON pu = user_id
      |    AND tts < pts AND tts >= pts - INTERVAL 1 HOUR),
      |pos AS (
      |  SELECT pid, value, ttype,
      |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS pos,
      |    COUNT(*) OVER (PARTITION BY pid) AS k
      |  FROM j),
      |credit AS (
      |  SELECT ttype, value,
      |    CASE WHEN k = 1 THEN 1.0::DOUBLE
      |         WHEN k = 2 THEN 0.5::DOUBLE
      |         WHEN pos = 1 OR pos = k THEN 0.4::DOUBLE
      |         ELSE 0.2::DOUBLE / (k - 2) END AS frac
      |  FROM pos)
      |SELECT ttype AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  ROUND(CAST(SUM(CAST(ROUND(value * frac, 9) AS DECIMAL(28,9)))
      |    AS DOUBLE), 6) AS credited_value
      |FROM credit GROUP BY ttype ORDER BY touch_type""".stripMargin

  /** q_funnel_latency entry: TIME-TO-CONVERT percentiles — for every
    * view that converts (first same-user purchase within the hour),
    * the latency in seconds, profiled by the view's hour of day:
    * conversion rate (basis points), exact p50/p90 latency (ordered-
    * row discrete percentiles, the [[Profile.percentileDiscQ]]
    * discipline), and the mean. q_event_funnel counts conversions;
    * THIS is the "how fast" readout that sizes retargeting windows and
    * stream-join watermarks (a p90 of 40 min says a 1 h join interval
    * is right; 59 min says it's truncating).
    *
    * Scale shape: the interval join rides the user_id equi-key
    * (per-user groups bounded); latencies collapse to one row per
    * CONVERTING view; the percentile window partitions by hour (24
    * groups) over that reduced frame. Latencies are exact integer
    * seconds (µs div 1e6) — no FP until the final mean division. */
  def funnelLatencyQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = t(s, dir, "events")
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val conv = v.join(p, $"user_id" === $"pu" &&
        $"pts" >= $"view_ts" &&
        $"pts" <= $"view_ts" + expr("INTERVAL 1 HOUR"))
      .groupBy($"view_id", $"view_ts")
      .agg(min(unix_micros($"pts")).as("first_us"))
      .select(hour($"view_ts").cast("long").as("h"),
        expr("(first_us - unix_micros(view_ts)) div 1000000").as("lat_s"))
    val byH = Window.partitionBy($"h").orderBy($"lat_s")
    val allH = Window.partitionBy($"h")
    val ranked = conv
      .withColumn("rn", row_number().over(byH))
      .withColumn("n", count(lit(1)).over(allH))
    val stats = ranked.groupBy($"h")
      .agg(max($"n").as("n_conv"),
        sum($"lat_s").as("sum_lat"),
        max(when($"rn" === expr("(50 * n + 99) div 100"), $"lat_s")).as("p50_s"),
        max(when($"rn" === expr("(90 * n + 99) div 100"), $"lat_s")).as("p90_s"))
    val views = v.groupBy(hour($"view_ts").cast("long").as("h"))
      .agg(count(lit(1)).as("n_views"))
    views.join(stats, "h")
      .select($"h", $"n_views", $"n_conv",
        expr("(10000 * n_conv) div n_views").as("cr_bp"),
        $"p50_s", $"p90_s",
        round($"sum_lat".cast("double") / $"n_conv", 6).as("mean_s"))
      .orderBy($"h")
  }

  val funnelLatencySql: String =
    """WITH v AS (
      |  SELECT user_id, event_id AS view_id, ts AS view_ts
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id AS pu, ts AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |conv AS (
      |  SELECT hour(view_ts) AS h,
      |    (MIN(epoch_us(pts)) - epoch_us(view_ts)) // 1000000 AS lat_s
      |  FROM v JOIN p ON user_id = pu
      |    AND pts >= view_ts AND pts <= view_ts + INTERVAL 1 HOUR
      |  GROUP BY view_id, view_ts),
      |r AS (
      |  SELECT h, lat_s,
      |    row_number() OVER (PARTITION BY h ORDER BY lat_s) AS rn,
      |    COUNT(*) OVER (PARTITION BY h) AS n
      |  FROM conv),
      |st AS (
      |  SELECT h, CAST(MAX(n) AS BIGINT) AS n_conv,
      |    CAST(SUM(lat_s) AS BIGINT) AS sum_lat,
      |    MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN lat_s END) AS p50_s,
      |    MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN lat_s END) AS p90_s
      |  FROM r GROUP BY h),
      |vh AS (SELECT hour(view_ts) AS h, CAST(COUNT(*) AS BIGINT) AS n_views
      |  FROM v GROUP BY 1)
      |SELECT vh.h, vh.n_views, st.n_conv,
      |  (10000 * st.n_conv) // vh.n_views AS cr_bp,
      |  st.p50_s, st.p90_s,
      |  ROUND(CAST(sum_lat AS DOUBLE) / st.n_conv, 6) AS mean_s
      |FROM vh JOIN st ON vh.h = st.h
      |ORDER BY vh.h""".stripMargin

  /** q_behavior_stickiness entry: DAU / WAU / MAU engagement table per
    * event type — average daily, ISO-week, and calendar-month distinct
    * users plus the DAU/MAU STICKINESS ratio (the "how many of your
    * monthlies show up daily" product metric every engagement dashboard
    * leads with; 1.0 = everyone daily, ~0.03 = monthly-only drift).
    * Averages weight each calendar bucket equally (the dashboard
    * convention), so the ratio is avg-DAU over avg-MAU.
    *
    * Scale shape: three combinable distinct-count rollups (day, week,
    * month — each one exchange keyed by (type, bucket)) collapsing to a
    * ≤ series-count frame each; the final assembly is a 3-way join of
    * bounded frames. Determinism: exact distinct counts; two divisions
    * at 6 dp. */
  def stickinessQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_type", $"user_id", $"ts")
    val dau = ev.groupBy($"event_type", to_date($"ts").as("d"))
      .agg(countDistinct($"user_id").as("u"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"u").as("su"))
    val wau = ev.groupBy($"event_type",
        year($"ts").as("y"), weekofyear($"ts").as("w"))
      .agg(countDistinct($"user_id").as("u"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_weeks"), sum($"u").as("sw"))
    val mau = ev.groupBy($"event_type", date_trunc("month", $"ts").as("m"))
      .agg(countDistinct($"user_id").as("u"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_months"), sum($"u").as("sm"))
    dau.join(wau, "event_type").join(mau, "event_type")
      .select($"event_type", $"n_days", $"n_weeks", $"n_months",
        round($"su".cast("double") / $"n_days", 6).as("avg_dau"),
        round($"sw".cast("double") / $"n_weeks", 6).as("avg_wau"),
        round($"sm".cast("double") / $"n_months", 6).as("avg_mau"),
        round(($"su".cast("double") / $"n_days")
          / ($"sm".cast("double") / $"n_months"), 6).as("stickiness"))
      .orderBy($"event_type")
  }

  val stickinessSql: String =
    """WITH dau AS (
      |  SELECT event_type, COUNT(*) AS n_days, SUM(u) AS su FROM (
      |    SELECT event_type, CAST(ts AS DATE) AS d,
      |      COUNT(DISTINCT user_id) AS u
      |    FROM events GROUP BY 1, 2) GROUP BY 1),
      |wau AS (
      |  SELECT event_type, COUNT(*) AS n_weeks, SUM(u) AS sw FROM (
      |    SELECT event_type, year(ts) AS y, weekofyear(ts) AS w,
      |      COUNT(DISTINCT user_id) AS u
      |    FROM events GROUP BY 1, 2, 3) GROUP BY 1),
      |mau AS (
      |  SELECT event_type, COUNT(*) AS n_months, SUM(u) AS sm FROM (
      |    SELECT event_type, date_trunc('month', ts) AS m,
      |      COUNT(DISTINCT user_id) AS u
      |    FROM events GROUP BY 1, 2) GROUP BY 1)
      |SELECT event_type,
      |  CAST(n_days AS BIGINT) AS n_days,
      |  CAST(n_weeks AS BIGINT) AS n_weeks,
      |  CAST(n_months AS BIGINT) AS n_months,
      |  ROUND(CAST(su AS DOUBLE) / n_days, 6) AS avg_dau,
      |  ROUND(CAST(sw AS DOUBLE) / n_weeks, 6) AS avg_wau,
      |  ROUND(CAST(sm AS DOUBLE) / n_months, 6) AS avg_mau,
      |  ROUND((CAST(su AS DOUBLE) / n_days)
      |    / (CAST(sm AS DOUBLE) / n_months), 6) AS stickiness
      |FROM dau JOIN wau USING (event_type) JOIN mau USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** q_behavior_absorbing entry: ABSORBING MARKOV CHAIN value
    * iteration — treat 'purchase' as an absorbing state of the
    * [[transitionsQ]] chain and compute, per transient state, the
    * horizon-8 expected steps to absorption t⁽ᵏ⁺¹⁾ = 1 + Q·t⁽ᵏ⁾ and
    * absorption probability a⁽ᵏ⁺¹⁾ = P[·,purchase] + Q·a⁽ᵏ⁾ (the
    * fundamental-matrix quantities (I−Q)⁻¹1 and (I−Q)⁻¹R, computed by
    * truncated value iteration instead of a matrix inverse — the form
    * that runs distributed). "How many interactions until conversion,
    * starting from a view?" is the funnel question the raw transition
    * matrix can't answer; the horizon-8 truncation is explicit in the
    * column names (a longer horizon is more unrolled rounds).
    *
    * Scale shape: ONE corpus pass builds the transition frame
    * (checkpointed — eight unrolled iterations would otherwise embed
    * eight copies of the corpus aggregation in the final plan); every
    * iteration is a join + combinable groupBy over the
    * |states|²-bounded frame. The [[graft.ops.Graph.pagerankQ]]
    * determinism contract: exact-integer transition ratios, per-term
    * 9-dp rounds summed as DECIMAL(28,9), re-round per iteration. */
  def absorbingQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Session.ensureCheckpointDir(s)
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val q = t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("src"))
      .withColumn("dst", lead($"src", 1).over(wSeq))
      .filter($"dst".isNotNull && $"src" =!= "purchase")
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum($"n").over(Window.partitionBy($"src")))
      .select($"src", $"dst", $"n",
        ($"n".cast("double") / $"tot").as("p"))
      .checkpoint()
    var st = q.select($"src".as("state")).distinct()
      .withColumn("t", lit(0.0)).withColumn("a", lit(0.0))
    for (_ <- 1 to 8) {
      st = q
        .join(st.select($"state".as("dst"), $"t", $"a"), Seq("dst"), "left")
        .groupBy($"src")
        .agg(
          sum(round($"p" * coalesce($"t", lit(0.0)), 9)
            .cast("decimal(28,9)")).cast("double").as("qt"),
          sum(round($"p" * when($"dst" === "purchase", lit(1.0))
            .otherwise(coalesce($"a", lit(0.0))), 9)
            .cast("decimal(28,9)")).cast("double").as("qa"))
        .select($"src".as("state"),
          round(lit(1.0) + $"qt", 9).as("t"), round($"qa", 9).as("a"))
    }
    val direct = q.filter($"dst" === "purchase")
      .select($"src".as("state"), round($"p", 6).as("p_purchase_1step"))
    val outs = q.groupBy($"src".as("state"))
      .agg(sum($"n").as("n_out"))
    st.join(outs, "state").join(direct, Seq("state"), "left")
      .select($"state", $"n_out".cast("long").as("n_out"),
        coalesce($"p_purchase_1step", lit(0.0)).as("p_purchase_1step"),
        $"t".as("exp_steps_h8"), $"a".as("p_absorbed_h8"))
      .orderBy($"state")
  }

  val absorbingSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT q.src AS state,
         |    ROUND(1.0 + CAST(SUM(CAST(ROUND(q.p * COALESCE(p.t, 0.0), 9)
         |      AS DECIMAL(28,9))) AS DOUBLE), 9) AS t,
         |    ROUND(CAST(SUM(CAST(ROUND(q.p * (CASE WHEN q.dst = 'purchase'
         |        THEN 1.0 ELSE COALESCE(p.a, 0.0) END), 9)
         |      AS DECIMAL(28,9))) AS DOUBLE), 9) AS a
         |  FROM q LEFT JOIN $prev p ON q.dst = p.state GROUP BY 1)"""
        .stripMargin
    s"""WITH seq AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events),
      |cnt AS (
      |  SELECT src, dst, COUNT(*) AS n FROM seq
      |  WHERE dst IS NOT NULL AND src <> 'purchase' GROUP BY 1, 2),
      |q AS (
      |  SELECT src, dst, n,
      |    CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src) AS p
      |  FROM cnt),
      |k0 AS (SELECT DISTINCT src AS state, 0.0::DOUBLE AS t,
      |  0.0::DOUBLE AS a FROM q),
      |${iter("k0", "k1")},
      |${iter("k1", "k2")},
      |${iter("k2", "k3")},
      |${iter("k3", "k4")},
      |${iter("k4", "k5")},
      |${iter("k5", "k6")},
      |${iter("k6", "k7")},
      |${iter("k7", "k8")},
      |outs AS (SELECT src AS state, SUM(n) AS n_out FROM q GROUP BY 1),
      |direct AS (
      |  SELECT src AS state, ROUND(p, 6) AS p1 FROM q
      |  WHERE dst = 'purchase')
      |SELECT k8.state, CAST(o.n_out AS BIGINT) AS n_out,
      |  COALESCE(d.p1, 0.0) AS p_purchase_1step,
      |  k8.t AS exp_steps_h8, k8.a AS p_absorbed_h8
      |FROM k8 JOIN outs o ON k8.state = o.state
      |LEFT JOIN direct d ON k8.state = d.state
      |ORDER BY k8.state""".stripMargin
  }

  /** q_behavior_decay entry: EXPONENTIALLY TIME-DECAYED engagement
    * scores — the feature-store staple (recency-weighted activity:
    * each event contributes exp(−ln2·age/half-life), half-life 7 days,
    * anchored at the fixed window end 2024-01-31): a user active
    * yesterday outscores one equally active three weeks ago, without
    * any hard recency cutoff. The same shape scores crawl sources by
    * recency-weighted yield. Reported per user: raw event count vs
    * decayed count and decayed value — the ranking differences between
    * the two columns ARE the operator's point.
    *
    * Determinism: each event's decay term is one shared IEEE
    * expression rounded to 9 dp; per-user sums merge as DECIMAL(28,9)
    * (order-independent), value-weighted terms at 6 dp as
    * DECIMAL(38,6). One combinable groupBy — scan-speed at 100 TB;
    * the fixed anchor keeps the score reproducible (a NOW()-anchored
    * score is recomputed per run by construction, same plan). */
  def decayQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact integer microseconds on both sides (a seconds-level cast
    // would TRUNCATE sub-second timestamps differently than the oracle)
    val ageDays = (unix_micros(lit("2024-01-31 00:00:00").cast("timestamp"))
      - unix_micros($"ts")).cast("double") / lit(86400.0e6)
    val term = round(exp(lit(-0.09902102579427789) * ageDays), 9)
    t(s, dir, "events")
      .select($"user_id", $"value", term.as("w"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"w".cast("decimal(28,9)")).as("dc"),
        sum(round($"w" * $"value", 6).cast("decimal(38,6)")).as("dv"))
      .select($"user_id", $"n_events".cast("long").as("n_events"),
        round($"dc".cast("double"), 6).as("decayed_count"),
        round($"dv".cast("double"), 6).as("decayed_value"))
      .orderBy($"user_id")
  }

  /** Oracle twin: −ln(2)/7 is pinned as its decimal literal on both
    * sides so the per-event exponent is the identical double. */
  val decaySql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ROUND(CAST(SUM(CAST(ROUND(EXP(-0.09902102579427789 *
      |    (CAST(epoch_us(TIMESTAMP '2024-01-31 00:00:00')
      |      - epoch_us(ts) AS DOUBLE) / 86400.0e6)), 9)
      |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS decayed_count,
      |  ROUND(CAST(SUM(CAST(ROUND(ROUND(EXP(-0.09902102579427789 *
      |    (CAST(epoch_us(TIMESTAMP '2024-01-31 00:00:00')
      |      - epoch_us(ts) AS DOUBLE) / 86400.0e6)), 9) * value, 6)
      |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS decayed_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q_seq_paths entry: TOP USER JOURNEYS — each user's first four
    * events as an ordered path string, counted across users: the
    * Sankey/flow-diagram feed every product-analytics tool renders,
    * and the k-step generalization of [[transitionsQ]]'s one-step
    * matrix (a first-order chain CANNOT distinguish view>click>view>
    * purchase from click>view>view>purchase; the path census can).
    *
    * Scale shape: one ranked window per user (shards by user) keeps
    * only 4 rows each; the path string assembles from a per-user
    * bounded collect (≤ 4 structs — never a corpus-sized array); the
    * census is a combinable groupBy over ≤ |types|⁴ strings. Ties are
    * pinned by (ts, event_id); the top-20 cut orders (count DESC,
    * path). Pure strings and integers — no FP contract. */
  def pathsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val paths = t(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("rn", row_number().over(wSeq))
      .filter($"rn" <= 4)
      .groupBy($"user_id")
      .agg(array_join(expr(
          """transform(array_sort(collect_list(struct(rn, event_type))),
            |  x -> x.event_type)""".stripMargin), ">").as("path"),
        count(lit(1)).as("plen"))
      .filter($"plen" === 4)
    paths.groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy($"n_users".desc, $"path").limit(20)
      .select($"path", $"n_users".cast("long").as("n_users"))
  }

  val pathsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM events),
      |p AS (
      |  SELECT user_id,
      |    string_agg(event_type, '>' ORDER BY rn) AS path,
      |    COUNT(*) AS plen
      |  FROM seq WHERE rn <= 4 GROUP BY user_id)
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM p WHERE plen = 4
      |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_seq_paths" -> pathsQ,
    "q_behavior_decay" -> decayQ,
    "q_behavior_absorbing" -> absorbingQ,
    "q_behavior_stickiness" -> stickinessQ,
    "q_funnel_latency" -> funnelLatencyQ,
    "q_attribution_ushape" -> ushapeQ,
    "q_label_churn" -> churnQ,
    "q_cohort_retention" -> retentionQ,
    "q_seq_transitions" -> transitionsQ,
    "q_rfm_segments" -> rfmQ,
    "q_attribution" -> attributionQ,
    "q_survival_km" -> survivalQ)

  def oracle: Map[String, String] = Map(
    "q_seq_paths" -> pathsSql,
    "q_behavior_decay" -> decaySql,
    "q_behavior_absorbing" -> absorbingSql,
    "q_behavior_stickiness" -> stickinessSql,
    "q_funnel_latency" -> funnelLatencySql,
    "q_attribution_ushape" -> ushapeSql,
    "q_label_churn" -> churnSql,
    "q_cohort_retention" -> retentionSql,
    "q_seq_transitions" -> transitionsSql,
    "q_rfm_segments" -> rfmSql,
    "q_attribution" -> attributionSql,
    "q_survival_km" -> survivalSql)
}
