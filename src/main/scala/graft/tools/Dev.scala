package graft.tools

/** Dev utilities: smoke-run the flagship entry, explain/run any named
  * query from SparkEntry.queries, or sweep every plan for red flags.
  *
  * Usage:
  *   tools/run.sh graft.tools.Dev entry
  *   tools/run.sh graft.tools.Dev explain <name> [sfDir]
  *   tools/run.sh graft.tools.Dev show <name> [sfDir]
  *   tools/run.sh graft.tools.Dev audit [_] [sfDir]
  */
object Dev {
  /** Queries whose single-partition window runs over a frame BOUNDED
    * BY CONSTRUCTION (a per-group collapse to at most dozens of rows
    * — group cardinality, not data volume). Anything NOT named here
    * that plans a foldable-partition window is flagged by `audit`:
    * route it through [[graft.ops.Rank.orderedPrefix]]. */
  val boundedGlobalWindow: Map[String, String] = Map(
    "q_dedup_yield" -> "per-crawl-batch grid (rows = #batches, not docs)",
    "q_embed_dims" -> "64-row dimension-variance frame",
    "q_er_em" -> "6-cell (name_lvl x tok1_agree) pattern grid",
    "q_er_fellegi_sunter" -> "6-cell pattern grid",
    "q_eval_lift" -> "10-row decile frame (cut itself is Rank-distributed)",
    "q_graph_adamic_adar" -> "25-node nation-graph edge/threshold frames",
    "q_graph_assortativity" -> "25-node nation-graph edge frames",
    "q_graph_communities" -> "25-node nation-graph frames",
    "q_graph_conductance" -> "25-node nation-graph frames",
    "q_graph_diameter" -> "25-node nation-graph frames",
    "q_graph_kcore" -> "25-node nation-graph frames",
    "q_graph_motifs" -> "25-node nation-graph frames",
    "q_graph_neighbor_sim" -> "25-node nation-graph frames",
    "q_graph_powerlaw" -> "degree-distribution frame (<=25 degrees)",
    "q_graph_richclub" -> "25-node nation-graph frames",
    "q_pref_bt" -> "5-row event-type strength frame",
    "q_privacy_rr" -> "5-row category frame",
    "q_profile_abc" -> ("revenue-bucket carry frame (two-level prefix; " +
      "rows cumulate bucket-locally)"),
    "q_rec_coverage" -> "item-bounded recommendation lists",
    "q_sample_neyman" -> "5-row mktsegment strata frame",
    "q_shard_ring" -> "<=145-row ring-interval + 9-node frames",
    "q_skyline" -> ("#partitions-row per-partition-maxima carry frame " +
      "(two-level prefix)"),
    "q_stat_ab_lift" -> "purchase-count histogram (count-domain bounded)",
    "q_stat_bh" -> "|event-types|-row p-value frame",
    "q_stat_cuped" -> "2-row arm frame",
    "q_stat_dw" -> "calendar-bounded day-series frame",
    "q_stat_grubbs" -> "25-row per-nation mean frame",
    "q_stat_gtest" -> "(event_type x band) cell frame",
    "q_stat_jackknife" -> "20-row delete-group frame",
    "q_stat_logrank" -> "calendar-bounded distinct-lifetime frame",
    "q_stat_power" -> "purchase-count histogram (ab_lift design)",
    "q_stat_runs" -> "31-row January day frame",
    "q_stat_standardize" -> "25-row nation strata frame",
    "q_stat_welch_anova" -> "per-group moment frame (k groups)",
    "q_survival_km" -> "calendar-bounded life table (documented)",
    "q_text_heaps" -> "16-bucket growth grid",
    "q_ts_concurrency" -> "day-bucket carry frame (two-level prefix)",
    "q_ts_dtw" -> "time-bounded series wavefront frames",
    "q_ts_dtw_band" -> "time-bounded series wavefront frames",
    "q_ts_hurst" -> "4-row block-size frame over the time-bounded grid",
    "q_ts_reconcile" -> "calendar-bounded day frame",
    "q_ts_xcorr" -> "calendar-bounded day frame",
    "q_win_distribution" -> ("Tier-D surface: the query IS the global " +
      "cume_dist/percent_rank/ntile semantics under test"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-dev")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    args(0) match {
      case "entry" =>
        val df = graft.SparkEntry.entry(spark)
        println(s"ENTRY ROWS: ${df.count()}")
        df.show(5, truncate = false)
      case "explain" =>
        graft.SparkEntry.queries(args(1))(spark, dir).explain("formatted")
      case "finalplan" =>
        // the AQE FINAL plan (after execution): shows runtime join
        // strategy changes, coalesced reads, and whether identical
        // exchanges were stage-reused (ReusedQueryStage/ReusedExchange)
        val df = graft.SparkEntry.queries(args(1))(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        println(df.queryExecution.executedPlan.toString)
      case "show" =>
        val df = graft.SparkEntry.queries(args(1))(spark, dir)
        df.show(20, truncate = false)
        println(s"ROWS: ${df.count()}")
      case "knnprobe" =>
        // recall-margin probe for the kNN-graph gate: distribution of
        // per-query exact-top-5 hits (gate health = how far the min sits
        // above the threshold)
        import org.apache.spark.sql.functions._
        val g = graft.ops.Similarity.knnGraphCheck(spark, dir)
        println(s"twin-gate rows: ${g.count()}")
        graft.ops.Similarity.knnGraphHits(spark, dir)
          .groupBy(col("hits")).count().orderBy(col("hits")).show()
      case "sql" =>
        // raw SQL probe against the registered test tables
        graft.Tables.registerAll(spark, dir)
        graft.functions.GraftFunctions.register(spark)
        val t0 = System.nanoTime()
        spark.sql(args(1)).show(50, truncate = false)
        println(f"SQL WALL: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      case "sqltime" =>
        // warm noop-sink timing of a raw SQL probe: N iterations in one
        // JVM (first is codegen/JIT warmup), per-iteration wall printed —
        // the micro-A/B harness for isolating a pipeline stage's cost
        graft.Tables.registerAll(spark, dir)
        graft.functions.GraftFunctions.register(spark)
        val iters = if (args.length > 3) args(3).toInt else 3
        def gcMs(): Long = {
          import scala.jdk.CollectionConverters._
          java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
            .asScala.map(_.getCollectionTime).sum
        }
        val report = StageReport(spark)
        for (i <- 0 until iters) {
          if (i == iters - 1) report.reset()
          val g0 = gcMs()
          val t0 = System.nanoTime()
          spark.sql(args(1)).write.format("noop").mode("overwrite").save()
          println(f"SQLTIME iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s gc=${(gcMs() - g0) / 1e3}%.2f s")
        }
        report.print()
      case "dump" =>
        // single-query verify dump (same shape Verify.scala writes), so
        // one new query can be oracle-checked without a full sweep
        graft.SparkEntry.queries(args(1))(spark, dir)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"/tmp/graft_dump/${args(1)}")
        println(s"DUMPED /tmp/graft_dump/${args(1)}")
      case "digests" =>
        // value-level content digest per testdata table (the canary pins)
        graft.Tables.names.foreach { n =>
          val d = graft.ops.Profile.contentDigest(graft.Tables.t(spark, dir, n))
          println(s"$n $d")
        }
      case "lint" =>
        // output-path FP-parity lint (see Lint.scala): flag any query
        // whose final output region rounds a double and casts it to
        // DECIMAL — the recurring driver-hash fragility class
        var bad = 0
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try {
            val offenses = Lint.roundDecimalOffenses(fn(spark, dir))
            if (offenses.nonEmpty) {
              bad += 1
              println(s"$name FLAG: ${offenses.mkString("; ")}")
            } else println(s"$name ok")
          } catch { case e: Throwable =>
            println(s"$name ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}")
          }
          spark.catalog.clearCache()
        }
        println(s"LINT ${if (bad == 0) "CLEAN" else s"$bad FLAGGED"}")
      case "audit" =>
        // plan red-flag sweep over every registered query: cartesians
        // (outside the documented bounded grid), nested-loop joins, and
        // unpruned scans — a scan reading EVERY column of a wide table
        // means projection pruning regressed (small dims like nation /
        // region legitimately read whole rows, hence the width floor)
        // nested-loop joins whose broadcast side is BOUNDED by construction
        // (a 1-row totals frame, a ≤10-row query-vector set, the 25-cell
        // region×nation grid) are the documented intent, not a red flag —
        // the audit names them so a NEW unbounded one still trips
        val boundedBroadcast = Map(
          "q_join_cross" -> "25-cell region x nation grid",
          "q_drift_psi" -> "1-row totals frame",
          "q_stat_cuped" -> "1-row pooled-moments frame",
          "q_sample_ht" -> "1-row population-total frame (W for the pi = k*w/W inclusion map)",
          "q_stat_bland_altman" -> "1-row bias/limits frame over the user-bounded diff frame",
          "q_stat_effect_size" -> "two 1-row moment/rank-sum frames",
          "q_stat_dw" -> "1-row OLS-coefficient frame over the calendar-bounded day frame",
          "q_eval_err" -> "1-row (n_docs, avgdl) stats frame (BM25 scoring)",
          "q_graph_ppr" -> "1-row seed-argmax frame over the 25-node rank iteration",
          "q_shard_range_bounds" -> "1-row sample-count + 1-row 7-boundary array frames",
          "q_privacy_dp_quantile" -> "1-row true-median frame x 1-row winner frame",
          "q_join_bloom" -> "five 1-row count frames (audit report row)",
          "q_bloom_tune" -> "4-cell sizing grid x 1-row filter-stat/count frames",
          "q_graph_conductance" -> "25-node nation-graph cut/volume frames",
          "q_graph_richclub" -> "25-node nation-graph degree-threshold frames",
          "q_label_fleiss" -> "1-row rater-totals frame",
          "q_repair_hampel" -> "bounded per-series calendar grid dim (rows = series count)",
          "q_stat_brunner_munzel" -> "1-row rank-sum totals frame over the value-bounded midrank frame",
          "q_stat_moods_median" -> "1-row global-median frame",
          "q_ts_dtw" -> "bounded per-series calendar grid dim (wavefront recursion)",
          "q_ts_dtw_band" -> "bounded per-series calendar grid dim (banded wavefront)",
          "q_ts_page_hinkley" -> "bounded per-series calendar grid dim (rows = series count)",
          "q_ts_turning_points" -> "bounded per-series calendar grid dim (rows = series count)",
          "q_eval_rank_agreement" -> "<=10-row shared-depth pair triangle (both rankings top-10)",
          "q_join_salted" -> "64x16 salted dim grid (bounded by construction)",
          "q_ts_ljungbox" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_mase" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_walsh" -> "bounded per-series grid dim x 63-row sequency dim",
          "q_er_blocking_quality" -> "two 1-row count frames",
          "q_ts_reconcile" -> "1-row direct-total forecast frame",
          "q_stat_permutation" -> "1-row observed-statistic frame over the B x days grid",
          "q_stat_yuen" -> "two 1-row group-stat frames",
          "q_curate_coverage" -> "per-round 1-row pick/coverage frames + 1-row universe frame",
          "q_eval_rbo" -> "10-row depth dim x <=10-row rank intersection (bounded theta join)",
          "q_graph_powerlaw" -> "1-row d_min order-statistic + 1-row tail-fit frames",
          "q_text_burrows" -> "|sources|-row totals x 20-row MFW panel grid (bounded dims)",
          "q_stat_hodges_lehmann" -> "60x60 fixed-size md5 panel pair grid",
          "q_ts_pacf" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_shard_ring" -> "<=145-row ring-interval broadcast (range predicate)",
          "q_privacy_exponential" -> "source x lang public-domain candidate grid (bounded dims)",
          "q_profile_histogram" -> "1-row min/max frame",
          "q_text_tfidf" -> "1-row corpus-size frame",
          "q_text_bm25" -> "1-row (n_docs, avgdl) stats frame",
          "q_agg_heavy_hitters" -> "1-row total-count frame",
          "q_text_lm_score" -> "1-row vocabulary-size frame",
          "q_vocab_top" -> "1-row total-tokens frame",
          "q_not_in_nulls" -> "null-aware anti join (NOT IN three-valued logic forces NLJ; bounded key subquery)",
          "q_ts_resample" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_seasonal" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_trend" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_agg_cms" -> "1-row CMS grid + 1-row total frame",
          "q_profile_overview" -> "1-row per-column profile frame (stack pivot)",
          "q_drift_ks" -> "1-row (n1, n2) totals frame",
          "q_drift_hellinger" -> "1-row (n1, n2) totals frame over the 20-bin histogram",
          "q_drift_vocab_jsd" -> "1-row (n1, n2, v) totals frame over the vocab collapse",
          "q_ts_ewma_chart" -> "bounded per-series calendar grid dim (rows = series count, not events)",
          "q_stat_chi2" -> "1-row (n, nr, nc) totals frame",
          "q_stat_mi" -> "1-row totals + two 1-row entropy frames",
          "q_validate_fk" -> "six (1-row x 1-row) per-edge count frames",
          "q_embed_pca" -> "1-row norm/trace frames + 64-row broadcast vector",
          "q_embed_spectrum" -> "1-row norm/trace frames + 64-row broadcast vectors (deflated pass)",
          "q_embed_cka" -> "4-row width grid x 1-row cross-moment frame",
          "q_profile_benford" -> "1-row total frame over the 9-digit table",
          "q_ts_acf" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_period" -> "bounded per-series grid dim x 35-row lag dim",
          "q_rfm_segments" -> "three 1-row quartile-bound frames",
          "q_sample_temperature" -> "1-row total-chars + 1-row normalizer frames",
          "q_text_pmi" -> "1-row (n_uni, n_pairs) totals frame",
          "q_profile_theil" -> "1-row totals frame",
          "q_drift_wasserstein" -> "1-row (n1, n2) totals frame",
          "q_embed_label_sim" -> "bounded |labels|^2 centroid-pair grid",
          "q_embed_silhouette" -> "1-row all-centroids frame (map-only distance pass)",
          "q_ts_cusum" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_dow_profile" -> "1-row total frame over the <=168-cell grid",
          "q_text_hapax" -> "1-row corpus-totals frame",
          "q_stat_ab_lift" -> "1-row median-threshold frame",
          "q_eval_brier" -> "two 1-row totals/decomposition frames over the 10-bin table",
          "q_similarity_topk" -> "bounded query-vector set",
          "q_embed_matryoshka" -> "bounded query-vector set per truncation width",
          "q_similarity_ann" -> "bounded query-vector set",
          "q_similarity_ivf" -> "bounded query-vector set",
          "q_similarity_ivf_search" -> "bounded query-vector set",
          "q_fuzzy_edit" -> "vocabulary-bounded distinct-name grid",
          "q_graph_neighbor_sim" ->
            "1-row p75 threshold frame + 25-node nation pair grid",
          "q_graph_adamic_adar" -> "1-row p75 threshold frames (strong-graph cut)",
          "q_graph_motifs" -> "1-row p75 threshold frame (strong-graph cut)",
          "q_minhash_sensitivity" -> "1-row truth-count totals frame",
          "q_sample_balanced" -> "1-row minority-class-count frame",
          "q_split_groupfold" -> "1-row event-total frame",
          "q_affinity_rules" -> "1-row basket-total frame",
          "q_rec_coverage" -> "three 1-row audit frames over the item-bounded lists",
          "q_graph_bfs" -> "1-row p75 threshold frame over the node-bounded edge list",
          "q_graph_kcore" -> "1-row p75 threshold frame over the node-bounded edge list",
          "q_graph_scc" -> "1-row p75 threshold frame over the node-bounded edge list",
          "q_stat_wilson" -> "1-row exact-median threshold frame",
          "q_bloom_fp" -> "two 1-row filter-stats frames",
          "q_profile_abc" -> "1-row total-revenue frame (used twice)",
          "q_stat_cramers" -> "1-row (n, nr, nc) totals frame (chi2 base)",
          "q_stat_kendall" -> "value-domain-bounded cell-pair grid (<=550 cells) + two 1-row tie frames",
          "q_stat_kruskal" -> "1-row (n, tie-sum) totals frame",
          "q_graph_hits" -> "1-row L1-normalization totals frames (six, one per half-step)",
          "q_sample_dsir" -> "1-row (raw, target) token-totals frame over the 256-bucket ratio table",
          "q_stat_runs" -> "1-row cross-day boundary-count frame",
          "q_ts_decompose" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_embed_hard_negatives" -> "bounded query-vector set (label-mismatch predicate)",
          "q_sample_negatives" -> "bounded customers x 25-value brand-domain grid",
          "q_bpe_train" -> "1-row best-pair frame per merge round (three)",
          "q_label_churn" -> "1-row cutoff-timestamp frame",
          "q_graph_assortativity" -> "1-row p75 threshold frame over the node-bounded edge list",
          "q_graph_modularity" -> "1-row total-weight frame over the 5-region partition table",
          "q_graph_communities" -> "1-row p90 threshold + 1-row total-weight frames over the node-bounded edge list",
          "q_stat_bh" -> "1-row (N, X) totals frame over the |types|-row test table",
          "q_text_ctfidf" -> "1-row average-class-size frame over the vocab-bounded weight table",
          "q_text_heaps" -> "1-row max-id frame + 1-row regression-fit frame over the 16-row grid",
          "q_drift_jsd" -> "1-row totals frame",
          "q_cluster_kmeans" -> "k-row (k=4) broadcast centroid frame per Lloyd round",
          "q_text_kneser_ney" -> "1-row bigram-type-count totals frame",
          "q_eval_ndcg" -> "1-row IDCG frame joined to the 1-row DCG frame",
          "q_eval_avgprec" -> "1-row class-totals frame broadcast over the score grid",
          "q_eval_mrr" -> "1-row (n_docs, avgdl) BM25 stats frame",
          "q_search_rocchio" -> "1-row BM25 stats frame in both scoring passes",
          "q_search_mmr" -> "1-row BM25 stats + 1-row max-score frame over the top-20 pool",
          "q_stat_power" -> "1-row median-threshold frame (ab_lift design)",
          "q_text_burstiness" -> "1-row doc-count frame",
          "q_agg_theta" -> "1-row theta + 1-row exact-counts frames",
          "q_validate_freshness" -> "bounded per-feed calendar grid dim (rows = feed count, not events)",
          "q_rank_fusion" -> "1-row (n_docs, avgdl) stats frame + 1-row query-vector frame (bm25 + cosine legs)",
          "q_coreset_kcenter" -> "1-row center-vector frame per greedy round + 1-row radius frame (k=8 bounded)",
          "q_bpe_encode" -> "1-row best-merge frame per round + 1-row baseline-total frame (bpe_train loop shape)",
          "q_privacy_rr" -> "1-row total-count frame (debias denominator)",
          "q_hll_overlap" -> "1-row HLL sketch frames (per source + union) + 1-row exact-counts frame",
          "q_search_qlm" -> "1-row collection-stats frame (Dirichlet mu normalizer)",
          "q_similarity_mips" -> "bounded query-vector set (norm-augmented)",
          "q_stat_shrinkage" -> "1-row method-of-moments prior (alpha, beta) frame",
          "q_curate_ccnet" -> "1-row vocabulary-size frame (lm CE model, lm_score shape)",
          "q_label_noise" -> "bounded probe-panel broadcast (fixed-SIZE md5 panel — the r10 fix replaced the stride sample precisely because stride scales with rows)",
          "q_privacy_tclose" -> "bounded sensitive-band dim (<=11 rows) x 1-row total frame",
          "q_ts_ar2" -> "bounded per-series grid dim + 5-row AR-parameter frame",
          "q_ts_hurst" -> "4-row block-size dim over the time-bounded grid",
          "q_stat_meta" -> "1-row pooled-effect + 1-row Q frames over the 5-stratum table",
          "q_ts_granger" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ts_croston" -> "bounded per-series grid dim (rows = series count, not events)",
          "q_ivf_sensitivity" -> "bounded query-vector set x 5-row probe grid",
          "q_stat_ad_ksample" -> "1-row A2-sums frame x 1-row harmonic-sums frame (Scholz-Stephens variance normalization)")
        // single-partition windows: Window.partitionBy() / partitionBy(lit)
        // plans Exchange SinglePartition + a ONE-TASK sort of its whole
        // child — the 100 TB single-reducer class Rank.orderedPrefix
        // exists to kill. A window over a frame that is BOUNDED BY
        // CONSTRUCTION (per-group collapse to ≤ dozens of rows) is the
        // documented intent; name it here so a NEW unbounded one trips.
        val boundedGlobalWindow = Dev.boundedGlobalWindow
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try {
            val plan = fn(spark, dir).queryExecution.sparkPlan
            // a foldable-partition window whose input subtree passed a
            // global limit (TakeOrdered / GlobalLimit) is bounded BY
            // CONSTRUCTION — ≤k rows (or a bounded product of limited
            // sides) reach the window task
            def limitBounded(
                p: org.apache.spark.sql.execution.SparkPlan): Boolean =
              p.exists {
                case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
                case _: org.apache.spark.sql.execution.GlobalLimitExec => true
                case _: org.apache.spark.sql.execution.CollectLimitExec => true
                case _ => false
              }
            val spWindows = plan.collect {
              case w: org.apache.spark.sql.execution.window.WindowExec
                  if w.partitionSpec.forall(_.foldable) &&
                    !limitBounded(w.child) => w
            }
            val unpruned = plan.collect {
              case sc: org.apache.spark.sql.execution.FileSourceScanExec
                  if sc.relation.dataSchema.length > 6 &&
                    sc.requiredSchema.length == sc.relation.dataSchema.length =>
                sc.requiredSchema.length
            }
            val text = plan.toString
            val nlj = text.contains("CartesianProduct") ||
              text.contains("BroadcastNestedLoopJoin")
            val flags = Seq(
              "nestedLoopJoin" -> (nlj && !boundedBroadcast.contains(name)),
              "singlePartitionWindow" ->
                (spWindows.nonEmpty && !boundedGlobalWindow.contains(name)),
              s"unprunedWideScan(${unpruned.mkString(",")})" -> unpruned.nonEmpty
            ).collect { case (f, true) => f }
            val notes = Seq(
              if (nlj && boundedBroadcast.contains(name))
                Some(s"bounded broadcast: ${boundedBroadcast(name)}")
              else None,
              if (spWindows.nonEmpty && boundedGlobalWindow.contains(name))
                Some(s"bounded window: ${boundedGlobalWindow(name)}")
              else None).flatten
            val note =
              if (flags.nonEmpty) flags.mkString(" FLAG:", ",", "")
              else if (notes.nonEmpty) notes.mkString(" ok (", "; ", ")")
              else " ok"
            println(s"$name$note")
          } catch { case e: Throwable =>
            println(s"$name ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}")
          }
          spark.catalog.clearCache()
        }
      case other =>
        System.err.println(s"unknown mode '$other' — usage: entry | explain <q> [sfDir] | show <q> [sfDir] | dump <q> [sfDir] | audit [_] [sfDir]")
    }
    spark.stop()
  }
}
