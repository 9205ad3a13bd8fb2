package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Analytics, Ann, AsofJoin, BloomLookup, Collapsing, Curation, Dedup, Dpp, Dsir, InvertedIndex, Mixture, Multimodal, Mutation, Packing, RangeJoin, Replacing, Dictionary, Rollup, RpTree, Stats, TextAnalysis, TimeSeries, Ttl, VectorSearch}
import graft.streaming.EventStream

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry; everything
  * SQL-expressible also has a DuckDB `oracleSql` twin with IDENTICAL
  * column names. Order-dependent double aggregates are rounded to 4
  * decimals on BOTH sides; order-independent folds (vector distances,
  * sequential window sums) are left at full precision — they are
  * bit-identical across engines by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    VectorSearch.knnL2(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "q1_agg" -> (Analytics.q1Agg _),
    "q2_filter_project" -> (Analytics.q2FilterProject _),
    "q3_join_agg" -> (Analytics.q3JoinAgg _),
    "q4_broadcast_join" -> (Analytics.q4BroadcastJoin _),
    "q5_multi_join" -> (Analytics.q5MultiJoin _),
    "q6_selective_filter" -> (Analytics.q6SelectiveFilter _),
    "q7_window" -> (Analytics.q7Window _),
    "q8_distinct" -> (Analytics.q8Distinct _),
    "q9_approx_distinct" -> (Analytics.q9ApproxDistinct _),
    "q10_topk" -> (Analytics.q10TopK _),
    "q11_semi_join" -> (Analytics.q11SemiJoin _),
    "q12_anti_join" -> (Analytics.q12AntiJoin _),
    "q13_rollup" -> (Analytics.q13Rollup _),
    "q14_case_agg" -> (Analytics.q14CaseAgg _),
    "q15_having" -> (Analytics.q15Having _),
    "q16_union" -> (Analytics.q16Union _),
    "q17_subquery" -> (Analytics.q17Subquery _),
    "q18_sort" -> (Analytics.q18Sort _),
    "q19_sessionize" -> (Analytics.q19Sessionize _),
    "q20_time_bucket" -> (Analytics.q20TimeBucket _),
    "q21_json_extract" -> (Analytics.q21JsonExtract _),
    "q22_grouping_sets" -> (Analytics.q22GroupingSets _),
    "q23_percentile" -> (Analytics.q23Percentile _),
    "q24_ntile" -> (Analytics.q24Ntile _),
    "q25_stats" -> (Analytics.q25Stats _),
    "q26_array_agg" -> (Analytics.q26ArrayAgg _),
    "q27_funnel" -> (Analytics.q27Funnel _),
    "q28_retention" -> (Analytics.q28Retention _),
    "q29_asof_join" -> (AsofJoin.q29Query _),
    "q30_range_join" -> (RangeJoin.q30Query _),
    "q31_hll_merge" -> (Analytics.q31HllMerge _),
    "q32_approx_topk" -> (Analytics.q32ApproxTopK _),
    "q33_gap_fill" -> (Analytics.q33GapFill _),
    "q34_range_frame" -> (Analytics.q34RangeFrame _),
    "q35_argmax" -> (Analytics.q35ArgMax _),
    "q36_bit_agg" -> (Analytics.q36BitAgg _),
    "q37_moments" -> (Analytics.q37Moments _),
    "q38_limit_by" -> (Analytics.q38LimitBy _),
    "q39_sequence_match" -> (Analytics.q39SequenceMatch _),
    "q40_histogram" -> (Analytics.q40Histogram _),
    "q41_fill_interpolate" -> (Analytics.q41FillInterpolate _),
    "q42_sequence_count" -> (Analytics.q42SequenceCount _),
    "q43_map_agg" -> (Analytics.q43MapAgg _),
    "q44_max_intersections" -> (Analytics.q44MaxIntersections _),
    "q45_interval_length_sum" -> (Analytics.q45IntervalLengthSum _),
    "q46_delta_sum" -> (Analytics.q46DeltaSum _),
    "q47_bitmap_ops" -> (Analytics.q47BitmapOps _),
    "q48_sequence_next_node" -> (Analytics.q48SequenceNextNode _),
    "q49_topk_weighted" -> (Analytics.q49TopKWeighted _),
    "q50_quantile_sketch" -> (Analytics.q50QuantileSketch _),
    "q50b_tdigest" -> (Analytics.q50bTDigest _),
    "q51_uniq_upto" -> (Analytics.q51UniqUpTo _),
    "q52_entropy" -> (Stats.q52Entropy _),
    "q53_welch_ttest" -> (Stats.q53WelchTTest _),
    "q54_cramers_v" -> (Stats.q54CramersV _),
    "q55_corr_matrix" -> (Stats.q55CorrMatrix _),
    "q56_moving_agg" -> (Stats.q56MovingAgg _),
    "q57_rank_corr" -> (Stats.q57RankCorr _),
    "q58_mann_whitney" -> (Stats.q58MannWhitney _),
    "q59_ema" -> (TimeSeries.q59Ema _),
    "q60_lttb" -> (TimeSeries.q60Lttb _),
    "q61_linreg" -> (TimeSeries.q61LinReg _),
    "q62_ks_test" -> (Stats.q62KsTest _),
    "q63_weighted_quantile" -> (Stats.q63WeightedQuantile _),
    "q64_theils_u" -> (Stats.q64TheilsU _),
    "q65_set_sketch" -> (Stats.q65SetSketch _),
    "c15_ttl" -> (Ttl.c15Query _),
    "v1_knn_l2" -> ((s: SparkSession, d: String) => VectorSearch.withEmbeddingComponents(VectorSearch.knnL2(s, d))),
    "v2_knn_cosine" -> ((s: SparkSession, d: String) => VectorSearch.withEmbeddingComponents(VectorSearch.knnCosine(s, d))),
    "v3_knn_dot" -> ((s: SparkSession, d: String) => VectorSearch.withEmbeddingComponents(VectorSearch.knnDot(s, d))),
    "v4_filtered_knn" -> ((s: SparkSession, d: String) => VectorSearch.withEmbeddingComponents(VectorSearch.filteredKnn(s, d))),
    "v5_concept_math" -> ((s: SparkSession, d: String) => VectorSearch.withEmbeddingComponents(VectorSearch.conceptMathKnn(s, d))),
    "v6_ingest_combine" -> (VectorSearch.v6Query _),
    "v7_norms" -> (VectorSearch.norms _),
    "v8_embed_udf" -> ((s: SparkSession, d: String) => VectorSearch.embedUdfKnn(s, d)),
    "v9_cross_modal" -> ((s: SparkSession, d: String) => VectorSearch.crossModalKnn(s, d)),
    "vq1_knn_i8" -> ((s: SparkSession, d: String) => VectorSearch.quantizedKnn(s, d)),
    "vq2_knn_l2_i8" -> ((s: SparkSession, d: String) => VectorSearch.quantizedKnnL2(s, d)),
    "d1_exact_dedup" -> (Dedup.d1Query _),
    "d2_ngram_jaccard" -> (Dedup.d2Query _),
    "d3_minhash_lsh" -> (Dedup.d3Query _),
    "d4_simhash" -> (Dedup.d4Query _),
    "d5_embedding_neardup" -> (Dedup.d5Query _),
    "d6_dup_clusters" -> (Dedup.d6Query _),
    "d7_containment" -> (Dedup.d7Query _),
    "d8_incremental_dedup" -> (Dedup.d8Query _),
    "d9_semdedup" -> (Dedup.d9Query _),
    "d10_incremental_semdedup" -> (Dedup.d10Query _),
    "t1_langid" -> (TextAnalysis.t1Query _),
    "t2_quality" -> (TextAnalysis.t2Query _),
    "t3_tokens" -> (TextAnalysis.t3Query _),
    "t4_fingerprint" -> (TextAnalysis.t4Query _),
    "t5_repetition" -> (TextAnalysis.t5Query _),
    "t6_ngram_search" -> (TextAnalysis.t6Query _),
    "t7_edit_distance" -> (TextAnalysis.t7Query _),
    "m1_binary_meta" -> (Multimodal.m1Query _),
    "m2_resize" -> (Multimodal.m2Query _),
    "m3_frame_sample" -> (Multimodal.m3Query _),
    "a1_batch_knn" -> (Ann.a1Query _),
    "a2_lsh_ann" -> (Ann.a2Query _),
    "a2_indexed" -> ((s: SparkSession, d: String) => Ann.indexedLshKnn(s, d)),
    "a3_ivf_ann" -> (Ann.a3Query _),
    "a3_indexed" -> ((s: SparkSession, d: String) => Ann.indexedIvfKnn(s, d)),
    "a4_rptree" -> ((s: SparkSession, d: String) => RpTree.a4Query(s, d)),
    "a4_indexed" -> ((s: SparkSession, d: String) => RpTree.indexedQuery(s, d)),
    "vq3_ivf_i8" -> ((s: SparkSession, d: String) => Ann.quantizedIvfKnn(s, d)),
    "vq4_ivfpq" -> ((s: SparkSession, d: String) => Ann.ivfPqKnn(s, d)),
    "s1_stream_window" -> (EventStream.s1Query _),
    "s2_stream_sessionize" -> (EventStream.s2Query _),
    "s3_stream_dedup" -> (EventStream.s3Query _),
    "s4_stream_align" -> (EventStream.s4Query _),
    "s5_stream_topk" -> (EventStream.s5Query _),
    "s6_stream_ingest_dedup" -> (EventStream.s6Query _),
    "s7_stream_rollup" -> (EventStream.s7Query _),
    "s8_stream_upsert" -> (EventStream.s8Query _),
    "s9_stream_ttl" -> (EventStream.s9Query _),
    "s10_stream_index" -> (EventStream.s10Query _),
    "s11_stream_delete" -> (EventStream.s11Query _),
    "s12_stream_score" -> (EventStream.s12Query _),
    "s13_stream_pos_index" -> (EventStream.s13Query _),
    "c1_hash_split" -> (Curation.c1Query _),
    "c2_stratified_sample" -> (Curation.c2Query _),
    "c3_group_canonical" -> (Curation.c3Query _),
    "c4_pii_scrub" -> (Curation.c4Query _),
    "c5_ngram_stats" -> (Curation.c5Query _),
    "c6_contamination" -> (Curation.c6Query _),
    "c7_partitioned_layout" -> (Curation.c7Query _),
    "c8_pipeline" -> (Curation.c8Query _),
    "c9_rollup_serve" -> (Rollup.c9Query _),
    "c10_replacing_upsert" -> (Replacing.c10Query _),
    "c11_collapsing_upsert" -> (Collapsing.c11Query _),
    "c12_mixture" -> (Mixture.c12Query _),
    "c13_projection_rewrite" -> (Rollup.c13Query _),
    "c14_dictget" -> (Dictionary.c14Query _),
    "m4_phash_neardup" -> (Multimodal.m4Query _),
    "m5_audio_energy" -> (Multimodal.m5Query _),
    "t8_inverted_search" -> (InvertedIndex.t8Query _),
    "t8b_search_needle2" -> (InvertedIndex.t8bQuery _),
    "t8c_delete_search" -> (InvertedIndex.t8cQuery _),
    "a3_delete_ann" -> (Ann.a3DeleteQuery _),
    "vq3_delete" -> (Ann.vq3DeleteQuery _),
    "t11_phrase_search" -> (InvertedIndex.t11Query _),
    "c16_bloom_lookup" -> (BloomLookup.c16Query _),
    "c17_pack_sequences" -> (Packing.c17Query _),
    "t9_bm25" -> (InvertedIndex.t9Query _),
    "t9b_bm25_needle2" -> (InvertedIndex.t9bQuery _),
    "t10_lm_score" -> (TextAnalysis.t10Query _),
    "c18_dpp" -> (Dpp.c18Query _),
    "q66_sample" -> (Analytics.q66Sample _),
    "q67_any_join" -> (Analytics.q67AnyJoin _),
    "q68_with_totals" -> (Analytics.q68WithTotals _),
    "c19_dict_hierarchy" -> (Dictionary.c19Query _),
    "c20_mutation_delete" -> (Mutation.c20Query _),
    "c21_mutation_update" -> (Mutation.c21Query _),
    "c22_dsir" -> (Dsir.c22Query _),
  )

  /** Registered query names, sorted, narrowed to the comma-separated
    * name prefixes in SPARK_GRAFT_BENCH_ONLY when it is set — the one
    * selector [[Bench]], [[Profile]] and [[Verify]] share (the driver
    * never sets it, so its runs cover every query). */
  def selected: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    queries.keys.toSeq.sorted.filter(n => only.forall(_.exists(n.startsWith)))
  }

  private def vec(seed: Int): String = VectorSearch.sqlArray(VectorSearch.qvec(seed))

  /** Driver default: the contract's dirless `oracleSql` assumes the
    * driver's correctness SF. [[Verify]] threads its actual data dir
    * through [[oracleSqlFor]] instead, so data-dependent oracles (a3's
    * trained-codebook literals) always describe the corpus the queries
    * actually ran on — never a different dir's leftovers. */
  val DefaultSfDir = "/root/testdata/sf0.01"

  def oracleSql: Map[String, String] = oracleSqlFor(DefaultSfDir)

  def oracleSqlFor(d: String): Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(1) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45.0 AND l_shipdate >= '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_agg" ->
      """SELECT c_mktsegment,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q4_broadcast_join" ->
      """SELECT p_brand, round(sum(l_quantity), 4) AS sum_qty, count(1) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_multi_join" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q6_selective_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        | count(1) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        | AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,
    "q7_window" ->
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice, running_spend
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER w AS rn,
        |        sum(o_totalprice) OVER w AS running_spend
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q8_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q9's oracle checks the HLL accuracy CONTRACT, not the sketch value
    // (engine-specific): exact count + "estimate within 5%" must hold.
    "q9_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(1) AS n_rows, TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q11_semi_join" ->
      """SELECT c_mktsegment, count(1) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_anti_join" ->
      """SELECT c_mktsegment, count(1) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | round(sum(l_quantity), 4) AS sum_qty, count(1) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q14_case_agg" ->
      """SELECT o_orderstatus,
        | count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
        | count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low,
        | count(1) AS n_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_having" ->
      """SELECT l_partkey, round(sum(l_quantity), 4) AS sum_qty FROM lineitem
        |GROUP BY 1 HAVING sum(l_quantity) > 300.0 ORDER BY 1""".stripMargin,
    "q16_union" ->
      """SELECT DISTINCT o_custkey
        |FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        |      UNION ALL
        |      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY 1""".stripMargin,
    "q17_subquery" ->
      """SELECT p_partkey, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part) * 1.01
        |ORDER BY 1""".stripMargin,
    "q18_sort" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |ORDER BY s_acctbal DESC, s_suppkey""".stripMargin,
    "q19_sessionize" ->
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        | count(1) AS n_events
        |FROM (SELECT user_id,
        |        CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END AS new_sess
        |      FROM (SELECT user_id,
        |              epoch(ts) - lag(epoch(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |            FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        | count(1) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        | count(1) AS n,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS etype,
        | coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
        | count(1) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
        |ORDER BY 1, 2""".stripMargin,
    // q23: exact interpolated percentiles hash-match quantile_cont; the
    // approx sketch is checked via its accuracy contract (see q9).
    "q23_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        | round(quantile_cont(l_quantity, 0.95), 4) AS p95,
        | TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_ntile" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        | CAST(ntile(4) OVER (PARTITION BY s_nationkey
        |                     ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS quartile
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q25_stats" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        | count(1) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_array_agg" ->
      """SELECT s_nationkey,
        | array_to_string(list_sort(list(DISTINCT s_suppkey)), ',') AS supp_ids,
        | count(1) AS n_supps
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_funnel" ->
      """WITH v AS (SELECT user_id, ts AS tv FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts AS tc FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS tp FROM events WHERE event_type = 'purchase'),
        |l2 AS (SELECT v.user_id, v.tv, min(c.tc) AS tc
        |       FROM v JOIN c ON v.user_id = c.user_id
        |        AND c.tc > v.tv AND c.tc <= v.tv + INTERVAL 24 HOUR
        |       GROUP BY 1, 2),
        |l3 AS (SELECT DISTINCT l2.user_id
        |       FROM l2 JOIN p ON l2.user_id = p.user_id
        |        AND p.tp > l2.tc AND p.tp <= l2.tv + INTERVAL 24 HOUR),
        |lvl AS (SELECT u.user_id,
        |         greatest(
        |           CASE WHEN v1.user_id IS NOT NULL THEN 1 ELSE 0 END,
        |           CASE WHEN h2.user_id IS NOT NULL THEN 2 ELSE 0 END,
        |           CASE WHEN l3.user_id IS NOT NULL THEN 3 ELSE 0 END) AS funnel_level
        |       FROM (SELECT DISTINCT user_id FROM events) u
        |       LEFT JOIN (SELECT DISTINCT user_id FROM v) v1 ON u.user_id = v1.user_id
        |       LEFT JOIN (SELECT DISTINCT user_id FROM l2) h2 ON u.user_id = h2.user_id
        |       LEFT JOIN l3 ON u.user_id = l3.user_id)
        |SELECT funnel_level, count(1) AS n_users
        |FROM lvl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_retention" ->
      """SELECT CAST(sum(f1) AS BIGINT) AS n_cohort,
        | CAST(sum(f1 * f2) AS BIGINT) AS n_week2,
        | CAST(sum(f1 * f3) AS BIGINT) AS n_week3
        |FROM (SELECT user_id,
        |        max(CASE WHEN event_type = 'signup'
        |                  AND ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END) AS f1,
        |        max(CASE WHEN event_type = 'purchase'
        |                  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |                  AND ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END) AS f2,
        |        max(CASE WHEN event_type = 'purchase'
        |                  AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        |                  AND ts < TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END) AS f3
        |      FROM events GROUP BY 1)""".stripMargin,
    // s1 runs as a REAL stream (file source, AvailableNow, append
    // sink); append mode only emits windows the final watermark
    // closed, so the oracle applies the same cutoff: window end ≤
    // max event time floored to ms − the 30-minute watermark. Same
    // ms flooring Spark's event-time stats apply.
    "s1_stream_window" ->
      """SELECT window_start, event_type, n, sum_value FROM (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |         event_type, count(1) AS n,
        |         round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |WHERE epoch_us(window_start) + 3600000000 <=
        |      ((SELECT epoch_us(max(ts)) // 1000 FROM events) - 1800000) * 1000
        |ORDER BY 1, 2""".stripMargin,
    // s5: streaming guaranteed heavy hitters at FIXED capacity 256 —
    // the stream emits bounded Misra-Gries candidates + exact n per
    // finalized daily window, the gate recounts candidates exactly,
    // and the output is the deterministic set {page : cnt·256 > n}
    // under s1's watermark finalization cutoff (1-day windows).
    "s5_stream_topk" ->
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
        |         CASE WHEN event_id % 2 = 0
        |              THEN CAST(json_extract(props, '$.k') AS BIGINT)
        |              ELSE 100 + event_id END AS page_id
        |  FROM events),
        |cnts AS (
        |  SELECT window_start, page_id, count(*) AS cnt
        |  FROM e GROUP BY 1, 2),
        |tot AS (SELECT window_start, count(*) AS n FROM e GROUP BY 1),
        |hh AS (
        |  SELECT window_start, page_id, cnt, n,
        |         row_number() OVER (PARTITION BY window_start
        |                            ORDER BY cnt DESC, page_id) AS rk
        |  FROM cnts JOIN tot USING (window_start)
        |  WHERE cnt * 256 > n)
        |SELECT window_start, page_id, cnt, n, rk
        |FROM hh
        |WHERE epoch_us(window_start) + 86400000000 <=
        |      ((SELECT epoch_us(max(ts)) // 1000 FROM events) - 1800000) * 1000
        |ORDER BY 1, 5""".stripMargin,
    // q31: like q9/q23, the checkable cross-engine contract of a
    // sketch is its ACCURACY — the oracle recomputes the exact global
    // distinct and expects the merged-sketch estimate within 5%.
    "q31_hll_merge" ->
      """SELECT count(DISTINCT l_returnflag) AS n_groups,
        | count(DISTINCT l_partkey) AS n_exact,
        | TRUE AS merged_ok
        |FROM lineitem""".stripMargin,
    // q32: two-pass guaranteed heavy hitters at FIXED sketch capacity.
    // The Misra-Gries candidate set is merge-order-dependent in its
    // tail but provably complete above total/(capacity+1), and the
    // exact recount filters to cnt*256 > total — so the output is
    // exactly the deterministic set the oracle derives from exact
    // counts, at ANY scale factor (the eviction regime IS the gated
    // regime: distinct pages per type > capacity at every gate SF).
    "q32_approx_topk" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 2 = 0
        |              THEN CAST(json_extract(props, '$.k') AS BIGINT)
        |              ELSE 100 + event_id END AS page_id
        |  FROM events),
        |cnts AS (
        |  SELECT event_type, page_id, count(*) AS cnt FROM e GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS total FROM e GROUP BY 1),
        |hh AS (
        |  SELECT event_type, page_id, cnt, total,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cnt DESC, page_id) AS rk
        |  FROM cnts JOIN tot USING (event_type)
        |  WHERE cnt * 256 > total)
        |SELECT event_type, page_id, cnt, total, rk
        |FROM hh ORDER BY event_type, rk""".stripMargin,
    // q49: the weighted form of q32's two-pass contract — exact-cents
    // weights, threshold total_weight/256, same completeness bound
    // with W = total weight.
    "q49_topk_weighted" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 2 = 0
        |              THEN CAST(json_extract(props, '$.k') AS BIGINT)
        |              ELSE 100 + event_id END AS page_id,
        |         CAST(round(value * 100) AS BIGINT) AS w
        |  FROM events),
        |ws AS (
        |  SELECT event_type, page_id, CAST(sum(w) AS BIGINT) AS w_cents
        |  FROM e GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(w) AS BIGINT) AS total
        |        FROM e GROUP BY 1),
        |hh AS (
        |  SELECT event_type, page_id, w_cents, total,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY w_cents DESC, page_id) AS rk
        |  FROM ws JOIN tot USING (event_type)
        |  WHERE w_cents * 256 > total)
        |SELECT event_type, page_id, w_cents, total, rk
        |FROM hh ORDER BY event_type, rk""".stripMargin,
    // q50: the exact discrete quantiles replay in pure integer rank
    // arithmetic (target = ceil(n*qm/1000) in integers); the sketch's
    // rank-window contract is TRUE by the summary's published bound
    "q50_quantile_sketch" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type, cents, count(*) AS cnt FROM e GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |c AS (
        |  SELECT b.event_type, cents,
        |    sum(cnt) OVER (PARTITION BY b.event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    t.n
        |  FROM b JOIN t ON b.event_type = t.event_type),
        |q AS (SELECT unnest([500, 900, 990]) AS qm)
        |SELECT event_type, qm, min(cents) AS exact_cents,
        |  TRUE AS approx_ok
        |FROM c, q WHERE cum >= (n * qm + 999) // 1000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q50b: same exact-replay shape as q50; the t-digest estimate's
    // rank-window contract is TRUE by the k1 envelope (TDigestSpec)
    "q50b_tdigest" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT event_type, cents, count(*) AS cnt FROM e GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |c AS (
        |  SELECT b.event_type, cents,
        |    sum(cnt) OVER (PARTITION BY b.event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    t.n
        |  FROM b JOIN t ON b.event_type = t.event_type),
        |q AS (SELECT unnest([500, 900, 990]) AS qm)
        |SELECT event_type, qm, min(cents) AS exact_cents,
        |  TRUE AS approx_ok
        |FROM c, q WHERE cum >= (n * qm + 999) // 1000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q51: least(count distinct, n + 1) — the uniq_upto contract is
    // exact on both sides of the cap
    "q51_uniq_upto" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(least(count(DISTINCT user_id), 51) AS BIGINT) AS users_upto,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_gap_fill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('day', min(ts)) FROM events),
        |    (SELECT date_trunc('day', max(ts)) FROM events),
        |    INTERVAL '1 day')) AS day),
        |daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type,
        |         count(*) AS n, round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT s.day, t.event_type,
        |       coalesce(d.n, 0) AS n,
        |       coalesce(d.sum_value, 0.0) AS sum_value
        |FROM spine s
        |CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
        |ORDER BY s.day, t.event_type""".stripMargin,
    "q34_range_frame" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS trail_n,
        |  round(sum(value) OVER w, 4) AS trail_sum
        |FROM (SELECT event_id, user_id, value,
        |        epoch_us(ts) // 1000000 AS sec FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q38_limit_by" ->
      """SELECT event_type, rk, event_id, ts_sec, round(value, 4) AS value
        |FROM (
        |  SELECT event_type, event_id, value,
        |         epoch_us(ts) // 1000000 AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin,
    // q39: greedy-earliest chain — exact for pattern EXISTENCE; the
    // windows' full-partition mins are replayed as per-user joins
    "q39_sequence_match" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS tms, event_type
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |u1 AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN tms END) AS t1
        |  FROM e GROUP BY user_id),
        |u2 AS (
        |  SELECT e.user_id, min(tms) AS t2
        |  FROM e JOIN u1 USING (user_id)
        |  WHERE event_type = 'click' AND tms > t1 GROUP BY e.user_id),
        |u3 AS (
        |  SELECT e.user_id, min(tms) AS t3
        |  FROM e JOIN u2 USING (user_id)
        |  WHERE event_type = 'purchase' AND tms > t2 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM u3) AS matched_users,
        |       (SELECT count(DISTINCT user_id) FROM e) AS total_users""".stripMargin,
    // q40: all bin math in exact integer cents (round-then-cast — the
    // DOUBLE ×100 is within 1e-9 of an integer, and a bare cast
    // truncates in Spark but rounds in DuckDB); sum(BIGINT) is HUGEINT
    // in DuckDB → cast back (the q28 lesson)
    "q40_histogram" ->
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
        |binned AS (
        |  SELECT ((cents - lo) * 32) // (hi - lo + 1) AS bin, cents, lo, hi
        |  FROM c, b)
        |SELECT bin,
        |  lo + ((hi - lo + 1) * bin) // 32 AS bin_lo_cents,
        |  lo + ((hi - lo + 1) * (bin + 1)) // 32 - 1 AS bin_hi_cents,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM binned GROUP BY bin, lo, hi ORDER BY bin""".stripMargin,
    // q44: same sweep (−1-before-+1 tie order = half-open intervals);
    // argmax via (live DESC, t ASC) row_number mirrors the struct-max
    "q44_max_intersections" ->
      """WITH iv AS (
        |  SELECT event_type AS series, epoch_us(ts) // 1000 AS s,
        |         epoch_us(ts) // 1000
        |           + CAST(round(value * 1000) AS BIGINT) * 60 AS e
        |  FROM events),
        |ev AS (
        |  SELECT series, s AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT series, e AS t, -1 AS delta FROM iv),
        |sw AS (
        |  SELECT series, t,
        |    CAST(sum(delta) OVER (PARTITION BY series ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS live
        |  FROM ev)
        |SELECT series, max_intersections, at_t FROM (
        |  SELECT series, live AS max_intersections, t AS at_t,
        |    row_number() OVER (PARTITION BY series
        |      ORDER BY live DESC, t ASC) AS rn
        |  FROM sw) WHERE rn = 1 ORDER BY series""".stripMargin,
    // q45: same intervals, island detection (running max(end) over
    // start order; strictly-later start opens a new island)
    "q45_interval_length_sum" ->
      """WITH iv AS (
        |  SELECT event_type AS series, epoch_us(ts) // 1000 AS s,
        |         epoch_us(ts) // 1000
        |           + CAST(round(value * 1000) AS BIGINT) * 60 AS e
        |  FROM events),
        |m AS (
        |  SELECT series, s, e,
        |    max(e) OVER (PARTITION BY series ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |fl AS (
        |  SELECT series, s, e,
        |    CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nf
        |  FROM m),
        |isl AS (
        |  SELECT series, s, e,
        |    sum(nf) OVER (PARTITION BY series ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM fl),
        |g AS (
        |  SELECT series, gid, max(e) - min(s) AS len
        |  FROM isl GROUP BY series, gid)
        |SELECT series, count(*) AS islands,
        |  CAST(sum(len) AS BIGINT) AS covered_ms
        |FROM g GROUP BY series ORDER BY series""".stripMargin,
    // q46: positive-delta sum per (user, type) series, rolled up per
    // type; lag order (ts, event_id) is unique ⇒ deterministic
    "q46_delta_sum" ->
      """WITH v AS (
        |  SELECT user_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         lag(CAST(round(value * 100) AS BIGINT)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND cents > prev
        |                THEN cents - prev ELSE 0 END) AS BIGINT)
        |    AS delta_sum_cents,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND cents > prev
        |                THEN 1 ELSE 0 END) AS BIGINT) AS rises,
        |  count(*) AS n
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q47: set-algebra cardinalities via per-user membership flags
    "q47_bitmap_ops" ->
      """WITH f AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY user_id)
        |SELECT
        |  CAST(sum(CASE WHEN v + c + p = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS and_card,
        |  count(*) AS or_card,
        |  CAST(sum(CASE WHEN (v + c + p) % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS xor_card,
        |  CAST(sum(CASE WHEN v = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS andnot_card
        |FROM f""".stripMargin,
    // q48: next event after each user's first view; lead + running
    // view-count in one window, unique event_id tiebreak
    "q48_sequence_next_node" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS views_so_far
        |  FROM events)
        |SELECT coalesce(nxt, '(none)') AS next_type, count(*) AS users
        |FROM seq WHERE event_type = 'view' AND views_so_far = 1
        |GROUP BY 1 ORDER BY next_type""".stripMargin,
    // q43: the map rows are engine-private; the oracle replays both
    // stages from raw events (per-user-day cents, then key-wise stats)
    "q43_map_agg" ->
      """WITH uday AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id, event_type,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT day, event_type,
        |  CAST(sum(c) AS BIGINT) AS sum_v, min(c) AS min_v,
        |  max(c) AS max_v, count(*) AS n_contrib
        |FROM uday GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    // q42: same min-over-cuts windows as the Spark plan; window sums
    // are HUGEINT in DuckDB → cast the per-user min back to BIGINT
    "q42_sequence_count" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS tms, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_type
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tms, event_type
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS cb_after,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id) AS totb
        |  FROM e),
        |u AS (
        |  SELECT user_id,
        |    CAST(least(min(ca + cb_after), min(totb)) AS BIGINT) AS n_matches
        |  FROM w GROUP BY user_id)
        |SELECT n_matches, count(*) AS n_users
        |FROM u GROUP BY n_matches ORDER BY n_matches""".stripMargin,
    // q41: bracket math exact BIGINT; the one double division+addition
    // is the same IEEE op on both engines → exact hash match. LOCF
    // state via IGNORE NULLS running windows, mirroring the Spark plan.
    "q41_fill_interpolate" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 17 = 0),
        |hourly AS (
        |  SELECT hour, event_type, CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(hour) FROM e), (SELECT max(hour) FROM e),
        |    INTERVAL '1 hour')) AS hour),
        |grid AS (
        |  SELECT s.hour, t.event_type, h.cents,
        |         CAST(epoch(s.hour) AS BIGINT) // 3600 AS idx
        |  FROM spine s
        |  CROSS JOIN (SELECT DISTINCT event_type FROM e) t
        |  LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type),
        |w AS (
        |  SELECT hour, event_type, cents, idx,
        |    last_value(cents IGNORE NULLS) OVER bk AS pv,
        |    last_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
        |      OVER bk AS ph,
        |    first_value(cents IGNORE NULLS) OVER fw AS nv,
        |    first_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
        |      OVER fw AS nh
        |  FROM grid
        |  WINDOW
        |    bk AS (PARTITION BY event_type ORDER BY idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    fw AS (PARTITION BY event_type ORDER BY idx
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT hour, event_type, cents IS NOT NULL AS known,
        |  CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
        |       WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |       WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |       ELSE pv + CAST((nv - pv) * (idx - ph) AS DOUBLE) / (nh - ph)
        |  END AS filled_cents
        |FROM w ORDER BY hour, event_type""".stripMargin,
    "q36_bit_agg" ->
      """SELECT event_type,
        |  bit_and(user_id) AS uid_and,
        |  bit_or(user_id) AS uid_or,
        |  bit_xor(user_id) AS uid_xor,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q37: both engines compute the POPULATION moments from explicitly
    // centered values (their built-in skewness/kurtosis use different
    // bias conventions).
    "q37_moments" ->
      """WITH means AS (
        |  SELECT event_type, avg(value) AS mu FROM events GROUP BY 1),
        |m AS (
        |  SELECT e.event_type,
        |    avg((value - mu) * (value - mu)) AS m2,
        |    avg((value - mu) * (value - mu) * (value - mu)) AS m3,
        |    avg((value - mu) * (value - mu) * (value - mu) * (value - mu)) AS m4,
        |    count(*) AS n
        |  FROM events e JOIN means USING (event_type) GROUP BY 1)
        |SELECT event_type, n,
        |  round(m3 / pow(m2, 1.5), 4) AS skew_pop,
        |  round(m4 / (m2 * m2) - 3.0, 4) AS kurt_pop
        |FROM m ORDER BY 1""".stripMargin,
    "q35_argmax" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id DESC) AS rmax,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value ASC, event_id ASC) AS rmin
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rmax = 1 THEN event_id END) AS argmax_event,
        |  round(max(CASE WHEN rmax = 1 THEN value END), 4) AS max_value,
        |  max(CASE WHEN rmin = 1 THEN event_id END) AS argmin_event,
        |  round(max(CASE WHEN rmin = 1 THEN value END), 4) AS min_value
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "v1_knn_l2" ->
      s"""SELECT vec_id, label, score, CAST(pos AS INTEGER) AS pos,
         | embedding[CAST(pos AS INTEGER) + 1]::DOUBLE AS comp
         |FROM (SELECT vec_id, label, embedding,
         |        list_distance(embedding::DOUBLE[], ${vec(0)}::DOUBLE[]) AS score
         |      FROM embeddings ORDER BY score, vec_id LIMIT 10)
         |CROSS JOIN range(0, ${VectorSearch.Dim}) t(pos)
         |ORDER BY vec_id, pos""".stripMargin,
    "v2_knn_cosine" ->
      s"""SELECT vec_id, label, score, CAST(pos AS INTEGER) AS pos,
         | embedding[CAST(pos AS INTEGER) + 1]::DOUBLE AS comp
         |FROM (SELECT vec_id, label, embedding,
         |        1.0 - list_cosine_similarity(embedding::DOUBLE[], ${vec(1)}::DOUBLE[]) AS score
         |      FROM embeddings ORDER BY score, vec_id LIMIT 10)
         |CROSS JOIN range(0, ${VectorSearch.Dim}) t(pos)
         |ORDER BY vec_id, pos""".stripMargin,
    "v3_knn_dot" ->
      s"""SELECT vec_id, label, score, CAST(pos AS INTEGER) AS pos,
         | embedding[CAST(pos AS INTEGER) + 1]::DOUBLE AS comp
         |FROM (SELECT vec_id, label, embedding,
         |        list_inner_product(embedding::DOUBLE[], ${vec(2)}::DOUBLE[]) AS score
         |      FROM embeddings ORDER BY score DESC, vec_id LIMIT 10)
         |CROSS JOIN range(0, ${VectorSearch.Dim}) t(pos)
         |ORDER BY vec_id, pos""".stripMargin,
    "v4_filtered_knn" ->
      s"""SELECT vec_id, label, score, CAST(pos AS INTEGER) AS pos,
         | embedding[CAST(pos AS INTEGER) + 1]::DOUBLE AS comp
         |FROM (SELECT vec_id, label, embedding,
         |        list_distance(embedding::DOUBLE[], ${vec(3)}::DOUBLE[]) AS score
         |      FROM embeddings WHERE label IN (1, 3, 5)
         |      ORDER BY score, vec_id LIMIT 10)
         |CROSS JOIN range(0, ${VectorSearch.Dim}) t(pos)
         |ORDER BY vec_id, pos""".stripMargin,
    "v5_concept_math" ->
      s"""SELECT vec_id, label, score, CAST(pos AS INTEGER) AS pos,
         | embedding[CAST(pos AS INTEGER) + 1]::DOUBLE AS comp
         |FROM (SELECT vec_id, label, embedding,
         |        1.0 - list_cosine_similarity(embedding::DOUBLE[],
         |          ${VectorSearch.sqlArray(VectorSearch.conceptVector)}::DOUBLE[]) AS score
         |      FROM embeddings ORDER BY score, vec_id LIMIT 10)
         |CROSS JOIN range(0, ${VectorSearch.Dim}) t(pos)
         |ORDER BY vec_id, pos""".stripMargin,
    // exif_source/exif_lang are read back OUT of the parsed
    // map<string,string> on the Spark side; the oracle checks they
    // round-tripped the JSON identical to the original fields.
    // text_emb_norm goes through the same hash60-derived text-embedding
    // stub as v8, so BOTH modality columns of the wide row are
    // hash-checked: emb_norm covers image_embedding, text_emb_norm
    // covers text_embedding.
    "v6_ingest_combine" ->
      s"""SELECT doc_id,
         | replace(replace(text, '’', ' '), '‘', ' ') AS caption,
         | lang, source, n_chars, label,
         | source AS exif_source, lang AS exif_lang,
         | sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS emb_norm,
         | sqrt(list_inner_product(te, te)) AS text_emb_norm
         |FROM (SELECT *,
         |        list_transform(range(0, ${VectorSearch.Dim}),
         |          i -> (${graft.functions.textops.hash60Sql("text || ':' || i::VARCHAR")} % 1000)::DOUBLE / 500.0 - 1.0) AS te
         |      FROM documents JOIN embeddings ON doc_id = vec_id)
         |ORDER BY doc_id""".stripMargin,
    // unit0's CASE guard matches L2Normalize's documented zero-vector
    // behavior (zero in → zero out, no NULL/inf).
    "v7_norms" ->
      """SELECT vec_id,
        | sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2,
        | list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))) AS l1,
        | list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS linf,
        | CASE WHEN list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0
        |      THEN 0.0
        |      ELSE embedding[1]::DOUBLE /
        |        sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        | END AS unit0
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // v8's embed stub is hash60-derived, so DuckDB rebuilds the exact
    // same vectors and the knn is hash-checked end to end.
    "v8_embed_udf" ->
      s"""SELECT doc_id,
         | 1.0 - list_cosine_similarity(
         |   list_transform(range(0, ${VectorSearch.Dim}),
         |     i -> (${graft.functions.textops.hash60Sql("text || ':' || i::VARCHAR")} % 1000)::DOUBLE / 500.0 - 1.0),
         |   ${vec(4)}::DOUBLE[]) AS score
         |FROM documents ORDER BY score, doc_id LIMIT 10""".stripMargin,
    // v9's query literal stands for an image-side encoding; the text
    // embedding it searches is the v8 stub, rebuilt exactly in SQL.
    "v9_cross_modal" ->
      s"""SELECT doc_id, lang,
         | 1.0 - list_cosine_similarity(
         |   list_transform(range(0, ${VectorSearch.Dim}),
         |     i -> (${graft.functions.textops.hash60Sql("text || ':' || i::VARCHAR")} % 1000)::DOUBLE / 500.0 - 1.0),
         |   ${vec(6)}::DOUBLE[]) AS score
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |ORDER BY score, doc_id LIMIT 10""".stripMargin,
    // vq1's int8 quantization is deterministic (max-abs/127 scale,
    // round-away-from-zero — DuckDB round() semantics), so the oracle
    // replays it bit-exactly from the full-precision table and the
    // quantized knn is an EXACT gate, not a recall bound. Cosine over
    // the integer codes == cosine over the dequantized vectors (the
    // positive per-vector scale cancels).
    "vq1_knn_i8" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, label, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM e),
         |qz AS (SELECT vec_id, label,
         |         list_transform(v, x -> round(x / s)) AS qv FROM sc)
         |SELECT vec_id, label,
         |       1.0 - list_cosine_similarity(qv, ${vec(1)}::DOUBLE[]) AS score
         |FROM qz ORDER BY score, vec_id LIMIT 10""".stripMargin,
    // vq2: L2 over the dequantized codes (scale·code) — the scale does
    // not cancel for L2, so the oracle multiplies it back in, exactly
    // as the serving expression does inside its codegen loop.
    "vq2_knn_l2_i8" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, label, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM e),
         |qz AS (SELECT vec_id, label,
         |         list_transform(v, x -> round(x / s) * s) AS dq FROM sc)
         |SELECT vec_id, label,
         |       list_distance(dq, ${vec(0)}::DOUBLE[]) AS score
         |FROM qz ORDER BY score, vec_id LIMIT 10""".stripMargin,
  ) ++ Map(
    "t8_inverted_search" -> InvertedIndex.oracle,
    "t8b_search_needle2" -> InvertedIndex.oracleFor(InvertedIndex.NeedleB),
    "t8c_delete_search" -> InvertedIndex.oracleDeleted,
    "t11_phrase_search" -> InvertedIndex.oraclePhrase,
    "c16_bloom_lookup" -> BloomLookup.oracle,
    "c17_pack_sequences" -> Packing.oracle,
    "t9_bm25" -> InvertedIndex.oracleT9(d),
    "t9b_bm25_needle2" -> InvertedIndex.oracleT9For(d, InvertedIndex.NeedleB),
    "c18_dpp" -> Dpp.oracle,
    "q66_sample" ->
      s"""SELECT event_type,
         |  count(DISTINCT user_id)::BIGINT AS n_users,
         |  count(*)::BIGINT AS n_events,
         |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
         |FROM events
         |WHERE ${graft.functions.textops.hash60Sql("user_id::VARCHAR")} <
         |  ${Analytics.sampleThreshold(Analytics.SampleNum, Analytics.SampleDen)}
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q67_any_join" ->
      """WITH any_line AS (
        |  SELECT l_orderkey, l_linenumber AS any_linenumber,
        |    l_quantity AS any_quantity
        |  FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |          row_number() OVER (PARTITION BY l_orderkey
        |            ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |        FROM lineitem)
        |  WHERE rn = 1)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  count(any_linenumber) AS n_matched,
        |  round(sum(any_quantity), 4) AS sum_any_qty
        |FROM orders LEFT JOIN any_line ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q68_with_totals" ->
      """SELECT CASE WHEN GROUPING(event_type) = 1 THEN '<totals>'
        |            ELSE coalesce(event_type, '<null>') END AS event_type,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |FROM events GROUP BY ROLLUP(event_type) ORDER BY 1""".stripMargin,
  ) ++ Dedup.oracles ++ Dedup.dynOracles(d) ++ TextAnalysis.oracles ++ Multimodal.oracles ++
    Ann.oracles(d) ++ RpTree.oracles(d) ++ Curation.oracles ++ Rollup.oracles ++ Replacing.oracles ++
    Collapsing.oracles ++ Mixture.oracles ++ Stats.oracles ++
    TimeSeries.oracles ++ Ttl.oracles ++ Dictionary.oracles ++ Mutation.oracles ++ Dsir.oracles ++
    AsofJoin.oracles ++ RangeJoin.oracles ++ EventStream.oracles
}
