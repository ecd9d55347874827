package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CheckQueries, PipelineQueries, Relational, WapQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_filter_pushdown" -> (Relational.q02FilterPushdown _),
    "q03_broadcast_join" -> (Relational.q03BroadcastJoin _),
    "q04_shuffle_join" -> (Relational.q04ShuffleJoin _),
    "q05_star_join" -> (Relational.q05StarJoin _),
    "q06_window_rank" -> (Relational.q06WindowRank _),
    "q07_topk" -> (Relational.q07TopK _),
    "q08_distinct_agg" -> (Relational.q08DistinctAgg _),
    "q09_union" -> (Relational.q09Union _),
    "q10_semi_anti_join" -> (Relational.q10SemiAntiJoin _),
    "q11_stats_agg" -> (Relational.q11StatsAgg _),
    "q12_conditional_agg" -> (Relational.q12ConditionalAgg _),
    "q13_having" -> (Relational.q13Having _),
    "q14_scalar_subquery" -> (Relational.q14ScalarSubquery _),
    "q15_rollup" -> (Relational.q15Rollup _),
    "q16_json_extract" -> (Relational.q16JsonExtract _),
    "q17_time_bucket" -> (Relational.q17TimeBucket _),
    "q18_lag_lead" -> (Relational.q18LagLead _),
    "q19_exists_in" -> (Relational.q19ExistsIn _),
    "q20_multi_grouping" -> (Relational.q20MultiGrouping _),
    "q21_percentiles" -> (Relational.q21Percentiles _),
    "q22_interval_join" -> (Relational.q22IntervalJoin _),
    "q23_spend_deciles" -> (Relational.q23SpendDeciles _),
    "q23_deciles_approx" -> (Relational.q23SpendDecilesApprox _),
    "q24_pivot" -> (Relational.q24Pivot _),
    "q25_running_total" -> (Relational.q25RunningTotal _),
    "q21_percentiles_approx" -> (Relational.q21PercentilesApprox _),
    "curate_mix" -> (PipelineQueries.curateMix _),
    "curate_pack" -> (PipelineQueries.curatePack _),
    "events_asof" -> (PipelineQueries.eventsAsof _),
    "events_sessions" -> (PipelineQueries.eventsSessions _),
    "wap_roundtrip" -> (WapQueries.wapRoundtrip _),
    "wap_metrics" -> (WapQueries.wapMetrics _),
    "wap_branch_stats" -> (WapQueries.wapBranchStats _),
    "wap_delete" -> (WapQueries.wapDelete _),
    "wap_meta_delete" -> (WapQueries.wapMetaDelete _),
    "wap_tags" -> (WapQueries.wapTags _),
    "wap_cherrypick" -> (WapQueries.wapCherrypick _),
    "wap_views" -> (WapQueries.wapViews _),
    "wap_manifest_prune" -> (WapQueries.wapManifestPrune _),
    "wap_stream_cdc" -> (WapQueries.wapStreamCdc _),
    "wap_stream_read" -> (WapQueries.wapStreamRead _),
    "wap_clone" -> (WapQueries.wapClone _),
    "wap_topk_push" -> (WapQueries.wapTopkPush _),
    "wap_orphans" -> (WapQueries.wapOrphans _),
    "wap_update" -> (WapQueries.wapUpdate _),
    "wap_upsert" -> (WapQueries.wapUpsert _),
    "wap_partitioned" -> (WapQueries.wapPartitioned _),
    "wap_sorted_compact" -> (WapQueries.wapSortedCompact _),
    "wap_incremental" -> (WapQueries.wapIncremental _),
    "wap_zorder" -> (WapQueries.wapZorder _),
    "wap_mor_delete" -> (WapQueries.wapMorDelete _),
    "wap_pos_delete" -> (WapQueries.wapPosDelete _),
    "wap_mview" -> (WapQueries.wapMview _),
    "wap_rename" -> (WapQueries.wapRename _),
    "wap_add_files" -> (WapQueries.wapAddFiles _),
    "wap_multipart" -> (WapQueries.wapMultipart _),
    "wap_spec_evolve" -> (WapQueries.wapSpecEvolve _),
    "wap_changelog" -> (WapQueries.wapChangelog _),
    "wap_cdc_feed" -> (WapQueries.wapCdcFeed _),
    "wap_cdc_replicate" -> (WapQueries.wapCdcReplicate _),
    "wap_maintain" -> (WapQueries.wapMaintain _),
    "wap_mor_upsert" -> (WapQueries.wapMorUpsert _),
    "wap_sql_scan" -> (WapQueries.wapSqlScan _),
    "wap_export" -> (WapQueries.wapExport _),
    "wap_export_changes" -> (WapQueries.wapExportChanges _),
    "wap_sql_dml" -> (WapQueries.wapSqlDml _),
    "wap_meta_tables" -> (WapQueries.wapMetaTables _),
    "wap_txn" -> (WapQueries.wapTxn _),
    "wap_stream_sink" -> (WapQueries.wapStreamSink _),
    "wap_merge_conditional" -> (WapQueries.wapMergeConditional _),
    "wap_merge_source" -> (WapQueries.wapMergeSource _),
    "wap_merge_evolve" -> (WapQueries.wapMergeEvolve _),
    "wap_sql_txn" -> (WapQueries.wapSqlTxn _),
    "wap_constraints" -> (WapQueries.wapConstraints _),
    "wap_defaults" -> (WapQueries.wapDefaults _),
    "wap_row_lineage" -> (WapQueries.wapRowLineage _),
    "wap_pos_update" -> (WapQueries.wapPosUpdate _),
    "wap_pos_merge" -> (WapQueries.wapPosMerge _),
    "wap_agg_groupby" -> (WapQueries.wapAggGroupby _),
    "wap_agg_filtered" -> (WapQueries.wapAggFiltered _),
    "wap_cdf" -> (WapQueries.wapCdf _),
    "wap_convert_eq" -> (WapQueries.wapConvertEq _),
    "wap_runtime_prune" -> (graft.sql.GraftRuntimePrune.query _),
    "wap_bloom" -> (WapQueries.wapBloom _),
    "wap_agg_pushdown" -> (WapQueries.wapAggPushdown _),
    "wap_sql_changes" -> (WapQueries.wapSqlChanges _),
    "wap_spj" -> (WapQueries.wapSpj _),
    "wap_spj_sorted" -> (WapQueries.wapSpjSorted _),
    "wap_replace" -> (WapQueries.wapReplace _),
    "wap_generated" -> (WapQueries.wapGenerated _),
    "dq_null_audit" -> (WapQueries.dqNullAudit _),
    "dq_null_counts" -> (WapQueries.dqNullCounts _),
    "dq_suite" -> (WapQueries.dqSuite _),
    "dq_ref_integrity" -> (WapQueries.dqRefIntegrity _),
    "dq_drift" -> (WapQueries.dqDrift _),
    "dedup_exact" -> (PipelineQueries.dedupExact _),
    "dedup_exact_norm" -> (PipelineQueries.dedupExactNorm _),
    "dedup_minhash_lsh" -> (PipelineQueries.dedupMinhashLsh _),
    "dedup_cluster" -> (PipelineQueries.dedupCluster _),
    "dedup_cluster_best" -> (PipelineQueries.dedupClusterBest _),
    "dedup_ngram_jaccard" -> (PipelineQueries.dedupNgramJaccard _),
    "dedup_containment" -> (PipelineQueries.dedupContainment _),
    "dedup_simhash" -> (PipelineQueries.dedupSimhash _),
    "dedup_embedding" -> (PipelineQueries.dedupEmbedding _),
    "sim_topk_brute" -> (PipelineQueries.simTopkBrute _),
    "sim_topk_lsh" -> (PipelineQueries.simTopkLsh _),
    "sim_topk_ivf" -> (PipelineQueries.simTopkIvf _),
    "sim_topk_ivfq" -> (PipelineQueries.simTopkIvfq _),
    "sim_topk_ivfpq" -> (PipelineQueries.simTopkIvfpq _),
    "sim_topk_pca" -> (PipelineQueries.simTopkPca _),
    "text_tokens" -> (PipelineQueries.textTokens _),
    "text_quality" -> (PipelineQueries.textQuality _),
    "text_langid" -> (PipelineQueries.textLangid _),
    "text_fingerprint" -> (PipelineQueries.textFingerprint _),
    "text_redact" -> (PipelineQueries.textRedact _),
    "text_gopher" -> (PipelineQueries.textGopher _),
    "text_top_terms" -> (PipelineQueries.textTopTerms _),
    "text_bm25" -> (PipelineQueries.textBm25 _),
    "text_dup_ngrams" -> (PipelineQueries.textDupNgrams _),
    "text_decontaminate" -> (PipelineQueries.textDecontaminate _),
    "text_repetition" -> (PipelineQueries.textRepetition _),
    "mm_manifest" -> (PipelineQueries.mmManifest _),
    "mm_features" -> (PipelineQueries.mmFeatures _),
    "mm_decode" -> (PipelineQueries.mmDecode _),
    "mm_audio" -> (PipelineQueries.mmAudio _),
    "mm_video" -> (PipelineQueries.mmVideo _),
    "text_dedup_lines" -> (PipelineQueries.textDedupLines _),
    "skew_salt_join" -> (PipelineQueries.skewSaltJoin _),
    "bucketed_join_check" -> (PipelineQueries.bucketedJoinCheck _),
    "curate_temperature" -> (PipelineQueries.curateTemperature _),
    "mm_frames" -> (PipelineQueries.mmFrames _),
    "emb_centroids" -> (PipelineQueries.embCentroids _),
    "emb_quantize" -> (PipelineQueries.embQuantize _),
    "emb_pca" -> (PipelineQueries.embPca _),
    "curate_splits" -> (PipelineQueries.curateSplits _),
    "curate_sample" -> (PipelineQueries.curateSample _),
    "sql_vector_norm" -> (PipelineQueries.sqlVectorNorm _),
    "sim_check_recall" -> (CheckQueries.simCheckRecall _),
    "q21_check_approx" -> (CheckQueries.q21CheckApprox _),
    "q23_check_approx" -> (CheckQueries.q23CheckApprox _),
    "text_check_fingerprint" -> (CheckQueries.textCheckFingerprint _),
    "text_check_langid" -> (CheckQueries.textCheckLangid _),
    "text_check_decontaminate" -> (CheckQueries.textCheckDecontaminate _),
    "emb_check_pca" -> (CheckQueries.embCheckPca _),
    "dedup_check_pairs" -> (CheckQueries.dedupCheckPairs _),
    "dedup_index_check" -> (CheckQueries.dedupIndexCheck _),
    "dedup_check_cluster" -> (CheckQueries.dedupCheckCluster _)
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice),2) AS sum_base_price, round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price, round(avg(l_quantity),4) AS avg_qty, round(avg(l_discount),4) AS avg_disc, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_quantity, l_discount FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.03""",
    "q03_broadcast_join" ->
      """SELECT c_mktsegment, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""",
    "q04_shuffle_join" ->
      """SELECT o_orderstatus, round(sum(l_extendedprice),2) AS sum_price, round(avg(l_discount),4) AS avg_disc, count(*) AS n_lines FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus""",
    "q05_star_join" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00' GROUP BY n_name""",
    "q06_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (SELECT o_custkey, o_orderkey, o_totalprice, CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk FROM orders) t WHERE rk <= 3""",
    "q07_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
    "q08_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders FROM orders GROUP BY o_orderpriority""",
    "q09_union" ->
      """SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 400000.0 UNION ALL SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 5000.0""",
    "q10_semi_anti_join" ->
      """SELECT c_custkey, 'active' AS status FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) UNION ALL SELECT c_custkey, 'inactive' AS status FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "q11_stats_agg" ->
      """SELECT l_returnflag, round(stddev_samp(l_quantity),4) AS sd_qty, round(var_samp(l_quantity),4) AS var_qty, round(min(l_extendedprice),2) AS min_price, round(max(l_extendedprice),2) AS max_price, count(*) AS n FROM lineitem GROUP BY l_returnflag""",
    "q12_conditional_agg" ->
      """SELECT l_linestatus, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY l_linestatus""",
    "q13_having" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice),2) AS spend FROM orders GROUP BY o_custkey HAVING count(*) >= 15""",
    "q14_scalar_subquery" ->
      """SELECT round(sum(l_extendedprice)/7.0, 2) AS avg_yearly FROM lineitem l JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.pk WHERE l.l_quantity < 0.5 * a.aq""",
    "q15_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS revenue FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
    "q16_json_extract" ->
      """SELECT k_mod, count(*) AS n, round(sum(value),2) AS sum_value FROM (SELECT CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS BIGINT) % 10 AS k_mod, value FROM events WHERE regexp_extract(props, '"k": *(-?[0-9]+)', 1) <> '') t GROUP BY k_mod""",
    "q17_time_bucket" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, round(sum(value),2) AS sum_value FROM events GROUP BY 1, 2""",
    "q18_lag_lead" ->
      """SELECT user_id, event_id, ts_us - prev_us AS gap_us FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us FROM events) t WHERE prev_us IS NOT NULL""",
    "q19_exists_in" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')""",
    "q20_multi_grouping" ->
      """SELECT 'status' AS "level", o_orderstatus AS "key", count(*) AS n, round(sum(o_totalprice),2) AS revenue FROM orders GROUP BY o_orderstatus UNION ALL SELECT 'priority' AS "level", o_orderpriority AS "key", count(*) AS n, round(sum(o_totalprice),2) AS revenue FROM orders GROUP BY o_orderpriority""",
    "q21_percentiles" ->
      """SELECT event_type, round(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END), 2) AS p50, round(max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END), 2) AS p90, round(max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN value END), 2) AS p99, max(n) AS n FROM (SELECT event_type, value, CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM events WHERE value IS NOT NULL) t GROUP BY event_type""",
    "q22_interval_join" ->
      """SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue FROM orders JOIN (VALUES ('b0', 0.0, 1000.0), ('b1', 1000.0, 2000.0), ('b2', 2000.0, 5000.0), ('b3', 5000.0, 10000.0), ('b4', 10000.0, 20000.0), ('b5', 20000.0, 50000.0), ('b6', 50000.0, 100000.0), ('b7', 100000.0, 200000.0), ('b8', 200000.0, 500000.0), ('b9', 500000.0, 1000000.0)) AS bands(band, lo, hi) ON o_totalprice >= lo AND o_totalprice < hi GROUP BY band""",
    "q23_spend_deciles" ->
      """SELECT decile, count(*) AS n_customers, round(sum(spend), 2) AS decile_spend FROM (SELECT o_custkey, spend, CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS INT) AS decile FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend FROM orders GROUP BY o_custkey) s) t GROUP BY decile""",
    "q24_pivot" ->
      """SELECT user_id % 100 AS cohort, coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0.0) AS click, coalesce(round(sum(CASE WHEN event_type = 'error' THEN value END), 2), 0.0) AS error, coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase, coalesce(round(sum(CASE WHEN event_type = 'signup' THEN value END), 2), 0.0) AS signup, coalesce(round(sum(CASE WHEN event_type = 'view' THEN value END), 2), 0.0) AS view FROM events GROUP BY 1""",
    "q25_running_total" ->
      """SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS UNBOUNDED PRECEDING), 2) AS running_spend FROM orders""",
    "curate_mix" ->
      """WITH totals AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS total FROM documents GROUP BY source) SELECT d.source, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS kept_tokens FROM documents d JOIN totals t ON d.source = t.source WHERE ((d.doc_id & 2147483647) * 2654435761) % 1000 < least(1000, CAST(floor(40000.0 * (CASE d.source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.25 WHEN 'src2' THEN 2.0 ELSE 0.05 END) * 1000.0 / nullif(t.total, 0.0)) AS BIGINT)) GROUP BY d.source""",
    "curate_pack" ->
      """WITH h AS (SELECT doc_id, n_chars, ((doc_id & 2147483647) * 2654435761) % 16 AS pb, ((doc_id & 2147483647) * 2654435761) % 1000000007 AS ho FROM documents), c AS (SELECT doc_id, n_chars, pb, sum(n_chars) OVER (PARTITION BY pb ORDER BY ho, doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS po FROM h) SELECT pb * 1099511627776 + CAST(floor(po / 4096.0) AS BIGINT) AS pack_id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_tokens FROM c GROUP BY 1""",
    "events_asof" ->
      """SELECT c.event_id, c.user_id, epoch_us(e.ts) AS err_ts_us, round(e.value, 2) AS err_value FROM (SELECT * FROM events WHERE event_type = 'click') c ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e ON c.user_id = e.user_id AND e.ts <= c.ts""",
    "events_sessions" ->
      """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events, min(us) AS start_us, max(us) AS end_us, round(sum(value), 2) AS sum_value FROM (SELECT user_id, value, us, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM (SELECT user_id, event_id, value, epoch_us(ts) AS us, CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000 THEN 1 ELSE 0 END AS new_session FROM events) a) b GROUP BY user_id, session_idx""",
    "wap_roundtrip" ->
      """SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars, count(DISTINCT doc_id) AS n_docs FROM documents WHERE doc_id < 200""",
    "wap_metrics" ->
      """SELECT 'main' AS branch, count(*) AS n_rows, CAST(0 AS BIGINT) AS n_null_text FROM documents WHERE doc_id < 200 UNION ALL SELECT 'batch-2' AS branch, (SELECT count(*) FROM documents WHERE doc_id < 300) AS n_rows, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 10 = 0) AS n_null_text""",
    "wap_branch_stats" ->
      """SELECT 'batch-2' AS branch, (SELECT count(*) FROM documents WHERE doc_id < 300) AS n_rows, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 10 = 0) AS n_null_text UNION ALL SELECT 'main' AS branch, (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, CAST(0 AS BIGINT) AS n_null_text""",
    "wap_delete" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS sum_chars, (SELECT min(doc_id) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS min_id, (SELECT count(*) FROM documents WHERE doc_id < 50) AS rows_deleted""",
    "wap_meta_delete" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS sum_chars, (SELECT min(doc_id) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS min_id, (SELECT count(*) FROM documents WHERE doc_id < 120) AS rows_deleted, CAST(1 AS BIGINT) AS files_dropped, CAST(1 AS BIGINT) AS files_rewritten""",
    "wap_tags" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 100) AS v1_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 100) AS v1_chars, (SELECT count(*) FROM documents WHERE doc_id < 200) AS v2_rows, (SELECT count(*) FROM documents WHERE doc_id >= 40 AND doc_id < 200) AS head_rows, true AS tag_write_refused""",
    "wap_cherrypick" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 160) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 160) AS sum_chars, true AS clean_published, true AS idempotent, true AS dirty_blocked""",
    "wap_views" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 100 AND n_chars > 0) AS at_create, (SELECT count(*) FROM documents WHERE doc_id < 200 AND n_chars > 0) AS after_append, (SELECT count(*) FROM documents WHERE doc_id >= 150 AND doc_id < 200) AS after_merge, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 150 AND doc_id < 200) AS sum_chars, true AS main_isolated""",
    "wap_manifest_prune" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 150) AS n_high, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 150) AS chars_high, (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 140) AS n_high_after_delete, CAST(2 AS BIGINT) AS files_untouched, true AS corrupt_real""",
    "wap_clone" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 20 AND doc_id < 200) AS src_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 20 AND doc_id < 200) AS src_chars, (SELECT count(*) FROM documents WHERE doc_id < 250) AS clone_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 250) AS clone_chars, (SELECT count(*) FROM documents WHERE doc_id < 200) AS tt_rows, true AS zero_copy""",
    "wap_topk_push" ->
      """WITH a AS (SELECT doc_id, n_chars, 'asc' AS ord FROM documents WHERE doc_id < 160 ORDER BY doc_id LIMIT 5), d AS (SELECT doc_id, n_chars, 'desc' AS ord FROM documents WHERE doc_id < 160 ORDER BY doc_id DESC LIMIT 5) SELECT doc_id, n_chars, ord, true AS asc_one_file, true AS desc_one_file, true AS plain_limit_prefix FROM (SELECT * FROM a UNION ALL SELECT * FROM d)""",
    "wap_stream_read" ->
      """SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars, count(DISTINCT doc_id) AS n_docs, true AS chunked_initial, true AS delta_exact, true AS idle_zero FROM documents WHERE doc_id < 160""",
    "wap_stream_cdc" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 150) AS n_rows, (SELECT CAST(sum(CASE WHEN doc_id >= 50 THEN n_chars * 2 ELSE n_chars END) AS BIGINT) FROM documents WHERE doc_id < 150) AS sum_chars, (SELECT count(DISTINCT doc_id) FROM documents WHERE doc_id < 150) AS n_keys, true AS zero_rewrites, true AS dirty_quarantined""",
    "wap_orphans" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 100) AS tt_rows, CAST(0 AS BIGINT) AS fence_kept, CAST(1 AS BIGINT) AS reaped, CAST(0 AS BIGINT) AS idempotent_zero""",
    "wap_update" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars + 1000) AS BIGINT) FROM documents WHERE doc_id < 50) AS sum_updated, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS sum_untouched, (SELECT count(*) FROM documents WHERE doc_id < 50) AS rows_updated""",
    "wap_upsert" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 205) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN (doc_id >= 90 AND doc_id < 110) OR (doc_id >= 200 AND doc_id < 205) THEN 5000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 205) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id >= 90 AND doc_id < 110) AS rows_replaced, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 205) AS rows_inserted""",
    "wap_partitioned" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id = 57) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id = 57) AS sum_chars, true AS pruned""",
    "wap_sorted_compact" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id = 57) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id = 57) AS sum_chars, CAST(4 AS BIGINT) AS pruned_before, CAST(4 AS BIGINT) AS n_files_after, CAST(1 AS BIGINT) AS pruned_after""",
    "wap_mor_delete" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200 AND (doc_id % 7 <> 0 OR doc_id = 7)) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200 AND (doc_id % 7 <> 0 OR doc_id = 7)) AS sum_chars, true AS zero_data_rewrites, true AS reappend_visible, true AS materialized_clean""",
    "wap_mview" ->
      """SELECT (SELECT count(DISTINCT lang) FROM documents WHERE doc_id < 150) AS agg_langs, (SELECT count(*) FROM documents WHERE doc_id < 150) AS agg_docs, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 150) AS agg_chars, (SELECT count(*) FROM documents WHERE doc_id < 150 AND n_chars % 3 = 0) AS sel_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 150 AND n_chars % 3 = 0) AS sel_chars, true AS fresh_noop, true AS agg_incremental, true AS sel_incremental, true AS join_incremental, true AS avg_fold_ok, true AS dml_fold_ok, true AS full_after_delete""",
    "wap_changelog" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS n_inserts, (SELECT CAST(COALESCE(sum(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS insert_ids, (SELECT count(*) FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0) AS n_deletes, (SELECT CAST(COALESCE(sum(doc_id), 0) AS BIGINT) FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0) AS delete_ids""",
    "wap_cdc_feed" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) + (SELECT count(*) FROM documents WHERE doc_id >= 30 AND doc_id < 100) AS n_inserts, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) + (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 30 AND doc_id < 100) AS chars_inserted, (SELECT count(*) FROM documents WHERE doc_id < 100) + (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 110) + (SELECT count(*) FROM documents WHERE doc_id >= 150 AND doc_id < 160) AS n_deletes, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 100) + (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 110) + (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 150 AND doc_id < 160) AS chars_deleted, CAST(7 AS BIGINT) AS n_commits, (SELECT count(*) FROM documents WHERE (doc_id >= 30 AND doc_id < 100) OR (doc_id >= 110 AND doc_id < 150) OR (doc_id >= 160 AND doc_id < 200)) AS live_rows, true AS net_ok""",
    "wap_cdc_replicate" ->
      """SELECT (SELECT count(*) FROM documents WHERE (doc_id >= 30 AND doc_id < 100) OR (doc_id >= 110 AND doc_id < 150) OR (doc_id >= 160 AND doc_id < 200)) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE (doc_id >= 30 AND doc_id < 100) OR (doc_id >= 110 AND doc_id < 150) OR (doc_id >= 160 AND doc_id < 200)) AS sum_chars, (SELECT count(DISTINCT doc_id) FROM documents WHERE (doc_id >= 30 AND doc_id < 100) OR (doc_id >= 110 AND doc_id < 150) OR (doc_id >= 160 AND doc_id < 200)) AS n_keys, true AS same_as_source, true AS replay_idempotent, true AS mor_applied""",
    "wap_maintain" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 115) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 50 AND doc_id < 115) AS sum_chars, (SELECT count(DISTINCT lang) FROM documents WHERE doc_id >= 50 AND doc_id < 115) AS n_langs, true AS materialized, true AS bin_packed, true AS expired, true AS healthy_after, true AS ttl_swept""",
    "wap_spec_evolve" ->
      """SELECT (SELECT count(*) FROM events) AS n_rows, (SELECT count(*) FROM events WHERE user_id = 3) AS q_rows, (SELECT CAST(COALESCE(sum(event_id), 0) AS BIGINT) FROM events WHERE user_id = 3) AS q_sum, true AS metadata_only, true AS old_files_kept, true AS new_files_pruned, true AS day_prunes_both, true AS retired_field_prunes""",
    "wap_multipart" ->
      """SELECT (SELECT count(*) FROM events) AS n_rows, (SELECT count(*) FROM events WHERE ts < (SELECT min(ts) + INTERVAL 2 DAY FROM events) AND user_id = 3) AS q_rows, (SELECT CAST(COALESCE(sum(event_id), 0) AS BIGINT) FROM events WHERE ts < (SELECT min(ts) + INTERVAL 2 DAY FROM events) AND user_id = 3) AS q_sum, true AS day_pruned, true AS bucket_pruned, true AS conjunction_pruned, true AS layout_ok""",
    "wap_rename" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(DISTINCT lang) FROM documents WHERE doc_id < 200) AS n_langs, (SELECT CAST(min(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS min_chars, true AS metadata_only, true AS time_travel_old_schema, true AS filter_exact""",
    "wap_add_files" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(DISTINCT lang) FROM documents WHERE doc_id < 200) AS n_langs, (SELECT count(*) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS rows_imported, true AS in_place, true AS dup_refused, true AS pruned, true AS meta_exact_refused, true AS meta_count_served, true AS exact_after_rewrite""",
    "wap_pos_delete" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 100) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 100) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 100 AND n_chars % 7 = 0) AS rows_pos_deleted, (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS rows_meta_deleted, true AS zero_rewrites, true AS meta_dropped, true AS reappend_visible, true AS folded_one_epoch, true AS materialized_clean""",
    "wap_mor_upsert" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 205) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN (doc_id >= 90 AND doc_id < 110) OR (doc_id >= 200 AND doc_id < 205) THEN 5000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 205) AS sum_chars, true AS zero_data_rewrites""",
    "wap_zorder" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 130) AS n_rows_id_slice, CAST(16 AS BIGINT) AS n_files, true AS prunes_id, true AS prunes_chars, true AS pruned_scan_sound""",
    "wap_merge_conditional" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 210 AND NOT (doc_id >= 150 AND doc_id < 200 AND doc_id % 2 <> 0 AND doc_id % 3 = 0)) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN doc_id >= 150 AND doc_id < 200 AND doc_id % 2 = 0 THEN 1000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 210 AND NOT (doc_id >= 150 AND doc_id < 200 AND doc_id % 2 <> 0 AND doc_id % 3 = 0)) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id >= 150 AND doc_id < 200 AND doc_id % 2 = 0) AS rows_updated, (SELECT count(*) FROM documents WHERE doc_id >= 150 AND doc_id < 200 AND doc_id % 2 <> 0 AND doc_id % 3 = 0) AS rows_deleted, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 210) AS rows_inserted""",
    "wap_defaults" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 250) AS n_rows, (SELECT CAST(sum(CASE WHEN doc_id < 150 THEN 7 WHEN doc_id < 200 THEN (CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n_chars END) ELSE 9 END) AS BIGINT) FROM documents WHERE doc_id < 250) AS sum_score, (SELECT count(*) FROM documents WHERE doc_id >= 150 AND doc_id < 200 AND doc_id % 10 = 0) AS null_scores, (SELECT count(*) FROM documents WHERE doc_id < 100) AS pre_add_served, true AS meta_agg_bails, true AS export_refused, true AS export_after_rewrite""",
    "wap_constraints" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN doc_id < 50 THEN 1000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, true AS rejected_append, true AS rejected_update, true AS rejected_merge, true AS set_time_validated""",
    "wap_row_lineage" ->
      """SELECT (SELECT count(*) FROM documents WHERE (doc_id < 200 AND n_chars % 7 <> 0) OR (doc_id >= 200 AND doc_id < 250)) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE (doc_id < 200 AND n_chars % 7 <> 0) OR (doc_id >= 200 AND doc_id < 250)) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 20 AND n_chars % 7 <> 0) AS n_renamed_lang, true AS ids_stable, true AS seq_tracks_updates, true AS publish_carries_ids, true AS ids_unique""",
    "wap_pos_update" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN n_chars % 7 = 0 THEN 10000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 20) AS n_xx, (SELECT count(*) FROM documents WHERE doc_id < 200 AND n_chars % 7 = 0) AS rows_updated_1, (SELECT count(*) FROM documents WHERE doc_id < 20) AS rows_updated_2, true AS zero_rewrites, true AS materialized_clean""",
    "wap_agg_groupby" ->
      """SELECT lang, count(*) AS n, count(source) AS n_src, CAST(min(doc_id) AS BIGINT) AS min_id, CAST(max(n_chars) AS BIGINT) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars, true AS v2_pushed, true AS zero_data_io FROM documents WHERE doc_id < 260 GROUP BY lang""",
    "wap_agg_filtered" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 260 AND lang = 'en') AS n, (SELECT CAST(min(doc_id) AS BIGINT) FROM documents WHERE doc_id < 260 AND lang = 'en') AS min_id, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 260 AND lang = 'en') AS sum_chars, (SELECT CAST(sum(n_chars) AS DOUBLE) / count(n_chars) FROM documents WHERE doc_id < 260 AND lang = 'en') AS avg_chars, (SELECT count(*) FROM documents WHERE doc_id < 260 AND lang <> 'en') AS grouped_total, true AS filtered_meta_only, true AS grouped_meta_only, true AS fallback_sound""",
    "wap_pos_merge" ->
      """SELECT (SELECT count(*) FROM documents WHERE (doc_id < 200 AND NOT (doc_id >= 50 AND doc_id < 150 AND doc_id % 2 <> 0 AND doc_id % 3 = 0)) OR (doc_id >= 200 AND doc_id < 220)) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN doc_id >= 50 AND doc_id < 150 AND doc_id % 2 = 0 THEN 1000 ELSE 0 END) AS BIGINT) FROM documents WHERE (doc_id < 200 AND NOT (doc_id >= 50 AND doc_id < 150 AND doc_id % 2 <> 0 AND doc_id % 3 = 0)) OR (doc_id >= 200 AND doc_id < 220)) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id >= 60 AND doc_id < 70 AND NOT (doc_id % 2 <> 0 AND doc_id % 3 = 0)) AS n_xx, (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 150 AND doc_id % 2 = 0) AS rows_updated_1, (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 150 AND doc_id % 2 <> 0 AND doc_id % 3 = 0) AS rows_deleted_1, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 220) AS rows_inserted_1, (SELECT count(*) FROM documents WHERE doc_id >= 60 AND doc_id < 70 AND NOT (doc_id % 2 <> 0 AND doc_id % 3 = 0)) AS rows_updated_2, true AS zero_rewrites, true AS merge_pos_op, true AS materialized_clean""",
    "wap_convert_eq" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200 AND NOT (doc_id < 100 AND doc_id % 10 = 0 AND doc_id <> 20) AND doc_id <> 150) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200 AND NOT (doc_id < 100 AND doc_id % 10 = 0 AND doc_id <> 20) AND doc_id <> 150) AS sum_chars, true AS pos_only, true AS zero_rewrites, true AS same_visibility, true AS lineage_without_rewrite""",
    "wap_cdf" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 20 AND n_chars % 7 <> 0) AS n_pre, (SELECT count(*) FROM documents WHERE doc_id < 20 AND n_chars % 7 <> 0) AS n_post, (SELECT count(*) FROM documents WHERE doc_id < 200 AND n_chars % 7 = 0) AS n_del, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 250) AS n_ins, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 200 AND doc_id < 250) AS ins_chars, (SELECT count(*) FROM documents WHERE doc_id < 20 AND n_chars % 7 <> 0) + (SELECT count(*) FROM documents WHERE doc_id < 200 AND n_chars % 7 = 0) + (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 250) AS n_ids, true AS updates_pair_by_id""",
    "wap_merge_source" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 100) AS n_rows, (SELECT CAST(sum(n_chars + CASE WHEN doc_id >= 80 AND doc_id % 2 = 0 THEN 1000 ELSE 0 END) AS BIGINT) FROM documents WHERE doc_id < 100) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 40) AS n_stale, (SELECT count(*) FROM documents WHERE doc_id >= 80 AND doc_id < 120 AND doc_id % 2 = 0) + (SELECT count(*) FROM documents WHERE doc_id < 40) AS rows_updated_1, (SELECT count(*) FROM documents WHERE doc_id >= 160 AND doc_id < 200) AS rows_deleted_1, (SELECT count(*) FROM documents WHERE doc_id >= 200 AND doc_id < 210) AS rows_inserted_1, (SELECT count(*) FROM documents WHERE (doc_id >= 100 AND doc_id < 160) OR (doc_id >= 200 AND doc_id < 210)) AS rows_deleted_2, true AS conditional_tier_carried, true AS drop_tier_metadata_only""",
    "wap_merge_evolve" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT CAST(3 * sum(doc_id) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS sum_score, (SELECT count(*) FROM documents WHERE doc_id < 100) AS n_null_score, (SELECT CAST(sum(doc_id % 5) AS BIGINT) FROM documents WHERE doc_id < 50) AS sum_grade, (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS n_null_grade, CAST(50 AS BIGINT) AS rows_updated, CAST(50 AS BIGINT) AS rows_inserted""",
    "wap_txn" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(DISTINCT source) FROM documents WHERE doc_id < 200) AS n_sources, (SELECT count(*) FROM documents WHERE doc_id < 200) AS stats_total, true AS one_commit, true AS aborted_clean""",
    "wap_sql_txn" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 100) AS n_facts, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 100) AS facts_chars, CAST(0 AS BIGINT) AS n_audit, true AS staged_invisible, true AS abort_clean""",
    "wap_stream_sink" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_chars, (SELECT count(DISTINCT doc_id) FROM documents WHERE doc_id < 200) AS n_docs, (SELECT count(*) FROM documents WHERE doc_id < 150 OR (doc_id >= 200 AND doc_id < 300)) AS q_rows, CAST(1 AS BIGINT) AS n_stream_keys, CAST(2 AS BIGINT) AS last_epoch""",
    "wap_sql_scan" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS sum_chars, (SELECT count(*) FROM documents WHERE doc_id < 100) AS v1_rows, (SELECT count(*) FROM documents WHERE doc_id < 215) AS wip_rows, true AS native_batch_scan, true AS manifest_pruned""",
    "wap_meta_tables" ->
      """SELECT CAST(3 AS BIGINT) AS n_snapshots, (SELECT count(*) FROM documents WHERE doc_id < 200) AS head_rows, CAST(2 AS BIGINT) AS n_files, (SELECT count(*) FROM documents WHERE doc_id < 200) AS rows_from_files, CAST(3 AS BIGINT) AS n_heads, true AS head_current""",
    "wap_sql_dml" ->
      """SELECT count(*) AS n_rows, CAST(sum(chars) AS BIGINT) AS sum_chars, count(DISTINCT doc_id) AS n_docs, true AS main_guarded FROM (SELECT doc_id, n_chars + 1000 AS chars FROM documents WHERE doc_id < 50 UNION ALL SELECT doc_id, n_chars FROM documents WHERE doc_id >= 50 AND doc_id < 150 UNION ALL SELECT doc_id, n_chars + 5000 FROM documents WHERE doc_id >= 150 AND doc_id < 200 AND doc_id % 2 = 0 UNION ALL SELECT doc_id, n_chars FROM documents WHERE doc_id >= 200 AND doc_id < 230)""",
    "wap_runtime_prune" ->
      """SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(8 AS BIGINT) AS files_before, true AS pruned, true AS dpp_planned FROM documents WHERE doc_id < 64 AND doc_id % 16 = 3""",
    "wap_bloom" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id = 57) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id = 57) AS sum_chars, CAST(4 AS BIGINT) AS files_before, true AS point_pruned, true AS in_pruned, CAST(4 AS BIGINT) AS manifests_indexed""",
    "wap_generated" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(sum(n_chars // 1000) AS BIGINT) FROM documents WHERE doc_id < 200) AS sum_kchars, CAST(0 AS BIGINT) AS n_null, true AS mismatch_rejected""",
    "wap_replace" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 200) + (SELECT count(*) FROM documents WHERE doc_id < 20) AS n_rows, (SELECT CAST(sum(n_chars) * 2 AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 200) + (SELECT CAST(sum(n_chars) * 2 AS BIGINT) FROM documents WHERE doc_id < 20) AS sum_score, (SELECT count(DISTINCT lang) FROM documents WHERE doc_id >= 100 AND doc_id < 200 OR doc_id < 20) AS n_langs, true AS atomic_failure, true AS schema_swapped, true AS lineage_kept""",
    "wap_spj_sorted" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 300) AS n_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 300) AS sum_chars, (SELECT count(DISTINCT lang) FROM documents WHERE doc_id < 300) AS n_langs, true AS is_sort_merge_join, true AS shuffle_free, true AS sort_free""",
    "wap_spj" ->
      """SELECT count(*) AS n_rows, CAST(sum(a.n_chars) AS BIGINT) AS sum_chars, count(DISTINCT b.lang) AS n_langs, true AS join_shuffle_free, true AS agg_exchange_free FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 300) a JOIN (SELECT doc_id, lang FROM documents WHERE doc_id < 300) b ON a.doc_id = b.doc_id""",
    "wap_sql_changes" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS delta_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 200) AS delta_chars, (SELECT count(*) FROM documents WHERE doc_id >= 100 AND doc_id < 160) AS window_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 160) AS window_chars, CAST(0 AS BIGINT) AS empty_rows, true AS window_pruned""",
    "wap_agg_pushdown" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 200) AS n_rows, (SELECT CAST(min(doc_id) AS BIGINT) FROM documents WHERE doc_id < 200) AS min_id, (SELECT CAST(max(doc_id) AS BIGINT) FROM documents WHERE doc_id < 200) AS max_id, (SELECT min(lang) FROM documents WHERE doc_id < 200) AS min_lang, (SELECT max(lang) FROM documents WHERE doc_id < 200) AS max_lang, (SELECT count(lang) FROM documents WHERE doc_id < 200) AS n_lang, true AS v2_pushed, true AS zero_data_io""",
    // __EXPORT_DIR__ is substituted by Verify at dump time with the
    // actual export dir for the SF being verified (WapQueries.exportDir)
    "wap_export" ->
      """SELECT d.n_rows, d.sum_chars, d.n_docs, m.n_files, t.tail_rows, t.tail_chars, a.n_admitted FROM (SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars, count(DISTINCT doc_id) AS n_docs FROM read_parquet('__EXPORT_DIR__/files/*.parquet')) d CROSS JOIN (SELECT CAST(len(files) AS BIGINT) AS n_files FROM read_json_auto('__EXPORT_DIR__/manifest.json')) m CROSS JOIN (SELECT count(*) AS tail_rows, CAST(sum(n_chars) AS BIGINT) AS tail_chars FROM read_parquet('__EXPORT_DIR__/files/*.parquet') WHERE doc_id >= 210) t CROSS JOIN (SELECT count(*) AS n_admitted FROM (SELECT unnest(files) AS f FROM read_json_auto('__EXPORT_DIR__/manifest.json')) u WHERE CAST(u.f.upper.doc_id AS BIGINT) >= 210) a""",
    "wap_export_changes" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 20 AND doc_id < 150) AS n_insert_rows, (SELECT count(*) FROM documents WHERE doc_id < 100) AS n_delete_rows, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 100 AND doc_id < 150) - (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < 20) AS chars_net, (SELECT count(*) FROM documents WHERE doc_id < 20 OR (doc_id >= 100 AND doc_id < 150)) AS net_rows, (SELECT count(*) FROM read_parquet('__EXPORT_DIR__-changes/net/changes/*.parquet')) AS duck_net_rows, true AS net_consistent""",
    "wap_incremental" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS rows_w23, (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id >= 120 AND doc_id < 200) AS chars_w23, (SELECT count(*) FROM documents WHERE doc_id >= 50 AND doc_id < 200) AS rows_w13, CAST(0 AS BIGINT) AS rows_empty, CAST(0 AS BIGINT) AS rows_compaction""",
    "dq_null_audit" ->
      """SELECT 'not_null(text)' AS check_name, (SELECT count(*) FROM documents WHERE doc_id < 300 AND doc_id % 10 = 0) = 0 AS passed, (SELECT count(*) FROM documents WHERE doc_id < 300 AND doc_id % 10 = 0) AS violations UNION ALL SELECT 'not_null(lang)' AS check_name, (SELECT count(*) FROM documents WHERE doc_id < 300 AND lang IS NULL) = 0 AS passed, (SELECT count(*) FROM documents WHERE doc_id < 300 AND lang IS NULL) AS violations""",
    "dq_null_counts" ->
      """SELECT '__rows' AS column_name, count(*) AS null_count FROM events UNION ALL SELECT 'event_type', CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT) FROM events UNION ALL SELECT 'value', CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) FROM events UNION ALL SELECT 'props', CAST(count(*) FILTER (WHERE props IS NULL) AS BIGINT) FROM events""",
    "dq_suite" ->
      """SELECT 'not_null(o_orderkey)' AS check_name, count(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS passed, CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS violations FROM orders UNION ALL SELECT 'unique_key(o_orderkey)', count(o_orderkey) - count(DISTINCT o_orderkey) = 0, CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders UNION ALL SELECT 'value_range(o_totalprice)', count(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 1000000.0) = 0, CAST(count(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 1000000.0) AS BIGINT) FROM orders UNION ALL SELECT 'accepted_values(o_orderstatus)', count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) = 0, CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT) FROM orders UNION ALL SELECT 'row_count_min(10)', count(*) >= 10, CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) FROM orders UNION ALL SELECT 'freshness(o_orderdate)', max(o_orderdate) >= TIMESTAMP '1995-01-01 00:00:00', CAST(CASE WHEN max(o_orderdate) < TIMESTAMP '1995-01-01 00:00:00' THEN 1 ELSE 0 END AS BIGINT) FROM orders""",
    "dq_ref_integrity" ->
      """SELECT count(*) AS n_rows, CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans, round(CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS orphan_ratio FROM events e LEFT JOIN (SELECT DISTINCT n_nationkey AS pk FROM nation) p ON e.user_id = p.pk""",
    "dq_drift" ->
      """WITH allx AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, CASE WHEN o_orderkey % 2 = 0 THEN 'ref' ELSE 'cur' END AS side FROM orders WHERE o_totalprice IS NOT NULL), bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM allx), bucketed AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(9, CAST(floor((x - lo) / (hi - lo) * 10.0) AS BIGINT)) END AS b, side FROM allx, bounds), counts AS (SELECT b, CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS cr, CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS cc FROM bucketed GROUP BY b), totals AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(cc) AS BIGINT) AS nc, count(*) AS np FROM counts) SELECT nr AS n_ref, nc AS n_cur, round(sum(((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 0.5 * 10.0) - (CAST(cc AS DOUBLE) + 0.5) / (CAST(nc AS DOUBLE) + 0.5 * 10.0)) * ln(((CAST(cr AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 0.5 * 10.0)) / ((CAST(cc AS DOUBLE) + 0.5) / (CAST(nc AS DOUBLE) + 0.5 * 10.0)))) + greatest(0.0, 10.0 - np) * (0.5 / (CAST(nr AS DOUBLE) + 0.5 * 10.0) - 0.5 / (CAST(nc AS DOUBLE) + 0.5 * 10.0)) * ln((0.5 / (CAST(nr AS DOUBLE) + 0.5 * 10.0)) / (0.5 / (CAST(nc AS DOUBLE) + 0.5 * 10.0))), 6) AS psi FROM counts, totals GROUP BY nr, nc, np""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text""",
    "dedup_exact_norm" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM (SELECT doc_id, array_to_string(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'), ' ') AS norm FROM documents) t GROUP BY norm""",
    "sim_topk_brute" ->
      """SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank, cosine FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, round(CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cosine, row_number() OVER (PARTITION BY q.vec_id ORDER BY round(CAST(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS DOUBLE), 4) DESC, c.vec_id ASC) AS rk FROM embeddings q, embeddings c WHERE q.vec_id < 20 AND c.vec_id >= 100) t WHERE rk <= 5""",
    "text_tokens" ->
      """SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS re_tokens FROM documents""",
    "text_repetition" ->
      """SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines, CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct_lines, round(CASE WHEN len(lines) > 0 THEN (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE) ELSE 0.0 END, 4) AS dup_line_ratio, round(CASE WHEN coalesce(list_aggregate(list_transform(lines, l -> length(l)), 'sum'), 0) > 0 THEN (list_aggregate(list_transform(lines, l -> length(l)), 'sum') - list_aggregate(list_transform(list_distinct(lines), l -> length(l)), 'sum')) / CAST(list_aggregate(list_transform(lines, l -> length(l)), 'sum') AS DOUBLE) ELSE 0.0 END, 4) AS dup_line_char_ratio FROM (SELECT doc_id, list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines FROM documents) t""",
    "text_top_terms" ->
      """SELECT lang, term, n, rk FROM (SELECT lang, term, n, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS INT) AS rk FROM (SELECT lang, term, count(*) AS n FROM (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents) u WHERE term <> '' GROUP BY lang, term) c) r WHERE rk <= 5""",
    "text_gopher" ->
      """SELECT doc_id, ok_word_count, ok_word_len, ok_symbol_ratio, ok_alpha_ratio, ok_bullet_ratio, ok_ellipsis_ratio, (ok_word_count AND ok_word_len AND ok_symbol_ratio AND ok_alpha_ratio AND ok_bullet_ratio AND ok_ellipsis_ratio) AS keep FROM (SELECT doc_id, n_words >= 20 AND n_words <= 100000 AS ok_word_count, mean_len >= 3.0 AND mean_len <= 10.0 AS ok_word_len, symbols / n_words <= 0.1 AS ok_symbol_ratio, alpha_words / n_words >= 0.8 AS ok_alpha_ratio, coalesce(bullet_lines / nullif(n_lines, 0.0) <= 0.9, true) AS ok_bullet_ratio, coalesce(ellipsis_lines / nullif(n_lines, 0.0) <= 0.3, true) AS ok_ellipsis_ratio FROM (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_words, CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS mean_len, CAST(length(text) - length(regexp_replace(text, '[#\.\*]', '', 'g')) AS DOUBLE) AS symbols, CAST(len(list_filter(string_split_regex(trim(text), '\s+'), w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) AS alpha_words, CAST(len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '')) AS DOUBLE) AS n_lines, CAST(len(list_filter(list_filter(string_split(text, chr(10)), l -> trim(l) <> ''), l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) AS bullet_lines, CAST(len(list_filter(list_filter(string_split(text, chr(10)), l -> trim(l) <> ''), l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) AS ellipsis_lines FROM documents) a) b""",
    "text_redact" ->
      """SELECT doc_id, regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?[0-9][0-9()\- ]{7,}[0-9]', '[PHONE]', 'g') AS clean_text, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails, CAST(len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS INT) AS n_phones FROM documents""",
    "text_quality" ->
      """SELECT doc_id, round(punct / nullif(n_chars, 0), 4) AS punct_ratio, round(stop_hits / n_toks, 4) AS stopword_ratio, round(nullif(n_chars, 0) / n_toks, 4) AS mean_word_len, round(greatest(0.0, least(1.0, 0.5 + 0.5 * (stop_hits / n_toks) - (punct / nullif(n_chars, 0)))), 4) AS quality_score FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars, CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS punct, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_toks, CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'))) AS DOUBLE) AS stop_hits FROM documents) t""",
    "text_bm25" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts FROM documents), base AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, CAST(len(list_filter(ts, t -> t = 'data')) AS DOUBLE) AS tf0, CAST(len(list_filter(ts, t -> t = 'query')) AS DOUBLE) AS tf1, CAST(len(list_filter(ts, t -> t = 'vector')) AS DOUBLE) AS tf2 FROM toks), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0, sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1, sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2 FROM base) SELECT doc_id, CAST(dl AS BIGINT) AS dl, round(ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS bm25 FROM base, stats ORDER BY bm25 DESC, doc_id ASC LIMIT 50""",
    "text_dup_ngrams" ->
      """SELECT doc_id, CAST(len(gs) AS INT) AS n_grams, CAST(len(list_filter(flags, f -> f)) AS INT) AS n_dup_grams, round(CASE WHEN total = 0 THEN 0.0 ELSE dup_chars / total END, 4) AS dup_char_frac FROM (SELECT doc_id, gs, flags, ts, CAST(coalesce(list_aggregate(list_transform(ts, t -> length(t)), 'sum'), 0) AS DOUBLE) AS total, CAST(coalesce(list_aggregate(list_transform(generate_series(1, len(ts)), i -> CASE WHEN len(list_filter(generate_series(greatest(1, i - 2), least(i, len(gs))), j -> flags[j])) > 0 THEN length(ts[i]) ELSE 0 END), 'sum'), 0) AS DOUBLE) AS dup_chars FROM (SELECT doc_id, ts, gs, list_transform(generate_series(1, len(gs)), j -> len(list_filter(gs, g -> g = gs[j])) > 1) AS flags FROM (SELECT doc_id, ts, list_transform(generate_series(1, greatest(0, len(ts) - 2)), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gs FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents) t0) t1) t2) t3""",
    "mm_manifest" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, count(*) AS n_assets, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes, CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes FROM documents GROUP BY 1""",
    "sql_vector_norm" ->
      """SELECT a.vec_id, round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 3) + 0.0 AS dot_next FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""",
    "mm_features" ->
      """SELECT doc_id AS media_id, CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, CAST(CASE doc_id % 3 WHEN 2 THEN greatest(1, (doc_id % 90000 + 1000) // 1000) WHEN 1 THEN greatest(1, (doc_id % 90000 + 1000) // 5000) ELSE 1 END AS INT) AS frames_sampled, false AS decoded FROM documents""",
    "mm_decode" ->
      """SELECT doc_id AS media_id, true AS decoded, CAST(doc_id % 64 + 8 AS INT) AS px_width, CAST(doc_id % 48 + 8 AS INT) AS px_height, CAST(3 AS INT) AS channels, CAST((doc_id % 64 + 8) * (doc_id % 48 + 8) * ((doc_id % 256) + (doc_id * 7 % 256) + (doc_id * 13 % 256)) AS BIGINT) AS px_sum FROM documents WHERE doc_id < 200""",
    "mm_video" ->
      """SELECT doc_id AS media_id, true AS decoded, CAST(doc_id % 32 + 16 AS INT) AS px_width, CAST(doc_id % 24 + 16 AS INT) AS px_height, CAST(doc_id % 8 + 2 AS BIGINT) AS video_frames, CAST((doc_id % 8 + 2) * (1000000 // (5 + (doc_id % 4) * 5)) // 1000 AS BIGINT) AS video_ms FROM documents WHERE doc_id < 120""",
    "mm_audio" ->
      """WITH p AS (SELECT doc_id AS media_id, 1 + (doc_id % 2) AS ch, (doc_id % 400 + 50) AS n, 8000 + (doc_id % 4) * 4000 AS rate FROM documents WHERE doc_id < 200), ks AS (SELECT k FROM generate_series(0, 497) AS t(k)), s AS (SELECT p.media_id, p.ch, p.n, p.rate, abs(((p.media_id * 31 + ks.k * 7919) % 2001) - 1000) AS a FROM p JOIN ks ON ks.k < p.n * p.ch) SELECT media_id, true AS decoded, CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS audio_channels, CAST(n AS BIGINT) AS n_frames, CAST(n * 1000 // rate AS BIGINT) AS audio_ms, CAST(sum(a) AS BIGINT) AS sample_sum_abs, CAST(max(a) AS INT) AS sample_peak FROM s GROUP BY media_id, ch, n, rate""",
    "text_dedup_lines" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_lines, CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_removed, CAST(CASE WHEN doc_id % 3 = 0 THEN length(text) ELSE length(text) + 1 + length('unique-' || CAST(doc_id AS VARCHAR)) END AS INT) AS clean_len FROM documents""",
    "skew_salt_join" ->
      """WITH ev AS (SELECT event_id, CASE WHEN event_id % 4 = 0 THEN 1 ELSE user_id END AS user_id FROM events), dim AS (SELECT DISTINCT user_id, user_id % 100 AS bucket FROM ev) SELECT bucket, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_ev FROM ev JOIN dim USING (user_id) GROUP BY 1""",
    "bucketed_join_check" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(l_extendedprice), 2) AS s, true AS bucketed_smj, true AS no_join_exchange FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""",
    "curate_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), w AS (SELECT lang, n, greatest(CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT), 1) AS w FROM c), s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w), b AS (SELECT min((n * sw) // w) AS b FROM w, s), t AS (SELECT lang, n, least((1000000 * b * w) // (sw * n), 1000000) AS t6 FROM w, s, b) SELECT d.lang, count(*) AS n_sampled, CAST(t.t6 AS BIGINT) AS t6 FROM documents d JOIN t USING (lang) WHERE ((d.doc_id & 2147483647) * 2654435761) % 1000000 < t.t6 GROUP BY d.lang, t.t6""",
    "mm_frames" ->
      """SELECT media_id, frame_no, frame_no * 1000 AS offset_ms FROM (SELECT doc_id AS media_id, unnest(generate_series(0, (doc_id % 90000 + 1000 - 1) // 1000)) AS frame_no FROM documents WHERE doc_id % 3 = 2) t""",
    "emb_centroids" ->
      """SELECT label, pos, round(avg(embedding[pos]), 4) AS mean_val FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) p GROUP BY label, pos""",
    "emb_quantize" ->
      """SELECT vec_id, CAST(len(qs) AS INT) AS n_dims, round(scale, 6) AS scale, CAST(list_aggregate(qs, 'sum') AS BIGINT) AS sum_q, CAST(list_aggregate(qs, 'min') AS BIGINT) AS min_q, CAST(list_aggregate(qs, 'max') AS BIGINT) AS max_q FROM (SELECT vec_id, scale, list_transform(e, x -> greatest(-127, least(127, CAST(round(x / nullif(scale, 0.0)) AS BIGINT)))) AS qs FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a) b) c""",
    "curate_splits" ->
      """SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM (SELECT CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train' WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val' ELSE 'test' END AS split, lang, n_chars FROM documents) t GROUP BY split, lang""",
    "curate_sample" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs FROM documents WHERE ((doc_id & 2147483647) * 2654435761) % 1000 < (CASE source WHEN 'src0' THEN 200 WHEN 'src1' THEN 500 ELSE 800 END) GROUP BY source""",
    // ---- check queries (VERDICT r5 item 4): the boolean gates are pinned
    // literal `true` — a recall/precision/tolerance regression flips the
    // value and fails the hash compare; the counts are recomputed by
    // DuckDB from the raw tables, so a shape change fails too.
    "sim_check_recall" ->
      """SELECT method, (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_queries, true AS full_k, true AS recall_ok FROM (VALUES ('ivf'), ('ivfpq'), ('ivfq'), ('lsh'), ('pca')) AS m(method)""",
    "q21_check_approx" ->
      """SELECT event_type, count(*) AS n, true AS n_match, true AS p50_ok, true AS p90_ok, true AS p99_ok FROM events WHERE value IS NOT NULL GROUP BY event_type""",
    "q23_check_approx" ->
      """SELECT CAST(10 AS BIGINT) AS n_deciles, (SELECT count(DISTINCT o_custkey) FROM orders) AS total_customers, true AS cust_total_ok, true AS spend_total_ok, true AS balance_ok""",
    "text_check_fingerprint" ->
      """SELECT count(*) AS n_docs, count(DISTINCT array_to_string(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')), '\s+'), ' ')) AS n_distinct_norm, true AS functional_ok, true AS collision_free_ok FROM documents""",
    "text_check_langid" ->
      """SELECT CAST(12 AS BIGINT) AS n_samples, CAST(6 AS BIGINT) AS n_langs, true AS accuracy_ok""",
    "emb_check_pca" ->
      """SELECT CAST(8 AS BIGINT) AS k, true AS orthonormal_ok, true AS descending_ok, true AS variance_ok""",
    "text_check_decontaminate" ->
      """SELECT count(*) AS n_docs, CAST(5 AS BIGINT) AS seeds_flagged, true AS exact_dups_flagged_ok FROM documents""",
    "dedup_check_cluster" ->
      """SELECT count(*) AS n_docs, true AS fixpoint_ok, true AS labels_minimal_ok, true AS survivors_ok, true AS best_survivors_ok FROM documents""",
    "dedup_index_check" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 400) AS n_indexed, (SELECT count(*) FROM documents WHERE doc_id >= 400 AND doc_id < 500) + (SELECT count(*) FROM documents WHERE doc_id < 20) AS n_batch, (SELECT count(*) FROM documents WHERE doc_id < 500) * 16 AS band_rows, true AS pairs_match_batch, true AS planted_recovered, true AS incremental_mode, true AS fresh_noop, true AS net_refresh""",
    "dedup_check_pairs" ->
      """SELECT family, (SELECT count(*) FROM documents WHERE doc_id < 500) AS n_items, true AS precision_ok, true AS recall_ok FROM (VALUES ('containment09'), ('jaccard05'), ('jaccard08'), ('simhash3')) AS f(family) UNION ALL SELECT 'embedding95' AS family, (SELECT count(*) + (SELECT count(*) FROM embeddings WHERE vec_id < 50) FROM embeddings) AS n_items, true AS precision_ok, true AS recall_ok"""
  )
}
