package graft

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, QueryEngine, SearchRequest}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — queries/oracleSql pairs are the correctness gate
  * (SURVEY.md §5.2); names and column aliases must match between the
  * Spark plan and the DuckDB SQL. */
object SparkEntry {

  /** Flagship: build the real inverted index over the synthetic
    * source-code corpus and run a BM25 top-10 search with metadata. */
  def entry(spark: SparkSession): DataFrame = {
    val root = s"${SearchOps.workDir}/entry-index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val corpus = CorpusGen.dataset(spark, 1500L, 42L, 8)
    IndexBuilder.build(spark, corpus, root, numShards = 8)
    new QueryEngine(spark, root)
      .search(SearchRequest("buildPostingList mergeSortedRuns", 10))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dashboard / agg surface (export.json parity)
    "q01_pricing_summary" -> (DashboardOps.qPricingSummary _),
    "q02_terms_top5" -> (DashboardOps.qTermsTop5 _),
    "q03_terms_top25_tokens" -> (DashboardOps.qTermsTop25Tokens _),
    "q04_datehist_30s" -> (DashboardOps.qDateHistCount _),
    "q05_datehist_metrics" -> (DashboardOps.qDateHistMetrics _),
    "q06_stats_value" -> (DashboardOps.qStatsValue _),
    "q07_sort_recent" -> (DashboardOps.qSortRecent _),
    "q08_topk_per_key" -> (DashboardOps.qTopPerKey _),
    "q09_pct_change" -> (DashboardOps.qPctChange _),
    "q10_running_sum" -> (DashboardOps.qRunningSum _),
    "q11_join_dims" -> (DashboardOps.qJoinDims _),
    "q12_join_semi" -> (DashboardOps.qJoinSemi _),
    "q13_join_anti" -> (DashboardOps.qJoinAnti _),
    "q14_union_doctypes" -> (DashboardOps.qUnionDocTypes _),
    "q15_json_extract" -> (DashboardOps.qJsonExtract _),
    "q16_argmax" -> (DashboardOps.qArgMax _),
    "q17_json_array_fallback" -> (DashboardOps.qJsonArrayFallback _),
    "q18_datehist_dense" -> (DashboardOps.qDateHistDense _),
    "q19_asof_join" -> (DashboardOps.qAsofJoin _),
    // reference per-doc pipeline (filters + string fns)
    "q20_clean_text" -> (TextOps.qCleanText _),
    "q21_filter_min_tokens" -> (TextOps.qFilterMinTokens _),
    "q22_filter_blacklist" -> (TextOps.qFilterBlacklist _),
    "q23_filter_whitelist" -> (TextOps.qFilterWhitelist _),
    "q24_sentiment_docs" -> (SentimentOps.qSentimentDocs _),
    "q25_sentiment_agg" -> (SentimentOps.qSentimentAgg _),
    "q26_link_merge" -> (SentimentOps.qLinkMerge _),
    "q27_clean_sentiment" -> (SentimentOps.qCleanSentiment _),
    "q28_vader_rules" -> (SentimentOps.qVaderRules _),
    // text analysis for training-data pipelines
    "q30_quality" -> (TextOps.qQuality _),
    "q31_langid" -> (TextOps.qLangId _),
    "q32_token_counts" -> (TextOps.qTokenCounts _),
    "q33_fingerprint" -> (TextOps.qFingerprint _),
    "q34_url_extract" -> (TextOps.qUrlExtract _),
    "q35_lang_filter" -> (TextOps.qLangFilter _),
    "q36_contains_filter" -> (TextOps.qContainsFilter _),
    "q37_date_parse" -> (TextOps.qDateParse _),
    "q38_approx_distinct" -> (DashboardOps.qApproxDistinct _),
    // dedup family
    "q40_dedup_exact" -> (DedupOps.qDedupExact _),
    "q41_minhash_sigs" -> (DedupOps.qMinHashSigs _),
    "q42_minhash_bands" -> (DedupOps.qMinHashBands _),
    "q43_simhash" -> (DedupOps.qSimHash _),
    "q44_simhash_buckets" -> (DedupOps.qSimHashBuckets _),
    "q45_ngram_jaccard" -> (DedupOps.qNgramJaccardTop _),
    "q46_minhash_pairs" -> (DedupOps.qMinHashPairs _),
    "q47_ngram_cap_metrics" -> (DedupOps.qNgramCapMetrics _),
    "q48_embed_neardup" -> (DedupOps.qEmbedNearDup _),
    "q49_band_cap_metrics" -> (DedupOps.qBandCapMetrics _),
    // similarity search
    "q50_ann_bruteforce" -> (AnnOps.qAnnBruteForce _),
    "q51_embed_norms" -> (AnnOps.qEmbedNorms _),
    "q52_ann_lsh_buckets" -> (AnnOps.qAnnLshBuckets _),
    "q53_ann_lsh_topk" -> (AnnOps.qAnnLshTopK _),
    "q56_ann_lsh_multiprobe" -> (AnnOps.qAnnLshMultiProbe _),
    "q54_ann_ivf_assign" -> (AnnOps.qAnnIvfAssign _),
    "q55_ann_ivf_topk" -> (AnnOps.qAnnIvfTopK _),
    "q77_ann_vec_literal" -> (AnnOps.qAnnVecLiteral _),
    // search / index engine
    "q60_bm25_topk" -> (SearchOps.qBm25TopK _),
    "q64_code_tokenize" -> (SearchOps.qCodeTokenize _),
    "q61_engine_search" -> (SearchOps.qEngineSearch _),
    "q62_engine_bool" -> (SearchOps.qEngineBool _),
    "q63_index_metrics" -> (SearchOps.qIndexMetrics _),
    "q65_index_stats" -> (SearchOps.qIndexStats _),
    "q66_match_operator" -> (SearchOps.qMatchOperator _),
    "q74_match_where" -> (SearchOps.qMatchWhere _),
    "q76_phrase_search" -> (SearchOps.qPhraseSearch _),
    "q75_explain_score" -> (SearchOps.qExplainScore _),
    "q78_prefix_search" -> (SearchOps.qPrefixSearch _),
    "q79_prefix_cap_metrics" -> (SearchOps.qPrefixCapMetrics _),
    "q80_prefix_match_where" -> (SearchOps.qPrefixMatchWhere _),
    "q81_highlight" -> (SearchOps.qHighlight _),
    "q82_neg_search" -> (SearchOps.qNegSearch _),
    "q83_neg_match_where" -> (SearchOps.qNegMatchWhere _),
    "q84_fuzzy_search" -> (SearchOps.qFuzzySearch _),
    "q85_fuzzy_match_where" -> (SearchOps.qFuzzyMatchWhere _),
    "q86_fuzzy_cap_metrics" -> (SearchOps.qFuzzyCapMetrics _),
    "q87_filtered_search" -> (SearchOps.qFilteredSearch _),
    "q88_boosted_search" -> (SearchOps.qBoostedSearch _),
    "q89_search_after" -> (SearchOps.qSearchAfter _),
    "q90_min_match" -> (SearchOps.qMinMatchSearch _),
    "q91_near_search" -> (SearchOps.qNearSearch _),
    "q92_field_search" -> (SearchOps.qFieldSearch _),
    "q93_field_match_where" -> (SearchOps.qFieldMatchWhere _),
    "q94_near3_search" -> (SearchOps.qNear3Search _),
    "q95_field_search_after" -> (SearchOps.qFieldSearchAfter _),
    // multimodal plumbing
    "q70_media_meta" -> (MultimodalOps.qMediaMeta _),
    "q71_wav_features" -> (MultimodalOps.qWavFeatures _),
    "q72_ppm_grid" -> (MultimodalOps.qPpmGrid _),
    "q73_frame_sample" -> (MultimodalOps.qFrameSample _))

  private val stops = Tables.stopListSql
  private val toksSql =
    "list_filter(string_split(lower(text), ' '), w -> length(w) >= 1 AND w <> '')"

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
        | floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_price,
        | floor((avg(l_discount)) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_terms_top5" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority LIMIT 5""".stripMargin,
    "q03_terms_top25_tokens" ->
      s"""SELECT token, count(*) AS cnt FROM (
         |  SELECT unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 25""".stripMargin,
    "q04_datehist_30s" ->
      """SELECT strftime(time_bucket(INTERVAL '30 seconds', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | count(*) AS cnt FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q05_datehist_metrics" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value,
        | floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "q06_stats_value" ->
      """SELECT count(*) AS cnt, floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
        | floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_value,
        | floor((min(value)) * 10000.0 + 0.5) / 10000.0 AS min_value, floor((max(value)) * 10000.0 + 0.5) / 10000.0 AS max_value,
        | count(DISTINCT user_id) AS n_users FROM events""".stripMargin,
    "q07_sort_recent" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, user_id,
        | event_type, floor((value) * 10000.0 + 0.5) / 10000.0 AS value_r
        |FROM events ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,
    "q08_topk_per_key" ->
      """SELECT user_id, rn, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q09_pct_change" ->
      """SELECT event_id, event_type, floor(((value - prev) / prev * 100.0) * 10000.0 + 0.5) / 10000.0 AS pct_change
        |FROM (SELECT event_id, event_type, value,
        |        lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
        |      FROM events)
        |WHERE prev IS NOT NULL AND prev <> 0.0 ORDER BY event_id""".stripMargin,
    // the running sum is spelled as an explicit ORDERED PREFIX FOLD, not
    // a window sum: DuckDB evaluates windowed aggregates via segment
    // trees (tree-shaped addition order) while Spark accumulates in frame
    // order — fp non-associativity diverges at the ulp on mixed-magnitude
    // values (found by tools/tables_fuzz.py). The left fold reproduces
    // Spark's accumulation bit-for-bit.
    "q10_running_sum" ->
      """WITH g AS (SELECT user_id,
        |             list(value ORDER BY ts, event_id) AS vs,
        |             list(event_id ORDER BY ts, event_id) AS ids
        |           FROM events GROUP BY user_id)
        |SELECT ids[i] AS event_id, user_id,
        |       floor((list_reduce(vs[1:i], (a, b) -> a + b)) * 10000.0 + 0.5)
        |         / 10000.0 AS running_value
        |FROM g, unnest(range(1, len(vs) + 1)) AS t(i)
        |ORDER BY event_id""".stripMargin,
    "q11_join_dims" ->
      """SELECT r_name, count(*) AS cnt, floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0 AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q12_join_semi" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q13_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q14_union_doctypes" ->
      """SELECT doc_type, count(*) AS cnt, max(id) AS max_id FROM (
        |  SELECT 'event' AS doc_type, event_id AS id FROM events
        |  UNION ALL SELECT 'document' AS doc_type, doc_id AS id FROM documents)
        |GROUP BY doc_type ORDER BY doc_type""".stripMargin,
    "q15_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q16_argmax" ->
      """SELECT user_id, event_type AS top_type,
        | floor((mx) * 10000.0 + 0.5) / 10000.0 AS top_value
        |FROM (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY value DESC, event_id DESC) AS rn,
        |        max(value) OVER (PARTITION BY user_id) AS mx
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q17_json_array_fallback" ->
      """SELECT event_id, floor((coalesce(
        |  CAST(json_extract_string('[' || CAST(value AS VARCHAR) || ',null]', '$[1]') AS DOUBLE),
        |  CAST(json_extract_string('[' || CAST(value AS VARCHAR) || ',null]', '$[0]') AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS last_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_datehist_dense" ->
      """WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                      date_trunc('hour', max(ts)) AS hi FROM events),
        |axis AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts FROM bounds),
        |counts AS (SELECT date_trunc('hour', ts) AS bucket_ts, count(*) AS cnt
        |           FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT strftime(axis.bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket,
        |       coalesce(counts.cnt, 0) AS cnt
        |FROM axis LEFT JOIN counts ON axis.bucket_ts = counts.bucket_ts
        |ORDER BY bucket""".stripMargin,
    "q19_asof_join" ->
      """WITH cv AS (SELECT * FROM events WHERE event_type IN ('click', 'view')),
        |w AS (SELECT *, last_value(CASE WHEN event_type = 'view' THEN value END
        |        IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_value
        |      FROM cv)
        |SELECT event_id, user_id,
        |       floor((view_value) * 10000.0 + 0.5) / 10000.0 AS asof_value
        |FROM w WHERE event_type = 'click' AND view_value IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q20_clean_text" ->
      """SELECT doc_id, clean, length(clean) AS clean_len FROM (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(text, 'https?://\S+', '', 'g'),
        |    '&[a-zA-Z]+;', '', 'g'), '<[^>]*>', '', 'g'), '\bRT\b', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean FROM documents)
        |WHERE clean <> '' ORDER BY doc_id""".stripMargin,
    "q21_filter_min_tokens" ->
      s"""SELECT doc_id, n_tokens FROM (
         |  SELECT doc_id, len($toksSql) AS n_tokens FROM documents)
         |WHERE n_tokens >= 5 ORDER BY doc_id""".stripMargin,
    "q22_filter_blacklist" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE NOT list_has_any($toksSql, ['win', 'giveaway'])
         |ORDER BY doc_id""".stripMargin,
    "q23_filter_whitelist" ->
      s"""SELECT doc_id, n_required FROM (
         |  SELECT doc_id, len(list_filter(['spark', 'query', 'join'],
         |    w -> list_contains($toksSql, w))) AS n_required FROM documents)
         |WHERE n_required >= 2 ORDER BY doc_id""".stripMargin,
    "q24_sentiment_docs" -> SentimentOps.sentimentDocsOracle,
    "q25_sentiment_agg" -> SentimentOps.sentimentAggOracle,
    "q27_clean_sentiment" -> SentimentOps.cleanSentimentOracle,
    "q28_vader_rules" -> SentimentOps.vaderRulesOracle,
    "q26_link_merge" ->
      s"""WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS lfull,
         |           count(*) AS n_events_total FROM events GROUP BY user_id),
         |w AS (SELECT user_id, n_events_total,
         |        list_slice(lfull, greatest(1, len(lfull) - ${SentimentOps.MergeWindow - 1}),
         |          len(lfull)) AS l FROM g)
         |SELECT user_id, floor((list_reduce(l, (a, x) -> (a + x) / 2.0)) * 10000.0 + 0.5) / 10000.0 AS merged,
         |       CAST(len(l) AS BIGINT) AS n_events_used, n_events_total
         |FROM w ORDER BY user_id""".stripMargin,
    "q30_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars2, len(toks) AS n_tokens,
         | floor((CAST(len(list_filter(toks, w -> w IN $stops)) AS DOUBLE) / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
         | floor((CAST(length(text) - len(toks) + 1 AS DOUBLE) / nullif(len(toks), 0)) * 10000.0 + 0.5) / 10000.0 AS mean_word_len
         |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q31_langid" -> langIdSql,
    "q32_token_counts" ->
      """SELECT doc_id,
        | len(list_filter(string_split(lower(text), ' '), w -> length(w) >= 1 AND w <> '')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
        | floor((CAST(length(text) AS DOUBLE) /
        |   nullif(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 0)) * 10000.0 + 0.5) / 10000.0 AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_fingerprint" ->
      """SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents ORDER BY doc_id""",
    "q34_url_extract" ->
      """SELECT doc_id,
        | len(regexp_extract_all(u, 'https?://[^\s]+')) AS n_urls,
        | regexp_extract(u, 'https?://([^/\s]+)', 1) AS host1
        |FROM (SELECT doc_id,
        |  'see https://example.com/' || source || '/x?q=1 mid http://foo-' || lang || '.org/page end' AS u
        |  FROM documents) ORDER BY doc_id""".stripMargin,
    "q35_lang_filter" ->
      """SELECT source, count(*) AS cnt FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q36_contains_filter" ->
      """SELECT lang, count(*) AS cnt FROM documents
        |WHERE NOT contains(text, 'spark') GROUP BY lang ORDER BY lang""".stripMargin,
    "q37_date_parse" ->
      """SELECT event_id,
        | strftime(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'),
        |   '%Y-%m-%dT%H:%M:%S') AS iso_ts
        |FROM events ORDER BY event_id""".stripMargin,
    // exact_users is hash-checked; approx_ok pins Spark's HLL++ sketch
    // to its published error contract (rsd 0.02, margin 10% = 5 sigma:
    // real bound, un-flakeable on regenerated data) — the sketch itself
    // is engine-internal, so the oracle asserts the contract, not the
    // register values
    "q38_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q40_dedup_exact" ->
      """SELECT sha256(trim(lower(text))) AS content_sha, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q50_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, ${AnnOps.r6Sql(AnnOps.cosineSql("e.e", "q.qe"))} AS cos
         |FROM e, q ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q51_embed_norms" ->
      s"""SELECT vec_id,
         | ${AnnOps.r6Sql(AnnOps.normSql("CAST(embedding AS DOUBLE[])"))} AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q60_bm25_topk" -> SearchOps.bm25OracleSql,
    "q61_engine_search" -> SearchOps.engineSearchOracleSql,
    "q62_engine_bool" -> SearchOps.engineBoolOracleSql,
    "q63_index_metrics" -> SearchOps.indexMetricsOracleSql,
    "q65_index_stats" -> SearchOps.indexStatsOracleSql,
    "q66_match_operator" -> SearchOps.engineSearchOracleSql,
    "q74_match_where" -> SearchOps.matchWhereOracleSql,
    "q76_phrase_search" -> SearchOps.phraseSearchOracleSql,
    "q75_explain_score" -> SearchOps.explainScoreOracleSql,
    "q78_prefix_search" -> SearchOps.prefixSearchOracleSql,
    "q79_prefix_cap_metrics" -> SearchOps.prefixCapMetricsOracleSql,
    "q80_prefix_match_where" -> SearchOps.prefixMatchWhereOracleSql,
    "q81_highlight" -> SearchOps.highlightOracleSql,
    "q82_neg_search" -> SearchOps.negSearchOracleSql,
    "q83_neg_match_where" -> SearchOps.negMatchWhereOracleSql,
    "q84_fuzzy_search" -> SearchOps.fuzzySearchOracleSql,
    "q85_fuzzy_match_where" -> SearchOps.fuzzyMatchWhereOracleSql,
    "q86_fuzzy_cap_metrics" -> SearchOps.fuzzyCapMetricsOracleSql,
    "q87_filtered_search" -> SearchOps.filteredSearchOracleSql,
    "q88_boosted_search" -> SearchOps.boostedSearchOracleSql,
    "q89_search_after" -> SearchOps.searchAfterOracleSql,
    "q90_min_match" -> SearchOps.minMatchOracleSql,
    "q91_near_search" -> SearchOps.nearSearchOracleSql,
    "q92_field_search" -> SearchOps.fieldSearchOracleSql,
    "q93_field_match_where" -> SearchOps.fieldMatchWhereOracleSql,
    "q94_near3_search" -> SearchOps.near3SearchOracleSql,
    "q95_field_search_after" -> SearchOps.fieldSearchAfterOracleSql,
    "q64_code_tokenize" -> SearchOps.codeTokenizeOracleSql,
    "q70_media_meta" -> MultimodalOps.mediaMetaOracleSql,
    "q71_wav_features" -> MultimodalOps.wavFeaturesOracleSql,
    "q72_ppm_grid" -> MultimodalOps.ppmGridOracleSql,
    "q73_frame_sample" -> MultimodalOps.frameSampleOracleSql) ++
    DedupOps.oracles ++ AnnOps.oracles

  private def langIdSql: String = {
    val counts = TextOps.langMarkers.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString("(", ",", ")")
      s"len(list_filter(toks, w -> w IN $set)) AS c_$l"
    }.mkString(", ")
    val langs = TextOps.langMarkers.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val others = langs.zipWithIndex.filter(_._2 != i).map(o => s"c_${o._1}")
      s"WHEN c_$l >= GREATEST(${others.mkString(", ")}) THEN '$l'"
    }.mkString(" ")
    val greatestAll = s"GREATEST(${langs.map(l => s"c_$l").mkString(", ")})"
    s"""SELECT doc_id, lang AS labeled_lang,
       | CASE $cases END AS predicted_lang,
       | $greatestAll AS marker_hits
       |FROM (SELECT doc_id, lang, $counts
       |      FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }
}
