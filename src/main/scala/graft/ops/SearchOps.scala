package graft.ops

import graft.corpus.CorpusDoc
import graft.index.{IndexBuilder, QueryEngine, SearchRequest}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Search operators over the driver's `documents` table.
 *
 * qBm25TopK expresses exact BM25 top-k as a PURE CATALYST PLAN (per-term
 * tf columns from array filters, stats via a broadcast single-row cross
 * join, fixed-order float summation) — one scan, one tiny agg, no
 * shuffle of the documents themselves. It is SQL-expressible, so the
 * DuckDB oracle verifies the engine's scoring math end-to-end.
 *
 * qEngineSearch runs the REAL index path (IndexBuilder + QueryEngine,
 * segments on disk) over documents mapped into the corpus shape; parity
 * with the in-memory oracle is covered by IndexEndToEndSpec.
 */
object SearchOps {
  import Tables._

  val QueryTerms = Seq("spark", "query", "join") // frozen demo query
  /** Frozen boolean demo: "spark query, merge join" — OR of AND-groups
    * (/root/reference/sentiment.py:638-641). */
  val BoolQuery = "spark query, merge join"
  val BoolGroups: Seq[Seq[String]] = Seq(Seq("spark", "query"), Seq("merge", "join"))
  val K1 = 1.2
  val B = 0.75

  def qBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), analyzedToks(col("text")).as("toks"))
    val tfCols = QueryTerms.zipWithIndex.map { case (term, i) =>
      size(filter(col("toks"), w => w === term)).as(s"tf$i")
    }
    val withTf = docs.select(col("doc_id") +: size(col("toks")).as("dl") +: tfCols: _*)
    // r8: corpus stats (n, avgdl) fold into the SAME aggregation as the
    // per-term dfs — one tokenize+agg pass and one broadcast instead of
    // two of each (dl IS size(toks), so avg(dl) accumulates the same
    // doubles in the same partition order: bit-identical scores).
    val dfCols = QueryTerms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val statsAndDf = withTf.agg(
      count(lit(1)).cast("double").as("n"),
      avg(col("dl").cast("double")).as("avgdl") +: dfCols: _*)
    val scored = withTf
      .crossJoin(broadcast(statsAndDf))
    // fixed-order sum: s = s0 + s1 + s2 (query-term order, frozen)
    val termScore: Int => Column = i => {
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) + (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      when(col(s"tf$i") > 0,
        idf * (tf * (K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / col("avgdl"))))
        .otherwise(0.0)
    }
    val score = QueryTerms.indices.map(termScore).reduceLeft(_ + _)
    scored.select(col("doc_id"), score.as("score_raw"))
      .where(col("score_raw") > 0.0)
      .orderBy(desc("score_raw"), asc("doc_id"))
      .limit(10)
      .select(col("doc_id"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  /** Shared BM25-over-documents CTEs for a term list (same analyzer
    * filter, same formula, same fixed summation order as the engine) —
    * generated so term list/stoplist stay in lockstep with the Spark
    * plan AND the real index engine. */
  private def bm25Ctes(terms: Seq[String], carryToks: Boolean = false): String = {
    val stops = stopListSql
    val tfDefs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, w -> w = '$t')) AS tf$i"
    }.mkString(", ")
    val dfDefs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(", ")
    val toksCol = if (carryToks) "toks, " else ""
    s"""docs AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |    w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |         AND w NOT IN $stops) AS toks
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |                 avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM docs),
       |tf AS (SELECT doc_id, ${toksCol}len(toks) AS dl, $tfDefs FROM docs),
       |dfs AS (SELECT $dfDefs FROM tf)""".stripMargin
  }

  /** Per-term BM25 contribution (Lucene formula, zero when absent). */
  private def termScoreSql(i: Int): String =
    s"(CASE WHEN tf$i > 0 THEN ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * " +
    s"(CAST(tf$i AS DOUBLE) * ${K1 + 1.0}) / (CAST(tf$i AS DOUBLE) + $K1 * " +
    s"(1.0 - $B + $B * CAST(dl AS DOUBLE) / avgdl)) ELSE 0.0 END)"

  def bm25OracleSql: String = {
    val scoreExpr = QueryTerms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(QueryTerms)},
       |scored AS (SELECT doc_id, $scoreExpr AS score_raw FROM tf, stats, dfs)
       |SELECT doc_id, floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score FROM scored
       |WHERE score_raw > 0.0 ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q61: the REAL engine's disjunctive search against the same formula —
    * the engine's WAND scores are float-identical to the fixed-order sum
    * (IndexEndToEndSpec parity), so the SQL oracle covers the full
    * index-build -> compress -> WAND -> merge path end-to-end. */
  def engineSearchOracleSql: String = {
    val scoreExpr = QueryTerms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(QueryTerms)},
       |scored AS (SELECT doc_id, $scoreExpr AS score_raw FROM tf, stats, dfs)
       |SELECT 'doc_' || doc_id AS path, floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score FROM scored
       |WHERE score_raw > 0.0 ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q62: boolean OR-of-ANDs through the engine vs SQL: each AND-group
    * scores as its fixed-order BM25 sum when ALL its terms match; the doc
    * score is the max over matching groups; top-10 by (score, docId). */
  def engineBoolOracleSql: String = {
    val allTerms = BoolGroups.flatten
    var idx = -1
    val groupExprs = BoolGroups.map { g =>
      val parts = g.map { _ => idx += 1; idx }
      val cond = parts.map(i => s"tf$i > 0").mkString(" AND ")
      val sum = parts.map(termScoreSql).mkString(" + ")
      s"CASE WHEN $cond THEN $sum ELSE NULL END"
    }
    val gCols = groupExprs.zipWithIndex.map { case (e, i) => s"$e AS g$i" }.mkString(", ")
    val names = BoolGroups.indices.map(i => s"g$i")
    val best = s"greatest(${names.map(n => s"coalesce($n, -1e308)").mkString(", ")})"
    val anyMatch = names.map(n => s"$n IS NOT NULL").mkString(" OR ")
    // inner: the ENGINE's selection order (raw score, docId); outer: the
    // engine's display order (rounded score, path string) — keeps both
    // the top-10 set and the row order aligned even on ties
    s"""WITH ${bm25Ctes(allTerms)},
       |scored AS (SELECT doc_id, $gCols FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path, floor(($best) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE $anyMatch
       |         ORDER BY $best DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q76: PHRASE search (the ES match_phrase analogue) through the real
    * engine — quoted spans constrain their tokens to consecutive
    * post-filter positions via the index's positional postings; scores
    * stay the AND-group fixed-order sums (phrases filter, never boost).
    * The oracle re-derives the phrase constraint with a sliding-window
    * check over the SAME filtered token stream the BM25 CTEs score. */
  val PhraseQuery = "\"merge join\" spark, \"table scan\""
  /** (terms in engine scoring order, phrases) per OR-group — must stay
    * in lockstep with what QueryParser.parseGroups(PhraseQuery) yields
    * (pinned by OracleFormSpec-style spec in IndexEndToEndSpec). */
  val PhraseGroups: Seq[(Seq[String], Seq[Seq[String]])] = Seq(
    (Seq("merge", "join", "spark"), Seq(Seq("merge", "join"))),
    (Seq("table", "scan"), Seq(Seq("table", "scan"))))

  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.booleanTopK(PhraseQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  /** DuckDB window check: phrase tokens at consecutive positions of the
    * filtered token list (1-based list indexing, 0-based range). */
  private def phraseCondSql(ph: Seq[String]): String = {
    val checks = ph.zipWithIndex
      .map { case (t, j) => s"toks[i+${j + 1}] = '$t'" }.mkString(" AND ")
    s"(len(list_filter(range(greatest(len(toks) - ${ph.length - 1}, 0)), " +
      s"i -> $checks)) > 0)"
  }

  def phraseSearchOracleSql: String = {
    val allTerms = PhraseGroups.flatMap(_._1)
    var idx = -1
    val groupExprs = PhraseGroups.map { case (g, phrases) =>
      val parts = g.map { _ => idx += 1; idx }
      val cond = parts.map(i => s"tf$i > 0").mkString(" AND ")
      val phCond = phrases.map(phraseCondSql).mkString(" AND ")
      val sum = parts.map(termScoreSql).mkString(" + ")
      s"CASE WHEN $cond AND $phCond THEN $sum ELSE NULL END"
    }
    val gCols = groupExprs.zipWithIndex.map { case (e, i) => s"$e AS g$i" }.mkString(", ")
    val names = PhraseGroups.indices.map(i => s"g$i")
    val best = s"greatest(${names.map(n => s"coalesce($n, -1e308)").mkString(", ")})"
    val anyMatch = names.map(n => s"$n IS NOT NULL").mkString(" OR ")
    s"""WITH ${bm25Ctes(allTerms, carryToks = true)},
       |scored AS (SELECT doc_id, $gCols FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path, floor(($best) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE $anyMatch
       |         ORDER BY $best DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q78: PREFIX search (the Kibana query_string `term*` analogue,
    * /root/reference/export.json:9) through the real engine — the
    * wildcard expands against the index dictionary to the
    * MaxScoredExpansions highest-df terms (term-asc tie-break), each
    * scored like any query term, in expansion-rank order, followed by
    * the query's plain terms (frozen float-sum order). The oracle
    * re-derives the expansion from re-tokenized text with the SAME
    * ranking (ORDER BY df DESC, token) and folds contributions in rank
    * order — bit-identical summation. */
  val PrefixSearchQuery = "s* merge"

  def qPrefixSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.topK(PrefixSearchQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  /** Dynamic-term BM25 in pure SQL: the expansion is data-dependent, so
    * the oracle cannot enumerate tf columns like q60 — it cross-joins
    * docs with the selected terms and folds per-doc contributions in
    * expansion-rank order (list_reduce left fold, 0.0 init — the same
    * accumulation the WAND evaluator runs; absent terms add an exact
    * 0.0). */
  def prefixSearchOracleSql: String = {
    val tf = "CAST(len(list_filter(d.toks, w -> w = s.token)) AS DOUBLE)"
    s"""WITH ${bm25CtesTokensOnly()},
       |exp AS (
       |  SELECT token, CAST(count(*) AS DOUBLE) AS df,
       |         row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
       |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM docs)
       |  WHERE token LIKE 's%' GROUP BY token),
       |dfm AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM docs
       |        WHERE list_contains(toks, 'merge')),
       |sel AS (
       |  SELECT token, df, rnk FROM exp
       |  WHERE rnk <= ${graft.index.QueryParser.MaxScoredExpansions}
       |  UNION ALL SELECT 'merge' AS token, df, 1000000 AS rnk FROM dfm),
       |contrib AS (
       |  SELECT d.doc_id, s.rnk,
       |    CASE WHEN $tf > 0 THEN
       |      ln(1.0 + (n - s.df + 0.5) / (s.df + 0.5)) * ($tf * ${K1 + 1.0}) /
       |      ($tf + $K1 * (1.0 - $B + $B * CAST(len(d.toks) AS DOUBLE) / avgdl))
       |    ELSE 0.0 END AS c
       |  FROM docs d, sel s, stats),
       |scored AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0, list(c ORDER BY rnk)), (a, b) -> a + b)
       |      AS score_raw
       |  FROM contrib GROUP BY doc_id)
       |SELECT 'doc_' || doc_id AS path,
       |       floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |FROM scored WHERE score_raw > 0.0
       |ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q79: the prefix-expansion CAP as an oracled output (the q47/q49
    * pattern: a scale guard's drop volume is itself verified, never
    * silent). A deliberately small cap (3) over a broad prefix ('s')
    * reports total/kept/dropped and the KEPT LIST — pinning the frozen
    * df-desc/term-asc ranking cross-engine. */
  val CapDemoPrefix = "s"
  val CapDemoCap = 3

  def qPrefixCapMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    val (kept, total) = eng.expandPrefix(CapDemoPrefix, CapDemoCap)
    Seq((CapDemoPrefix, total, kept.length.toLong,
      total - kept.length, kept.mkString(",")))
      .toDF("prefix", "total_terms", "kept_n", "dropped_n", "kept_list")
  }

  def prefixCapMetricsOracleSql: String =
    s"""WITH ${bm25CtesTokensOnly()},
       |exp AS (
       |  SELECT token, count(*) AS df,
       |         row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
       |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM docs)
       |  WHERE token LIKE '$CapDemoPrefix%' GROUP BY token)
       |SELECT '$CapDemoPrefix' AS prefix,
       |  (SELECT count(*) FROM exp) AS total_terms,
       |  CAST(count(*) AS BIGINT) AS kept_n,
       |  (SELECT count(*) FROM exp) - count(*) AS dropped_n,
       |  string_agg(token, ',' ORDER BY rnk) AS kept_list
       |FROM exp WHERE rnk <= $CapDemoCap""".stripMargin

  /** q80: prefixes in FILTER context — `WHERE match(text, 'spark qu*,
    * mer* join')` through the semi-join rewrite; expansion is UNCAPPED
    * there (constant-score), so the oracle is a plain row predicate:
    * every group term present AND some token per prefix. */
  val PrefixMatchQuery = "spark qu*, mer* join"

  def qPrefixMatchWhere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSql.ensureMatchSupport(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_prefix_docs")
    spark.sql(
      s"""SELECT doc_id, lang FROM graft_prefix_docs
         |WHERE match(text, '$PrefixMatchQuery')
         |ORDER BY doc_id""".stripMargin)
  }

  def prefixMatchWhereOracleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks
       |  FROM documents)
       |WHERE (list_contains(toks, 'spark')
       |        AND len(list_filter(toks, w -> w LIKE 'qu%')) > 0)
       |   OR (list_contains(toks, 'join')
       |        AND len(list_filter(toks, w -> w LIKE 'mer%')) > 0)
       |ORDER BY doc_id""".stripMargin

  /** q81: the ES highlighter analogue DRIVER-ORACLED — per-term match
    * positions of one fixed document (table doc ExplainDocId) against
    * the frozen demo query, read from the index's positional posBlocks
    * (QueryEngine.highlight). The oracle recomputes positions from the
    * SAME filtered token stream the phrase oracles window over:
    * positions are post-filter emission indices, 0-based. */
  def qHighlight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    val ids = eng.docmeta.where(col("path") === s"doc_$ExplainDocId")
      .select(col("docId")).as[Long].take(1)
    require(ids.nonEmpty, s"doc_$ExplainDocId missing from the index")
    eng.highlight(QueryTerms.mkString(" "), ids.head)
      .flatMap(h => h.positions.map(p => (h.term, p.toLong)))
      .toDF("term", "pos")
      .orderBy("term", "pos")
  }

  def highlightOracleSql: String = {
    val termList = QueryTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH ${bm25CtesTokensOnly()},
       |d AS (SELECT toks FROM docs WHERE doc_id = $ExplainDocId),
       |t AS (SELECT unnest($termList) AS term)
       |SELECT term,
       |  CAST(unnest(list_filter(range(len(toks)), i -> toks[i+1] = term))
       |    AS BIGINT) AS pos
       |FROM d, t
       |ORDER BY term, pos""".stripMargin
  }

  /** q82: NEGATION in SCORED boolean search (the ES query_string `-`
    * operator / must_not clauses) through the real engine — a group's
    * prohibitions (negated terms, prefixes, quoted phrases) EXCLUDE docs
    * but never score: group scores stay the fixed-order BM25 sum over
    * the required terms, doc score = max over matching groups. */
  val NegQuery = "\"merge sort\" spark -window, table scan -\"hash join\" -qu*"
  /** (terms in scoring order, pos phrases, neg terms, neg prefixes,
    * neg phrases) per OR-group — must stay in lockstep with
    * QueryParser.parseGroups(NegQuery) (pinned in IndexEndToEndSpec). */
  val NegGroups: Seq[(Seq[String], Seq[Seq[String]], Seq[String], Seq[String],
      Seq[Seq[String]])] = Seq(
    (Seq("merge", "sort", "spark"), Seq(Seq("merge", "sort")),
      Seq("window"), Nil, Nil),
    (Seq("table", "scan"), Nil, Nil, Seq("qu"), Seq(Seq("hash", "join"))))

  def qNegSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.booleanTopK(NegQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def negSearchOracleSql: String = {
    val allTerms = NegGroups.flatMap(_._1)
    var idx = -1
    val groupExprs = NegGroups.map { case (g, phrases, negT, negP, negPh) =>
      val parts = g.map { _ => idx += 1; idx }
      val req = parts.map(i => s"tf$i > 0") ++ phrases.map(phraseCondSql)
      val negs = negT.map(t => s"NOT list_contains(toks, '$t')") ++
        negP.map(p => s"len(list_filter(toks, w -> w LIKE '$p%')) = 0") ++
        negPh.map(ph => "NOT " + phraseCondSql(ph))
      val cond = (req ++ negs).mkString(" AND ")
      val sum = parts.map(termScoreSql).mkString(" + ")
      s"CASE WHEN $cond THEN $sum ELSE NULL END"
    }
    val gCols = groupExprs.zipWithIndex.map { case (e, i) => s"$e AS g$i" }.mkString(", ")
    val names = NegGroups.indices.map(i => s"g$i")
    val best = s"greatest(${names.map(n => s"coalesce($n, -1e308)").mkString(", ")})"
    val anyMatch = names.map(n => s"$n IS NOT NULL").mkString(" OR ")
    s"""WITH ${bm25Ctes(allTerms, carryToks = true)},
       |scored AS (SELECT doc_id, $gCols FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path, floor(($best) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE $anyMatch
       |         ORDER BY $best DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q83: negation in FILTER context — `WHERE match(text, '... -x ...')`
    * through the semi-join rewrite; the prohibition rides the
    * distributed match-set walk (exclusion cursors advance alongside the
    * intersection), and the oracle is the plain row predicate. */
  val NegMatchQuery = "query -window, merge join -\"table scan\" -qu*"

  def qNegMatchWhere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSql.ensureMatchSupport(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_neg_docs")
    spark.sql(
      s"""SELECT doc_id, lang FROM graft_neg_docs
         |WHERE match(text, '$NegMatchQuery')
         |ORDER BY doc_id""".stripMargin)
  }

  def negMatchWhereOracleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks
       |  FROM documents)
       |WHERE (list_contains(toks, 'query')
       |        AND NOT list_contains(toks, 'window'))
       |   OR (list_contains(toks, 'merge') AND list_contains(toks, 'join')
       |        AND NOT ${phraseCondSql(Seq("table", "scan"))}
       |        AND len(list_filter(toks, w -> w LIKE 'qu%')) = 0)
       |ORDER BY doc_id""".stripMargin

  /** q84: FUZZY search (the ES query_string `term~n` operator) through
    * the real engine — each fuzzy word expands against the index
    * dictionary to terms within its Levenshtein distance (banded dict
    * scan; Spark/DuckDB/our DP all compute the same classic unit-cost
    * distance), ranked df-desc/term-asc and capped like wildcards, each
    * expansion scored like any query term in rank order. 'sort~2'
    * expands to BOTH sort and part on this corpus — the oracle
    * re-derives the expansion with SQL levenshtein and folds
    * contributions in the same rank order. */
  val FuzzyQuery = "sort~2 marge~1"
  /** (stem, maxEd) atoms in query order — lockstep-pinned. */
  val FuzzyAtoms: Seq[(String, Int)] = Seq(("sort", 2), ("marge", 1))

  def qFuzzySearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.topK(FuzzyQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  def fuzzySearchOracleSql: String = {
    val tf = "CAST(len(list_filter(d.toks, w -> w = s.token)) AS DOUBLE)"
    val expCtes = FuzzyAtoms.zipWithIndex.map { case ((stem, ed), i) =>
      s"""exp$i AS (
         |  SELECT token, CAST(count(*) AS DOUBLE) AS df,
         |         $i * 1000000 + row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
         |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM docs)
         |  WHERE levenshtein(token, '$stem') <= $ed GROUP BY token
         |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, token)
         |    <= ${graft.index.QueryParser.MaxScoredExpansions})""".stripMargin
    }.mkString(",\n")
    val selUnion = FuzzyAtoms.indices
      .map(i => s"SELECT token, df, rnk FROM exp$i").mkString(" UNION ALL ")
    s"""WITH ${bm25CtesTokensOnly()},
       |$expCtes,
       |selraw AS ($selUnion),
       |sel AS (  -- first-occurrence dedup across atoms, engine order
       |  SELECT token, df, min(rnk) AS rnk FROM selraw GROUP BY token, df),
       |contrib AS (
       |  SELECT d.doc_id, s.rnk,
       |    CASE WHEN $tf > 0 THEN
       |      ln(1.0 + (n - s.df + 0.5) / (s.df + 0.5)) * ($tf * ${K1 + 1.0}) /
       |      ($tf + $K1 * (1.0 - $B + $B * CAST(len(d.toks) AS DOUBLE) / avgdl))
       |    ELSE 0.0 END AS c
       |  FROM docs d, sel s, stats),
       |scored AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0, list(c ORDER BY rnk)), (a, b) -> a + b)
       |      AS score_raw
       |  FROM contrib GROUP BY doc_id)
       |SELECT 'doc_' || doc_id AS path,
       |       floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |FROM scored WHERE score_raw > 0.0
       |ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q85: fuzzy in FILTER context (+ negated fuzzy) — `WHERE match()`
    * through the semi-join rewrite; expansion is UNCAPPED there
    * (constant-score), so the oracle is the plain row predicate. */
  val FuzzyMatchQuery = "quer~1 -jion~2, marge~1 scan"

  def qFuzzyMatchWhere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSql.ensureMatchSupport(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_fuzzy_docs")
    spark.sql(
      s"""SELECT doc_id, lang FROM graft_fuzzy_docs
         |WHERE match(text, '$FuzzyMatchQuery')
         |ORDER BY doc_id""".stripMargin)
  }

  def fuzzyMatchWhereOracleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks
       |  FROM documents)
       |WHERE (len(list_filter(toks, w -> levenshtein(w, 'quer') <= 1)) > 0
       |        AND len(list_filter(toks, w -> levenshtein(w, 'jion') <= 2)) = 0)
       |   OR (len(list_filter(toks, w -> levenshtein(w, 'marge') <= 1)) > 0
       |        AND list_contains(toks, 'scan'))
       |ORDER BY doc_id""".stripMargin

  /** q86: the fuzzy-expansion CAP as an oracled output (the q79/q47/q49
    * pattern) — cap 1 over 'sort~2' (which matches sort AND part here)
    * pins the frozen df-desc/term-asc ranking cross-engine. */
  val FuzzyCapStem = "sort"
  val FuzzyCapEd = 2
  val FuzzyCapCap = 1

  def qFuzzyCapMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    val (kept, total) = eng.expandFuzzy(FuzzyCapStem, FuzzyCapEd, FuzzyCapCap)
    Seq((FuzzyCapStem, total, kept.length.toLong,
      total - kept.length, kept.mkString(",")))
      .toDF("stem", "total_terms", "kept_n", "dropped_n", "kept_list")
  }

  def fuzzyCapMetricsOracleSql: String =
    s"""WITH ${bm25CtesTokensOnly()},
       |exp AS (
       |  SELECT token, count(*) AS df,
       |         row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
       |  FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM docs)
       |  WHERE levenshtein(token, '$FuzzyCapStem') <= $FuzzyCapEd
       |  GROUP BY token)
       |SELECT '$FuzzyCapStem' AS stem,
       |  (SELECT count(*) FROM exp) AS total_terms,
       |  CAST(count(*) AS BIGINT) AS kept_n,
       |  (SELECT count(*) FROM exp) - count(*) AS dropped_n,
       |  string_agg(token, ',' ORDER BY rnk) AS kept_list
       |FROM exp WHERE rnk <= $FuzzyCapCap""".stripMargin

  /** q87: metadata-FILTERED scored search (the ES bool query+filter
    * combination — every reference dashboard panel pairs its query with
    * a filter, /root/reference/export.json). Scoring statistics stay
    * GLOBAL (filters gate candidates, never change idf/avgdl), so the
    * oracle scores ALL docs with the corpus-wide CTEs and only then
    * applies the filter — any stats leakage diverges the hash. */
  val FilteredQuery = "spark query join"
  val FilteredPredicate = "lang IN ('en', 'fr')"

  def qFilteredSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.run(SearchRequest(FilteredQuery, 10 + TieMargin,
      gate = Some(expr(FilteredPredicate))))
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def filteredSearchOracleSql: String = {
    val terms = Seq("spark", "query", "join")
    val scoreExpr = terms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(terms)},
       |langs AS (SELECT doc_id, lang FROM documents),
       |scored AS (SELECT t.doc_id, $scoreExpr AS score_raw
       |           FROM tf t JOIN langs l ON t.doc_id = l.doc_id,
       |                stats, dfs
       |           WHERE l.lang IN ('en', 'fr')),
       |topk AS (SELECT 'doc_' || doc_id AS path,
       |                floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE score_raw > 0.0
       |         ORDER BY score_raw DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q88: BOOSTED scored search (the Lucene query_string `term^n`
    * boost) — each boost PRE-multiplies the term's idf (so WAND bounds
    * scale with the scores), contributions sum in the same frozen
    * order. The oracle mirrors the association exactly:
    * ((ln(...) * boost) * tf-part) / norm. */
  val BoostedQuery = "spark^2 query join^0.5"
  /** (term, boost) in scoring order — lockstep-pinned. */
  val BoostedTerms: Seq[(String, Double)] =
    Seq(("spark", 2.0), ("query", 1.0), ("join", 0.5))

  def qBoostedSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.topK(BoostedQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  /** Per-term boosted BM25 contribution — the boost multiplies the idf
    * FIRST (the engine's cursor association), then the tf part. */
  private def boostedScoreSql(i: Int, boost: Double): String =
    s"(CASE WHEN tf$i > 0 THEN ((ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) " +
    s"* $boost) * (CAST(tf$i AS DOUBLE) * ${K1 + 1.0})) / " +
    s"(CAST(tf$i AS DOUBLE) + $K1 * (1.0 - $B + $B * CAST(dl AS DOUBLE) " +
    s"/ avgdl)) ELSE 0.0 END)"

  def boostedSearchOracleSql: String = {
    val scoreExpr = BoostedTerms.zipWithIndex
      .map { case ((_, b), i) => boostedScoreSql(i, b) }.mkString(" + ")
    s"""WITH ${bm25Ctes(BoostedTerms.map(_._1))},
       |scored AS (SELECT doc_id, $scoreExpr AS score_raw FROM tf, stats, dfs)
       |SELECT 'doc_' || doc_id AS path,
       |       floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |FROM scored WHERE score_raw > 0.0
       |ORDER BY score_raw DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q89: SEARCH_AFTER deep pagination — page 2 of the frozen demo
    * query, fetched through the real cursor flow: page 1's last hit
    * (lowest score, highest docId among its ties) becomes the
    * (afterScore, afterDocId) cursor, and the engine returns the top-10
    * STRICTLY after it. Unlike from+size, per-shard state stays O(k) at
    * any depth. The oracle derives the same cursor in SQL and applies
    * the same strict (score, doc_id) cut — scores are bit-stable across
    * pages, so the comparison is exact. */
  def qSearchAfter(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val q = QueryTerms.mkString(" ")
    val page1 = eng.topK(q, 10)
    require(page1.size == 10, s"page 1 must be full, got ${page1.size}")
    val cur = page1.last
    val hits = eng.run(SearchRequest(q, 10 + TieMargin,
      after = Some((cur.score, cur.docId))))
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  def searchAfterOracleSql: String = {
    val scoreExpr = QueryTerms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(QueryTerms)},
       |scored AS (SELECT doc_id, $scoreExpr AS score_raw FROM tf, stats, dfs),
       |hits AS (SELECT doc_id, score_raw FROM scored WHERE score_raw > 0.0),
       |page1 AS (SELECT doc_id, score_raw FROM hits
       |          ORDER BY score_raw DESC, doc_id LIMIT 10),
       |cur AS (SELECT score_raw AS cs, doc_id AS cd FROM page1
       |        ORDER BY score_raw ASC, doc_id DESC LIMIT 1)
       |SELECT 'doc_' || h.doc_id AS path,
       |       floor((h.score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |FROM hits h, cur
       |WHERE h.score_raw < cur.cs
       |   OR (h.score_raw = cur.cs AND h.doc_id > cur.cd)
       |ORDER BY h.score_raw DESC, h.doc_id LIMIT 10""".stripMargin
  }

  /** q90: minimum_should_match (the ES match-query option) — docs with
    * at least MinMatchN of the resolved query terms compete; scores stay
    * the plain matching-term sum (statistics untouched). */
  val MinMatchN = 2

  def qMinMatchSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.run(SearchRequest(QueryTerms.mkString(" "), 10 + TieMargin,
      minMatch = MinMatchN))
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def minMatchOracleSql: String = {
    val scoreExpr = QueryTerms.indices.map(termScoreSql).mkString(" + ")
    val matchedExpr = QueryTerms.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ${bm25Ctes(QueryTerms)},
       |scored AS (SELECT doc_id, $scoreExpr AS score_raw,
       |                  $matchedExpr AS matched FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path,
       |                floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE matched >= $MinMatchN AND score_raw > 0.0
       |         ORDER BY score_raw DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q91: SLOPPY phrase spans (`"a b"~n`, the match_phrase slop /
    * SpanNear(inOrder) analogue): tokens must occur in order with span
    * width ≤ tokens−1+slop; slop 0 is the exact phrase. Spans FILTER,
    * never boost — group scores stay the fixed-order AND sums. */
  val NearQuery = "\"merge scan\"~2 spark, \"table join\"~1"
  /** (terms in scoring order, (span tokens, slop)) per OR-group —
    * lockstep-pinned. */
  val NearGroups: Seq[(Seq[String], Seq[(Seq[String], Int)])] = Seq(
    (Seq("merge", "scan", "spark"), Seq((Seq("merge", "scan"), 2))),
    (Seq("table", "join"), Seq((Seq("table", "join"), 1))))

  def qNearSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.booleanTopK(NearQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  /** DuckDB in-order span check for an N-token span: nested existential
    * hops — positions p_0 < p_1 < ... < p_{m-1} with each token at its
    * position and total width (p_{m-1} − p_0) ≤ m−1+slop. Encoding: hop
    * j consumes gap 1+d_j, so Σd_j ≤ slop, and each inner range budget
    * shrinks by the gaps already spent (outer lambda vars captured —
    * DuckDB supports this). Out-of-range list indexing yields NULL ≠
    * the token literal, so every window is bounds-safe. Existential ==
    * the engine's greedy earliest-next check (greedy minimizes the
    * final position, hence the width — if ANY in-order assignment fits
    * the budget, greedy's does). */
  private def nearCondSql(ph: Seq[String], slop: Int): String = {
    require(ph.length >= 2, "span oracle needs at least 2 tokens")
    def rec(j: Int, dSum: String): String = {
      val budget =
        if (dSum.isEmpty) s"${slop + 1}" else s"${slop + 1} - ($dSum)"
      val newSum = if (dSum.isEmpty) s"d$j" else s"$dSum + d$j"
      val inner =
        if (j == ph.length - 1) ""
        else s" AND ${rec(j + 1, newSum)}"
      s"len(list_filter(range($budget), d$j -> " +
        s"toks[i + ${j + 1} + $newSum] = '${ph(j)}'$inner)) > 0"
    }
    s"(len(list_filter(range(len(toks)), i -> toks[i+1] = '${ph.head}' AND " +
      s"${rec(1, "")})) > 0)"
  }

  def nearSearchOracleSql: String = {
    val allTerms = NearGroups.flatMap(_._1)
    var idx = -1
    val groupExprs = NearGroups.map { case (g, spans) =>
      val parts = g.map { _ => idx += 1; idx }
      val cond = parts.map(i => s"tf$i > 0") ++ spans.map { case (ph, slop) =>
        nearCondSql(ph, slop)
      }
      val sum = parts.map(termScoreSql).mkString(" + ")
      s"CASE WHEN ${cond.mkString(" AND ")} THEN $sum ELSE NULL END"
    }
    val gCols = groupExprs.zipWithIndex.map { case (e, i) => s"$e AS g$i" }.mkString(", ")
    val names = NearGroups.indices.map(i => s"g$i")
    val best = s"greatest(${names.map(n => s"coalesce($n, -1e308)").mkString(", ")})"
    val anyMatch = names.map(n => s"$n IS NOT NULL").mkString(" OR ")
    s"""WITH ${bm25Ctes(allTerms, carryToks = true)},
       |scored AS (SELECT doc_id, $gCols FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path, floor(($best) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE $anyMatch
       |         ORDER BY $best DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q92: FIELD-SCOPED + RANGE syntax IN THE QUERY STRING (the Lucene
    * query_string field/range grammar — the Kibana filter-bar companion
    * every reference panel pairs with its query,
    * /root/reference/export.json:40,77,82,91): `lang:en` and
    * `id:[100 TO 400]` compile to a docmeta gate that rides
    * the engine's gated per-shard walk; the residual scores like
    * any disjunctive query. Scoring statistics stay GLOBAL (filter
    * context), so the oracle scores every doc corpus-wide and only then
    * applies the gate — the q87 pattern, now driven by query syntax
    * instead of a separate predicate argument. */
  val QSFieldQuery = "spark query join lang:en id:[100 TO 400]"

  def qFieldSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.run(SearchRequest.queryString(QSFieldQuery, 10 + TieMargin))
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def fieldSearchOracleSql: String = {
    val terms = Seq("spark", "query", "join")
    val scoreExpr = terms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(terms)},
       |meta AS (SELECT doc_id, lang FROM documents),
       |scored AS (SELECT t.doc_id, $scoreExpr AS score_raw
       |           FROM tf t JOIN meta m ON t.doc_id = m.doc_id,
       |                stats, dfs
       |           WHERE m.lang = 'en' AND t.doc_id BETWEEN 100 AND 400),
       |topk AS (SELECT 'doc_' || doc_id AS path,
       |                floor((score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE score_raw > 0.0
       |         ORDER BY score_raw DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q93: field gates in FILTER context — `WHERE match(text, '...')`
    * with PER-GROUP field atoms through the semi-join rewrite: each
    * OR-group's gate joins that group's leapfrog as a required cursor
    * on the gated distributed walk (the allowed sets are pushed
    * docmeta scans, never driver-collected at scale). The oracle is the
    * plain row predicate with each group's metadata condition attached
    * to that group only. */
  val FieldMatchQuery = "merge join lang:en, spark scan id:[0 TO 250]"

  def qFieldMatchWhere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSql.ensureMatchSupport(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_field_docs")
    spark.sql(
      s"""SELECT doc_id, lang FROM graft_field_docs
         |WHERE match(text, '$FieldMatchQuery')
         |ORDER BY doc_id""".stripMargin)
  }

  def fieldMatchWhereOracleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks
       |  FROM documents)
       |WHERE (list_contains(toks, 'merge') AND list_contains(toks, 'join')
       |        AND lang = 'en')
       |   OR (list_contains(toks, 'spark') AND list_contains(toks, 'scan')
       |        AND doc_id BETWEEN 0 AND 250)
       |ORDER BY doc_id""".stripMargin

  /** q95: FIELD-GATED deep pagination — page 2 of the q92 query through
    * the real cursor flow (the Kibana pattern: filter bar + scroll).
    * The search_after cursor and the docmeta gate are BOTH
    * WAND-evaluation gates, so they compose: page 2 of a filtered
    * search costs one more query with O(k) per-shard state, and scores
    * stay bit-stable across pages (the cursor is exact). The oracle
    * re-derives the same filtered hit set, the same page-1 cursor, and
    * applies the same strict (score, doc_id) cut — the q89 recipe over
    * the q92 gate. */
  def qFieldSearchAfter(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val page1 = eng.run(SearchRequest.queryString(QSFieldQuery, 10))
    require(page1.size == 10, s"page 1 must be full, got ${page1.size}")
    val cur = page1.last
    val hits = eng.run(SearchRequest.queryString(QSFieldQuery, 10 + TieMargin,
      after = Some((cur.score, cur.docId))))
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def fieldSearchAfterOracleSql: String = {
    val terms = Seq("spark", "query", "join")
    val scoreExpr = terms.indices.map(termScoreSql).mkString(" + ")
    s"""WITH ${bm25Ctes(terms)},
       |meta AS (SELECT doc_id, lang FROM documents),
       |scored AS (SELECT t.doc_id, $scoreExpr AS score_raw
       |           FROM tf t JOIN meta m ON t.doc_id = m.doc_id,
       |                stats, dfs
       |           WHERE m.lang = 'en' AND t.doc_id BETWEEN 100 AND 400),
       |hits AS (SELECT doc_id, score_raw FROM scored WHERE score_raw > 0.0),
       |page1 AS (SELECT doc_id, score_raw FROM hits
       |          ORDER BY score_raw DESC, doc_id LIMIT 10),
       |cur AS (SELECT score_raw AS cs, doc_id AS cd FROM page1
       |        ORDER BY score_raw ASC, doc_id DESC LIMIT 1),
       |topk AS (SELECT 'doc_' || h.doc_id AS path,
       |                floor((h.score_raw) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM hits h, cur
       |         WHERE h.score_raw < cur.cs
       |            OR (h.score_raw = cur.cs AND h.doc_id > cur.cd)
       |         ORDER BY h.score_raw DESC, h.doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** q94: a THREE-token sloppy span (`"a b c"~n`) — the n-ary span path
    * (WandScorer.sloppyMatch walks one monotone pointer per term) pinned
    * against the generalized nested-hop SQL oracle; r6 oracled only
    * 2-token spans (VERDICT r6 "wrong #2"). */
  val Near3Query = "\"merge table join\"~3 scan"
  /** (terms in scoring order, (span tokens, slop)) — lockstep-pinned. */
  val Near3Groups: Seq[(Seq[String], Seq[(Seq[String], Int)])] = Seq(
    (Seq("merge", "table", "join", "scan"),
      Seq((Seq("merge", "table", "join"), 3))))

  def qNear3Search(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.booleanTopK(Near3Query, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  def near3SearchOracleSql: String = {
    val allTerms = Near3Groups.flatMap(_._1)
    var idx = -1
    val groupExprs = Near3Groups.map { case (g, spans) =>
      val parts = g.map { _ => idx += 1; idx }
      val cond = parts.map(i => s"tf$i > 0") ++
        spans.map { case (ph, slop) => nearCondSql(ph, slop) }
      val sum = parts.map(termScoreSql).mkString(" + ")
      s"CASE WHEN ${cond.mkString(" AND ")} THEN $sum ELSE NULL END"
    }
    val gCols = groupExprs.zipWithIndex.map { case (e, i) => s"$e AS g$i" }.mkString(", ")
    val names = Near3Groups.indices.map(i => s"g$i")
    val best = s"greatest(${names.map(n => s"coalesce($n, -1e308)").mkString(", ")})"
    val anyMatch = names.map(n => s"$n IS NOT NULL").mkString(" OR ")
    s"""WITH ${bm25Ctes(allTerms, carryToks = true)},
       |scored AS (SELECT doc_id, $gCols FROM tf, stats, dfs),
       |topk AS (SELECT 'doc_' || doc_id AS path, floor(($best) * 10000.0 + 0.5) / 10000.0 AS score
       |         FROM scored WHERE $anyMatch
       |         ORDER BY $best DESC, doc_id LIMIT 10)
       |SELECT path, score FROM topk ORDER BY score DESC, path""".stripMargin
  }

  /** The docs/stats CTE pair alone (no per-term tf columns) — for the
    * dynamic-term oracles whose term lists are data-dependent. */
  private def bm25CtesTokensOnly(): String = {
    val stops = stopListSql
    s"""docs AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |    w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |         AND w NOT IN $stops) AS toks
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |                 avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM docs)""".stripMargin
  }

  /** The code-aware analyzer exposed to SQL as a native codegen'd
    * Catalyst expression (graft.functions.CodeTokenize). On the plain
    * lowercase `documents` text the analyzer reduces to the filtered
    * whitespace split, so this one IS DuckDB-oracle-able; the camelCase /
    * snake_case paths are frozen by AnalyzerSpec + FunctionSpec. */
  def qCodeTokenize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_docs")
    spark.sql(
      """SELECT doc_id, CAST(size(toks) AS BIGINT) AS n_toks,
        |       element_at(toks, 1) AS first_tok, element_at(toks, -1) AS last_tok
        |FROM (SELECT doc_id, code_tokenize(text) AS toks FROM graft_docs)
        |WHERE size(toks) > 0 ORDER BY doc_id""".stripMargin)
  }

  def codeTokenizeOracleSql: String =
    s"""SELECT doc_id, len(toks) AS n_toks, toks[1] AS first_tok, toks[-1] AS last_tok
       |FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |  w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |       AND w NOT IN $stopListSql) AS toks FROM documents)
       |WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin

  // ---- real engine over documents-as-corpus ------------------------------

  // keyed by (application, dir): an engine holds DataFrames bound to the
  // SparkContext that opened it — a fresh session must not inherit one
  private val engineCache = scala.collection.mutable.HashMap.empty[String, QueryEngine]

  def workDir: String = sys.env.getOrElse("GRAFT_WORK_DIR", "/root/repo/target/graftwork")

  /** Map the documents table into the corpus shape and build a real
    * on-disk index. The committed snapshot is durable: a later session
    * (same JVM or a new process) REOPENS it — a metadata read — instead
    * of rebuilding; only a missing/uncommitted root triggers a build.
    * That is the 100 TB behavior: one index build, many engine opens. */
  def docEngine(spark: SparkSession, dir: String): QueryEngine = synchronized {
    evictDeadSessions(engineCache, spark)
    engineCache.getOrElseUpdate(sessionCacheKey(spark, dir), {
      import spark.implicits._
      // the root embeds a cheap CONTENT fingerprint (file sizes + mtimes)
      // alongside the engine format version: a regenerated dataset or a
      // changed engine revision rebuilds; only a truly identical corpus
      // is reopened
      val root = s"$workDir/doc-index-f${IndexBuilder.FormatVersion}-${
        IndexBuilder.sha256Hex(dir + "|" +
          Tables.contentFingerprint(s"$dir/documents.parquet")).take(12)}"
      // ensure-built semantics make cache roots SELF-HEALING on format
      // drift: the path embeds FormatVersion, but a root written before
      // manifests carried the format stamp (or by any older engine whose
      // layout the stamp now rejects) reopens as a loud failure — for
      // this cache, the right response is rebuild, not error
      val stale = new graft.table.IcebergLite(root).currentManifest()
        .exists(m => m.segments.nonEmpty &&
          !m.format.contains(IndexBuilder.FormatVersion))
      if (stale) org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(root))
      if (stale || !new graft.table.IcebergLite(root).exists) {
        val corpus = t(spark, dir, "documents")
          .select(col("source").as("repo"),
            concat(lit("doc_"), col("doc_id")).as("path"),
            md5(col("text")).as("commit"),
            col("lang"), col("text").as("content"))
          .as[CorpusDoc]
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        // tableIdOf: docmeta carries the table's doc_id explicitly (the
        // match() semi-join key) — extracted ONCE at build time from the
        // path this very mapping wrote, loud on any mismatch, instead of
        // a silent cast-null string parse at query time
        IndexBuilder.build(spark, corpus, root, numShards = 8,
          tableIdOf = Some(d => d.path.stripPrefix("doc_").toLong))
      }
      new QueryEngine(spark, root)
    })
  }

  /** Oracle-comparable k-cut: the engine breaks raw-score ties by
    * INTERNAL docId (batch|shard|idx — the Lucene behavior), whose order
    * is unrelated to the table's doc_id the DuckDB oracle tie-breaks on.
    * The driver-contract queries therefore over-fetch `TieMargin` extra
    * hits and re-break ties by the table doc_id (parsed from path) before
    * the k-cut — identical output whenever fewer than TieMargin docs tie
    * at the boundary (beyond that both sides' k-sets are anyway
    * ambiguous). */
  val TieMargin = 20

  /** (docId, score_raw, path, table_id) rows for a hit list; table_id
    * is docmeta's explicit tableId column (build-time extracted). */
  private def withTableId(spark: SparkSession, eng: QueryEngine,
                          hits: Seq[graft.index.ScoredDoc]): DataFrame = {
    import spark.implicits._
    eng.docmeta.where(col("docId").isin(hits.map(_.docId): _*))
      .select(col("docId"), col("path"), col("tableId").as("table_id"))
      .join(broadcast(hits.map(h => (h.docId, h.score)).toDF("docId", "score_raw")),
        Seq("docId"))
  }

  /** Real segmented-index BM25 search (disjunctive). */
  def qEngineSearch(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.topK(QueryTerms.mkString(" "), 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  /** Boolean keyword query through the engine ("spaces are ANDs commas
    * are ORs", /root/reference/sentiment.py:638-641). */
  def qEngineBool(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    val hits = eng.booleanTopK(BoolQuery, 10 + TieMargin)
    withTableId(spark, eng, hits)
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
      .orderBy(desc("score"), asc("path"))
  }

  /** q66: the same disjunctive search through the MatchTopK CUSTOM
    * CATALYST OPERATOR (logical leaf -> MatchStrategy -> MatchTopKExec)
    * instead of the engine API — the operator itself becomes
    * DuckDB-oracled, not just spec-tested. Same oracle-comparable
    * tie-break as q61. */
  def qMatchOperator(spark: SparkSession, dir: String): DataFrame = {
    val eng = docEngine(spark, dir)
    graft.GraftSql.search(spark, eng.root, QueryTerms.mkString(" "), 10 + TieMargin)
      .select(col("path"), col("score").as("score_raw"))
      .withColumn("table_id", substring_index(col("path"), "_", -1).cast("long"))
      .orderBy(desc("score_raw"), asc("table_id"))
      .limit(10)
      .select(col("path"), Tables.rd(col("score_raw"), 4).as("score"))
  }

  /** Resolve the engine behind a MatchRegistry index reference: the
    * documents convention ensure-builds/reopens; an explicit index root
    * is OPEN-only (the caller built it — a query must not kick off a
    * surprise build against an empty root, it fails loudly instead) and
    * shares match_topk's version-keyed cache, so it sees new commits. */
  def engineFor(spark: SparkSession,
                index: graft.plans.MatchRegistry.IndexRef): QueryEngine =
    index match {
      case graft.plans.MatchRegistry.DocsTable(dir) => docEngine(spark, dir)
      case graft.plans.MatchRegistry.IndexRoot(root) =>
        graft.plans.MatchTopKExec.engineFor(spark, root)
    }

  /** The docmeta join-key columns of every document matching a boolean
    * keyword query through the committed index — the relation the
    * `WHERE match(...)` rewrite (graft.plans.MatchFilterRewrite)
    * semi-joins against. Distributed end-to-end: the match set can be
    * corpus-sized, so nothing is collected (QueryEngine.matchingDocIds
    * streams per shard). Keying on tableId requires EVERY committed
    * segment to have been built with a tableIdOf extractor — a
    * half-populated id column would silently drop rows, so it fails
    * loudly here instead. */
  def matchMeta(spark: SparkSession,
                index: graft.plans.MatchRegistry.IndexRef, query: String,
                metaCols: Seq[String]): DataFrame = {
    val eng = engineFor(spark, index)
    if (metaCols.contains("tableId"))
      require(eng.manifest.segments.forall(
          _.lineage.get("tableIds").contains("true")),
        s"index at ${eng.root} was built without source-table ids " +
          "(IndexBuilder tableIdOf) — register this table with a " +
          "repo/path/commit keyMap or rebuild the index with ids")
    eng.matchingDocIds(query)
      .join(eng.docmeta.select(col("docId") +: metaCols.map(col): _*),
        Seq("docId"))
      .select(metaCols.map(col): _*)
  }

  /** Documents-table match set as (match_id = table doc_id) — the
    * single-key convenience over matchMeta. */
  def matchTableIds(spark: SparkSession, dir: String, query: String): DataFrame =
    matchMeta(spark, graft.plans.MatchRegistry.DocsTable(dir), query,
      Seq("tableId")).withColumnRenamed("tableId", "match_id")

  /** q74: the filter-context form — SELECT ... WHERE match(text, q) —
    * through plain spark.sql. MatchFilterRewrite turns the predicate
    * into a LEFT SEMI join against the index's match set: the documents
    * text column is never re-analyzed, and the per-query work is the
    * term-pruned postings walk (the plan assertion lives in
    * MatchTopKSpec; this query pins the result against the DuckDB
    * re-tokenization oracle). */
  def qMatchWhere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSql.ensureMatchSupport(spark)
    t(spark, dir, "documents").createOrReplaceTempView("graft_match_docs")
    spark.sql(
      s"""SELECT doc_id, lang FROM graft_match_docs
         |WHERE match(text, '$BoolQuery') AND doc_id % 2 = 0
         |ORDER BY doc_id""".stripMargin)
  }

  def matchWhereOracleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks
       |  FROM documents)
       |WHERE (list_has_all(toks, ['spark', 'query'])
       |       OR list_has_all(toks, ['merge', 'join']))
       |  AND doc_id % 2 = 0
       |ORDER BY doc_id""".stripMargin

  /** q75: the ES /_explain analogue DRIVER-ORACLED — the per-term BM25
    * breakdown of one fixed document (table doc ExplainDocId) against
    * the frozen demo query, through the committed index
    * (QueryEngine.explainScore); the oracle recomputes df/tf/dl and the
    * per-term contribution from the raw corpus with the same formula
    * CTEs q60/q61 already hash-match on. */
  val ExplainDocId = 7L

  def qExplainScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    val ids = eng.docmeta.where(col("path") === s"doc_$ExplainDocId")
      .select(col("docId")).as[Long].take(1)
    require(ids.nonEmpty, s"doc_$ExplainDocId missing from the index")
    eng.explainScore(QueryTerms.mkString(" "), ids.head)
      .map(e => (e.term, e.df, e.tf.toLong, e.dl.toLong, e.contribution))
      .toDF("term", "df", "tf", "dl", "contribution")
      .select(col("term"), col("df"), col("tf"), col("dl"),
        Tables.rd(col("contribution"), 4).as("contribution"))
      .orderBy("term")
  }

  def explainScoreOracleSql: String = {
    val perTerm = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"""SELECT '$t' AS term, CAST(df$i AS BIGINT) AS df,
         |  CAST(tf$i AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
         |  ${termScoreSql(i)} AS contrib
         |FROM tf, stats, dfs WHERE doc_id = $ExplainDocId AND tf$i > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bm25Ctes(QueryTerms)}
       |SELECT term, df, tf, dl,
       |  floor(contrib * 10000.0 + 0.5) / 10000.0 AS contribution
       |FROM ($perTerm) ORDER BY term""".stripMargin
  }

  /** Per-segment metrics from the committed manifest, SQL-checkable
    * subset: docs + postings are corpus-derivable (postings = sum of
    * per-doc distinct analyzed terms), so the oracle verifies the
    * builder's pass metrics end-to-end. terms/bytes (shard- and
    * codec-dependent) are asserted in IndexEndToEndSpec instead. */
  def qIndexMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    eng.manifest.segments
      .map(s => (s.name, s.metrics.docs, s.metrics.postings))
      .toDF("segment", "docs", "postings")
      .orderBy("segment")
  }

  def indexMetricsOracleSql: String =
    s"""SELECT 'seg-0-0' AS segment,
       | (SELECT count(*) FROM documents) AS docs,
       | (SELECT CAST(sum(len(list_distinct(toks))) AS BIGINT) FROM (
       |    SELECT list_filter(string_split(lower(text), ' '),
       |      w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |           AND w NOT IN $stopListSql) AS toks FROM documents)) AS postings""".stripMargin

  /** q65: whole-index statistics (the BM25 scoring inputs): N, total
    * tokens, global distinct terms, total postings, avgdl — every one
    * re-derivable from the raw corpus by the oracle. */
  def qIndexStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eng = docEngine(spark, dir)
    val m = eng.manifest
    Seq((m.numDocs, m.totalTokens,
      m.segments.map(_.metrics.postings).sum))
      .toDF("num_docs", "total_tokens", "postings")
      .crossJoin(broadcast(eng.dict.agg(count(lit(1)).as("n_terms"))))
      .select(col("num_docs"), col("total_tokens"), col("n_terms"),
        col("postings"),
        // fold-safe rounding (floor(x*1e6+0.5)/1e6): Spark round() and
        // DuckDB round() disagree on knife-edge doubles (see
        // SentimentOps.r4) — same fp formulation on both sides instead
        (floor(col("total_tokens").cast("double") / col("num_docs") * 1e6
          + lit(0.5)) / 1e6).as("avgdl"))
  }

  def indexStatsOracleSql: String =
    s"""WITH docs AS (SELECT list_filter(string_split(lower(text), ' '),
       |    w -> length(w) >= 2 AND NOT regexp_full_match(w, '[0-9]+')
       |         AND w NOT IN $stopListSql) AS toks FROM documents)
       |SELECT (SELECT count(*) FROM docs) AS num_docs,
       | (SELECT CAST(sum(len(toks)) AS BIGINT) FROM docs) AS total_tokens,
       | (SELECT count(DISTINCT t) FROM (SELECT unnest(toks) AS t FROM docs)) AS n_terms,
       | (SELECT CAST(sum(len(list_distinct(toks))) AS BIGINT) FROM docs) AS postings,
       | floor((SELECT CAST(sum(len(toks)) AS DOUBLE) FROM docs) /
       |       (SELECT count(*) FROM docs) * 1000000.0 + 0.5) / 1000000.0 AS avgdl""".stripMargin
}
