package graft

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, QueryEngine, SearchRequest}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The MatchTopK custom operator: planned by MatchStrategy, results
  * identical to the engine API, composable with further DataFrame ops. */
class MatchTopKSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val root: String = {
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "matchtopk").toString
    val r = s"$work/index"
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 400, 42L, 4), r, 4)
    r
  }

  test("MatchTopK plans through MatchStrategy to MatchTopKExec") {
    val df = GraftSql.search(spark, root, "computeHashValue", 10)
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[graft.plans.MatchTopKExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("results identical to the engine API, with metadata attached") {
    val df = GraftSql.search(spark, root, "buildPostingList mergeSortedRuns", 10)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val eng = new QueryEngine(spark, root)
    val exp = eng.topK("buildPostingList mergeSortedRuns", 10)
      .map(h => (h.docId, h.score))
    assert(got.toSeq === exp)
    assert(df.columns.toSeq ===
      Seq("docId", "score", "repo", "path", "commit", "lang", "sha256"))
    assert(df.collect().forall(_.getString(6).length == 64)) // sha256 attached
  }

  test("boolean mode + composability with ordinary operators") {
    val df = GraftSql.search(spark, root, "def return, val match", 10, boolMode = true)
      .where(org.apache.spark.sql.functions.col("lang") === "scala")
      .select("path", "score")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val eng = new QueryEngine(spark, root)
    assert(rows.length <= eng.booleanTopK("def return, val match", 10).size)
  }

  test("match_topk: a field-only scored query rejects loudly, filter or not") {
    root // build the index on the shared session first
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      Seq(s"match_topk('$root', 'lang:en', 10)",
        s"match_topk('$root', 'lang:en', 10, false, 'docLen >= 0')").foreach { tvf =>
        val e = intercept[Exception](s2.sql(s"SELECT * FROM $tvf").collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("field-only")),
          s"$tvf: $e")
      }
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("SQL surface: SELECT ... FROM match_topk(...) resolves via GraftExtensions") {
    root // build the index on the shared session first
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // a NEW session over the same SparkContext, built with the
      // production extension class (spark-submit wires the same class via
      // --conf spark.sql.extensions=graft.GraftExtensions; that static
      // conf is only read at SparkContext creation, so the in-JVM test
      // attaches it through the builder API instead)
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val q = "buildPostingList mergeSortedRuns"
      val rows = s2.sql(
        s"SELECT path, score FROM match_topk('$root', '$q', 10)").collect()
      assert(rows.length === 10)
      val exp = new QueryEngine(s2, root).topK(q, 10).map(_.score)
      assert(rows.map(_.getDouble(1)).toSeq === exp)
      // composes like any relation: WHERE over the TVF output
      val n = s2.sql(
        s"""SELECT count(*) AS n FROM match_topk('$root', 'computeHashValue', 5)
           |WHERE lang = 'scala'""".stripMargin).collect().head.getLong(0)
      assert(n <= 5)
      // boolean mode via the optional 4th argument
      val b = s2.sql(
        s"SELECT * FROM match_topk('$root', 'def return, val match', 10, true)")
        .collect()
      assert(b.nonEmpty)
      // filtered search via the optional 5th argument: the predicate
      // GATES (filter context), it does not post-filter a smaller page —
      // a WHERE over the TVF output trims hits, the filter arg refills
      // the page from deeper candidates
      val filtRows = s2.sql(
        s"""SELECT path, lang FROM
           |match_topk('$root', '$q', 10, false, 'lang = ''scala''')"""
          .stripMargin).collect()
      assert(filtRows.nonEmpty && filtRows.forall(_.getString(1) == "scala"))
      val isScala = org.apache.spark.sql.functions.expr("lang = 'scala'")
      val engF = new QueryEngine(s2, root)
        .run(SearchRequest(q, 10, gate = Some(isScala))).map(_.docId)
      assert(filtRows.length === engF.size)
      // filter + boolMode is rejected loudly (boolean filters compose
      // through WHERE match(...) instead)
      intercept[Exception] {
        s2.sql(s"SELECT * FROM match_topk('$root', '$q', 10, true, 'x')")
          .collect()
      }
      // malformed arguments fail loudly at analysis, not at runtime
      intercept[Exception] {
        s2.sql(s"SELECT * FROM match_topk('$root', 7, 10)").collect()
      }
      // explain_score TVF: the per-term breakdown relation reproduces
      // the hit's score exactly when summed in row order
      val top = new QueryEngine(s2, root).topK(q, 1).head
      val exRows = s2.sql(
        s"SELECT * FROM explain_score('$root', '$q', ${top.docId})").collect()
      assert(exRows.nonEmpty)
      assert(exRows.map(_.getAs[Double]("contribution"))
        .foldLeft(0.0)(_ + _) == top.score)
      assert(s2.sql(
        s"SELECT count(*) AS n FROM explain_score('$root', 'zzznope', 0)")
        .collect().head.getLong(0) == 0L)
      // highlight TVF: per-term positions of a hit doc reproduce the
      // exhaustive re-analysis, and tf == position count vs explain_score
      val hq = "buildPostingList mergeSortedRuns"
      val hDoc = new QueryEngine(s2, root).booleanTopK("posting reader", 1)
        .head.docId
      val hlRows = s2.sql(
        s"SELECT term, pos FROM highlight('$root', 'posting reader', $hDoc)")
        .collect().map(r => (r.getString(0), r.getInt(1)))
      assert(hlRows.nonEmpty)
      val hMeta = new QueryEngine(s2, root).docmeta
        .where(org.apache.spark.sql.functions.col("docId") === hDoc)
        .select("repo", "path", "commit").head()
      val hContent = CorpusGen.dataset(s2, 400, 42L, 4)
        .filter(d => d.repo == hMeta.getString(0) &&
          d.path == hMeta.getString(1) && d.commit == hMeta.getString(2))
        .head().content
      val posMap = graft.analyze.CodeAnalyzer.termPositions(hContent)._1
      Seq("posting", "reader").foreach { t =>
        assert(hlRows.filter(_._1 == t).map(_._2).toSeq === posMap(t).toSeq, t)
      }
      val exTf = s2.sql(
        s"SELECT term, tf FROM explain_score('$root', 'posting reader', $hDoc)")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      exTf.foreach { case (t, tf) =>
        assert(hlRows.count(_._1 == t) == tf, s"tf mismatch for $t")
      }
      // unknown doc / unknown terms -> empty relation, no error
      assert(s2.sql(
        s"SELECT count(*) AS n FROM highlight('$root', 'zzznope', $hDoc)")
        .collect().head.getLong(0) == 0L)
      assert(s2.sql(
        s"SELECT count(*) AS n FROM highlight('$root', '$hq', -1)")
        .collect().head.getLong(0) == 0L)
      // the injected match() WHERE-predicate works on an extension-built
      // session too (injectFunction + injectOptimizerRule wiring)
      val sf = "/root/testdata/sf0.001"
      graft.ops.Tables.t(s2, sf, "documents").createOrReplaceTempView("xdocs")
      val hits = s2.sql(
        "SELECT doc_id FROM xdocs WHERE match(text, 'spark query, merge join')")
        .collect().map(_.getLong(0)).sorted
      val expHits = graft.ops.SearchOps
        .matchTableIds(s2, sf, "spark query, merge join")
        .collect().map(_.getLong(0)).sorted
      assert(hits.nonEmpty && hits.sameElements(expHits))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("SQL surface: SELECT ... FROM ann_topk(...) matches the Scala ANN API") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.AnnIndex.ensure(spark, sf) // build on the shared session
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      Seq("lsh", "multiprobe", "ivf", "brute").foreach { m =>
        val rows = s2.sql(
          s"SELECT vec_id, cos FROM ann_topk('$sf', '$m', 10)").collect()
        assert(rows.nonEmpty && rows.length <= 10, m)
        assert(rows.head.getLong(0) == 0L, s"$m: self-match first")
      }
      // rank-identical to the Scala API on the same store
      val sqlLsh = s2.sql(s"SELECT vec_id FROM ann_topk('$sf', 'lsh', 10)")
        .collect().map(_.getLong(0)).toSeq
      val api = graft.ops.AnnOps.qAnnLshTopK(s2, sf)
        .collect().map(_.getLong(0)).toSeq
      assert(sqlLsh === api)
      // composes like any relation
      val n = s2.sql(
        s"SELECT count(*) AS n FROM ann_topk('$sf', 'ivf', 10) WHERE cos > 0")
        .collect().head.getLong(0)
      assert(n >= 1)
      // qid selects the query vector: vec 42's own search self-matches
      // 42 first and re-ranks vs the SAME method's qid=0 run
      val brute0 = s2.sql(s"SELECT vec_id FROM ann_topk('$sf', 'brute', 10)")
        .collect().map(_.getLong(0)).toSeq
      val q42 = s2.sql(s"SELECT vec_id FROM ann_topk('$sf', 'brute', 10, 42)")
        .collect().map(_.getLong(0)).toSeq
      assert(brute0.head == 0L && q42.head == 42L && q42 != brute0)
      // a STRING 4th arg is the query vector itself (serving-time path):
      // vec 42's literal embedding must reproduce the qid=42 run exactly,
      // on the brute AND a store-backed method
      val v42 = s2.read.parquet(s"$sf/embeddings.parquet")
        .where(org.apache.spark.sql.functions.col("vec_id") === 42L)
        .collect().head.getSeq[Float](1).map(_.toDouble).mkString(",")
      Seq("brute", "lsh").foreach { m =>
        val byId = s2.sql(s"SELECT vec_id, cos FROM ann_topk('$sf', '$m', 10, 42)")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val byVec = s2.sql(s"SELECT vec_id, cos FROM ann_topk('$sf', '$m', 10, '$v42')")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(byVec === byId, s"$m: literal-vector run diverged from qid run")
      }
      // wrong dimension and non-numeric components reject loudly
      intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'brute', 10, '0.1,0.2')").collect()
      }
      intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'brute', 10, 'a,b')").collect()
      }
      // malformed method rejects at analysis; missing qid at runtime
      // for BOTH the store-backed and the brute paths
      intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'hnsw', 10)").collect()
      }
      intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'lsh', 10, 99999)").collect()
      }
      intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'brute', 10, 99999)").collect()
      }
      // non-default store params are OPEN-only from SQL: a SELECT must
      // never trigger a build (or touch other stores) for params no
      // committed store carries
      val eNoStore = intercept[Exception] {
        s2.sql(s"SELECT * FROM ann_topk('$sf', 'ivf', 10, 0, 512)").collect()
      }
      assert(eNoStore.getMessage.contains("ensure"))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("WHERE match(text, q) rewrites to an index semi-join with the engine's hit set") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val sf = "/root/testdata/sf0.001"
    val q = "spark query, merge join"
    GraftSql.ensureMatchSupport(spark)
    graft.ops.Tables.t(spark, sf, "documents").createOrReplaceTempView("mdocs")
    val df = spark.sql(s"SELECT doc_id FROM mdocs WHERE match(text, '$q')")
    val opt = df.queryExecution.optimizedPlan
    // the predicate is gone: no row ever re-analyzes the corpus text
    assert(!opt.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.plans.MatchFilter]))),
      s"match() must be rewritten away:\n$opt")
    assert(opt.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    }, s"expected a LEFT SEMI join:\n$opt")
    // the join's build side is the LAZY MatchIds leaf (the index walk
    // runs at execution — building the plan launches no jobs and embeds
    // no snapshot), not a second documents scan
    assert(opt.exists(_.isInstanceOf[graft.plans.MatchIds]),
      s"expected the MatchIds leaf in the plan:\n$opt")
    // exactly the engine's hit set
    val got = df.collect().map(_.getLong(0)).sorted
    val exp = graft.ops.SearchOps.matchTableIds(spark, sf, q)
      .collect().map(_.getLong(0)).sorted
    assert(got.length > 0 && got.sameElements(exp))
    // composes with other predicates (residual filter stays)
    val even = spark.sql(
      s"SELECT doc_id FROM mdocs WHERE match(text, '$q') AND doc_id % 2 = 0")
      .collect().map(_.getLong(0)).sorted
    assert(even.sameElements(exp.filter(_ % 2 == 0)))
  }

  test("duplicate match predicates canonicalize for reuse and answer correctly") {
    val sf = "/root/testdata/sf0.001"
    GraftSql.ensureMatchSupport(spark)
    // same (dir, query) => sameResult, despite per-instance exprIds —
    // the property AQE stage reuse keys on
    val q = "spark query, merge join"
    import graft.plans.{MatchIds, MatchRegistry}
    val ref = MatchRegistry.DocsTable(sf)
    val keys = Seq("tableId")
    assert(MatchIds(ref, q, keys).sameResult(MatchIds(ref, q, keys)))
    assert(!MatchIds(ref, q, keys).sameResult(MatchIds(ref, "other", keys)))
    // a self-join carrying the predicate on BOTH sides: two rewrites,
    // one hit set, correct count
    graft.ops.Tables.t(spark, sf, "documents").createOrReplaceTempView("mdocs2")
    val n = spark.sql(
      s"""SELECT count(*) AS n
         |FROM mdocs2 d1 JOIN mdocs2 d2 ON d1.doc_id = d2.doc_id
         |WHERE match(d1.text, '$q') AND match(d2.text, '$q')""".stripMargin)
      .collect().head.getLong(0)
    assert(n == graft.ops.SearchOps.matchTableIds(spark, sf, q).count())
  }

  test("WHERE match() with a quoted phrase: semi-join plan == row-level semantics") {
    val sf = "/root/testdata/sf0.001"
    GraftSql.ensureMatchSupport(spark)
    graft.ops.Tables.t(spark, sf, "documents").createOrReplaceTempView("phdocs")
    val q = "\\\"merge join\\\" spark, \\\"table scan\\\""
    val df = spark.sql(
      s"SELECT doc_id FROM phdocs WHERE match(text, '$q')")
    // the rewrite fires for phrase queries too
    assert(df.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[graft.plans.MatchIds]))
    val got = df.collect().map(_.getLong(0)).sorted
    // row-level fallback (derived column) is the semantic reference
    val exp = graft.ops.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat(text, '') AS body")
      .where(org.apache.spark.sql.functions.expr(s"match(body, '$q')"))
      .collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty && got.sameElements(exp))
    // the phrase is strictly tighter than its bare terms
    val loose = spark.sql(
      "SELECT doc_id FROM phdocs WHERE match(text, 'merge join spark, table scan')")
      .collect().map(_.getLong(0)).toSet
    assert(got.toSet.subsetOf(loose) && got.length < loose.size)
  }

  test("registered corpus table: WHERE match(content, q) takes the semi-join plan") {
    import graft.plans.{MatchFilter, MatchIds, MatchRegistry}
    import org.apache.spark.sql.functions.expr
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "matchreg").toString
    val tablePath = s"$work/corpus.parquet"
    CorpusGen.dataset(spark, 400, 7L, 4).write.parquet(tablePath)
    val idxRoot = s"$work/index"
    import spark.implicits._
    IndexBuilder.build(spark,
      spark.read.parquet(tablePath).as[graft.corpus.CorpusDoc], idxRoot, 4)
    // a corpus-shaped table has no numeric id: it registers its natural
    // identity columns as the semi-join key
    MatchRegistry.register(tablePath, "content",
      Seq("repo" -> "repo", "path" -> "path", "commit" -> "commit"),
      MatchRegistry.IndexRoot(idxRoot))
    try {
      GraftSql.ensureMatchSupport(spark)
      spark.read.parquet(tablePath).createOrReplaceTempView("regcorpus")
      val q = "buildPostingList mergeSortedRuns, shardRouterTable"
      val df = spark.sql(
        s"SELECT repo, path FROM regcorpus WHERE match(content, '$q')")
      val opt = df.queryExecution.optimizedPlan
      assert(!opt.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[MatchFilter]))),
        s"match() must be rewritten away on a registered table:\n$opt")
      assert(opt.exists(_.isInstanceOf[MatchIds]),
        s"expected the MatchIds leaf:\n$opt")
      // exactly the row-level semantics (forced via a derived column)
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
      val exp = spark.read.parquet(tablePath)
        .selectExpr("repo", "path", "concat(content, '') AS body")
        .where(expr(s"match(body, '$q')"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(got.nonEmpty && got.sameElements(exp))
      // unregistering drops the acceleration: row-level eval remains
      MatchRegistry.unregister(tablePath)
      val df2 = spark.sql(
        s"SELECT repo FROM regcorpus WHERE match(content, '$q')")
      assert(df2.queryExecution.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[MatchFilter]))),
        "unregistered table must fall back to the row-level predicate")
      assert(df2.count() == got.length)
    } finally MatchRegistry.unregister(tablePath)
  }

  test("registered index root: WHERE match() sees a batch committed after the first query") {
    import graft.corpus.CorpusDoc
    import graft.plans.MatchRegistry
    import spark.implicits._
    val work = Files.createTempDirectory(
      Paths.get("target").toAbsolutePath, "matchcommit").toString
    val tablePath = s"$work/corpus.parquet"
    val idxRoot = s"$work/index"
    def doc(name: String, content: String) =
      CorpusDoc("r", s"$name.scala", "c0", "scala", content)
    val first = Seq(doc("a", "zebraquery alpha"), doc("b", "other words"))
    first.toDS().write.parquet(tablePath)
    IndexBuilder.build(spark, first.toDS(), idxRoot, 2)
    MatchRegistry.register(tablePath, "content",
      Seq("repo" -> "repo", "path" -> "path", "commit" -> "commit"),
      MatchRegistry.IndexRoot(idxRoot))
    try {
      GraftSql.ensureMatchSupport(spark)
      def matched(): Seq[String] = {
        spark.read.parquet(tablePath).createOrReplaceTempView("commitcorpus")
        spark.sql("SELECT path FROM commitcorpus WHERE match(content, 'zebraquery')")
          .collect().map(_.getString(0)).sorted.toSeq
      }
      assert(matched() === Seq("a.scala"))
      val more = Seq(doc("c", "zebraquery gamma"))
      more.toDS().write.mode("append").parquet(tablePath)
      IndexBuilder.build(spark, more.toDS(), idxRoot, 2, batch = 1)
      assert(matched() === Seq("a.scala", "c.scala"))
      assert(GraftSql.search(spark, idxRoot, "zebraquery", 10)
        .collect().map(_.getAs[String]("path")).sorted.toSeq ===
        Seq("a.scala", "c.scala"))
    } finally MatchRegistry.unregister(tablePath)
  }

  test("lang=-partitioned corpus: match() takes the semi-join on whole-root, sub-dir and multi-root reads") {
    import graft.plans.{MatchFilter, MatchIds, MatchRegistry}
    import org.apache.spark.sql.functions.expr
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "matchpart").toString
    val tablePath = s"$work/corpus"
    // the first shape a real lake table takes: Hive-partitioned by lang
    CorpusGen.dataset(spark, 400, 13L, 4)
      .write.partitionBy("lang").parquet(tablePath)
    val idxRoot = s"$work/index"
    import spark.implicits._
    IndexBuilder.build(spark,
      spark.read.parquet(tablePath)
        .select("repo", "path", "commit", "lang", "content")
        .as[graft.corpus.CorpusDoc], idxRoot, 4)
    // register the COMMON ROOT once; every read shape under it resolves
    MatchRegistry.register(tablePath, "content",
      Seq("repo" -> "repo", "path" -> "path", "commit" -> "commit"),
      MatchRegistry.IndexRoot(idxRoot))
    try {
      GraftSql.ensureMatchSupport(spark)
      val q = "buildPostingList mergeSortedRuns, shardRouterTable"
      def assertAccelerated(df: org.apache.spark.sql.DataFrame,
                            label: String): Unit = {
        val opt = df.queryExecution.optimizedPlan
        assert(!opt.exists(_.expressions.exists(
            _.exists(_.isInstanceOf[MatchFilter]))),
          s"$label: match() must be rewritten away:\n$opt")
        assert(opt.exists(_.isInstanceOf[MatchIds]),
          s"$label: expected the MatchIds leaf:\n$opt")
      }
      def rowLevel(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
        df.selectExpr("repo", "path", "concat(content, '') AS body")
          .where(expr(s"match(body, '$q')"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

      // 1. whole-root read (partition discovery, single rootPath)
      val whole = spark.read.parquet(tablePath)
      val dfW = whole.where(expr(s"match(content, '$q')")).select("repo", "path")
      assertAccelerated(dfW, "whole-root")
      val gotW = dfW.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(gotW.nonEmpty && gotW == rowLevel(whole))

      // 2. one partition directory read directly (a sub-path of the root)
      val sub = spark.read.parquet(s"$tablePath/lang=scala")
      val dfS = sub.where(expr(s"match(content, '$q')")).select("repo", "path")
      assertAccelerated(dfS, "sub-dir")
      val gotS = dfS.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(gotS == rowLevel(sub))
      assert(gotS.toSet.subsetOf(gotW.toSet) && gotS.size < gotW.size)

      // 3. multi-root read (several partition dirs; basePath keeps lang)
      val multi = spark.read.option("basePath", tablePath)
        .parquet(s"$tablePath/lang=scala", s"$tablePath/lang=java")
      val dfM = multi.where(expr(s"match(content, '$q')")).select("repo", "path")
      assertAccelerated(dfM, "multi-root")
      val gotM = dfM.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(gotM == rowLevel(multi))
      assert(gotS.toSet.subsetOf(gotM.toSet) && gotM.toSet.subsetOf(gotW.toSet))

      // a multi-root read NOT fully under the registered root stays on
      // row-level eval (no entry covers the foreign sibling)
      val foreignDir = s"$work/other"
      CorpusGen.dataset(spark, 50, 14L, 2).write.partitionBy("lang")
        .parquet(foreignDir)
      val mixed = spark.read.parquet(s"$tablePath/lang=scala",
        s"$foreignDir/lang=scala")
      val dfF = mixed.where(expr(s"match(content, '$q')"))
      assert(dfF.queryExecution.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[MatchFilter]))),
        "a read spanning a foreign root must stay on row-level eval")
    } finally MatchRegistry.unregister(tablePath)
  }

  test("keying on tableId against an id-less index fails loudly at execution") {
    import graft.plans.MatchRegistry
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "matchnoid").toString
    val tablePath = s"$work/t.parquet"
    import spark.implicits._
    CorpusGen.dataset(spark, 100, 9L, 2)
      .withColumn("doc_id",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .write.parquet(tablePath)
    val idxRoot = s"$work/index"
    // built WITHOUT tableIdOf: docmeta.tableId is -1 everywhere
    IndexBuilder.build(spark,
      spark.read.parquet(tablePath).drop("doc_id")
        .as[graft.corpus.CorpusDoc], idxRoot, 2)
    MatchRegistry.register(tablePath, "content",
      Seq("doc_id" -> "tableId"), MatchRegistry.IndexRoot(idxRoot))
    try {
      GraftSql.ensureMatchSupport(spark)
      spark.read.parquet(tablePath).createOrReplaceTempView("noidcorpus")
      val df = spark.sql(
        "SELECT doc_id FROM noidcorpus WHERE match(content, 'def return')")
      // the rewrite fires (registration looks valid) ...
      assert(df.queryExecution.optimizedPlan
        .exists(_.isInstanceOf[graft.plans.MatchIds]))
      // ... but execution refuses to key on a half-real id column
      val e = intercept[Exception] { df.collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("without source-table ids")),
        s"expected the loud id-less message, got: ${msgs(e).mkString(" | ")}")
    } finally MatchRegistry.unregister(tablePath)
  }

  test("match() falls back to row-level eval when the index can't serve it") {
    val sf = "/root/testdata/sf0.001"
    val q = "spark query, merge join"
    GraftSql.ensureMatchSupport(spark)
    // the column is a DERIVED string (aliased + transformed): no relation
    // text column, so the rewrite must not fire — and results must still
    // be exactly the boolean-retrieval semantics
    val df = graft.ops.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat(text, '') AS body")
      .where(org.apache.spark.sql.functions.expr(s"match(body, '$q')"))
      .select("doc_id")
    assert(df.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.MatchFilter]))),
      "derived column: the row-level predicate must remain")
    val got = df.collect().map(_.getLong(0)).sorted
    val exp = graft.ops.SearchOps.matchTableIds(spark, sf, q)
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(exp), "fallback and index path must agree")
    // empty/unknown query: empty result, no error, both paths
    assert(graft.ops.Tables.t(spark, sf, "documents")
      .where(org.apache.spark.sql.functions.expr("match(text, '')"))
      .count() == 0L)
    assert(graft.ops.Tables.t(spark, sf, "documents")
      .where(org.apache.spark.sql.functions.expr("match(text, 'zzzznope')"))
      .count() == 0L)
  }

  test("match registry survives a JVM restart via -Dgraft.match.registry") {
    import graft.plans.{MatchIds, MatchRegistry}
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "matchpersist").toString
    val tablePath = s"$work/corpus.parquet"
    CorpusGen.dataset(spark, 60, 11L, 2).write.parquet(tablePath)
    val regFile = s"$work/registry.tsv"
    val old = sys.props.get(MatchRegistry.RegistryProp)
    sys.props(MatchRegistry.RegistryProp) = regFile
    try {
      MatchRegistry.registerPersistent(tablePath, "content",
        Seq("repo" -> "repo", "path" -> "path", "commit" -> "commit"),
        MatchRegistry.IndexRoot(s"$work/index"))
      // "restart": forget in-memory registrations AND the file memo
      MatchRegistry.resetForTest()
      assert(MatchRegistry.lookup(tablePath).exists(_.contentCol == "content"),
        "file-backed registration must survive the in-memory reset")
      // the optimizer sees the reloaded entry: the plan compiles to the
      // semi-join (MatchIds is lazy — nothing opens the unbuilt index)
      GraftSql.ensureMatchSupport(spark)
      spark.read.parquet(tablePath).createOrReplaceTempView("persistcorpus")
      val df = spark.sql(
        "SELECT repo FROM persistcorpus WHERE match(content, 'spark')")
      val opt = df.queryExecution.optimizedPlan
      assert(opt.exists(_.isInstanceOf[MatchIds]),
        s"expected the MatchIds leaf after the reload:\n$opt")
      // unregisterPersistent rewrites the file: gone after a restart too
      MatchRegistry.unregisterPersistent(tablePath)
      MatchRegistry.resetForTest()
      assert(MatchRegistry.lookup(tablePath).isEmpty,
        "persistent unregister must remove the file entry")
      // a corrupt file line is loud at lookup (the optimizer rule's
      // never-fail catch turns it into a logged row-level fallback)
      Files.write(Paths.get(regFile), "not a registry line\n".getBytes)
      MatchRegistry.resetForTest()
      intercept[IllegalArgumentException](MatchRegistry.lookup(tablePath))
      // ... and END-TO-END: with the corrupt file still configured, a
      // match() query stays CORRECT via the row-level fallback, the plan
      // keeps the predicate (no MatchIds), and the fallback is logged —
      // the scaladoc's "results stay correct, breakage stays visible"
      MatchRegistry.resetForTest()
      val sf = "/root/testdata/sf0.001"
      val q = "spark query, merge join"
      graft.ops.Tables.t(spark, sf, "documents")
        .createOrReplaceTempView("corruptdocs")
      val dfC = spark.sql(
        s"SELECT doc_id FROM corruptdocs WHERE match(text, '$q')")
      val (optC, logged) = SparkSessionFixture.warnings(
        "graft.plans.MatchFilterRewrite")(dfC.queryExecution.optimizedPlan)
      assert(optC.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[graft.plans.MatchFilter]))),
        s"corrupt registry file must leave the row-level predicate:\n$optC")
      assert(!optC.exists(_.isInstanceOf[MatchIds]))
      assert(logged.contains("falling back to row-level eval"),
        s"fallback must be logged at WARN, the log was: $logged")
      val gotC = dfC.collect().map(_.getLong(0)).sorted
      val expC = graft.ops.SearchOps.matchTableIds(spark, sf, q)
        .collect().map(_.getLong(0)).sorted
      assert(gotC.nonEmpty && gotC.sameElements(expC),
        "row-level fallback must still answer correctly")
    } finally {
      old match {
        case Some(v) => sys.props(MatchRegistry.RegistryProp) = v
        case None => sys.props.remove(MatchRegistry.RegistryProp)
      }
      MatchRegistry.resetForTest()
    }
  }

  test("GraftExtensions applies cleanly; registered functions work via SQL") {
    // builder-time injection can't be exercised on the shared test context
    // (getOrCreate would return it); verify the extension wiring applies
    // and the same registrations behave on the live session.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions())
    graft.functions.GraftFunctions.register(spark)
    graft.functions.MinHashFunctions.register(spark)
    val toks = spark.sql("SELECT code_tokenize('mergeSortedRuns x') AS t")
      .collect().head.getSeq[String](0)
    assert(toks === Seq("merge", "sorted", "runs", "mergesortedruns"))
    val sig = spark.sql("SELECT size(minhash_sig(array('a','b','c','d'))) AS n")
      .collect().head.getInt(0)
    assert(sig === 64)
  }
}
