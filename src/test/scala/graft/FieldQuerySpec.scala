package graft

import graft.corpus.CorpusGen
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Field-scoped and range query syntax (`lang:scala term`,
  * `id:[a TO b]`) — the Lucene query_string field grammar compiled onto
  * the engine's filtered-search machinery (SURVEY §2.8 X18):
  *  - parser pins (grammar, precedence, loud rejects);
  *  - engine parity vs the exhaustive in-memory oracle on random
  *    field-gated boolean AND scored queries, on BOTH the driver fast
  *    path and the forced distributed/cogrouped path;
  *  - the format-gate sniff for unstamped-but-compatible roots
  *    (ADVICE r6 medium).
  */
class FieldQuerySpec extends AnyFunSuite with SparkSessionFixture {

  private val nDocs = 400L
  private val numShards = 4
  private lazy val work = Files.createTempDirectory(
    Paths.get("/root/repo/target"), "field-spec").toString

  private lazy val corpusDocs = (0L until nDocs).map(i => CorpusGen.doc(91L, i))

  private lazy val indexRoot = s"$work/index"
  private lazy val engine: QueryEngine = {
    val ds = CorpusGen.dataset(spark, nDocs, 91L, 6)
    IndexBuilder.build(spark, ds, indexRoot, numShards,
      tableIdOf = Some(d =>
        d.path.replaceAll(""".*file_([0-9]+)\..*""", "$1").toLong))
    new QueryEngine(spark, indexRoot)
  }

  /** Exhaustive oracle with engine docIds + per-doc metadata lookups. */
  private lazy val (oracle, metaOf) = {
    val meta = engine.docmeta
      .select("docId", "repo", "path", "commit", "lang", "docLen", "tableId")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getInt(5), r.getLong(6)))
      .toMap
    val byKey = corpusDocs.map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    val naive = new NaiveIndex(meta.toSeq.map { case (id, m) =>
      (id, byKey((m._1, m._2, m._3))) })
    val fieldVal: (Long, String) => Any = (id, f) => f match {
      case "repo" => meta(id)._1
      case "path" => meta(id)._2
      case "commit" => meta(id)._3
      case "lang" => meta(id)._4
      case "dlen" => meta(id)._5
      case "id" => meta(id)._6
      case other => throw new IllegalArgumentException(other)
    }
    (naive, fieldVal)
  }

  // ---- parser pins --------------------------------------------------------

  test("splitFieldFilters: ranges + bare fields out, residual intact") {
    val (res, fs) = QueryParser.splitFieldFilters(
      "spark query join lang:en id:[100 TO 400]")
    assert(res === "spark query join")
    assert(fs.map(_.field) === Seq("id", "lang")) // range extracted first
    assert(fs.find(_.field == "lang").get.eq === Some("en"))
    val idF = fs.find(_.field == "id").get
    assert(idF.lo === Some("100") && idF.hi === Some("400") &&
      idF.loInc && idF.hiInc)
  }

  test("splitFieldFilters: negation, exclusive bounds, open bounds") {
    val (res, fs) = QueryParser.splitFieldFilters(
      "merge -lang:fr dlen:{10 TO *}")
    assert(res === "merge")
    assert(fs.find(_.field == "lang").get.neg)
    val dl = fs.find(_.field == "dlen").get
    assert(dl.lo === Some("10") && dl.hi === None && !dl.loInc)
  }

  test("unknown bare field falls through to the analyzer; unknown range rejects") {
    val (res, fs) = QueryParser.splitFieldFilters("spark date:2020")
    assert(fs.isEmpty && res === "spark date:2020") // pre-field behavior kept
    intercept[IllegalArgumentException] {
      QueryParser.splitFieldFilters("spark date:[1 TO 2]")
    }
    intercept[IllegalArgumentException] { // numeric field, junk value
      QueryParser.splitFieldFilters("spark id:abc")
    }
    intercept[IllegalArgumentException] { // both bounds open
      QueryParser.splitFieldFilters("spark id:[* TO *]")
    }
  }

  test("parseGroups: per-group fields, pinned for the q93 query") {
    val gs = QueryParser.parseGroups(graft.ops.SearchOps.FieldMatchQuery)
    assert(gs.length === 2)
    assert(gs(0).terms === Seq("merge", "join"))
    assert(gs(0).fields.map(f => (f.field, f.eq)) === Seq(("lang", Some("en"))))
    assert(gs(1).terms === Seq("spark", "scan"))
    assert(gs(1).fields.map(f => (f.field, f.lo, f.hi)) ===
      Seq(("id", Some("0"), Some("250"))))
  }

  test("field-only groups reject loudly (boolean and scored)") {
    intercept[IllegalArgumentException] {
      QueryParser.parseGroups("lang:en")
    }
    intercept[IllegalArgumentException] {
      QueryParser.parseGroups("spark, lang:en -window")
    }
    intercept[IllegalArgumentException] {
      engine.run(SearchRequest.queryString("lang:scala", 5))
    }
  }

  test("field predicates bind values as literals; numeric ones as Long") {
    val f = FieldFilter("path", neg = false, Some("o'brien"), None, None)
    assert(f.predicate == (col("path") === lit("o'brien")))
    val r = FieldFilter("id", neg = true, None, Some("5"), Some("9"),
      loInc = true, hiInc = false)
    assert(r.predicate == !(col("tableId") >= lit(5L) && col("tableId") < lit(9L)))
  }

  test("a range atom must start a word: mid-word ranges reject") {
    // `foo-id:[..]` once read as the term foo plus a NEGATED id range,
    // `a.lang:[..]` as a filter cut from the middle of a word
    Seq("spark foo-id:[1 TO 5]", "spark a.lang:[x TO y]").foreach { q =>
      intercept[IllegalArgumentException](QueryParser.splitFieldFilters(q))
      intercept[IllegalArgumentException](QueryParser.parseGroups(q))
    }
    val (res, fs) = QueryParser.splitFieldFilters("spark -id:[1 TO 5]")
    assert(res === "spark" && fs.map(f => (f.field, f.neg)) === Seq(("id", true)))
    assert(QueryParser.parseGroups("spark,id:[1 TO 5] merge")(1)
      .fields.map(_.field) === Seq("id"))
  }

  test("quoted field and range syntax is text on both surfaces") {
    val q = "\"id:[1 TO 5]\" spark"
    val g = QueryParser.parseGroups(q).head
    assert(g.fields.isEmpty && g.terms === Seq("id", "spark"))
    val (res, fs) = QueryParser.splitFieldFilters(q)
    assert(fs.isEmpty && res === q)
    assert(QueryParser.parseScored(res) === Seq(TermAtom("id"), TermAtom("spark")))
    val g2 = QueryParser.parseGroups("\"lang:en spark\" scan").head
    assert(g2.fields.isEmpty && g2.terms === Seq("lang", "en", "spark", "scan") &&
      g2.phrases === Seq(Seq("lang", "en", "spark")))
    assert(QueryParser.splitFieldFilters("\"lang:en\" -\"repo:web\" spark")._2.isEmpty)
    // unquoted, the same atoms still gate
    assert(QueryParser.parseGroups("id:[1 TO 5] spark").head.fields
      .map(_.field) === Seq("id"))
    assert(QueryParser.splitFieldFilters("lang:en spark") ===
      (("spark", Seq(FieldFilter("lang", neg = false, Some("en"), None, None)))))
  }

  test("field values with backslashes gate exactly like the oracle") {
    // a SQL literal would unescape `a\b` and break on a trailing `\`;
    // the gate binds the value verbatim, as the oracle compares it
    import spark.implicits._
    val repos = Seq("a\\b", "c\\", "ab", "c")
    val docs = (0L until 80L).map(i =>
      CorpusGen.doc(93L, i).copy(repo = repos((i % repos.size).toInt)))
    val root = s"$work/backslash"
    IndexBuilder.build(spark, docs.toDS(), root, numShards = 2)
    val eng = new QueryEngine(spark, root)
    val meta = eng.docmeta.select("docId", "repo", "path", "commit")
      .as[(Long, String, String, String)].collect()
    val byKey = docs.map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    val naive = new NaiveIndex(meta.toSeq.map { case (id, r, p, c) =>
      (id, byKey((r, p, c))) })
    val repoOf = meta.map(m => m._1 -> m._2).toMap
    val term = naive.postings.toSeq.maxBy { case (t, pl) => (pl.length, t) }._1
    Seq("a\\b", "c\\").foreach { v =>
      val q = s"$term repo:$v"
      val exp = naive.topKFiltered(term, 10, repoOf(_) == v)
      assert(exp.nonEmpty, s"'$q' must have hits for this test to bite")
      assert(eng.run(SearchRequest.queryString(q, 10)) === exp, q)
      assert(eng.booleanTopK(q, 10) ===
        naive.booleanTopK(q, 10, (id, _) => repoOf(id)), q)
    }
  }

  // ---- engine parity ------------------------------------------------------

  private def topTerms(n: Int): Seq[String] =
    oracle.postings.toSeq.sortBy { case (t, pl) => (-pl.length, t) }
      .take(n).map(_._1)

  private def randomFieldAtom(rnd: Random): String = {
    val langs = Seq("scala", "java", "py", "go", "md")
    rnd.nextInt(4) match {
      case 0 => s"lang:${langs(rnd.nextInt(langs.length))}"
      case 1 => s"-lang:${langs(rnd.nextInt(langs.length))}"
      case 2 =>
        val lo = rnd.nextInt(200); val hi = lo + 20 + rnd.nextInt(300)
        s"id:[$lo TO $hi]"
      case 3 =>
        val lo = 5 + rnd.nextInt(40)
        s"dlen:[$lo TO ${lo + 20 + rnd.nextInt(60)}]"
    }
  }

  test("boolean field gates: engine == exhaustive on 25 random queries") {
    val rnd = new Random(331)
    val terms = topTerms(12)
    (1 to 25).foreach { round =>
      val nGroups = 1 + rnd.nextInt(2)
      val q = (1 to nGroups).map { _ =>
        val gTerms = Seq.fill(1 + rnd.nextInt(2))(
          terms(rnd.nextInt(terms.length))).distinct
        val atoms = (1 to 1 + rnd.nextInt(2)).map(_ => randomFieldAtom(rnd))
        (gTerms ++ atoms).mkString(" ")
      }.mkString(", ")
      val k = 5 + rnd.nextInt(10)
      val got = engine.booleanTopK(q, k)
      val exp = oracle.booleanTopK(q, k, metaOf)
      assert(got.map(_.docId) === exp.map(_.docId), s"round $round q='$q'")
      got.zip(exp).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round doc ${g.docId} q='$q'") }
    }
  }

  test("scored field gates (topKQS): engine == exhaustive, scores GLOBAL") {
    val rnd = new Random(337)
    val terms = topTerms(12)
    (1 to 20).foreach { round =>
      val qTerms = Seq.fill(1 + rnd.nextInt(3))(
        terms(rnd.nextInt(terms.length))).distinct
      val atoms = (1 to 1 + rnd.nextInt(2)).map(_ => randomFieldAtom(rnd))
      val q = (qTerms ++ atoms).mkString(" ")
      val k = 5 + rnd.nextInt(10)
      val (residual, fs) = QueryParser.splitFieldFilters(q)
      assert(residual === qTerms.mkString(" "))
      val got = engine.run(SearchRequest.queryString(q, k))
      val exp = oracle.topKFiltered(residual, k,
        id => fs.forall(f => f.matches(metaOf(id, f.field))))
      assert(got.map(_.docId) === exp.map(_.docId), s"round $round q='$q'")
      got.zip(exp).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round doc ${g.docId} q='$q'") }
      // filter context: a surviving doc's score must equal its unfiltered
      // score (global statistics — the ES contract)
      val unfiltered = engine.topK(residual, 10000).map(s => s.docId -> s.score).toMap
      got.foreach(s => assert(unfiltered(s.docId) === s.score,
        s"round $round stats leaked into doc ${s.docId}"))
    }
  }

  test("match set with field gates: engine == exhaustive, both paths") {
    val rnd = new Random(347)
    val terms = topTerms(10)
    // a second engine whose driver gate is closed: every query takes the
    // DISTRIBUTED cogrouped path — the scale shape q93 rides
    val distEngine = new QueryEngine(spark, indexRoot, driverPathMaxPostings = 1)
    (1 to 8).foreach { round =>
      val q = Seq(
        s"${terms(rnd.nextInt(terms.length))} ${randomFieldAtom(rnd)}",
        s"${terms(rnd.nextInt(terms.length))} ${randomFieldAtom(rnd)}"
      ).mkString(", ")
      val exp = oracle.booleanTopK(q, nDocs.toInt * 2, metaOf)
        .map(_.docId).toSet
      val got = engine.matchingDocIds(q)
        .collect().map(_.getLong(0)).toSet
      assert(got === exp, s"round $round driver-path q='$q'")
      val gotDist = distEngine.matchingDocIds(q)
        .collect().map(_.getLong(0)).toSet
      assert(gotDist === exp, s"round $round distributed-path q='$q'")
    }
    // the distributed scored path too (cogroup + required cursor)
    val q = s"${terms.head} lang:scala dlen:[10 TO 200]"
    assert(distEngine.run(SearchRequest.queryString(q, 10)) ===
      engine.run(SearchRequest.queryString(q, 10)))
  }

  /** A random query over the whole grammar: words carrying `*`, `~n`
    * (n = 3 rejects), `^n` and `-`, quoted spans holding any of those
    * plus field syntax, `lang:`/`id:[a TO b]` atoms, and `,` groups. */
  private def randomQuery(rnd: Random, terms: Seq[String],
                          fields: Boolean): String = {
    def word(): String = {
      val t = terms(rnd.nextInt(terms.length))
      rnd.nextInt(8) match {
        case 0 => t.take(2 + rnd.nextInt(2)) + "*"
        case 1 => s"$t~${rnd.nextInt(4)}"
        case 2 => s"$t^${1 + rnd.nextInt(3)}"
        case 3 => "-" + t
        case _ => t
      }
    }
    def atom(): String = rnd.nextInt(6) match {
      case 0 =>
        val body = Seq.fill(1 + rnd.nextInt(3))(
          if (rnd.nextInt(4) == 0) randomFieldAtom(rnd) else word())
        (if (rnd.nextInt(4) == 0) "-" else "") + body.mkString("\"", " ", "\"") +
          (if (rnd.nextBoolean()) s"~${rnd.nextInt(3)}" else "") +
          (if (rnd.nextInt(4) == 0) "^2" else "")
      case 1 if fields => randomFieldAtom(rnd)
      case _ => word()
    }
    Seq.fill(1 + rnd.nextInt(2))(Seq.fill(1 + rnd.nextInt(4))(atom())
      .mkString(" ")).mkString(", ")
  }

  /** `body`'s result, asserting that the listener bus logged no ERROR
    * while it ran: no session-wide listener (a build's Observation left
    * one behind) re-raises a failed query. */
  private def noListenerError[T](body: => T): T = {
    val (out, logged) = SparkSessionFixture.errors(
        "org.apache.spark.sql.util.ExecutionListenerBus") {
      val r = body
      Thread.sleep(500) // listener events are posted asynchronously
      r
    }
    assert(logged.isEmpty, s"listener bus logged an error: $logged")
    out
  }

  test("property: random queries parse, reject and answer alike on every path") {
    import scala.util.{Failure, Try}
    val rnd = new Random(1009)
    val terms = topTerms(8)
    val distEngine = new QueryEngine(spark, indexRoot, driverPathMaxPostings = 0L)
    /** Same answer on every path, or an IllegalArgumentException on each. */
    def agree[T](q: String, paths: Seq[(String, () => T)]): Option[T] = {
      val got = paths.map { case (name, run) => name -> Try(run()) }
      got.collect { case (name, Failure(e)) =>
        assert(e.isInstanceOf[IllegalArgumentException],
          s"'$q' on $name failed with $e")
      }
      assert(got.forall(_._2.isFailure) || got.forall(_._2.isSuccess),
        s"'$q' rejected on some paths only: $got")
      got.head._2.toOption.map { first =>
        got.foreach { case (name, r) => assert(r.get === first, s"'$q' on $name") }
        first
      }
    }
    var answered = 0
    (1 to 60).foreach { round =>
      val q = randomQuery(rnd, terms, fields = round % 3 != 0)
      Try(QueryParser.parseGroups(q)).foreach(_.foreach { g =>
        assert((g.phrases.flatten ++ g.nearSpans.flatMap(_._1)).toSet
          .subsetOf(g.terms.toSet), s"'$q': span tokens must be terms: $g")
      })
      val k = 10
      agree(q, Seq(
        "driver" -> (() => engine.booleanTopK(q, k)),
        "distributed" -> (() => distEngine.booleanTopK(q, k)),
        "oracle" -> (() => oracle.booleanTopK(q, k, metaOf))))
        .foreach(_ => answered += 1)
      // the scored surface: the engine's two paths, then the oracle
      agree(q, Seq(
        "driver" -> (() => engine.run(SearchRequest.queryString(q, k))),
        "distributed" -> (() => distEngine.run(SearchRequest.queryString(q, k)))))
        .foreach { hits =>
          val (residual, fs) = QueryParser.splitFieldFilters(q)
          assert(hits === oracle.topKFiltered(residual, k,
            id => fs.forall(f => f.matches(metaOf(id, f.field)))), s"scored '$q'")
        }
    }
    assert(answered > 20, s"only $answered of 60 queries were answerable")
  }

  test("property: row-level match() agrees with the index on field-free queries") {
    import spark.implicits._
    graft.GraftSql.ensureMatchSupport(spark)
    val rnd = new Random(1013)
    val terms = topTerms(8)
    // a derived relation: match() evaluates row by row on the text
    val byId = corpusDocs.map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    engine.docmeta.select("docId", "repo", "path", "commit")
      .as[(Long, String, String, String)].collect()
      .map { case (id, r, p, c) => (id, byId((r, p, c))) }.toSeq
      .toDF("doc_id", "text").createOrReplaceTempView("prop_roweval_docs")
    var compared = 0
    // the rejected queries fail their Spark query: nothing re-raises them
    noListenerError((1 to 25).foreach { _ =>
      val q = randomQuery(rnd, terms, fields = false)
      def rowLevel = spark.sql("SELECT doc_id FROM prop_roweval_docs " +
        s"WHERE match(text, '$q')").collect().map(_.getLong(0)).toSet
      scala.util.Try(oracle.booleanTopK(q, nDocs.toInt * 2).map(_.docId).toSet) match {
        case scala.util.Success(exp) =>
          assert(rowLevel === exp, s"row-level '$q'")
          compared += 1
        case scala.util.Failure(e) =>
          assert(e.isInstanceOf[IllegalArgumentException], s"'$q': $e")
          intercept[Exception](rowLevel)
      }
    })
    assert(compared > 10)
  }

  test("match_topk operator path honors field syntax (scored + filter arg)") {
    engine // force build
    val viaOp = graft.GraftSql.search(spark, indexRoot,
      "posting reader lang:scala", 8)
      .select("docId", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = engine.run(SearchRequest.queryString("posting reader lang:scala", 8))
      .map(s => (s.docId, s.score))
    assert(viaOp === direct)
    // field atom ANDs with an explicit TVF filter argument (the TVF
    // needs the extension-built session — the static-conf workaround
    // MatchTopKSpec documents)
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val both = s2.sql(
        s"""SELECT docId, score FROM match_topk('$indexRoot',
           |'posting reader lang:scala', 8, false, 'docLen >= 20')""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expect = new QueryEngine(s2, indexRoot)
        .run(SearchRequest("posting reader", 8,
          gate = Some(expr("lang = 'scala' AND docLen >= 20"))))
        .map(s => (s.docId, s.score))
      assert(both.toSet === expect.toSet)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(old)
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
    }
  }

  test("row-level match() rejects field atoms loudly") {
    import spark.implicits._
    graft.GraftSql.ensureMatchSupport(spark)
    // a derived (non-parquet-backed) relation: the rewrite cannot fire,
    // so evaluation falls to the row-level predicate — which must refuse
    // the field gate rather than silently dropping it
    Seq((1L, "spark merge", "en")).toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("field_roweval_docs")
    engine // the build ran in this session
    val err = noListenerError(intercept[Exception] {
      spark.sql(
        "SELECT doc_id FROM field_roweval_docs WHERE match(text, 'spark lang:en')")
        .collect()
    })
    assert(err.getMessage.contains("field-scoped") ||
      Option(err.getCause).exists(_.getMessage.contains("field-scoped")))
  }

  test("a gate naming a missing column rejects with no listener ERROR") {
    engine.topK("def", 1) // the build ran in this session
    val (err, logged) = SparkSessionFixture.errors(
        "org.apache.spark.sql.util.ExecutionListenerBus") {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        engine.run(SearchRequest("def", 5, gate = Some(expr("no_such_column = 1"))))
      }
      Thread.sleep(500) // listener events are posted asynchronously
      e
    }
    assert(err.getMessage.contains("no_such_column"), err.getMessage)
    assert(logged.isEmpty, s"listener bus logged an error: $logged")
  }

  // ---- format-gate sniff (ADVICE r6 medium) -------------------------------

  test("unstamped manifest over a v4 layout opens via the schema sniff") {
    val root = s"$work/sniff-ok"
    val ds = CorpusGen.dataset(spark, 80L, 7L, 4)
    IndexBuilder.build(spark, ds, root, numShards = 2)
    val tbl = new IcebergLite(root)
    val m = tbl.currentManifest().get
    assert(m.format.contains(IndexBuilder.FormatVersion))
    tbl.commit(m.copy(version = m.version + 1, format = None)) // de-stamp
    val eng = new QueryEngine(spark, root) // must open, not reject
    assert(eng.topK("def", 3).nonEmpty || eng.topK("val", 3).nonEmpty)
    // and the next writer commit re-stamps
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 40L, 11L, 4),
      root, numShards = 2, batch = 1)
    assert(new IcebergLite(root).currentManifest().get.format
      .contains(IndexBuilder.FormatVersion))
  }

  test("unstamped root: every postings file is checked for the v4 columns") {
    val root = s"$work/sniff-multi"
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 60L, 13L, 4), root, numShards = 2)
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 30L, 17L, 4), root,
      numShards = 2, batch = 1)
    val tbl = new IcebergLite(root)
    val m = tbl.currentManifest().get
    val seg = m.segments.last.name
    val pst = s"$root/$seg/postings"
    assert(new java.io.File(pst).list().count(_.endsWith(".parquet")) > 1)
    // one more file in the last segment's postings, without posBlocks
    spark.read.parquet(pst).drop("posBlocks").limit(1).coalesce(1)
      .write.parquet(s"$work/sniff-multi-nopos")
    val extra = new java.io.File(s"$work/sniff-multi-nopos").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(extra.toPath, Paths.get(pst, "part-99999-nopos.snappy.parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(!PostingReader.everyFileHas(pst, "posBlocks", conf))
    assert(PostingReader.everyFileHas(s"$root/${m.segments.head.name}/postings",
      "posBlocks", conf))
    tbl.commit(m.copy(version = m.version + 1, format = None))
    val e = intercept[IllegalStateException] { new QueryEngine(spark, root) }
    assert(e.getMessage.contains("rebuild"))
  }

  test("unstamped manifest whose parquet lacks the v4 columns still rejects") {
    val root = s"$work/sniff-bad"
    val ds = CorpusGen.dataset(spark, 60L, 9L, 4)
    IndexBuilder.build(spark, ds, root, numShards = 2)
    val tbl = new IcebergLite(root)
    val m = tbl.currentManifest().get
    val seg = m.segments.head.name
    // simulate a pre-v4 segment: rewrite postings without posBlocks
    val p = spark.read.parquet(s"$root/$seg/postings").drop("posBlocks")
    p.write.mode("overwrite").parquet(s"$root/$seg/postings_nopos")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/$seg/postings"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$root/$seg/postings_nopos"),
      new java.io.File(s"$root/$seg/postings"))
    tbl.commit(m.copy(version = m.version + 1, format = None))
    val e = intercept[IllegalStateException] { new QueryEngine(spark, root) }
    assert(e.getMessage.contains("rebuild"))
  }
}
