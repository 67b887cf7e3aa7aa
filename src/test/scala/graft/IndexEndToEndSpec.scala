package graft

import graft.analyze.CodeAnalyzer
import graft.corpus.CorpusGen
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The parity gate (BASELINE.md): the Spark engine must reproduce the
  * in-memory oracle's top-k docIDs AND scores rank-identically on the
  * reference query set, keep sha256(content) equality per row, resume
  * from per-shard checkpoints, and merge segments without changing
  * query results. */
class IndexEndToEndSpec extends AnyFunSuite with SparkSessionFixture {

  private val nDocs = 600L
  private val numShards = 8
  private lazy val work = Files.createTempDirectory(
    Paths.get("/root/repo/target"), "idx-e2e").toString

  /** Reference query set (frozen; also exercised by Bench). */
  private val refQueries = ReferenceQueries.all

  private lazy val corpusDocs = (0L until nDocs).map(i => CorpusGen.doc(42L, i))

  private lazy val indexRoot = s"$work/index"

  private lazy val built: BuildReport = {
    val ds = CorpusGen.dataset(spark, nDocs, 42L, 6)
    IndexBuilder.build(spark, ds, indexRoot, numShards)
  }

  private lazy val engine = { built; new QueryEngine(spark, indexRoot) }

  /** Oracle with engine-assigned docIds, read back from docmeta. */
  private lazy val parityOracle: NaiveIndex = {
    val meta = engine.docmeta
      .select("docId", "repo", "path", "commit").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getString(3))))
    val byKey = corpusDocs.map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    new NaiveIndex(meta.toSeq.map { case (id, k) => (id, byKey(k)) })
  }

  test("build commits a manifest with sane metrics") {
    val m = built.manifest
    assert(m.numDocs === nDocs)
    assert(m.segments.nonEmpty)
    val seg = m.segments.head
    assert(seg.metrics.docs === nDocs)
    assert(seg.metrics.terms > 0 && seg.metrics.postings > 0 && seg.metrics.bytes > 0)
    assert(seg.shards === (0 until numShards))
    assert(seg.lineage.contains("inputShards"))
  }

  test("sha256 row invariant: every indexed doc matches the source content") {
    import spark.implicits._
    val src = CorpusGen.dataset(spark, nDocs, 42L, 6)
      .map(d => (d.repo, d.path, d.commit, IndexBuilder.sha256Hex(d.content)))
      .toDF("repo", "path", "commit", "sha_src")
    val idx = engine.docmeta.select("repo", "path", "commit", "sha256")
    val joined = src.join(idx, Seq("repo", "path", "commit"))
    assert(joined.count() === nDocs)
    assert(joined.where(col("sha_src") =!= col("sha256")).count() === 0L)
  }

  test("docIds are unique and shard-consistent") {
    val ids = engine.docmeta.select("docId", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(ids.map(_._1).distinct.length === ids.length)
    ids.foreach { case (id, sh) => assert(IndexBuilder.shardOf(id) === sh) }
  }

  test("PARITY: engine top-10 == oracle top-10 (docIds AND scores) on the reference query set") {
    refQueries.foreach { q =>
      val expected = parityOracle.topK(q, 10)
      val got = engine.topK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score for doc ${g.docId}")
      }
    }
  }

  test("PARITY: boolean OR-of-AND queries match the oracle") {
    ReferenceQueries.boolQueries.foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score doc ${g.docId}")
      }
    }
  }

  test("PHRASE PARITY: quoted-span queries match the exhaustive oracle") {
    // the frozen phrase set + phrases sampled from real documents (so
    // hits exist), + a guaranteed miss
    val sampled = corpusDocs.take(12).flatMap { d =>
      val toks = CodeAnalyzer.analyze(d.content)
      if (toks.length >= 6) Some("\"" + toks.slice(3, 5).mkString(" ") + "\"")
      else None
    }.distinct.take(4)
    // operator characters inside quotes are literal text: the span's
    // tokens are terms plus the phrase, never a prefix, fuzzy or gate
    val quotedOps = Seq("\"merg* join\"", "\"posting read*\" def",
      "\"raeder~2 posting\"", "\"lang:en posting\" reader",
      "\"id:[1 TO 5]\" posting", "\"posting reader\"^2 def") ++
      sampled.take(2).flatMap(s => // hits: `"t1* t2"`, `"t1 t2~1"`
        Seq(s.replaceFirst(" ", "* "), s.init + "~1\""))
    val queries = ReferenceQueries.phraseQueries ++ sampled ++ quotedOps ++
      Seq("\"zzznope qqqnope\" def", "\"posting reader\" zzznope")
    val distEngine = new QueryEngine(spark, indexRoot, driverPathMaxPostings = 0L)
    queries.foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score doc ${g.docId}")
      }
      assert(distEngine.booleanTopK(q, 10) === got, s"distributed '$q'")
    }
    assert(quotedOps.exists(q => engine.booleanTopK(q, 10).nonEmpty))
    // a phrase is strictly tighter than its bare AND terms
    val loose = engine.booleanTopK("posting reader", 1000).map(_.docId).toSet
    val tight = engine.booleanTopK("\"posting reader\"", 1000).map(_.docId).toSet
    assert(tight.subsetOf(loose) && tight.nonEmpty)
    // matchingDocIds honors phrases too (full-set path)
    import spark.implicits._
    val setTight = engine.matchingDocIds("\"posting reader\"")
      .as[Long].collect().toSet
    assert(setTight === tight)
  }

  test("PREFIX PARITY: wildcard queries match the oracle (scored + boolean paths)") {
    // the engine expands via the global dict, the oracle via its postings
    // keys — same ranking rule (df desc, term asc), so expansions must be
    // IDENTICAL, and with them the top-k docIds and scores
    ReferenceQueries.prefixQueries.foreach { q =>
      val expected = parityOracle.topK(q, 10)
      val got = engine.topK(q, 10)
      assert(expected.nonEmpty, s"prefix query '$q' should hit on this corpus")
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score doc ${g.docId}")
      }
    }
    (ReferenceQueries.boolPrefixQueries ++ Seq(
      "merge*",                       // prefix-only group (constant score)
      "zzznope* reader",              // dead prefix kills its group
      "post* zzznope, var*"           // dead term kills group 1, group 2 lives
    )).foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"bool query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"bool query '$q' score doc ${g.docId}")
      }
    }
    // expansion selection is frozen and shared: dict == oracle vocabulary
    assert(engine.expandPrefix("merge")._1 === parityOracle.expandPrefix("merge"))
    val (selS, totalS) = engine.expandPrefix("s", cap = 3)
    assert(selS.length == 3 && totalS > 3, s"'s*' should exceed a cap of 3")
    assert(selS === parityOracle.expandPrefix("s", cap = 3))
    // matchingDocIds honors prefixes (filter-context, uncapped)
    import spark.implicits._
    val viaSet = engine.matchingDocIds("var*").as[Long].collect().toSet
    val viaBool = engine.booleanTopK("var*", 100000).map(_.docId).toSet
    assert(viaSet === viaBool && viaSet.nonEmpty)
  }

  test("FUZZY PARITY: edit-distance queries match the oracle (scored + boolean)") {
    // the engine expands via the global dict (banded levenshtein scan),
    // the oracle via its postings keys — same distance function, same
    // ranking rule, so expansions and with them docIds/scores must match
    ReferenceQueries.fuzzyQueries.foreach { q =>
      val expected = parityOracle.topK(q, 10)
      val got = engine.topK(q, 10)
      assert(expected.nonEmpty, s"fuzzy query '$q' should hit on this corpus")
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score doc ${g.docId}")
      }
    }
    (ReferenceQueries.boolFuzzyQueries ++ Seq(
      "raeder~2",                 // fuzzy-only group (constant score)
      "zzznope~1 reader",         // dead fuzzy kills its group
      "posting zzznope~2, tokn~1" // dead group 1, fuzzy group 2 lives
    )).foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"bool '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"bool '$q' score doc ${g.docId}")
      }
    }
    // expansion selection is frozen and shared: dict == oracle vocabulary
    assert(engine.expandFuzzy("raeder", 2)._1 ===
      parityOracle.expandFuzzy("raeder", 2))
    assert(engine.expandFuzzy("postin", 1)._1 ===
      parityOracle.expandFuzzy("postin", 1))
    // ~0 is the exact term (post-lowercase), nothing else
    assert(engine.expandFuzzy("reader", 0)._1 === Seq("reader"))
    // matchingDocIds honors fuzzies (filter-context, uncapped)
    import spark.implicits._
    val viaSet = engine.matchingDocIds("tokn~1").as[Long].collect().toSet
    val viaBool = engine.booleanTopK("tokn~1", 100000).map(_.docId).toSet
    assert(viaSet === viaBool && viaSet.nonEmpty)
  }

  test("FILTERED PARITY: metadata-filtered scored search matches the oracle") {
    import spark.implicits._
    val langById = engine.docmeta.select("docId", "lang")
      .as[(Long, String)].collect().toMap
    val scalaIds = langById.filter(_._2 == "scala").keySet
    assert(scalaIds.nonEmpty && scalaIds.size < langById.size,
      "filter must be a strict non-empty subset for this test to bite")
    val isScala = expr("lang = 'scala'")
    (refQueries.take(6) ++ ReferenceQueries.prefixQueries.take(1) ++
      ReferenceQueries.fuzzyQueries.take(1)).foreach { q =>
      val expected = parityOracle.topKFiltered(q, 10, scalaIds.contains)
      val got = engine.run(SearchRequest(q, 10, gate = Some(isScala)))
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"'$q' score doc ${g.docId}") }
      // the ES contract: the filter GATES, statistics stay global — a
      // filtered hit's score is bit-identical to its unfiltered score
      val unfiltered = engine.topK(q, 100000).map(s => s.docId -> s.score).toMap
      got.foreach { sd =>
        assert(unfiltered(sd.docId) === sd.score, s"'$q' stats leaked")
        assert(scalaIds.contains(sd.docId), s"'$q' filter violated")
      }
    }
    // edge filters: empty set, everything, and the distributed path
    def gated(k: Int, pred: org.apache.spark.sql.Column) =
      SearchRequest("posting reader", k, gate = Some(pred))
    assert(engine.run(gated(10, expr("lang = 'zzz'"))) === Nil)
    assert(engine.run(gated(10, expr("docId >= 0"))) ===
      engine.topK("posting reader", 10))
    val engDist = new QueryEngine(spark, indexRoot, driverPathMaxPostings = 1)
    assert(engDist.run(gated(10, isScala)) === engine.run(gated(10, isScala)))
    // a gated search(req) attaches the right metadata
    val sf = engine.search(gated(5, isScala))
      .select("lang").as[String].collect()
    assert(sf.nonEmpty && sf.forall(_ == "scala"))
  }

  test("BOOST PARITY: term^n queries match the oracle bit-exactly") {
    Seq("posting^2 reader", "def^0.5 return^4",
      "post*^2 checkpoint", "raeder~2^3 posting",
      "computeHashValue^2.5").foreach { q =>
      val expected = parityOracle.topK(q, 10)
      val got = engine.topK(q, 10)
      assert(expected.nonEmpty, s"boost query '$q' should hit")
      assert(got.map(_.docId) === expected.map(_.docId), s"'$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"'$q' score doc ${g.docId}") }
    }
    // boost actually matters: scores scale, and SOME boost magnitude
    // reorders the top-10 (tf profiles differ across docs)
    val plain = engine.topK("def return", 10)
    val b4 = engine.topK("def return^4", 10)
    assert(b4.head.score !== plain.head.score, "boost must change scores")
    val reordered = Seq(4, 16, 256).exists(b =>
      engine.topK(s"def return^$b", 10).map(_.docId) !== plain.map(_.docId))
    assert(reordered, "no boost magnitude changed the ranking")
    // ^1 is exactly unboosted (the *1.0 identity)
    assert(engine.topK("def^1 return", 10) === engine.topK("def return", 10))
  }

  test("SEARCH_AFTER PARITY: page chain == one deep query; O(k) per page") {
    val q = "posting reader segment"
    val deep = engine.topK(q, 30)
    assert(deep.size === 30)
    val p1 = engine.topK(q, 10)
    def after(p: Seq[ScoredDoc]) =
      engine.run(SearchRequest(q, 10, after = Some((p.last.score, p.last.docId))))
    val p2 = after(p1)
    val p3 = after(p2)
    assert(p1 ++ p2 ++ p3 === deep, "three pages must equal one deep query")
    // oracle agrees page-by-page
    val o1 = parityOracle.topK(q, 10)
    val o2 = parityOracle.topKAfter(q, 10, o1.last.score, o1.last.docId)
    assert(p2 === o2)
    // after the very last hit: empty page, cleanly
    val all = engine.topK(q, 100000)
    assert(engine.run(SearchRequest(q, 10,
      after = Some((all.last.score, all.last.docId)))) === Nil)
  }

  test("NEAR/SLOP + MIN_MATCH PARITY: engine matches the oracle") {
    // sloppy spans sampled from real content (tokens 2 apart, so slop
    // 0 misses and slop>=1 hits the source doc) + frozen forms
    val sampled = corpusDocs.take(8).flatMap { d =>
      val toks = CodeAnalyzer.analyze(d.content)
      if (toks.length >= 6)
        Seq("\"" + toks(1) + " " + toks(3) + "\"~1",
          "\"" + toks(1) + " " + toks(3) + "\"~3 " + toks(0),
          "reader -\"" + toks(1) + " " + toks(3) + "\"~2")
      else Nil
    }.distinct.take(9)
    (sampled ++ Seq(
      "\"posting reader\"~0",       // slop 0 == exact phrase
      "\"posting zzznope\"~4 def",  // dead span token kills the group
      "\"posting reader\"~2, \"merge sorted\"~1 runs")).foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"'$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"'$q' score doc ${g.docId}") }
    }
    // slop is monotone: wider windows only add hits
    val h0 = engine.matchingDocIds("\"posting reader\"~0")
    val h2 = engine.matchingDocIds("\"posting reader\"~2")
    val h5 = engine.matchingDocIds("\"posting reader\"~5")
    import spark.implicits._
    val (s0, s2, s5) = (h0.as[Long].collect().toSet,
      h2.as[Long].collect().toSet, h5.as[Long].collect().toSet)
    assert(s0.subsetOf(s2) && s2.subsetOf(s5), "slop monotonicity")
    assert(s0 === engine.matchingDocIds("\"posting reader\"")
      .as[Long].collect().toSet, "slop 0 == exact")
    // minimum_should_match parity + boundary semantics
    val q3 = "posting reader segment"
    (1 to 4).foreach { m =>
      val got = engine.run(SearchRequest(q3, 10, minMatch = m))
      val exp = parityOracle.topKMin(q3, 10, m)
      assert(got === exp, s"minMatch=$m")
    }
    assert(engine.run(SearchRequest(q3, 10, minMatch = 1)) ===
      engine.topK(q3, 10), "m=1 == plain")
    assert(engine.run(SearchRequest(q3, 10, minMatch = 4)) === Nil, "m > clauses == empty")
    // m counts CLAUSES: an unknown term is a clause that never matches
    assert(engine.run(SearchRequest("posting zzznope", 10, minMatch = 2)) === Nil)
  }

  test("NEGATION PARITY: must_not queries match the oracle; pure-negative loud") {
    // frozen set + sampled negations built from real doc content (so the
    // prohibitions actually exclude hits), + dead-negation no-ops
    val sampled = corpusDocs.take(8).flatMap { d =>
      val toks = CodeAnalyzer.analyze(d.content)
      if (toks.length >= 6)
        Seq(s"posting -${toks(2)}",
          "reader -\"" + toks.slice(3, 5).mkString(" ") + "\"")
      else Nil
    }.distinct.take(6)
    val queries = ReferenceQueries.negQueries ++ sampled ++ Seq(
      "posting -zzznope",        // dead neg term: a no-op, NOT a dead group
      "posting -zzznope*",       // dead neg prefix: same
      "reader -\"zzznope qqqnope\"", // dead neg phrase: same
      "merge -merge")            // self-prohibition: matches nothing
    queries.foreach { q =>
      val expected = parityOracle.booleanTopK(q, 10)
      val got = engine.booleanTopK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q' docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"query '$q' score doc ${g.docId}")
      }
    }
    // a negation is strictly tighter than its positive anchor, and the
    // excluded docs are EXACTLY the anchor hits containing the banned term
    val loose = engine.booleanTopK("posting", 100000).map(_.docId).toSet
    val tight = engine.booleanTopK("posting -reader", 100000).map(_.docId).toSet
    val banned = engine.booleanTopK("posting reader", 100000).map(_.docId).toSet
    assert(tight === loose -- banned, "exclusion must be the exact complement")
    assert(tight.nonEmpty && banned.nonEmpty)
    // matchingDocIds honors prohibitions (full-set filter path)
    import spark.implicits._
    val viaSet = engine.matchingDocIds("posting -reader").as[Long].collect().toSet
    assert(viaSet === tight)
    // a group with only prohibitions is rejected loudly (Lucene matches
    // nothing on must_not-only; at scale the complement is a full walk)
    val e1 = intercept[IllegalArgumentException] {
      engine.booleanTopK("-posting", 10) }
    assert(e1.getMessage.contains("pure-negative"))
    val e2 = intercept[IllegalArgumentException] {
      engine.matchingDocIds("reader, -\"posting list\"") }
    assert(e2.getMessage.contains("pure-negative"))
  }

  test("PHRASE: queries on a positions-less index fail loudly; plain queries fine") {
    val rootNp = s"$work/index-nopos"
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 120, 42L, 4), rootNp,
      4, positions = false)
    val eng = new QueryEngine(spark, rootNp)
    assert(!eng.hasPositions)
    assert(eng.booleanTopK("posting reader", 5).nonEmpty) // scoring unaffected
    val e = intercept[IllegalArgumentException] {
      eng.booleanTopK("\"posting reader\"", 5)
    }
    assert(e.getMessage.contains("positional postings"))
    // highlight needs positions too
    val eh = intercept[IllegalArgumentException] {
      eng.highlight("posting reader", eng.docmeta.select("docId")
        .head().getLong(0))
    }
    assert(eh.getMessage.contains("positional postings"))
  }

  test("HIGHLIGHT: per-term positions == exhaustive re-analysis (incl. wildcards)") {
    val contentById: Map[Long, String] = {
      val byKey = corpusDocs.map(d => (d.repo, d.path, d.commit) -> d.content).toMap
      engine.docmeta.select("docId", "repo", "path", "commit").collect()
        .map(r => r.getLong(0) ->
          byKey((r.getString(1), r.getString(2), r.getString(3)))).toMap
    }
    val queries = Seq("posting reader segment", "computeHashValue def",
      "post* merge", "zzznope")
    var checked = 0
    contentById.keys.toSeq.sorted.take(25).foreach { id =>
      val content = contentById(id)
      val (posMap, _) = CodeAnalyzer.termPositions(content)
      queries.foreach { q =>
        val got = engine.highlight(q, id)
        // expected terms: resolved query terms present in the doc, in
        // resolution order; positions = the analyzer's emission indices
        val resolved = QueryParser.resolveScoredW(
          QueryParser.parseScored(q), p => engine.expandPrefix(p)._1).map(_._1)
        val exp = resolved.flatMap(t =>
          posMap.get(t).map(ps => (t, ps.toSeq)))
        assert(got.map(h => (h.term, h.positions)) === exp,
          s"doc $id query '$q'")
        checked += 1
      }
    }
    assert(checked == 100)
    // tf consistency: positions count == explainScore's tf per term
    val q = "posting reader"
    val docWith = engine.booleanTopK(q, 1).head.docId
    val hl = engine.highlight(q, docWith).map(h => h.term -> h.positions.length).toMap
    engine.explainScore(q, docWith).foreach { e =>
      assert(hl(e.term) == e.tf, s"term ${e.term}")
    }
  }

  test("explainScore: per-term breakdown sums bit-exactly to the engine score") {
    val q = graft.index.ReferenceQueries.all.head
    val hits = engine.topK(q, 5)
    assert(hits.nonEmpty)
    hits.foreach { h =>
      val ex = engine.explainScore(q, h.docId)
      assert(ex.nonEmpty, s"doc ${h.docId} scored but has no breakdown")
      // summed in query-term order — the engine's frozen float order —
      // the total reproduces the score EXACTLY, not approximately
      val sum = ex.foldLeft(0.0)((a, e) => a + e.contribution)
      assert(sum == h.score, s"doc ${h.docId}: $sum != ${h.score}\n$ex")
      ex.foreach { e =>
        assert(e.contribution == engine.bm25.score(e.idf, e.tf, e.dl))
        assert(e.idf == engine.bm25.idf(e.df))
        assert(e.tf > 0 && e.dl > 0)
      }
    }
    // a doc that matches none of the terms, and a term-less query: empty
    assert(engine.explainScore(q, Long.MaxValue).isEmpty)
    assert(engine.explainScore("zzznope qqqnope", hits.head.docId).isEmpty)
    // boosts and prefix/fuzzy expansions resolve as topK resolves them:
    // the breakdown lists the expanded terms and each contribution uses
    // the boosted idf the scoring cursor uses, so the sum still matches
    Seq("posting^2 reader", "post* merge", "raeder~2 posting").foreach { bq =>
      val bHits = engine.topK(bq, 5)
      assert(bHits.nonEmpty, s"query '$bq'")
      bHits.foreach { h =>
        val ex = engine.explainScore(bq, h.docId)
        val sum = ex.foldLeft(0.0)((a, e) => a + e.contribution)
        assert(sum == h.score, s"'$bq' doc ${h.docId}: $sum != ${h.score}\n$ex")
        ex.foreach { e =>
          assert(e.idf == engine.bm25.idf(e.df))
          val boost = if (bq.startsWith(e.term + "^2")) 2.0 else 1.0
          assert(e.contribution == engine.bm25.score(e.idf * boost, e.tf, e.dl),
            s"'$bq' term ${e.term}")
        }
      }
    }
  }

  test("distributed scorer path agrees with the driver fast path") {
    built // force the suite's index when this test runs filtered/alone
    val eng2 = new QueryEngine(spark, indexRoot, driverPathMaxPostings = 0L)
    refQueries.take(6).foreach { q =>
      assert(eng2.topK(q, 10) === engine.topK(q, 10), s"query '$q'")
    }
    // explainScore is gated the same way: the distributed per-(shard,
    // term) point lookup must reproduce the driver-path breakdown exactly
    val q = refQueries.head
    engine.topK(q, 3).foreach { h =>
      assert(eng2.explainScore(q, h.docId) === engine.explainScore(q, h.docId),
        s"explain breakdown diverged for doc ${h.docId}")
      // highlight shares the point-lookup fork
      assert(eng2.highlight(q, h.docId) === engine.highlight(q, h.docId),
        s"highlight diverged for doc ${h.docId}")
    }
    // every round-6 surface takes the same fork — pin path-equivalence
    // for boost, fuzzy, negation, sloppy spans, min_match, search_after
    Seq("posting^2 raeder~2", "merge -\"sorted runs\" -var*",
      "\"posting reader\"~2 def, tokn~1").foreach { bq =>
      assert(eng2.booleanTopK(bq, 10) === engine.booleanTopK(bq, 10),
        s"bool '$bq'")
    }
    assert(eng2.topK("posting^3 raeder~2 var*", 10) ===
      engine.topK("posting^3 raeder~2 var*", 10))
    assert(eng2.run(SearchRequest("posting reader segment", 10, minMatch = 2)) ===
      engine.run(SearchRequest("posting reader segment", 10, minMatch = 2)))
    val p1 = engine.topK("posting reader", 10)
    val page2 = SearchRequest("posting reader", 10,
      after = Some((p1.last.score, p1.last.docId)))
    assert(eng2.run(page2) === engine.run(page2))
    assert(eng2.matchingDocIds("posting -reader, tokn~1").collect().toSet ===
      engine.matchingDocIds("posting -reader, tokn~1").collect().toSet)
  }

  test("search() attaches correct metadata to hits") {
    val df = engine.search(SearchRequest(refQueries.head, 5))
    val rows = df.collect()
    assert(rows.length === 5)
    assert(df.columns.toSet === Set("docId", "repo", "path", "commit",
      "lang", "sha256", "docLen", "shard", "tableId", "score"))
    // best-first ordering
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.toSeq === scores.sorted(Ordering[Double].reverse).toSeq)
  }

  test("RESUME: a build killed LIVE mid-pass resumes from the committed manifest") {
    val root2 = s"$work/index-resumed"
    val ds = CorpusGen.dataset(spark, nDocs, 42L, 6)
    // pass 1: first 3 shards, committed (manifest = the only checkpoint)
    val r1 = IndexBuilder.build(spark, ds, root2, numShards, maxShardsThisPass = 3)
    assert(r1.builtShards === (0 until 3))
    assert(new IcebergLite(root2).completedShards() === (0 until 3).toSet)

    // pass 2 is killed FOR REAL: a poison marker makes every running task
    // throw, aborting the live Spark job mid-build. Nothing is pre-seeded;
    // the crash must leave the pass-1 manifest as the resume state.
    val markerPath = s"$work/poison-marker"
    Files.createFile(Paths.get(markerPath))
    import spark.implicits._
    val poisoned = ds.map { d =>
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(markerPath)))
        throw new RuntimeException("injected mid-build crash")
      d
    }
    val ex = intercept[Exception] {
      IndexBuilder.build(spark, poisoned, root2, numShards)
    }
    assert(ex.getMessage != null)
    // the aborted pass committed nothing: still exactly shards 0..2 done
    assert(new IcebergLite(root2).completedShards() === (0 until 3).toSet)

    Files.delete(Paths.get(markerPath))
    val r2 = IndexBuilder.buildAll(spark, ds, root2, numShards, shardsPerPass = 3)
    assert(r2.builtShards.sorted === (3 until numShards))
    assert(r2.manifest.numDocs === nDocs)

    // identical query results vs the single-pass index
    val engResumed = new QueryEngine(spark, root2)
    refQueries.foreach { q =>
      assert(engResumed.topK(q, 10) === engine.topK(q, 10), s"query '$q'")
    }
    // and identical docmeta (incl. docIds: shard content determines ids)
    val a = engine.docmeta.orderBy("docId").collect().toSeq
    val b = engResumed.docmeta.orderBy("docId").collect().toSeq
    assert(a === b)
    // a further run is a no-op
    val r3 = IndexBuilder.build(spark, ds, root2, numShards)
    assert(r3.builtShards.isEmpty)
  }

  test("MERGE: merged segments answer identically; dict materialized") {
    val root2 = s"$work/index-resumed" // three segments from the resume test
    val before = new QueryEngine(spark, root2)
    assert(before.manifest.segments.size === 3)
    assert(before.manifest.dict.isEmpty)
    val m = SegmentMerge.merge(spark, root2)
    assert(m.segments.size === 1)
    val after = new QueryEngine(spark, root2)
    assert(after.manifest.numDocs === nDocs)
    // compaction materialized the dictionary; it must equal the derived one
    assert(after.manifest.dict.contains(s"dict-v${m.version}"))
    val derived = after.postings.groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val materialized = after.dict.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(materialized === derived)
    refQueries.foreach { q =>
      assert(after.topK(q, 10) === engine.topK(q, 10), s"query '$q'")
    }
    ReferenceQueries.boolQueries.foreach { q =>
      assert(after.booleanTopK(q, 10) === engine.booleanTopK(q, 10), s"bool '$q'")
    }
    // positions survive the merge re-blocking: phrase results unchanged
    assert(after.hasPositions)
    ReferenceQueries.phraseQueries.foreach { q =>
      assert(after.booleanTopK(q, 10) === engine.booleanTopK(q, 10), s"phrase '$q'")
    }
  }

  test("GC: unreachable segments physically deleted; current reader unaffected") {
    val root2 = s"$work/index-resumed" // compacted by the MERGE test
    val tbl = new IcebergLite(root2)
    val deleted = tbl.gc(keepManifests = 1)
    // the three pre-merge segments and their manifests are gone from disk
    assert(deleted.exists(_.startsWith("seg-0-")))
    (0 until 3).foreach { i =>
      assert(!Files.exists(Paths.get(root2, s"seg-0-$i")), s"seg-0-$i survived gc")
    }
    // the compacted snapshot still answers identically
    val eng = new QueryEngine(spark, root2)
    refQueries.take(4).foreach { q =>
      assert(eng.topK(q, 10) === engine.topK(q, 10), s"query '$q'")
    }
    // gc is idempotent
    assert(tbl.gc(keepManifests = 1).isEmpty)
  }

  test("GC sweeps crash debris and tolerates foreign file names") {
    val root2 = s"$work/index-resumed"
    val tbl = new IcebergLite(root2)
    // crash between the tmp snapshot write and the atomic rename
    Files.writeString(Paths.get(root2, "snapshot.json.tmp-99"), "{}")
    // a foreign file that does NOT parse as a manifest version must be
    // skipped, not abort GC with a NumberFormatException
    Files.writeString(Paths.get(root2, "manifest-v2.json"), "backup")
    val deleted = tbl.gc(keepManifests = 1)
    assert(deleted.contains("snapshot.json.tmp-99"))
    assert(!Files.exists(Paths.get(root2, "snapshot.json.tmp-99")))
    assert(Files.exists(Paths.get(root2, "manifest-v2.json"))) // untouched
    Files.deleteIfExists(Paths.get(root2, "manifest-v2.json"))
    // the table still opens and answers
    assert(new QueryEngine(spark, root2).manifest.segments.nonEmpty)
  }

  test("DROP: index delete API retracts the snapshot then removes data") {
    val root4 = s"$work/index-dropped"
    val ds = CorpusGen.dataset(spark, 100L, 7L, 4)
    IndexBuilder.build(spark, ds, root4, numShards = 4)
    val tbl = new IcebergLite(root4)
    assert(tbl.exists)
    tbl.drop()
    assert(!tbl.exists && !Files.exists(Paths.get(root4)))
    assert(tbl.currentManifest().isEmpty)
    // recreate over the same root works (S11 idempotent create analogue)
    val r = IndexBuilder.build(spark, ds, root4, numShards = 4)
    assert(r.manifest.numDocs === 100L)
    tbl.drop()
  }

  test("docId bit budgets are guarded (batch overflow fails loudly)") {
    IndexBuilder.docIdFor(2047, 0, 0) // max valid batch
    intercept[IllegalArgumentException](IndexBuilder.docIdFor(2048, 0, 0))
    intercept[IllegalArgumentException](IndexBuilder.docIdFor(-1, 0, 0))
    intercept[IllegalArgumentException](IndexBuilder.docIdFor(0, 1 << 20, 0))
    intercept[IllegalArgumentException](IndexBuilder.docIdFor(0, 0, 1L << 32))
    // max-everything docId stays non-negative (sign bit clear)
    assert(IndexBuilder.docIdFor(2047, (1 << 20) - 1, (1L << 32) - 1) > 0L)
  }

  test("search() with zero hits returns an empty, correctly-typed DataFrame") {
    val df = engine.search(SearchRequest("zzzznotaterm qqqqnotaterm", 5))
    assert(df.count() === 0L)
    assert(df.columns.toSet === Set("docId", "repo", "path", "commit",
      "lang", "sha256", "docLen", "shard", "tableId", "score"))
    // downstream projections must not throw on the empty result
    assert(df.select("path", "score").collect().isEmpty)
  }

  test("resume AFTER a mid-bulk compaction: no name collisions, same index") {
    val root7 = s"$work/index-merge-resume"
    val ds = CorpusGen.dataset(spark, nDocs, 42L, 6)
    // pass 1 commits shards 0..2, then someone compacts the partial index
    IndexBuilder.build(spark, ds, root7, numShards, maxShardsThisPass = 3)
    IndexBuilder.build(spark, ds, root7, numShards, maxShardsThisPass = 2)
    val merged = SegmentMerge.merge(spark, root7)
    assert(merged.segments.size === 1)
    assert(IcebergLite.completedShards(merged) === (0 until 5).toSet)
    // resume completes the remaining shards; version-derived segment
    // names must NOT reuse a dir an older manifest references
    val r = IndexBuilder.buildAll(spark, ds, root7, numShards, shardsPerPass = 3)
    assert(r.manifest.numDocs === nDocs)
    val names = r.manifest.segments.map(_.name)
    assert(names.distinct.size === names.size)
    // all dirs from ALL manifests are still distinct on disk (snapshot
    // isolation: the pre-merge seg dirs survive until gc)
    val listing = Files.list(Paths.get(root7))
    val dirNames =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(listing.iterator())
        .asScala.map(_.getFileName.toString).filter(_.startsWith("seg-")).toSeq
      finally listing.close()
    assert(dirNames.distinct.size === dirNames.size)
    assert(dirNames.size >= 4) // 2 bulk passes + merged + resumed passes
    // and the resumed index answers exactly like the clean single-pass one
    val eng7 = new QueryEngine(spark, root7)
    refQueries.take(6).foreach { q =>
      assert(eng7.topK(q, 10) === engine.topK(q, 10), s"query '$q'")
    }
    val a = engine.docmeta.orderBy("docId").collect().toSeq
    val b = eng7.docmeta.orderBy("docId").collect().toSeq
    assert(a === b)
  }

  test("TIERED merge: batch-adjacent ladder to a target segment count") {
    val root6 = s"$work/index-tiered"
    import spark.implicits._
    // bulk + 4 ingest batches of UNEVEN size, with a LARGE batch 2 in the
    // middle: a size-only victim pick would merge the non-adjacent set
    // {1,3,4} around it, interleaving docId ranges — the adjacency
    // constraint must prevent that (and the invariant check below plus
    // the cursor/codec ordering guards would catch a violation loudly)
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 400L, 42L, 4), root6, 4)
    val batchRanges = Seq(1 -> (400L, 450L), 2 -> (450L, 650L),
      3 -> (650L, 700L), 4 -> (700L, 750L))
    batchRanges.foreach { case (b, (lo, hi)) =>
      val ds = spark.range(lo, hi).map(i => CorpusGen.doc(42L, i))
      IndexBuilder.build(spark, ds, root6, 4, batch = b)
    }
    val eng0 = new QueryEngine(spark, root6)
    assert(eng0.manifest.segments.size === 5)
    val before = refQueries.take(5).map(q => eng0.topK(q, 10))

    // fanIn=3 forces TWO ladder passes: 5 -> 3 -> 2
    val m = SegmentMerge.tiered(spark, root6, maxSegments = 2, fanIn = 3)
    assert(m.segments.size === 2)
    assert(m.version === eng0.manifest.version + 2) // two atomic commits
    // partial compaction: no global dict (it would not cover kept segments)
    assert(m.dict.isEmpty)
    // batch lineage is preserved across the ladder (union over all segs)
    assert(m.segments.flatMap(IcebergLite.batchesOf).toSet === Set(0, 1, 2, 3, 4))
    assert(m.numDocs === 750L)
    // CORRECTNESS INVARIANT: no two segments' batch ranges interleave
    val spans = m.segments.map { s =>
      val b = IcebergLite.batchesOf(s); (b.min, b.max)
    }
    spans.combinations(2).foreach { case Seq((lo1, hi1), (lo2, hi2)) =>
      assert(hi1 < lo2 || hi2 < lo1,
        s"interleaved segment batch spans: [$lo1,$hi1] vs [$lo2,$hi2]")
    }

    val eng1 = new QueryEngine(spark, root6)
    refQueries.take(5).zip(before).foreach { case (q, b) =>
      assert(eng1.topK(q, 10) === b, s"query '$q' after tiered merge")
    }
    // re-delivery of an already-compacted batch stays a no-op
    val redeliver = spark.range(400L, 450L).map(i => CorpusGen.doc(42L, i))
    val r = IndexBuilder.build(spark, redeliver, root6, 4, batch = 1, resume = false)
    assert(r.builtShards.isEmpty && r.docs === 0L)
    // full compaction after the ladder materializes the dict
    val full = SegmentMerge.merge(spark, root6)
    assert(full.segments.size === 1 && full.dict.isDefined)
    val eng2 = new QueryEngine(spark, root6)
    refQueries.take(5).zip(before).foreach { case (q, b) =>
      assert(eng2.topK(q, 10) === b, s"query '$q' after full merge")
    }
  }

  test("re-delivered micro-batch is a no-op even AFTER compaction") {
    val root5 = s"$work/index-redelivery"
    val ds0 = CorpusGen.dataset(spark, 200L, 42L, 4)
    import spark.implicits._
    val ds1 = spark.range(200L, 300L).map(i => CorpusGen.doc(42L, i))
    IndexBuilder.build(spark, ds0, root5, numShards = 4, batch = 0)
    IndexBuilder.build(spark, ds1, root5, numShards = 4, batch = 1)
    val merged = SegmentMerge.merge(spark, root5)
    assert(merged.segments.size === 1)
    // the merged segment must carry batch lineage {0, 1}
    assert(IcebergLite.batchesOf(merged.segments.head) === Set(0, 1))
    // foreachBatch retry after restart re-delivers batch 1: MUST no-op
    // (before the lineage propagation fix, this re-indexed 100 docs with
    // duplicate docIds, breaking the disjoint-ascending invariant)
    val r = IndexBuilder.build(spark, ds1, root5, numShards = 4, batch = 1,
      resume = false)
    assert(r.builtShards.isEmpty && r.docs === 0L)
    assert(r.manifest.numDocs === 300L)
    val ids = new QueryEngine(spark, root5).docmeta
      .select("docId").collect().map(_.getLong(0))
    assert(ids.distinct.length === ids.length, "duplicate docIds after re-delivery")
  }

  test("compact-and-rebase resets the batch-id headroom without changing results") {
    val root8 = s"$work/index-rebase"
    import spark.implicits._
    // bulk batch 0, then late-life raw stream ids near the 2048 budget
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 300L, 42L, 4), root8, 4)
    Seq(2045 -> (300L, 340L), 2046 -> (340L, 380L), 2047 -> (380L, 420L))
      .foreach { case (b, (lo, hi)) =>
        val ds = spark.range(lo, hi).map(i => CorpusGen.doc(42L, i))
        IndexBuilder.build(spark, ds, root8, 4, batch = b)
      }
    // the NEXT raw id would overflow the effective docId budget
    intercept[IllegalArgumentException] {
      val ds = spark.range(420L, 430L).map(i => CorpusGen.doc(42L, i))
      IndexBuilder.build(spark, ds, root8, 4, batch = 2048)
    }
    val eng0 = new QueryEngine(spark, root8)
    // path-sorted: the engine's display order tie-breaks equal scores by
    // internal docId, which the renumber intentionally reassigns
    def topSet(e: QueryEngine, q: String) =
      e.search(SearchRequest(q, 10)).select("path", "score", "sha256")
        .collect().toSeq
        .sortBy(_.getString(0))
    val before = refQueries.take(5).map(q => topSet(eng0, q))
    val phraseBefore = ReferenceQueries.phraseQueries.map { q =>
      eng0.booleanTopK(q, 10).map(_.score) }

    val m = SegmentMerge.rebase(spark, root8)
    // DENSE renumber: every doc lands in batch 0 (a contiguous stream's
    // ids leave no gaps a batch-remap could reclaim — the renumber does);
    // base moves to the largest RAW id ever ingested
    assert(m.batchBase === 2047L)
    assert(m.segments.size === 1)
    assert(IcebergLite.batchesOf(m.segments.head) === Set(0))
    assert(IcebergLite.origBatchesOf(m.segments.head) ===
      Set(0L, 2045L, 2046L, 2047L))
    assert(m.segments.head.lineage("origBatches") === "0,2045-2047") // range-encoded
    assert(m.numDocs === 420L)

    // identical query results through the rebased index (path/score/sha —
    // docIds are renumbered by design)
    val eng1 = new QueryEngine(spark, root8)
    refQueries.take(5).zip(before).foreach { case (q, b) =>
      assert(topSet(eng1, q) === b, s"query '$q' changed across rebase")
    }
    // positions survive the docId remap: phrase scores unchanged
    assert(eng1.hasPositions)
    ReferenceQueries.phraseQueries.zip(phraseBefore).foreach { case (q, b) =>
      assert(eng1.booleanTopK(q, 10).map(_.score) === b,
        s"phrase '$q' changed across rebase")
    }
    // docmeta ids were renumbered consistently: still unique, ALL in
    // batch 0, dense 0..n-1 within each shard
    val meta = eng1.docmeta.select("docId").collect().map(_.getLong(0))
    assert(meta.distinct.length === meta.length)
    val shift = IndexBuilder.IdxBits + IndexBuilder.ShardBits
    assert(meta.map(id => (id >>> shift).toInt).toSet === Set(0))
    meta.groupBy(IndexBuilder.shardOf).foreach { case (s, ids) =>
      assert(ids.map(_ & ((1L << IndexBuilder.IdxBits) - 1)).sorted.toSeq ===
        (0L until ids.length).toSeq, s"shard $s not densely renumbered")
    }

    // fresh headroom: raw batch 2048 now ingests as effective 1
    val ds = spark.range(420L, 460L).map(i => CorpusGen.doc(42L, i))
    val rep = IndexBuilder.build(spark, ds, root8, 4, batch = 2048)
    assert(rep.docs === 40L)
    assert(rep.segment.exists(s => IcebergLite.batchesOf(s) === Set(1)))
    assert(new QueryEngine(spark, root8).manifest.numDocs === 460L)

    // re-delivery of a pre-rebase RAW id stays a no-op
    val redeliver = spark.range(340L, 380L).map(i => CorpusGen.doc(42L, i))
    val r2 = IndexBuilder.build(spark, redeliver, root8, 4, batch = 2046,
      resume = false)
    assert(r2.docs === 0L && r2.builtShards.isEmpty)
    // and a never-committed pre-base id is rejected loudly, not recycled
    intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, redeliver, root8, 4, batch = 1000)
    }
  }

  test("incremental ingest (batch > 0) extends the index consistently") {
    val root3 = s"$work/index-incr"
    val ds0 = CorpusGen.dataset(spark, nDocs, 42L, 6)
    IndexBuilder.build(spark, ds0, root3, numShards, batch = 0)
    // new docs (different seed region) arrive as batch 1
    import spark.implicits._
    val ds1 = spark.range(nDocs, nDocs + 200).map(i => CorpusGen.doc(42L, i))
    IndexBuilder.build(spark, ds1, root3, numShards, batch = 1)
    val eng3 = new QueryEngine(spark, root3)
    assert(eng3.manifest.numDocs === nDocs + 200)
    // oracle over both batches with engine ids
    val meta = eng3.docmeta.select("docId", "repo", "path", "commit").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getString(3))))
    val byKey = (0L until nDocs + 200).map(i => CorpusGen.doc(42L, i))
      .map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    val orc = new NaiveIndex(meta.toSeq.map { case (id, k) => (id, byKey(k)) })
    refQueries.take(6).foreach { q =>
      val expected = orc.topK(q, 10)
      val got = eng3.topK(q, 10)
      assert(got.map(_.docId) === expected.map(_.docId), s"query '$q'")
      got.zip(expected).foreach { case (g, e) => assert(g.score === e.score) }
    }
  }
}
