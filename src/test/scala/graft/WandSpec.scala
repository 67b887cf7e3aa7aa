package graft

import graft.index._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** FIXTURES.md §5 WAND property: for random corpora and queries, WAND
  * top-k == exhaustive BM25 top-k — same docIDs, same scores, same order,
  * ties broken by docId asc. Also covers the conjunctive (AND-group)
  * iterator vs a naive intersection. */
class WandSpec extends AnyFunSuite {

  private val vocab = Array("alpha", "beta", "gamma", "delta", "merge",
    "sort", "index", "query", "block", "skip", "term", "shard", "hash",
    "scan", "read", "write", "codec", "heap")

  private def randomCorpus(rnd: Random, nDocs: Int): Seq[(Long, String)] =
    (0 until nDocs).map { i =>
      val len = 1 + rnd.nextInt(60)
      val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.length)))
      // shard-prefixed sparse ids like the real engine produces
      val docId = ((i % 4).toLong << 40) | (i / 4).toLong
      (docId, words.mkString(" "))
    }

  /** Build cursors straight from the codec (single sub-list per term).
    * When `corpus` is given, real position streams ride along (tiny
    * 8-posting blocks exercise the per-block position decode too). */
  private def cursorsFor(oracle: NaiveIndex, terms: Seq[String],
                         corpus: Seq[(Long, String)] = Nil,
                         weights: Map[String, Double] = Map.empty)
      : Map[String, PostingCursor] = {
    val posByDoc: Map[Long, Map[String, Array[Int]]] =
      corpus.map { case (id, c) =>
        id -> graft.analyze.CodeAnalyzer.termPositions(c)._1
      }.toMap
    terms.flatMap { t =>
      oracle.postings.get(t).map { pl =>
        val docs = pl.map(_._1)
        val tfs = pl.map(_._2)
        val dls = pl.map(p => oracle.docLen(p._1))
        val enc = Codec.encode(docs, tfs, dls, blockSize = 8) // tiny blocks: exercise skips
        val skips = enc.skips.toSeq
        val posBlocks: Seq[Array[Byte]] =
          if (corpus.isEmpty) Nil
          else docs.grouped(8)
            .map(g => Codec.encodePositions(g.map(id => posByDoc(id)(t))))
            .toSeq
        t -> new PostingCursor(t,
          oracle.bm25.idf(pl.length.toLong) * weights.getOrElse(t, 1.0),
          Seq((enc.blocks.toSeq, skips, posBlocks)), oracle.bm25)
      }
    }.toMap
  }

  test("WAND == exhaustive on 50 random corpora x queries") {
    val rnd = new Random(7)
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 30 + rnd.nextInt(300))
      val oracle = new NaiveIndex(corpus)
      val nq = 1 + rnd.nextInt(4)
      val qterms = Seq.fill(nq)(vocab(rnd.nextInt(vocab.length))).distinct
      val k = 1 + rnd.nextInt(15)
      val expected = oracle.topK(qterms.mkString(" "), k)
      val got = WandScorer.topK(qterms, cursorsFor(oracle, qterms), k)
      assert(got.map(_.docId) === expected.map(_.docId), s"round $round docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round score for doc ${g.docId}")
      }
    }
  }

  test("conjunctive iterator == naive intersection") {
    val rnd = new Random(13)
    (1 to 30).foreach { round =>
      val corpus = randomCorpus(rnd, 50 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val group = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))).distinct
      val present = group.filter(oracle.postings.contains)
      if (present.length == group.length) {
        val got = WandScorer.conjunctive(group, cursorsFor(oracle, group)).toSeq
        // naive: docs containing every term
        val sets = group.map(t => oracle.postings(t).map(_._1).toSet)
        val common = sets.reduce(_ intersect _).toSeq.sorted
        assert(got.map(_.docId) === common, s"round $round")
        got.foreach { sd =>
          var s = 0.0
          group.foreach { t =>
            val tf = oracle.postings(t).find(_._1 == sd.docId).get._2
            s += oracle.bm25.score(oracle.bm25.idf(oracle.df(t)), tf, oracle.docLen(sd.docId))
          }
          assert(sd.score === s, s"round $round doc ${sd.docId}")
        }
      }
    }
  }

  test("MAXSCORE omission: dense + rare mixes stay exact (small k, full heaps)") {
    val rnd = new Random(41)
    (1 to 80).foreach { round =>
      val n = 100 + rnd.nextInt(400)
      // corpus where 'alpha'/'beta' are stopword-dense (in ~90% of docs)
      // and the rest are selective — the shape where MAXSCORE omits the
      // dense lists while rare terms drive candidates
      val corpus = (0 until n).map { i =>
        val len = 3 + rnd.nextInt(30)
        val words = Seq.fill(len) {
          val r = rnd.nextInt(10)
          if (r < 5) "alpha" else if (r < 9) "beta"
          else vocab(2 + rnd.nextInt(vocab.length - 2))
        }
        val docId = ((i % 4).toLong << 40) | (i / 4).toLong
        (docId, words.mkString(" "))
      }
      val oracle = new NaiveIndex(corpus)
      // query mixes both dense terms with 1-2 selective ones; k small so
      // theta rises fast and the dense lists drop to non-essential
      val rare = Seq.fill(1 + rnd.nextInt(2))(
        vocab(2 + rnd.nextInt(vocab.length - 2))).distinct
      val qterms = (Seq("alpha", "beta") ++ rare).distinct
      val k = 1 + rnd.nextInt(4)
      val expected = oracle.topK(qterms.mkString(" "), k)
      val got = WandScorer.topK(qterms, cursorsFor(oracle, qterms), k)
      assert(got.map(_.docId) === expected.map(_.docId), s"round $round docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round score doc ${g.docId}")
      }
      // all-dense query (nothing omittable) stays exact too
      val gotDense = WandScorer.topK(Seq("alpha", "beta"),
        cursorsFor(oracle, Seq("alpha", "beta")), k)
      val expDense = oracle.topK("alpha beta", k)
      assert(gotDense === expDense, s"round $round all-dense")
    }
  }

  test("PHRASE: positional conjunctive == exhaustive sliding-window check") {
    val rnd = new Random(29)
    var phraseRounds = 0
    (1 to 60).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      // sample a REAL bigram/trigram from some doc so phrases actually hit,
      // or an arbitrary pair (miss case) on alternating rounds
      val phrase: Seq[String] =
        if (round % 3 == 0)
          Seq.fill(2)(vocab(rnd.nextInt(vocab.length)))
        else {
          val toks = graft.analyze.CodeAnalyzer
            .analyze(corpus(rnd.nextInt(corpus.length))._2)
          if (toks.length < 3) Seq("alpha", "beta")
          else {
            val at = rnd.nextInt(toks.length - 2)
            toks.slice(at, at + 2 + rnd.nextInt(2))
          }
        }
      val terms = phrase.distinct
      if (terms.forall(oracle.postings.contains)) {
        phraseRounds += 1
        val got = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus), Seq(phrase))
          .map(_.docId).toSeq
        val exp = corpus.collect {
          case (id, c) if graft.analyze.CodeAnalyzer.analyze(c)
            .sliding(phrase.length).exists(_ == phrase) => id
        }.sorted
        assert(got === exp, s"round $round phrase $phrase")
        // degenerate duplicate-term phrase ("x x"): consecutive repeats only
        val dup = Seq(phrase.head, phrase.head)
        val gotDup = WandScorer.conjunctive(Seq(phrase.head),
          cursorsFor(oracle, Seq(phrase.head), corpus), Seq(dup))
          .map(_.docId).toSeq
        val expDup = corpus.collect {
          case (id, c) if graft.analyze.CodeAnalyzer.analyze(c)
            .sliding(2).exists(_ == dup) => id
        }.sorted
        assert(gotDup === expDup, s"round $round dup-phrase")
      }
    }
    assert(phraseRounds > 30, s"too few effective phrase rounds: $phraseRounds")
  }

  test("phrase on a cursor without positions fails loudly") {
    val corpus = randomCorpus(new Random(5), 50)
    val oracle = new NaiveIndex(corpus)
    val terms = Seq("alpha", "beta").filter(oracle.postings.contains)
    val e = intercept[IllegalArgumentException] {
      WandScorer.conjunctive(terms, cursorsFor(oracle, terms),
        Seq(Seq("alpha", "beta"))).toSeq
    }
    assert(e.getMessage.contains("no positions"))
  }

  test("PREFIX (scored): wildcard expansion WAND == exhaustive on random corpora") {
    val rnd = new Random(61)
    var effective = 0
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(250))
      val oracle = new NaiveIndex(corpus)
      // 's*' expands to several vocab terms (sort/skip/shard/scan...);
      // mix with a plain term on alternating rounds
      val query = if (round % 2 == 0) "s* query" else "s*"
      val k = 1 + rnd.nextInt(10)
      val expected = oracle.topK(query, k)
      // engine-style resolution: atoms -> ranked capped expansion -> WAND
      val terms = QueryParser.resolveScoredW(
        QueryParser.parseScored(query), oracle.expandPrefix(_))
        .map(_._1).filter(oracle.postings.contains)
      if (terms.nonEmpty) effective += 1
      val got = WandScorer.topK(terms, cursorsFor(oracle, terms), k)
      assert(got.map(_.docId) === expected.map(_.docId), s"round $round docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round score doc ${g.docId}")
      }
    }
    assert(effective > 40)
  }

  test("PREFIX expansion ranking + cap are frozen (df desc, term asc)") {
    // hand-built dfs: scan in 3 docs, sort in 2, skip in 2, shard in 1
    val corpus = Seq(
      (0L, "scan sort skip"), (1L, "scan sort skip"),
      (2L, "scan shard"), (3L, "query alpha"))
    val oracle = new NaiveIndex(corpus)
    assert(oracle.expandPrefix("s") === Seq("scan", "skip", "sort", "shard"))
    // cap keeps the highest-df terms; the skip/sort df tie breaks term-asc
    assert(oracle.expandPrefix("s", cap = 2) === Seq("scan", "skip"))
    assert(oracle.expandPrefix("zzz") === Nil)
    // capped scored search == exhaustive over exactly the KEPT terms
    val kept = oracle.expandPrefix("s", cap = 2)
    val got = WandScorer.topK(kept, cursorsFor(oracle, kept), 4)
    val exp = oracle.topK(kept.mkString(" "), 4)
    assert(got === exp)
  }

  test("PREFIX (filter): conjunctive with prefix sets == exhaustive row check") {
    val rnd = new Random(83)
    var effective = 0
    (1 to 40).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val prefix = Seq("s", "b", "qu", "co")(rnd.nextInt(4))
      val exps = oracle.postings.keys.filter(_.startsWith(prefix)).toSeq
      val group = Seq("query").filter(oracle.postings.contains)
      if (group.nonEmpty && exps.nonEmpty) {
        effective += 1
        val preCursors = cursorsFor(oracle, exps).values.toSeq
        val got = WandScorer.conjunctive(group, cursorsFor(oracle, group),
          Nil, Seq(preCursors)).toSeq
        val exp = corpus.collect {
          case (id, c) =>
            val toks = graft.analyze.CodeAnalyzer.analyze(c)
            (id, toks)
        }.filter { case (_, toks) =>
          group.forall(toks.contains) && toks.exists(_.startsWith(prefix))
        }.map(_._1).sorted
        assert(got.map(_.docId) === exp, s"round $round prefix '$prefix'")
        // prefixes filter, never score: sum over concrete terms only
        got.foreach { sd =>
          val tf = oracle.postings("query").find(_._1 == sd.docId).get._2
          val s = oracle.bm25.score(
            oracle.bm25.idf(oracle.df("query")), tf, oracle.docLen(sd.docId))
          assert(sd.score === s, s"round $round doc ${sd.docId}")
        }
        // prefix-ONLY group: drives on the union alone, constant score 0
        val gotOnly = WandScorer.conjunctive(Nil, Map.empty,
          Nil, Seq(cursorsFor(oracle, exps).values.toSeq)).toSeq
        val expOnly = corpus.collect {
          case (id, c) if graft.analyze.CodeAnalyzer.analyze(c)
            .exists(_.startsWith(prefix)) => id
        }.sorted
        assert(gotOnly.map(_.docId) === expOnly, s"round $round prefix-only")
        assert(gotOnly.forall(_.score == 0.0))
      }
    }
    assert(effective > 30)
  }

  test("NEGATION: conjunctive with prohibitions == exhaustive row check") {
    val rnd = new Random(101)
    var effective = 0
    (1 to 60).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val group = Seq(vocab(rnd.nextInt(vocab.length)))
        .filter(oracle.postings.contains)
      // a negated term (sometimes the group term itself: must empty the
      // result), a negated prefix, and a negated REAL bigram
      val negT = Seq(vocab(rnd.nextInt(vocab.length)))
        .filter(oracle.postings.contains)
      val negPrefix = Seq("s", "b", "co", "me")(rnd.nextInt(4))
      val negExp = oracle.postings.keys.filter(_.startsWith(negPrefix)).toSeq
      val toks0 = graft.analyze.CodeAnalyzer
        .analyze(corpus(rnd.nextInt(corpus.length))._2)
      val negPhrase: Seq[String] =
        if (toks0.length >= 3) toks0.slice(1, 3) else Seq("alpha", "beta")
      if (group.nonEmpty && negPhrase.forall(oracle.postings.contains)) {
        effective += 1
        val negCursors =
          cursorsFor(oracle, (negT ++ negExp).distinct).values.toSeq
        val negPh = Seq(negPhrase -> cursorsFor(oracle, negPhrase, corpus))
        val got = WandScorer.conjunctive(group,
          cursorsFor(oracle, group, corpus), Nil, Nil, negCursors, negPh).toSeq
        val exp = corpus.map { case (id, c) =>
          (id, graft.analyze.CodeAnalyzer.analyze(c))
        }.filter { case (_, toks) =>
          group.forall(toks.contains) &&
            !negT.exists(toks.contains) &&
            !toks.exists(_.startsWith(negPrefix)) &&
            !toks.sliding(negPhrase.length).exists(_ == negPhrase)
        }.map(_._1).sorted
        assert(got.map(_.docId) === exp,
          s"round $round group=$group -$negT -$negPrefix* -\"$negPhrase\"")
        // prohibitions never score: the sum is the positive terms' alone
        got.foreach { sd =>
          val tf = oracle.postings(group.head).find(_._1 == sd.docId).get._2
          val s = oracle.bm25.score(
            oracle.bm25.idf(oracle.df(group.head)), tf, oracle.docLen(sd.docId))
          assert(sd.score === s, s"round $round doc ${sd.docId} score")
        }
      }
    }
    assert(effective > 35, s"too few effective negation rounds: $effective")
  }

  test("editDistanceLe == classic DP on random string pairs") {
    val rnd = new Random(7)
    def classic(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val alpha = "abcde"
    (1 to 2000).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString
      val b = Seq.fill(rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString
      val d = classic(a, b)
      (0 to 3).foreach { m =>
        assert(QueryParser.editDistanceLe(a, b, m) === (d <= m),
          s"'$a' vs '$b' max $m (classic $d)")
      }
    }
  }

  test("FUZZY (scored): edit-distance expansion WAND == exhaustive") {
    val rnd = new Random(113)
    var effective = 0
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(250))
      val oracle = new NaiveIndex(corpus)
      // misspellings of real vocab words, mixed distances
      val query = Seq("marge~1 block", "quary~2", "shrd~1 skip~0",
        "hash~ term")(round % 4)
      val k = 1 + rnd.nextInt(10)
      val expected = oracle.topK(query, k)
      val terms = QueryParser.resolveScoredW(
        QueryParser.parseScored(query),
        oracle.expandPrefix(_), oracle.expandFuzzy(_, _))
        .map(_._1).filter(oracle.postings.contains)
      if (terms.nonEmpty) effective += 1
      val got = WandScorer.topK(terms, cursorsFor(oracle, terms), k)
      assert(got.map(_.docId) === expected.map(_.docId), s"round $round docIds")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round score doc ${g.docId}")
      }
    }
    assert(effective > 40)
  }

  test("FUZZY (filter): conjunctive with fuzzy sets == exhaustive row check") {
    val rnd = new Random(131)
    var effective = 0
    (1 to 40).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val (stem, ed) = Seq(("marge", 1), ("blok", 2), ("skip", 0),
        ("qury", 2))(rnd.nextInt(4))
      val exps = oracle.postings.keys
        .filter(t => QueryParser.editDistanceLe(t, stem, ed)).toSeq
      val group = Seq("query").filter(oracle.postings.contains)
      if (group.nonEmpty && exps.nonEmpty) {
        effective += 1
        val reqCursors = cursorsFor(oracle, exps).values.toSeq
        val got = WandScorer.conjunctive(group, cursorsFor(oracle, group),
          Nil, Seq(reqCursors)).toSeq
        val exp = corpus.collect {
          case (id, c) =>
            (id, graft.analyze.CodeAnalyzer.analyze(c))
        }.filter { case (_, toks) =>
          group.forall(toks.contains) &&
            toks.exists(QueryParser.editDistanceLe(_, stem, ed))
        }.map(_._1).sorted
        assert(got.map(_.docId) === exp, s"round $round fuzzy '$stem'~$ed")
        // fuzzies filter, never score
        got.foreach { sd =>
          val tf = oracle.postings("query").find(_._1 == sd.docId).get._2
          val s = oracle.bm25.score(
            oracle.bm25.idf(oracle.df("query")), tf, oracle.docLen(sd.docId))
          assert(sd.score === s, s"round $round doc ${sd.docId}")
        }
      }
    }
    assert(effective > 25, s"too few effective fuzzy rounds: $effective")
  }

  test("FILTERED: WAND with a required cursor == exhaustive over the subset") {
    val rnd = new Random(149)
    var effective = 0
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val nTerms = 1 + rnd.nextInt(3)
      val terms = Seq.fill(nTerms)(vocab(rnd.nextInt(vocab.length)))
        .distinct.filter(oracle.postings.contains)
      // random allowed subset at varying selectivity (incl. tiny)
      val p = Seq(0.05, 0.3, 0.8)(rnd.nextInt(3))
      val allowed = corpus.map(_._1).filter(_ => rnd.nextDouble() < p).toSet
      if (terms.nonEmpty) {
        effective += 1
        val k = 1 + rnd.nextInt(10)
        val arr = allowed.toArray.sorted
        val got = WandScorer.topK(terms, cursorsFor(oracle, terms), k,
          Seq(new ArrayDocCursor(arr)))
        val exp = oracle.topKFiltered(terms.mkString(" "), k, allowed.contains)
        assert(got.map(_.docId) === exp.map(_.docId),
          s"round $round p=$p docIds")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score === e.score, s"round $round doc ${g.docId}") }
        // empty allowed set -> nothing, exhausted cleanly
        assert(WandScorer.topK(terms, cursorsFor(oracle, terms), k,
          Seq(new ArrayDocCursor(Array.empty[Long]))) === Nil)
      }
    }
    assert(effective > 40)
  }

  test("BOOST: boosted WAND == exhaustive (bounds scale with scores)") {
    val rnd = new Random(163)
    var effective = 0
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val boosts = Seq(0.25, 0.5, 2.0, 7.5)
      val parts = (1 to (1 + rnd.nextInt(3))).map { _ =>
        val t = vocab(rnd.nextInt(vocab.length))
        val b = boosts(rnd.nextInt(boosts.length))
        (t, b)
      }.distinctBy(_._1)
      val query = parts.map { case (t, b) => s"$t^$b" }.mkString(" ")
      val k = 1 + rnd.nextInt(10)
      val expected = oracle.topK(query, k)
      val weighted = QueryParser.resolveScoredW(
        QueryParser.parseScored(query),
        oracle.expandPrefix(_), oracle.expandFuzzy(_, _))
        .filter(t => oracle.postings.contains(t._1))
      if (weighted.nonEmpty) effective += 1
      val got = WandScorer.topK(weighted.map(_._1),
        cursorsFor(oracle, weighted.map(_._1), weights = weighted.toMap), k)
      assert(got.map(_.docId) === expected.map(_.docId), s"round $round '$query'")
      got.zip(expected).foreach { case (g, e) =>
        assert(g.score === e.score, s"round $round score doc ${g.docId}")
      }
    }
    assert(effective > 40)
  }

  test("boost parse edges: binding order, malformed suffixes, dedup") {
    // boost binds last: wildcard and fuzzy atoms carry it
    assert(QueryParser.parseScored("mer*^2 alpha^0.5 beta~1^3") ===
      Seq(PrefixAtom("mer", 2.0), TermAtom("alpha", 0.5),
        FuzzyAtom("beta", 1, 3.0)))
    // malformed boosts are NOT boost syntax: the whole word analyzes
    // ('^' strips like punctuation; 1-char and numeric fragments are
    // analyzer-filtered), so no boost and no silently-lost word
    assert(QueryParser.parseScored("alpha^ beta^xy gamma^-1 delta^^2") ===
      Seq(TermAtom("alpha"), TermAtom("beta"), TermAtom("xy"),
        TermAtom("gamma"), TermAtom("delta")))
    // first occurrence keeps its boost (the dedup rule)
    assert(QueryParser.parseScored("alpha^2 alpha^5") ===
      Seq(TermAtom("alpha", 2.0)))
    // boolean surface ignores '^' (analyzer strips it): no boost leaks
    assert(QueryParser.parseGroups("alpha^2 beta").head.terms ===
      Seq("alpha", "beta"))
    // "…"^n: on the scored surface the boost applies to every token of
    // the span (the Lucene phrase boost), after an optional ~n; the
    // boolean surface has no boosts, so it changes nothing there
    assert(QueryParser.parseScored("\"merge scan\"^2 join") ===
      Seq(TermAtom("merge", 2.0), TermAtom("scan", 2.0), TermAtom("join")))
    assert(QueryParser.parseScored("\"merge scan\"~1^3") ===
      Seq(TermAtom("merge", 3.0), TermAtom("scan", 3.0)))
    assert(QueryParser.parseGroups("\"merge scan\"^2 join") ===
      QueryParser.parseGroups("\"merge scan\" join"))
    // a malformed span boost is not boost syntax: the suffix is a word
    assert(QueryParser.parseScored("\"merge scan\"^xy") ===
      Seq(TermAtom("merge"), TermAtom("scan"), TermAtom("xy")))
  }

  test("SEARCH_AFTER: page chain reconstructs the full ranking exactly") {
    val rnd = new Random(179)
    (1 to 30).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(150))
      val oracle = new NaiveIndex(corpus)
      val terms = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
        .distinct.filter(oracle.postings.contains)
      if (terms.nonEmpty) {
        val query = terms.mkString(" ")
        val full = oracle.topK(query, 100000)
        val pageSize = 1 + rnd.nextInt(4)
        val paged = Seq.newBuilder[ScoredDoc]
        var cursor: Option[(Double, Long)] = None
        var n = 0
        var continue = true
        while (continue && n < 10000) {
          val page = cursor match {
            case None =>
              WandScorer.topK(terms, cursorsFor(oracle, terms), pageSize)
            case Some((s, d)) =>
              WandScorer.topK(terms, cursorsFor(oracle, terms), pageSize,
                after = Some((s, d)))
          }
          paged ++= page
          if (page.size < pageSize) continue = false
          else cursor = Some((page.last.score, page.last.docId))
          n += page.size
        }
        assert(paged.result() === full,
          s"round $round pageSize=$pageSize: chain must equal the full ranking")
      }
    }
  }

  test("NEAR: sloppy spans == exhaustive greedy check (pos + negated)") {
    val rnd = new Random(197)
    var effective = 0
    (1 to 60).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      // sample a real pair with a gap so slop matters, or random words
      val toks0 = graft.analyze.CodeAnalyzer
        .analyze(corpus(rnd.nextInt(corpus.length))._2)
      val span: Seq[String] =
        if (round % 3 == 0 || toks0.length < 5)
          Seq(vocab(rnd.nextInt(vocab.length)), vocab(rnd.nextInt(vocab.length)))
        else Seq(toks0(1), toks0(3 + rnd.nextInt(toks0.length - 4)))
      val slop = rnd.nextInt(4)
      if (span.distinct.forall(oracle.postings.contains)) {
        effective += 1
        val terms = span.distinct
        val got = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus), Nil, Nil, Nil, Nil,
          Seq((span, slop))).map(_.docId).toSeq
        val exp = corpus.collect {
          case (id, c) if QueryParser.nearMatch(
            graft.analyze.CodeAnalyzer.analyze(c), span, slop) => id
        }.sorted
        assert(got === exp, s"round $round span=$span~$slop")
        // slop 0 == the exact consecutive phrase path
        val got0 = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus), Nil, Nil, Nil, Nil,
          Seq((span, 0))).map(_.docId).toSeq
        val exact = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus), Seq(span)).map(_.docId).toSeq
        assert(got0 === exact, s"round $round slop0-vs-exact")
        // negated span: exact complement within the anchor set
        val anchor = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus)).map(_.docId).toSeq
        val gotNeg = WandScorer.conjunctive(terms,
          cursorsFor(oracle, terms, corpus), Nil, Nil, Nil, Nil, Nil,
          Seq((span, slop, cursorsFor(oracle, span.distinct, corpus))))
          .map(_.docId).toSeq
        assert(gotNeg === anchor.filterNot(exp.contains),
          s"round $round negated span")
      }
    }
    assert(effective > 35, s"too few effective near rounds: $effective")
  }

  test("MIN_MATCH: coverage-gated WAND == exhaustive count filter") {
    val rnd = new Random(211)
    var effective = 0
    (1 to 50).foreach { round =>
      val corpus = randomCorpus(rnd, 40 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val terms = Seq.fill(2 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
        .distinct.filter(oracle.postings.contains)
      if (terms.size >= 2) {
        effective += 1
        val m = 1 + rnd.nextInt(terms.size + 1) // incl. m > |terms| (empty)
        val k = 1 + rnd.nextInt(10)
        val got = WandScorer.topK(terms, cursorsFor(oracle, terms), k,
          minMatch = m)
        val exp = oracle.topKMin(terms.mkString(" "), k, m)
        assert(got.map(_.docId) === exp.map(_.docId),
          s"round $round m=$m terms=$terms")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score === e.score, s"round $round doc ${g.docId}") }
        // m == |terms| equals the boolean AND-group hit set
        val allM = WandScorer.topK(terms, cursorsFor(oracle, terms), 100000,
          minMatch = terms.size).map(_.docId).toSet
        val conj = WandScorer.conjunctive(terms, cursorsFor(oracle, terms))
          .map(_.docId).toSet
        assert(allM === conj, s"round $round m=|terms| vs conjunctive")
      }
    }
    assert(effective > 40)
  }

  test("near/slop parse edges") {
    def one(q: String) = QueryParser.parseGroups(q) match {
      case Seq(g) => g
      case other => fail(s"'$q' parsed to ${other.length} groups")
    }
    // ~n after a quoted span is slop; tokens stay AND terms
    assert(one("\"alpha beta\"~2 gamma") ===
      MatchGroup(Seq("alpha", "beta", "gamma"), Nil, Nil, Nil, Nil, Nil,
        Nil, Nil, Seq((Seq("alpha", "beta"), 2)), Nil))
    // ~0 is the exact phrase (fast path)
    assert(one("\"alpha beta\"~0").phrases === Seq(Seq("alpha", "beta")))
    assert(one("\"alpha beta\"~0").nearSpans === Nil)
    // negated sloppy span is a prohibition
    assert(one("gamma -\"alpha beta\"~1") ===
      MatchGroup(Seq("gamma"), Nil, Nil, Nil, Nil, Nil, Nil, Nil,
        Nil, Seq((Seq("alpha", "beta"), 1))))
    // single-token sloppy span degrades like the exact rule
    assert(one("\"alpha\"~3 beta").nearSpans === Nil)
    assert(one("\"alpha\"~3 beta").terms === Seq("alpha", "beta"))
    // a word-level '~n' is fuzzy, never slop; quoted '~' has no stem
    assert(one("alpha~2 beta").fuzzies === Seq(("alpha", 2)))
    // operators inside quotes are text: span tokens are always terms
    assert(one("\"merg* join\"") ===
      MatchGroup(Seq("merg", "join"), Seq(Seq("merg", "join"))))
    assert(one("\"raeder~2 posting\"") ===
      MatchGroup(Seq("raeder", "posting"), Seq(Seq("raeder", "posting"))))
    assert(one("\"posting read*\"~1 def") ===
      MatchGroup(Seq("posting", "read", "def"), Nil,
        nearSpans = Seq((Seq("posting", "read"), 1))))
    // scored surface: a span is its tokens as plain terms, ~n ignored
    assert(QueryParser.parseScored("\"merg* join\"") ===
      Seq(TermAtom("merg"), TermAtom("join")))
    assert(QueryParser.parseScored("\"merge scan\"~2 join") ===
      Seq(TermAtom("merge"), TermAtom("scan"), TermAtom("join")))
    // pure-negative sloppy span rejected
    intercept[IllegalArgumentException] {
      QueryParser.parseGroups("-\"alpha beta\"~2") }
  }

  test("fuzzy parse edges: defaults, caps, negation, non-fuzzy tildes") {
    def one(q: String) = QueryParser.parseGroups(q) match {
      case Seq(g) => g
      case other => fail(s"'$q' parsed to ${other.length} groups")
    }
    // bare '~' defaults to the Lucene max of 2; explicit 0/1/2 honored
    assert(one("alpha merge~").fuzzies === Seq(("merge", 2)))
    assert(one("alpha merge~1 skip~0").fuzzies ===
      Seq(("merge", 1), ("skip", 0)))
    // stems bypass the analyzer but lowercase (the Lucene contract)
    assert(one("alpha MerGe~1").fuzzies === Seq(("merge", 1)))
    // negated fuzzy is a prohibition
    assert(one("alpha -merge~1") ===
      MatchGroup(Seq("alpha"), Nil, Nil, Nil, Nil, Nil,
        Nil, Seq(("merge", 1))))
    // distance above 2 is rejected loudly
    intercept[IllegalArgumentException] { QueryParser.parseGroups("a merge~3") }
    // pure-negative fuzzy rejected; fuzzy counts as a positive anchor
    intercept[IllegalArgumentException] { QueryParser.parseGroups("-merge~1") }
    assert(one("merge~1 -alpha").negTerms === Seq("alpha"))
    // NOT fuzzy syntax: leading '~', two '~', multi-char suffix, '*~'
    // mix — all fall through to the analyzer (which strips punctuation)
    assert(one("~alpha beta").terms === Seq("alpha", "beta"))
    assert(one("al~pha~ beta").terms === Seq("al", "pha", "beta"))
    assert(one("alpha~12 beta").terms === Seq("alpha", "beta"))
    assert(one("alpha~xy beta").terms === Seq("alpha", "xy", "beta"))
    // scored surface: FuzzyAtom in atom order, deduped
    assert(QueryParser.parseScored("merge~1 alpha merge~1 merge~2") ===
      Seq(FuzzyAtom("merge", 1), TermAtom("alpha"), FuzzyAtom("merge", 2)))
  }

  test("negation parse edges: degeneration, unbalanced quotes, markers") {
    def one(q: String) = QueryParser.parseGroups(q) match {
      case Seq(g) => g
      case other => fail(s"'$q' parsed to ${other.length} groups")
    }
    // -"single" degrades to its bare neg term (mirrors the positive rule)
    assert(one("alpha -\"beta\"") ===
      MatchGroup(Seq("alpha"), Nil, Nil, Seq("beta"), Nil, Nil))
    // negated camelCase word prohibits EVERY analyzed token (must_not
    // + match semantics); negated wildcard bypasses the analyzer
    assert(one("alpha -parseJson -Mer*") ===
      MatchGroup(Seq("alpha"), Nil, Nil,
        Seq("parse", "json", "parsejson"), Seq("mer"), Nil))
    // unbalanced quote = whitespace: '-"beta' is NOT a negation of beta
    // (the old pre-negation behavior, frozen: quote clears, '-' floats
    // free and analyzes to nothing, beta stays a positive term)
    assert(one("alpha -\"beta") ===
      MatchGroup(Seq("alpha", "beta"), Nil, Nil, Nil, Nil, Nil))
    // on both surfaces: an unpartnered quote does not hide an operator
    assert(one("\"merg* join") ===
      MatchGroup(Seq("join"), Nil, prefixes = Seq("merg")))
    assert(QueryParser.parseScored("\"merg* join") ===
      Seq(PrefixAtom("merg"), TermAtom("join")))
    // '-' mid-word is punctuation for the analyzer, not a negation
    assert(one("alpha-beta").terms === Seq("alpha", "beta"))
    // a lone '-' word contributes nothing
    assert(one("alpha - beta").terms === Seq("alpha", "beta"))
    // negated phrase next to a positive phrase, same group
    assert(one("\"alpha beta\" -\"gamma delta\"") ===
      MatchGroup(Seq("alpha", "beta"), Seq(Seq("alpha", "beta")), Nil,
        Nil, Nil, Seq(Seq("gamma", "delta"))))
    // pure-negative rejected loudly, in any group position
    intercept[IllegalArgumentException] { QueryParser.parseGroups("-alpha") }
    intercept[IllegalArgumentException] {
      QueryParser.parseGroups("alpha, -beta") }
    intercept[IllegalArgumentException] {
      QueryParser.parseGroups("alpha, -\"beta gamma\"") }
    // empty groups still silently dropped; all-empty still fine
    assert(QueryParser.parseGroups("alpha, , ").length === 1)
    assert(QueryParser.parseGroups(", ,") === Nil)
    // scored surface has no operators: '-foo' analyzes to plain 'foo'
    assert(QueryParser.parseScored("-alpha beta") ===
      Seq(TermAtom("alpha"), TermAtom("beta")))
  }

  test("BITMAP cursor == array cursor under random movement sequences") {
    val rnd = new Random(401)
    (1 to 60).foreach { round =>
      // mixed densities and spans, crossing 2^16 container boundaries;
      // shard-prefixed high bits like real docIds
      val span = 1000 + rnd.nextInt(300000)
      val p = Seq(0.9, 0.3, 0.02)(rnd.nextInt(3))
      val base = (rnd.nextInt(3).toLong << 40)
      val docs = (0 until span).iterator
        .filter(_ => rnd.nextDouble() < p).map(base + _).toArray
      if (docs.nonEmpty) {
        val a = new ArrayDocCursor(docs)
        val b = new BitmapDocCursor(docs)
        var steps = 0
        while (steps < 300 && !a.exhausted) {
          assert(!b.exhausted && a.curDoc === b.curDoc,
            s"round $round step $steps")
          if (rnd.nextBoolean()) { a.nextDoc(); b.nextDoc() }
          else {
            val t = a.curDoc + 1 + rnd.nextInt(span / 4 + 1)
            a.advanceTo(t); b.advanceTo(t)
          }
          steps += 1
        }
        if (a.exhausted) assert(b.exhausted, s"round $round exhaustion")
      }
    }
  }

  test("FILTERED: bitmap allowed-set cursor == array cursor == exhaustive") {
    val rnd = new Random(419)
    var effective = 0
    (1 to 30).foreach { round =>
      val corpus = randomCorpus(rnd, 60 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val terms = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
        .distinct.filter(oracle.postings.contains)
      val p = Seq(0.1, 0.5, 0.95)(rnd.nextInt(3))
      val allowed = corpus.map(_._1).filter(_ => rnd.nextDouble() < p).toSet
      if (terms.nonEmpty && allowed.nonEmpty) {
        effective += 1
        val k = 1 + rnd.nextInt(10)
        val arr = allowed.toArray.sorted
        val viaBitmap = WandScorer.topK(terms, cursorsFor(oracle, terms), k,
          Seq(new BitmapDocCursor(arr)))
        val viaArray = WandScorer.topK(terms, cursorsFor(oracle, terms), k,
          Seq(new ArrayDocCursor(arr)))
        val exp = oracle.topKFiltered(terms.mkString(" "), k, allowed.contains)
        assert(viaBitmap === viaArray, s"round $round cursor parity")
        assert(viaBitmap.map(_.docId) === exp.map(_.docId), s"round $round")
        viaBitmap.zip(exp).foreach { case (g, e) =>
          assert(g.score === e.score, s"round $round doc ${g.docId}") }
      }
    }
    assert(effective > 25)
  }

  test("MIN_MATCH: mm-aware pivot bound stays exact on dense mixes") {
    // the r7 bound moves the pivot right when coverage cannot be met —
    // re-verify exactness on corpora where most docs hit most terms
    // (the shape where the bound actually prunes)
    val rnd = new Random(433)
    (1 to 30).foreach { round =>
      val corpus = randomCorpus(rnd, 150 + rnd.nextInt(150))
      val oracle = new NaiveIndex(corpus)
      val terms = Seq("alpha", "beta", "gamma", "delta")
        .filter(oracle.postings.contains)
      if (terms.size >= 3) {
        Seq(2, 3, terms.size).foreach { m =>
          val k = 3 + rnd.nextInt(8)
          val got = WandScorer.topK(terms, cursorsFor(oracle, terms), k,
            minMatch = m)
          val exp = oracle.topKMin(terms.mkString(" "), k, m)
          assert(got.map(_.docId) === exp.map(_.docId), s"round $round m=$m")
          got.zip(exp).foreach { case (g, e) =>
            assert(g.score === e.score, s"round $round m=$m doc ${g.docId}") }
        }
      }
    }
  }

  test("COMPOSED: filtered + search_after + min_match together == exhaustive") {
    // all three are WAND-evaluation gates; the r7 plumbing exposes them
    // together on one SearchRequest — verify the composition, not just each
    val rnd = new Random(457)
    var effective = 0
    (1 to 40).foreach { round =>
      val corpus = randomCorpus(rnd, 60 + rnd.nextInt(200))
      val oracle = new NaiveIndex(corpus)
      val terms = Seq.fill(2 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
        .distinct.filter(oracle.postings.contains)
      val p = Seq(0.2, 0.6, 0.95)(rnd.nextInt(3))
      val allowed = corpus.map(_._1).filter(_ => rnd.nextDouble() < p).toSet
      if (terms.size >= 2 && allowed.nonEmpty) {
        val m = 1 + rnd.nextInt(terms.size)
        val k = 3 + rnd.nextInt(8)
        val arr = allowed.toArray.sorted
        def cursors() = cursorsFor(oracle, terms)
        val page1 = WandScorer.topK(terms, cursors(), k,
          Seq(WandScorer.allowedCursor(arr)), minMatch = m)
        val exp1 = oracle.topKFiltered(terms.mkString(" "), k,
          allowed.contains, minMatch = m)
        assert(page1 === exp1, s"round $round page1 m=$m p=$p")
        if (page1.nonEmpty) {
          effective += 1
          val c = page1.last
          val page2 = WandScorer.topK(terms, cursors(), k,
            Seq(WandScorer.allowedCursor(arr)),
            after = Some((c.score, c.docId)), minMatch = m)
          val exp2 = oracle.topKFiltered(terms.mkString(" "), k,
            allowed.contains, after = Some((c.score, c.docId)), minMatch = m)
          assert(page2 === exp2, s"round $round page2 m=$m p=$p")
          assert(page2.map(_.docId).toSet.intersect(
            page1.map(_.docId).toSet).isEmpty, s"round $round overlap")
        }
      }
    }
    assert(effective > 25)
  }

  test("tie-break: equal scores ordered by docId asc") {
    // identical docs => identical scores; top-k must pick lowest docIds
    val docs = (0 until 20).map(i => (100L - i, "alpha beta alpha"))
    val oracle = new NaiveIndex(docs)
    val top = oracle.topK("alpha", 5)
    assert(top.map(_.docId) === Seq(81L, 82L, 83L, 84L, 85L))
    val wand = WandScorer.topK(Seq("alpha"), cursorsFor(oracle, Seq("alpha")), 5)
    assert(wand.map(_.docId) === top.map(_.docId))
    assert(wand.map(_.score) === top.map(_.score))
  }
}
