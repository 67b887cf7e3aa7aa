package graft.index

import graft.analyze.CodeAnalyzer
import scala.collection.mutable

/**
 * In-memory reference implementation ("the oracle"): naive hash-map
 * inverted index + exhaustive BM25. Deliberately simple and obviously
 * correct — the Spark engine must reproduce its top-k docIDs AND scores
 * rank-identically on the reference query set (BASELINE.md "scoring
 * parity"). Query semantics mirror the reference's keyword query language:
 * "spaces are ANDs commas are ORs" (reference sentiment.py:638-641).
 *
 * Frozen query semantics:
 *  - topK(q): disjunctive `match` (ES default for analyzed fields): a doc
 *    matches if it contains ANY query term; score = sum of BM25
 *    contributions of the matching terms, summed in query-term order.
 *  - booleanTopK(q): q split on ',' into OR groups, each group split on
 *    whitespace into AND terms (each word analyzed; all resulting tokens
 *    required). A doc matches a group iff it contains every group term;
 *    group score = sum of the group's term contributions (group order);
 *    doc score = MAX over matching groups. Top-k over the union.
 *  - ties everywhere: score desc, docId asc.
 */
final class NaiveIndex(docs: Seq[(Long, String)]) extends Serializable {

  /** For phrase checks: exhaustive re-analysis of the raw content (the
    * obviously-correct reference the positional engine must match). */
  private val contentById: Map[Long, String] = docs.toMap

  def phraseInDoc(id: Long, phrase: Seq[String]): Boolean = {
    val toks = CodeAnalyzer.analyze(contentById(id))
    phrase.nonEmpty && toks.sliding(phrase.length).exists(_ == phrase)
  }

  /** Exhaustive prefix check: any analyzed token starts with `prefix`. */
  def prefixInDoc(id: Long, prefix: String): Boolean =
    CodeAnalyzer.analyze(contentById(id)).exists(_.startsWith(prefix))

  /** Exhaustive token-presence check (negation's obviously-correct
    * reference: re-analyze, look for the token). */
  def termInDoc(id: Long, term: String): Boolean =
    CodeAnalyzer.analyze(contentById(id)).contains(term)

  /** Scored-context expansion: vocabulary terms with the prefix, ranked
    * df-desc/term-asc, capped — the frozen selection the engine's dict
    * expansion must reproduce. */
  def expandPrefix(prefix: String,
                   cap: Int = QueryParser.MaxScoredExpansions): Seq[String] =
    QueryParser.rankExpansions(
      postings.keysIterator.filter(_.startsWith(prefix))
        .map(t => t -> df(t)).toSeq, cap)

  /** Fuzzy twin: vocabulary terms within `maxEd` edits, same ranking. */
  def expandFuzzy(stem: String, maxEd: Int,
                  cap: Int = QueryParser.MaxScoredExpansions): Seq[String] =
    QueryParser.rankExpansions(
      postings.keysIterator
        .filter(t => QueryParser.editDistanceLe(t, stem, maxEd))
        .map(t => t -> df(t)).toSeq, cap)

  /** Exhaustive fuzzy check: any analyzed token within `maxEd` edits. */
  def fuzzyInDoc(id: Long, stem: String, maxEd: Int): Boolean =
    CodeAnalyzer.analyze(contentById(id))
      .exists(t => QueryParser.editDistanceLe(t, stem, maxEd))

  /** Exhaustive sloppy-span check (`"a b"~n`). */
  def nearInDoc(id: Long, ph: Seq[String], slop: Int): Boolean =
    QueryParser.nearMatch(CodeAnalyzer.analyze(contentById(id)), ph, slop)

  val postings: Map[String, Array[(Long, Int)]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
    docs.sortBy(_._1).foreach { case (id, content) =>
      val (tf, _) = CodeAnalyzer.termFreqs(content)
      tf.toSeq.sortBy(_._1).foreach { case (t, f) =>
        m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, f))
      }
    }
    m.view.mapValues(_.toArray).toMap
  }

  val docLen: Map[Long, Int] =
    docs.map { case (id, c) => id -> CodeAnalyzer.analyze(c).length }.toMap

  val numDocs: Long = docs.size.toLong
  val avgdl: Double =
    if (numDocs == 0) 0.0 else docLen.values.map(_.toLong).sum.toDouble / numDocs
  val bm25: Bm25 = Bm25(numDocs, avgdl)

  def df(term: String): Long = postings.get(term).map(_.length.toLong).getOrElse(0L)

  /** Disjunctive BM25 top-k (exhaustive); `word*` words expand to their
    * ranked capped dictionary terms in place (scored like any term). */
  private def resolvedW(query: String): Seq[(String, Double)] =
    QueryParser.resolveScoredW(QueryParser.parseScored(query),
      expandPrefix(_), expandFuzzy(_, _))
      .filter(t => postings.contains(t._1))

  def topK(query: String, k: Int): Seq[ScoredDoc] =
    scoreDisjunctive(resolvedW(query), k)

  /** Metadata-filtered disjunctive top-k: scores are IDENTICAL to
    * topK's (global stats — a filter gates candidates, never changes
    * idf/avgdl), only docs passing `allowed` compete. `after` and
    * `minMatch` compose (the engine's filtered pagination twin). */
  def topKFiltered(query: String, k: Int, allowed: Long => Boolean,
                   after: Option[(Double, Long)] = None,
                   minMatch: Int = 1): Seq[ScoredDoc] =
    scoreDisjunctive(resolvedW(query), k, allowed, after, minMatch)

  /** Deep pagination: top-k strictly after (afterScore, afterDocId) in
    * the global (score desc, docId asc) order. */
  def topKAfter(query: String, k: Int, afterScore: Double,
                afterDocId: Long): Seq[ScoredDoc] =
    scoreDisjunctive(resolvedW(query), k,
      after = Some((afterScore, afterDocId)))

  /** minimum_should_match: docs with >= minMatch distinct resolved
    * terms compete; scores stay the plain matching-term sum. */
  def topKMin(query: String, k: Int, minMatch: Int): Seq[ScoredDoc] =
    scoreDisjunctive(resolvedW(query), k, minMatch = minMatch)

  private def scoreDisjunctive(terms: Seq[(String, Double)], k: Int,
                               allowed: Long => Boolean = _ => true,
                               after: Option[(Double, Long)] = None,
                               minMatch: Int = 1)
      : Seq[ScoredDoc] = {
    val (afScore, afDoc) = after.getOrElse((Double.PositiveInfinity, -1L))
    // accumulate per doc in query-term order: gather candidate docs first,
    // then sum explicitly term-by-term per doc so float order is frozen;
    // the boost PRE-multiplies the idf (same association as the engine's
    // boosted cursor, so sums stay bit-identical)
    val perTerm: Seq[(Double, Map[Long, Int])] = terms.map { case (t, w) =>
      val pl = postings(t)
      (bm25.idf(pl.length.toLong) * w, pl.toMap)
    }
    val cand = mutable.SortedSet.empty[Long]
    perTerm.foreach { case (_, m) => cand ++= m.keys.filter(allowed) }
    val top = new ScoredDoc.TopK(k)
    cand.foreach { id =>
      var s = 0.0
      val dl = docLen(id)
      var matched = 0
      perTerm.foreach { case (idf, m) =>
        m.get(id).foreach { tf => s += bm25.score(idf, tf, dl); matched += 1 }
      }
      if (matched >= minMatch &&
          (s < afScore || (s == afScore && id > afDoc)))
        top.offer(ScoredDoc(id, s))
    }
    top.result()
  }

  /** OR-of-AND-groups boolean query ("spaces are ANDs commas are ORs";
    * quoted spans add exhaustive positional phrase constraints).
    * `fieldVal` supplies a doc's metadata value for a QUERY field name
    * ("lang", "id", ...) so field atoms gate exhaustively — the default
    * rejects loudly (this index carries no metadata of its own). */
  def booleanTopK(query: String, k: Int,
                  fieldVal: (Long, String) => Any = (_, f) =>
                    throw new IllegalArgumentException(
                      s"NaiveIndex has no metadata for field '$f'")): Seq[ScoredDoc] = {
    val parsed = QueryParser.parseGroups(query)
    val valid = parsed.filter(_.terms.forall(postings.contains))
    val best = mutable.HashMap.empty[Long, Double]
    valid.foreach { group =>
      val perTerm = group.terms.map { t =>
        val pl = postings(t)
        (bm25.idf(pl.length.toLong), pl.toMap)
      }
      // candidate docs: the term intersection, or — for a prefix-only
      // group — every doc (prefixes then filter it down)
      val candidates: Iterable[Long] =
        if (perTerm.nonEmpty) perTerm.map(_._2.keySet).reduce(_ intersect _)
        else docLen.keys
      // phrases/prefixes/fuzzies/spans FILTER, never score; negations EXCLUDE
      val common = candidates
        .filter(id => group.phrases.forall(ph => phraseInDoc(id, ph)) &&
                      group.prefixes.forall(p => prefixInDoc(id, p)) &&
                      group.fuzzies.forall(f => fuzzyInDoc(id, f._1, f._2)) &&
                      group.nearSpans.forall(ns => nearInDoc(id, ns._1, ns._2)) &&
                      !group.negTerms.exists(t => termInDoc(id, t)) &&
                      !group.negPrefixes.exists(p => prefixInDoc(id, p)) &&
                      !group.negPhrases.exists(ph => phraseInDoc(id, ph)) &&
                      !group.negFuzzies.exists(f => fuzzyInDoc(id, f._1, f._2)) &&
                      !group.negNearSpans.exists(ns => nearInDoc(id, ns._1, ns._2)) &&
                      group.fields.forall(ff => ff.matches(fieldVal(id, ff.field))))
      common.toSeq.sorted.foreach { id =>
        var s = 0.0
        val dl = docLen(id)
        perTerm.foreach { case (idf, m) => s += bm25.score(idf, m(id), dl) }
        val prev = best.get(id)
        if (prev.isEmpty || s > prev.get) best(id) = s
      }
    }
    val top = new ScoredDoc.TopK(k)
    best.toSeq.sortBy(_._1).foreach { case (id, s) => top.offer(ScoredDoc(id, s)) }
    top.result()
  }
}
