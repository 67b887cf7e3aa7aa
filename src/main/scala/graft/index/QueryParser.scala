package graft.index

import graft.analyze.CodeAnalyzer
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.mutable

/** One OR-group: every term required (AND), every phrase required to
  * occur at consecutive post-filter token positions. Phrase tokens are
  * ALSO terms (the phrase both ANDs its words and constrains order), so
  * scoring — the fixed-order sum over `terms` — is identical whether a
  * word arrived bare or quoted; the phrase only filters.
  *
  * `prefixes` are trailing-wildcard requirements (`term*`): the doc must
  * contain at least one token starting with each prefix. Like phrases
  * they FILTER, never score (the Lucene/ES constant-score rewrite of
  * multi-term queries in boolean context), so group scores stay the
  * plain fixed-order sum over `terms` and the SQL oracle stays
  * expressible.
  *
  * Negations (the ES query_string `-` operator, must_not clauses) are
  * PROHIBITIONS — a doc matching any of them is excluded from the group:
  *  - `negTerms`: excluded if the doc contains ANY of these tokens
  *    (`-word` analyzes like a match query: every resulting token
  *    prohibits — ES must_not + match semantics);
  *  - `negPrefixes`: excluded if any doc token starts with one;
  *  - `negPhrases`: excluded if the phrase occurs at consecutive
  *    post-filter positions (`-"a b"`; a span analyzing to <2 tokens
  *    degrades to its bare negTerms, mirroring the positive rule).
  * Prohibitions FILTER only — they contribute nothing to the score sum
  * and their tokens are NOT group terms.
  *
  * `fuzzies` are edit-distance requirements (`word~1`, the ES
  * query_string fuzzy operator): the doc must contain at least one token
  * within the stated Levenshtein distance of the stem. Like prefixes
  * they FILTER in boolean context (constant-score rewrite), and
  * `negFuzzies` prohibit the same way. */
final case class MatchGroup(terms: Seq[String], phrases: Seq[Seq[String]],
                            prefixes: Seq[String] = Nil,
                            negTerms: Seq[String] = Nil,
                            negPrefixes: Seq[String] = Nil,
                            negPhrases: Seq[Seq[String]] = Nil,
                            fuzzies: Seq[(String, Int)] = Nil,
                            negFuzzies: Seq[(String, Int)] = Nil,
                            nearSpans: Seq[(Seq[String], Int)] = Nil,
                            negNearSpans: Seq[(Seq[String], Int)] = Nil,
                            fields: Seq[FieldFilter] = Nil)

/** One field-scoped filter atom of the query language — the Lucene
  * `query_string` field / range syntax, the filter-bar companion every
  * reference Kibana panel pairs with its query
  * (reference export.json:40,77,82,91): `lang:en`, `-repo:web`,
  * `id:[100 TO 400]`, `dlen:{10 TO *}`. Fields address the index's
  * DOCMETA columns (stored metadata), never the text: a field atom GATES
  * candidates (filter context — scoring statistics stay global, the ES
  * bool query+filter contract) and never scores. `eq` and (`lo`,`hi`)
  * are mutually exclusive; a `*` bound is open; `[`/`]` are inclusive,
  * `{`/`}` exclusive (mixes allowed, the Lucene grammar). */
final case class FieldFilter(field: String, neg: Boolean,
                             eq: Option[String],
                             lo: Option[String], hi: Option[String],
                             loInc: Boolean = true, hiInc: Boolean = true)
    extends Serializable {
  private def colInfo: (String, Boolean) = QueryParser.Fields(field)

  /** Loud validation at PARSE time: numeric fields take only integer
    * values — a malformed `id:abc` must fail where the user typed it,
    * not as a cast error deep inside a docmeta scan. */
  def validate(): FieldFilter = {
    val (_, numeric) = colInfo
    if (numeric) (eq.toSeq ++ lo ++ hi).foreach { v =>
      require(v.matches("-?[0-9]+"),
        s"field '$field' is numeric but got value '$v'")
    }
    this
  }

  /** Compile to a boolean Column over docmeta — what the engine's gates
    * evaluate. Values bind as literals (numeric ones as Long), never as
    * SQL text, so a gate compares exactly the value `matches` sees. */
  def predicate: Column = {
    val (colName, numeric) = colInfo
    val c = col(colName)
    def v(s: String): Column = if (numeric) lit(s.toLong) else lit(s)
    val base = eq match {
      case Some(x) => c === v(x)
      case None =>
        (lo.map(x => if (loInc) c >= v(x) else c > v(x)).toSeq ++
          hi.map(x => if (hiInc) c <= v(x) else c < v(x))).reduce(_ && _)
    }
    if (neg) !base else base
  }

  /** In-memory evaluation against the doc's field value (the exhaustive
    * oracle's twin of `predicate`): numeric fields compare as Long,
    * string fields lexicographically — same semantics as the Column. */
  def matches(value: Any): Boolean = {
    val (_, numeric) = colInfo
    def cmp(v: String): Int =
      if (numeric) java.lang.Long.compare(value.asInstanceOf[Number].longValue, v.toLong)
      else value.toString.compareTo(v)
    val base = eq match {
      case Some(v) => cmp(v) == 0
      case None =>
        lo.forall(v => if (loInc) cmp(v) >= 0 else cmp(v) > 0) &&
          hi.forall(v => if (hiInc) cmp(v) <= 0 else cmp(v) < 0)
    }
    if (neg) !base else base
  }
}

/** Scored-query atom: a plain analyzed term, or a trailing-`*` prefix.
  * Wildcard words BYPASS the analyzer (the Lucene query_string contract:
  * `mergeSort*` lowercases to the prefix `mergesort`, which matches the
  * preserveOriginal combined token of camelCase identifiers). */
sealed trait QueryAtom extends Serializable {
  /** `word^2.5` multiplies every BM25 contribution of the word (and of
    * its expansions, for wildcard/fuzzy atoms) — the Lucene query_string
    * boost. 1.0 = unboosted. */
  def boost: Double
}
final case class TermAtom(term: String, boost: Double = 1.0) extends QueryAtom
final case class PrefixAtom(prefix: String, boost: Double = 1.0)
  extends QueryAtom
/** `word~n` — expands to dictionary terms within Levenshtein distance
  * `maxEd` of the stem. Like wildcards, fuzzy words BYPASS the analyzer
  * (lowercased verbatim — the Lucene FuzzyQuery contract). */
final case class FuzzyAtom(stem: String, maxEd: Int, boost: Double = 1.0)
  extends QueryAtom

/** "spaces are ANDs commas are ORs" (reference sentiment.py:638-641):
  * OR groups split on ',', AND terms split on whitespace, every word run
  * through the analyzer (a camelCase query word can contribute several
  * required tokens). Empty groups dropped.
  *
  * `"exact phrase"` spans (the ES match_phrase analogue) additionally
  * constrain their analyzed tokens to CONSECUTIVE post-filter positions.
  * A phrase that analyzes to fewer than two tokens degrades to its bare
  * terms (no positional constraint to enforce); an unbalanced quote is
  * treated as whitespace. Commas split BEFORE quotes are read, so a
  * phrase cannot span OR groups.
  *
  * A leading `-` negates the word/wildcard/quoted span (the ES
  * query_string must_not operator): see MatchGroup for the prohibition
  * semantics. Negation exists on the BOOLEAN surface only — the scored
  * disjunctive parse (`parseScored`, the ES `match` analogue) has no
  * operators, so `-foo` there analyzes to the plain term `foo`, exactly
  * as an ES match query would. Groups that carry prohibitions but no
  * positive requirement are rejected loudly (Lucene matches nothing on
  * must_not-only boolean queries; at corpus scale the complement walk
  * would be an accidental full scan). */
object QueryParser {

  /** The queryable FIELD surface: query field name -> (docmeta column,
    * numeric?). `id` is the source table's join key (docmeta.tableId),
    * `dlen` the analyzed token count (docmeta.docLen); the rest are the
    * stored string columns. An unknown name in the unambiguous RANGE
    * form (`x:[a TO b]`) rejects loudly; in the bare `name:value` form
    * it falls through to the analyzer (which strips `:` like any
    * punctuation), so pre-field queries keep their meaning. */
  val Fields: Map[String, (String, Boolean)] = Map(
    "lang" -> ("lang", false), "repo" -> ("repo", false),
    "path" -> ("path", false), "commit" -> ("commit", false),
    "id" -> ("tableId", true), "dlen" -> ("docLen", true))

  /** `field:[lo TO hi]` / `field:{lo TO hi}` with optional leading `-`;
    * `*` bounds are open. Extracted BEFORE the whitespace split (the
    * one query atom that contains spaces, like quoted spans). A range
    * must start a query word: `foo-id:[1 TO 5]` or `a.lang:[x TO y]` is
    * rejected, never read as a term plus a (negated) filter. */
  private val RangeBody =
    """([A-Za-z_]+):([\[{])([^\s\]}]+)\s+TO\s+([^\s\]}]+)([\]}])"""
  private val RangeRe = ("""(?<!\S)(-?)""" + RangeBody).r
  private val StrayRangeRe = RangeBody.r

  /** Replace every range atom in `s` by a space, collecting its filter. */
  private def extractRanges(s: String,
                            into: mutable.Buffer[FieldFilter]): String = {
    val rest = RangeRe.replaceAllIn(s, m => { into += rangeFilter(m); " " })
    val stray = StrayRangeRe.findFirstIn(rest)
    require(stray.isEmpty, s"range filter '${stray.getOrElse("")}' in " +
      s"query '$s' does not start a word — separate it with a space")
    rest
  }

  private def rangeFilter(m: scala.util.matching.Regex.Match): FieldFilter = {
    val field = m.group(2).toLowerCase
    require(Fields.contains(field),
      s"unknown field '${m.group(2)}' in range filter '${m.matched}' — " +
        s"queryable fields: ${Fields.keys.toSeq.sorted.mkString(", ")}")
    val lo = Some(m.group(4)).filter(_ != "*")
    val hi = Some(m.group(5)).filter(_ != "*")
    require(lo.nonEmpty || hi.nonEmpty,
      s"range filter '${m.matched}' has no bounds (both sides are *)")
    FieldFilter(field, m.group(1) == "-", None, lo, hi,
      m.group(3) == "[", m.group(6) == "]").validate()
  }

  /** Is this word a `field:value` equality filter? Only for RECOGNIZED
    * field names — anything else falls through to the analyzer. The
    * value is matched verbatim against the stored column (keyword-field
    * semantics — never analyzed); boosts do not apply to filters. */
  private def fieldEq(w: String): Option[FieldFilter] = {
    val ci = w.indexOf(':')
    if (ci <= 0 || ci == w.length - 1) return None
    val f = w.substring(0, ci).toLowerCase
    if (!Fields.contains(f)) return None
    Some(FieldFilter(f, neg = false, Some(w.substring(ci + 1)),
      None, None).validate())
  }

  /** Conjunction of compiled field predicates (a Column over docmeta). */
  def compileFields(fs: Seq[FieldFilter]): Column =
    fs.map(_.predicate).reduce(_ && _)

  /** Split the SCORED surface's field atoms out of a query: returns
    * (residual scored query, field filters). Range atoms extract by the
    * unambiguous bracket syntax; bare `field:value` words extract only
    * for recognized fields and honor a leading `-` (a negated filter —
    * the scored surface otherwise has no operators). The residual
    * parses exactly as before (parseScored). */
  def splitFieldFilters(query: String): (String, Seq[FieldFilter]) = {
    if (query == null || query.isEmpty) return (query, Nil)
    val fs = mutable.Buffer.empty[FieldFilter]
    val noRanges = extractRanges(query, fs)
    val words = noRanges.split("\\s+").toSeq.filter(_.nonEmpty).filter { w =>
      val (stem, neg) =
        if (w.length >= 2 && w.charAt(0) == '-') (w.tail, true) else (w, false)
      fieldEq(stem) match {
        case Some(f) => fs += f.copy(neg = neg); false
        case None => true
      }
    }
    (words.mkString(" "), fs.toSeq)
  }

  /** Cap on dictionary expansions of one prefix in SCORED contexts (the
    * Lucene top-terms rewrite budget; ES match_phrase_prefix defaults to
    * 50). Expansions are RANKED df-desc, term-asc before the cut, so the
    * kept terms are deterministic and SQL-reproducible. Filter contexts
    * (boolean groups, WHERE match()) expand UNCAPPED — they are
    * constant-score, so extra expansions only tighten the bitset walk,
    * and a cap there would silently diverge from row-level semantics. */
  val MaxScoredExpansions = 64

  /** Is this whitespace word a trailing-wildcard prefix? (one `*`, at
    * the end, non-empty stem). Anything else — `*` alone, `a*b` — is
    * left to the analyzer, which strips the `*` like any punctuation. */
  private def wildcardStem(w: String): Option[String] =
    if (w.length >= 2 && w.endsWith("*") && !w.init.contains("*"))
      Some(w.init.toLowerCase)
    else None

  /** Lucene's fuzzy hard cap: edit distances above 2 are rejected (the
    * Levenshtein-automaton blowup past ed 2 is the same reason our
    * banded dict scan stops there). */
  val MaxFuzzyEd = 2

  /** Is this word a fuzzy term? (`stem~`, `stem~0..2`; non-empty stem,
    * one `~`). Bare `~` defaults to distance 2 (the Lucene QueryParser
    * default). Like wildcards, the stem BYPASSES the analyzer and is
    * lowercased verbatim. A distance above 2 is rejected LOUDLY —
    * silently clamping would diverge from what the user asked for. */
  private def fuzzyStem(w: String): Option[(String, Int)] = {
    val ti = w.indexOf('~')
    if (ti <= 0 || ti != w.lastIndexOf('~')) return None
    val stem = w.substring(0, ti).toLowerCase
    if (stem.contains('*')) return None // no combined wildcard+fuzzy form
    val suffix = w.substring(ti + 1)
    if (suffix.isEmpty) Some((stem, MaxFuzzyEd))
    else if (suffix.length == 1 && suffix.charAt(0).isDigit) {
      val d = suffix.charAt(0) - '0'
      require(d <= MaxFuzzyEd,
        s"fuzzy distance in '$w' exceeds the maximum of $MaxFuzzyEd")
      Some((stem, d))
    } else None // 'a~xy' is not fuzzy syntax: fall through to the analyzer
  }

  /** In-order sloppy-span check over an analyzed token stream: do the
    * span's tokens occur in order with (last − first) ≤ tokens−1+slop?
    * Greedy earliest-next is optimal per start position (it minimizes
    * the final position, hence the width), so this is exact. The
    * obviously-correct reference for the engine's position-array walk. */
  def nearMatch(toks: Seq[String], ph: Seq[String], slop: Int): Boolean = {
    if (ph.isEmpty) return true
    val arr = toks.toIndexedSeq
    val limit = ph.length - 1 + slop
    arr.indices.exists { i =>
      arr(i) == ph.head && {
        var prev = i
        var ok = true
        ph.tail.foreach { t =>
          if (ok) {
            var j = prev + 1
            while (j < arr.length && arr(j) != t) j += 1
            if (j >= arr.length) ok = false else prev = j
          }
        }
        ok && prev - i <= limit
      }
    }
  }

  /** Banded Levenshtein-distance-≤-max check (classic unit-cost edit
    * distance, the same function Spark's and DuckDB's `levenshtein`
    * compute): two rolling rows with a row-min early exit. Query stems
    * and analyzed tokens are short, so this is effectively O(|b|·max). */
  def editDistanceLe(a: String, b: String, max: Int): Boolean = {
    if (a == b) return true
    val la = a.length
    val lb = b.length
    if (math.abs(la - lb) > max) return false
    var prev = Array.tabulate(lb + 1)(identity)
    var curr = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      curr(0) = i
      var rowMin = i
      var j = 1
      while (j <= lb) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (curr(j - 1) + 1 < v) v = curr(j - 1) + 1
        curr(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > max) return false
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(lb) <= max
  }

  /** Is this word a negation? (`-` + at least one more char). The `-`
    * only negates at word START — `a-b` stays one positive word for the
    * analyzer (which strips the hyphen like any punctuation). */
  private def negStem(w: String): Option[String] =
    if (w.length >= 2 && w.charAt(0) == '-') Some(w.tail) else None

  /** Quoted span with an optional leading `-` (negated phrase) and an
    * optional trailing `~n` slop (`"a b"~2` — the match_phrase slop /
    * SpanNear analogue): the span's tokens must occur IN ORDER with at
    * most `slop` extra positions between first and last (span width ≤
    * tokens−1+slop). Slop 0 (or absent) is the exact consecutive
    * phrase. In-order semantics — the simpler SpanNear(inOrder=true)
    * contract, documented; Lucene's move-counting reordered slop is
    * not reproduced. */
  private val SpanRe = "(-?)\"([^\"]*)\"(?:~([0-9]+))?".r

  def parseGroups(query: String): Seq[MatchGroup] = {
    val out = query.split(',').toSeq.map { g =>
      val posPhrases = mutable.Buffer.empty[Seq[String]]
      val negPhrases = mutable.Buffer.empty[Seq[String]]
      val nearSpans = mutable.Buffer.empty[(Seq[String], Int)]
      val negNearSpans = mutable.Buffer.empty[(Seq[String], Int)]
      val negPhraseTerms = mutable.Buffer.empty[String]
      // quoted spans first: a positive span keeps its words in the
      // residual (phrase words are ordinary AND terms as well — the
      // phrase only adds the positional constraint); a NEGATED span is
      // removed entirely (its tokens prohibit, they are not required).
      // Wildcard detection runs on the span-stripped words, so a `*`
      // inside a phrase never becomes a prefix (no wildcard-in-phrase
      // semantics — same restriction as Lucene's match_phrase).
      val residual = SpanRe.replaceAllIn(g, m => {
        val toks = CodeAnalyzer.analyze(m.group(2))
        val slop = Option(m.group(3)).map(_.toInt).getOrElse(0)
        if (m.group(1) == "-") {
          if (toks.length < 2) negPhraseTerms ++= toks
          else if (slop == 0) negPhrases += toks
          else negNearSpans += ((toks, slop))
          " "
        } else {
          if (toks.length >= 2) {
            if (slop == 0) posPhrases += toks
            else nearSpans += ((toks, slop))
          }
          scala.util.matching.Regex.quoteReplacement(" " + m.group(2) + " ")
        }
      })
      // field RANGE atoms next (the other space-containing atom; quotes
      // were consumed first, so a bracket inside a phrase stays text):
      // each compiles to a docmeta gate on THIS group only
      val fields = mutable.Buffer.empty[FieldFilter]
      val deRanged = extractRanges(residual, fields)
      // any quote left over is unbalanced: treated as whitespace
      val words = deRanged.replace('"', ' ').trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val (negWords, posWords0) = words.partition(negStem(_).isDefined)
      // bare `field:value` atoms (recognized fields only) become gates;
      // a leading `-` negates the gate like any prohibition
      val posWords = posWords0.filter { w =>
        fieldEq(w) match {
          case Some(f) => fields += f; false
          case None => true
        }
      }
      val negStems = negWords.flatMap(negStem).filter { w =>
        fieldEq(w) match {
          case Some(f) => fields += f.copy(neg = true); false
          case None => true
        }
      }
      val negPrefixes = negStems.flatMap(wildcardStem).distinct
      val negFuzzies = negStems.filter(wildcardStem(_).isEmpty)
        .flatMap(fuzzyStem).distinct
      val negTerms = (negStems
        .filter(w => wildcardStem(w).isEmpty && fuzzyStem(w).isEmpty)
        .flatMap(w => CodeAnalyzer.analyze(w)) ++ negPhraseTerms).distinct
      val prefixes = posWords.flatMap(wildcardStem).distinct
      val fuzzies = posWords.filter(wildcardStem(_).isEmpty)
        .flatMap(fuzzyStem).distinct
      val terms = posWords
        .filter(w => wildcardStem(w).isEmpty && fuzzyStem(w).isEmpty)
        .flatMap(w => CodeAnalyzer.analyze(w)).distinct
      MatchGroup(terms, posPhrases.toSeq, prefixes,
        negTerms, negPrefixes, negPhrases.toSeq, fuzzies, negFuzzies,
        nearSpans.toSeq, negNearSpans.toSeq, fields.toSeq)
    }
    // a group with prohibitions but no positive requirement is rejected
    // LOUDLY: Lucene's BooleanQuery matches nothing on must_not-only
    // clauses, and silently walking the complement at corpus scale is an
    // accidental full scan — the user must supply a positive anchor
    out.foreach { g =>
      require(g.terms.nonEmpty || g.prefixes.nonEmpty || g.fuzzies.nonEmpty ||
        (g.negTerms.isEmpty && g.negPrefixes.isEmpty &&
          g.negPhrases.isEmpty && g.negFuzzies.isEmpty &&
          g.negNearSpans.isEmpty && g.fields.isEmpty),
        s"pure-negative or field-only group in query '$query': every " +
          "OR-group carrying a negation or a field filter needs at least " +
          "one required term/prefix/fuzzy — field atoms GATE text matches, " +
          "they do not enumerate documents (metadata-only selection is a " +
          "plain SQL predicate, not a match query)")
    }
    out.filter(g => g.terms.nonEmpty || g.prefixes.nonEmpty ||
      g.fuzzies.nonEmpty)
  }

  /** Terms-only view (scoring order; used by paths with no positional
    * machinery — the full structure is parseGroups). */
  def parse(query: String): Seq[Seq[String]] = parseGroups(query).map(_.terms)

  /** Wildcard-aware SCORED-query parse (the disjunctive topK surface):
    * atoms in word order — the frozen float-sum order — plain words
    * analyzed as before (dedup first-occurrence, same stream
    * CodeAnalyzer.analyzeQuery yields), `word*` words as PrefixAtoms. */
  /** Strip a trailing `^<positive number>` boost (the Lucene
    * query_string boost operator). Returns (word without the boost
    * suffix, boost). A malformed suffix (`^`, `^x`, `^-2`, second `^`)
    * is NOT boost syntax — the word falls through whole to the analyzer
    * (which strips `^` like any punctuation). */
  private def boostSuffix(w: String): (String, Double) = {
    val ci = w.lastIndexOf('^')
    if (ci <= 0 || ci == w.length - 1 || w.indexOf('^') != ci) return (w, 1.0)
    val numS = w.substring(ci + 1)
    try {
      val b = numS.toDouble
      if (b > 0.0 && !b.isInfinite) (w.substring(0, ci), b) else (w, 1.0)
    } catch { case _: NumberFormatException => (w, 1.0) }
  }

  def parseScored(query: String): Seq[QueryAtom] = {
    if (query == null || query.isEmpty) return Nil
    val seen = mutable.HashSet.empty[String]
    val seenPre = mutable.HashSet.empty[String]
    val seenFuz = mutable.HashSet.empty[(String, Int)]
    query.split("\\s+").toSeq.filter(_.nonEmpty).flatMap { w0 =>
      // boost binds LAST: 'mer*^2' boosts the wildcard, 'a~1^2' the
      // fuzzy; first occurrence of an atom keeps its boost (dedup rule)
      val (w, boost) = boostSuffix(w0)
      wildcardStem(w) match {
        case Some(p) => if (seenPre.add(p)) Seq(PrefixAtom(p, boost)) else Nil
        case None => fuzzyStem(w) match {
          case Some(f) => if (seenFuz.add(f))
            Seq(FuzzyAtom(f._1, f._2, boost)) else Nil
          case None =>
            CodeAnalyzer.analyze(w).filter(seen.add)
              .map(t => TermAtom(t, boost))
        }
      }
    }
  }

  /** Frozen expansion ranking: df DESC, term ASC, first `cap` kept —
    * deterministic, and what the DuckDB oracle reproduces with
    * `ORDER BY df DESC, token LIMIT cap`. */
  def rankExpansions(cands: Seq[(String, Long)], cap: Int): Seq[String] =
    cands.sortBy { case (t, d) => (-d, t) }.take(cap).map(_._1)

  /** Resolve scored atoms to the final WEIGHTED term order: atom order,
    * each prefix/fuzzy replaced in place by its (ranked, capped)
    * expansions, global first-occurrence dedup (first occurrence keeps
    * its boost; expansions inherit their atom's). The expand hooks are
    * the dictionary — the real engine's dict, or NaiveIndex's postings
    * keys. */
  def resolveScoredW(atoms: Seq[QueryAtom],
                     expand: String => Seq[String],
                     expandFuzzy: (String, Int) => Seq[String] =
                       (_, _) => throw new IllegalArgumentException(
                         "fuzzy atoms are not supported on this path"))
      : Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    val seen = mutable.HashSet.empty[String]
    atoms.foreach { a =>
      val terms = a match {
        case TermAtom(t, _) => Seq(t)
        case PrefixAtom(p, _) => expand(p)
        case FuzzyAtom(s, d, _) => expandFuzzy(s, d)
      }
      terms.foreach(t => if (seen.add(t)) out += (t -> a.boost))
    }
    out.result()
  }
}
