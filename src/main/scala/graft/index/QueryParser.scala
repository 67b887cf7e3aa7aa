package graft.index

import graft.analyze.CodeAnalyzer
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.mutable

/** One OR-group: every term required (AND), every phrase required to
  * occur at consecutive post-filter token positions (near-spans: in
  * order within their slop). Phrase and near-span tokens are ALSO terms,
  * so scoring — the fixed-order sum over `terms` — is identical whether
  * a word arrived bare or quoted; the span only filters.
  *
  * `prefixes` (`term*`: some doc token starts with each) and `fuzzies`
  * (`word~1`: some doc token within that Levenshtein distance) FILTER,
  * never score (the Lucene/ES constant-score rewrite of multi-term
  * queries in boolean context), so group scores stay the plain sum over
  * `terms` and the SQL oracle stays expressible.
  *
  * Negations (the ES query_string `-` operator, must_not clauses) are
  * PROHIBITIONS — a doc matching any is excluded from the group:
  * `negTerms` if it contains ANY of them (`-word` prohibits every token
  * it analyzes to, ES must_not + match semantics; `-"a"` degrades to its
  * bare tokens), `negPrefixes` / `negFuzzies` / `negPhrases` /
  * `negNearSpans` like their positive twins. Prohibitions contribute
  * nothing to the score and their tokens are NOT group terms. */
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
  * DOCMETA columns, never the text: a field atom GATES candidates
  * (filter context: scoring statistics stay global) and never scores.
  * `eq` and (`lo`,`hi`) are exclusive; a `*` bound is open; `[`/`]` are
  * inclusive, `{`/`}` exclusive (mixes allowed, the Lucene grammar). */
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

/** Scored-query atom: a plain analyzed term, a trailing-`*` prefix or a
  * fuzzy stem. Wildcard words BYPASS the analyzer (the Lucene contract:
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

/** The two `query_string` surfaces, read by ONE lexer and ONE word
  * classifier. Lexing order: a query is cut into quoted spans (`-?"…"`,
  * then an optional `~n` slop and `^n` boost right after the closing
  * quote), range atoms (`-?field:[lo TO hi]` starting a word) and the
  * whitespace words between them; a quote with no partner is whitespace.
  * Quoted text is LITERAL on both surfaces: a span contributes only its
  * analyzed tokens, so no `*`, `~n`, `^n`, `field:value` or range inside
  * quotes is ever an operator. Each word is then classified once: a
  * `field:value` gate, a `word*` prefix, a `word~n` fuzzy, or text.
  *
  * BOOLEAN surface (`parseGroups`, "spaces are ANDs commas are ORs",
  * reference sentiment.py:638-641): OR groups split on ',' BEFORE lexing
  * (a phrase cannot span groups); a camelCase word can contribute
  * several required tokens; empty groups drop. A positive span's tokens
  * are group terms and, if two or more, a phrase (consecutive
  * post-filter positions, the ES match_phrase analogue) or with `~n` an
  * in-order near-span. A leading `-` negates a word or span (the ES
  * must_not operator, see MatchGroup). There are no boosts.
  *
  * SCORED surface (`parseScored`, the ES `match` analogue plus the `*`,
  * `~n`, `^n` word operators): no negation (`-foo` is the term `foo`)
  * and no fields (`splitFieldFilters` takes them out first). A span is
  * its tokens as plain terms in order; its `^n` boosts each of them (the
  * Lucene phrase boost), its `~n` is ignored. */
object QueryParser {

  /** The queryable FIELD surface: query field name -> (docmeta column,
    * numeric?). `id` is the source table's join key (docmeta.tableId),
    * `dlen` the analyzed token count (docmeta.docLen), the rest stored
    * strings. An unknown name rejects loudly in the RANGE form; in the
    * bare `name:value` form it is text, so pre-field queries keep their
    * meaning. */
  val Fields: Map[String, (String, Boolean)] = Map(
    "lang" -> ("lang", false), "repo" -> ("repo", false),
    "path" -> ("path", false), "commit" -> ("commit", false),
    "id" -> ("tableId", true), "dlen" -> ("docLen", true))

  /** A lexed piece of a query; `raw` is its text as typed. */
  private sealed trait Lexeme { def raw: String }
  /** `-?"text"` with its optional `~slop` / `^boost`. */
  private final case class Span(neg: Boolean, text: String, slop: Int,
                                boost: Double, raw: String) extends Lexeme
  /** `-?field:[lo TO hi]` (`{`/`}` exclusive). `stray`: one starting
    * mid-word (`foo-id:[1 TO 5]`), which the field surfaces reject. */
  private final case class Range(neg: Boolean, field: String, lo: String,
      hi: String, loInc: Boolean, hiInc: Boolean, raw: String,
      stray: Boolean) extends Lexeme
  private final case class Word(raw: String) extends Lexeme

  /** Java regex `\s`: the whitespace the query surfaces split on. */
  private def isSpace(c: Char): Boolean = " \t\n\u000B\f\r".indexOf(c) >= 0
  private def isFieldChar(c: Char): Boolean = c == '_' || c < 128 && c.isLetter

  private def runEnd(s: String, i: Int, ok: Char => Boolean): Int = {
    var j = i
    while (j < s.length && ok(s.charAt(j))) j += 1
    j
  }

  /** The range atom whose field name starts at `p`, with its end. Bounds
    * hold no whitespace, `]` or `}`; a `*` bound is open. */
  private def rangeAt(s: String, p: Int, neg: Boolean,
                      stray: Boolean): Option[(Range, Int)] = {
    val bound = (c: Char) => !isSpace(c) && c != ']' && c != '}'
    val f = runEnd(s, p, isFieldChar)
    if (f == p || f + 1 >= s.length || s.charAt(f) != ':' ||
        (s.charAt(f + 1) != '[' && s.charAt(f + 1) != '{')) return None
    val lo = runEnd(s, f + 2, bound)
    val to = runEnd(s, lo, isSpace)
    if (lo == f + 2 || to == lo || !s.startsWith("TO", to)) return None
    val hs = runEnd(s, to + 2, isSpace)
    val he = runEnd(s, hs, bound)
    if (hs == to + 2 || he == hs || he == s.length || isSpace(s.charAt(he)))
      return None
    Some((Range(neg, s.substring(p, f), s.substring(f + 2, lo),
      s.substring(hs, he), s.charAt(f + 1) == '[', s.charAt(he) == ']',
      s.substring(if (neg) p - 1 else p, he + 1), stray), he + 1))
  }

  /** Cut `s` into spans, ranges and words, left to right. A word ends at
    * whitespace or a quote; the next lexeme starts right after a span or
    * range, so `"a b"c` is a span and the word `c`. */
  private def lex(s: String): Seq[Lexeme] = {
    val out = Seq.newBuilder[Lexeme]
    val n = s.length
    def opens(q: Int) = q < n && s.charAt(q) == '"' && s.indexOf('"', q + 1) > 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val neg = c == '-'
      val at = if (neg) i + 1 else i
      if (isSpace(c) || (c == '"' && !opens(i))) i += 1
      else if (opens(at)) {
        val close = s.indexOf('"', at + 1)
        val d = runEnd(s, close + 2, x => x >= '0' && x <= '9')
        val e = if (s.startsWith("~", close + 1) && d > close + 2) d else close + 1
        val b = runEnd(s, e + 1, x => !isSpace(x) && x != '"')
        val boost = if (s.startsWith("^", e)) positiveNumber(s.substring(e + 1, b)) else None
        val end = if (boost.isEmpty) e else b
        out += Span(neg, s.substring(at + 1, close),
          if (e > close + 1) s.substring(close + 2, e).toInt else 0,
          boost.getOrElse(1.0), s.substring(i, end))
        i = end
      } else rangeAt(s, at, neg, stray = false) match {
        case Some((r, e)) => out += r; i = e
        case None =>
          var j = i + 1
          var stray: Option[(Range, Int)] = None
          while (stray.isEmpty && j < n && !isSpace(s.charAt(j)) &&
                 s.charAt(j) != '"') {
            if (isFieldChar(s.charAt(j)) && !isFieldChar(s.charAt(j - 1)))
              stray = rangeAt(s, j, neg = false, stray = true)
            if (stray.isEmpty) j += 1
          }
          out += Word(s.substring(i, j))
          i = stray.fold(j) { case (r, e) => out += r; e }
      }
    }
    out.result()
  }

  private def rangeFilter(r: Range): FieldFilter = {
    require(!r.stray, s"range filter '${r.raw}' does not start a word — " +
      "separate it with a space")
    val field = r.field.toLowerCase
    require(Fields.contains(field),
      s"unknown field '${r.field}' in range filter '${r.raw}' — " +
        s"queryable fields: ${Fields.keys.toSeq.sorted.mkString(", ")}")
    val Seq(lo, hi) = Seq(r.lo, r.hi).map(Some(_).filter(_ != "*"))
    require(lo.nonEmpty || hi.nonEmpty,
      s"range filter '${r.raw}' has no bounds (both sides are *)")
    FieldFilter(field, r.neg, None, lo, hi, r.loInc, r.hiInc).validate()
  }

  /** `-` negates only at word START: `a-b` is one positive word. */
  private def isNeg(w: String): Boolean = w.length >= 2 && w.charAt(0) == '-'

  /** Is this word a `field:value` equality filter, with an optional
    * leading `-`? Only for RECOGNIZED field names — anything else falls
    * through to the analyzer. The value is matched verbatim against the
    * stored column (keyword-field semantics — never analyzed). */
  private def fieldWord(w: String): Option[FieldFilter] = {
    val stem = if (isNeg(w)) w.tail else w
    val ci = stem.indexOf(':')
    val f = if (ci > 0) stem.substring(0, ci).toLowerCase else ""
    if (ci == stem.length - 1 || !Fields.contains(f)) None
    else Some(FieldFilter(f, isNeg(w), Some(stem.substring(ci + 1)),
      None, None).validate())
  }

  /** Classify a non-field word once: (negated?, operand). The boolean
    * surface reads a leading `-`, the scored surface a trailing `^boost`
    * instead (binding LAST: `mer*^2` boosts the wildcard). Then `word*`
    * is a PrefixAtom, `word~n` a FuzzyAtom, and anything else comes back
    * as a TermAtom of the RAW word, for the caller to analyze. */
  private def classify(w0: String, scored: Boolean): (Boolean, QueryAtom) = {
    val neg = !scored && isNeg(w0)
    val (w, boost) =
      if (scored) boostSuffix(w0) else (if (neg) w0.tail else w0, 1.0)
    (neg, wildcardStem(w).map(PrefixAtom(_, boost))
      .orElse(fuzzyStem(w).map { case (s, d) => FuzzyAtom(s, d, boost) })
      .getOrElse(TermAtom(w, boost)))
  }

  /** Conjunction of compiled field predicates (a Column over docmeta). */
  def compileFields(fs: Seq[FieldFilter]): Column =
    fs.map(_.predicate).reduce(_ && _)

  /** (range filters, then `field:value` filters; the other lexemes). */
  private def takeFields(ls: Seq[Lexeme]): (Seq[FieldFilter], Seq[Lexeme]) = {
    val ranges = ls.collect { case r: Range => rangeFilter(r) }
    val (eqs, rest) = ls.filter(!_.isInstanceOf[Range]).partitionMap {
      case l @ Word(w) => fieldWord(w).toLeft(l)
      case l => Right(l)
    }
    (ranges ++ eqs, rest)
  }

  /** Split the SCORED surface's field atoms out of a query: (residual
    * scored query, field filters). Every other lexeme, quoted spans
    * included, stays in the residual as typed, for parseScored. */
  def splitFieldFilters(query: String): (String, Seq[FieldFilter]) = {
    if (query == null || query.isEmpty) return (query, Nil)
    val (fields, rest) = takeFields(lex(query))
    (rest.map(_.raw).mkString(" "), fields)
  }

  /** Cap on dictionary expansions of one prefix in SCORED contexts (the
    * Lucene top-terms rewrite budget), RANKED df-desc, term-asc before
    * the cut so the kept terms are deterministic and SQL-reproducible.
    * Filter contexts (boolean groups, WHERE match()) expand UNCAPPED:
    * they are constant-score, and a cap would diverge from row level. */
  val MaxScoredExpansions = 64

  /** Is this word a trailing-wildcard prefix? (one `*`, at the end,
    * non-empty stem). Anything else — `*` alone, `a*b` — is left to the
    * analyzer, which strips the `*` like any punctuation. */
  private def wildcardStem(w: String): Option[String] =
    if (w.length >= 2 && w.endsWith("*") && !w.init.contains("*"))
      Some(w.init.toLowerCase)
    else None

  /** Lucene's fuzzy hard cap (the banded dict scan stops there too). */
  val MaxFuzzyEd = 2

  /** Is this word a fuzzy term? (`stem~`, `stem~0..2`; non-empty stem,
    * one `~`). Bare `~` is distance 2 (the Lucene default); the stem is
    * lowercased verbatim. A distance above 2 rejects LOUDLY rather than
    * silently clamping to something the user did not ask for. */
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

  /** A boost value: a positive, finite number. */
  private def positiveNumber(s: String): Option[Double] =
    scala.util.Try(s.toDouble).toOption.filter(b => b > 0.0 && !b.isInfinite)

  /** Strip a trailing `^<positive number>` boost (the Lucene boost
    * operator): (word without it, boost). A malformed suffix (`^`, `^x`,
    * `^-2`, second `^`) is not boost syntax: the word stays whole. */
  private def boostSuffix(w: String): (String, Double) = {
    val ci = w.lastIndexOf('^')
    if (ci <= 0 || w.indexOf('^') != ci) (w, 1.0)
    else positiveNumber(w.substring(ci + 1))
      .fold((w, 1.0))(b => (w.substring(0, ci), b))
  }

  /** One polarity's share of a boolean group, filled in query order. */
  private final class Side {
    val terms, prefixes = mutable.Buffer.empty[String]
    val fuzzies = mutable.Buffer.empty[(String, Int)]
    val phrases = mutable.Buffer.empty[Seq[String]]
    val near = mutable.Buffer.empty[(Seq[String], Int)]
  }

  def parseGroups(query: String): Seq[MatchGroup] = {
    val out = query.split(',').toSeq.map { g =>
      val pos, neg = new Side
      val (fields, rest) = takeFields(lex(g))
      rest.foreach {
        case Span(n, text, slop, _, _) =>
          val toks = CodeAnalyzer.analyze(text)
          val side = if (n) neg else pos
          if (!n || toks.length < 2) side.terms ++= toks
          if (toks.length >= 2) {
            if (slop == 0) side.phrases += toks else side.near += ((toks, slop))
          }
        case l =>
          val (n, atom) = classify(l.raw, scored = false)
          val side = if (n) neg else pos
          atom match {
            case PrefixAtom(p, _) => side.prefixes += p
            case FuzzyAtom(s, d, _) => side.fuzzies += ((s, d))
            case TermAtom(t, _) => side.terms ++= CodeAnalyzer.analyze(t)
          }
      }
      MatchGroup(pos.terms.distinct.toSeq, pos.phrases.toSeq,
        pos.prefixes.distinct.toSeq, neg.terms.distinct.toSeq,
        neg.prefixes.distinct.toSeq, neg.phrases.toSeq,
        pos.fuzzies.distinct.toSeq, neg.fuzzies.distinct.toSeq,
        pos.near.toSeq, neg.near.toSeq, fields)
    }
    // a group with prohibitions or gates but no positive requirement is
    // rejected LOUDLY: Lucene matches nothing on must_not-only clauses,
    // and walking the complement at corpus scale is an accidental scan
    out.foreach { g =>
      require(g.terms.nonEmpty || g.prefixes.nonEmpty || g.fuzzies.nonEmpty ||
        (g.negTerms.isEmpty && g.negPrefixes.isEmpty &&
          g.negPhrases.isEmpty && g.negFuzzies.isEmpty &&
          g.negNearSpans.isEmpty && g.fields.isEmpty),
        s"pure-negative or field-only group in query '$query': every " +
          "OR-group carrying a negation or a field filter needs a required " +
          "term/prefix/fuzzy — field atoms GATE text matches, they do not " +
          "enumerate documents (select on metadata with a SQL predicate)")
    }
    out.filter(g => g.terms.nonEmpty || g.prefixes.nonEmpty ||
      g.fuzzies.nonEmpty)
  }

  /** The SCORED parse: atoms in query order (the frozen float-sum
    * order); duplicates drop, the first occurrence keeping its boost. A
    * range atom here is no filter: it reads as the words it is made of. */
  def parseScored(query: String): Seq[QueryAtom] = {
    if (query == null || query.isEmpty) return Nil
    def text(t: String, boost: Double) =
      CodeAnalyzer.analyze(t).map(TermAtom(_, boost))
    def word(w: String) = classify(w, scored = true)._2 match {
      case TermAtom(t, boost) => text(t, boost)
      case atom => Seq(atom)
    }
    lex(query).flatMap {
      case s: Span => text(s.text, s.boost)
      case r: Range => r.raw.split("\\s+").toSeq.flatMap(word)
      case l => word(l.raw)
    }.distinctBy {
      case TermAtom(t, _) => t
      case PrefixAtom(p, _) => (p, "*")
      case FuzzyAtom(s, d, _) => (s, d)
    }
  }

  /** In-order sloppy-span check over an analyzed token stream: do the
    * span's tokens occur in order with (last − first) ≤ tokens−1+slop?
    * Greedy earliest-next minimizes the width per start, so this is
    * exact: the reference for the engine's position-array walk. */
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

  /** Frozen expansion ranking: df DESC, term ASC, first `cap` kept —
    * deterministic, and what the DuckDB oracle reproduces with
    * `ORDER BY df DESC, token LIMIT cap`. */
  def rankExpansions(cands: Seq[(String, Long)], cap: Int): Seq[String] =
    cands.sortBy { case (t, d) => (-d, t) }.take(cap).map(_._1)

  /** Resolve scored atoms to the final WEIGHTED term order: atom order,
    * each prefix/fuzzy replaced in place by its (ranked, capped)
    * expansions, first-occurrence dedup (expansions inherit their atom's
    * boost). The expand hooks are the dictionary (the engine's dict, or
    * NaiveIndex's postings keys). */
  def resolveScoredW(atoms: Seq[QueryAtom],
                     expand: String => Seq[String],
                     expandFuzzy: (String, Int) => Seq[String] =
                       (_, _) => throw new IllegalArgumentException(
                         "fuzzy atoms are not supported on this path"))
      : Seq[(String, Double)] =
    atoms.flatMap { a =>
      (a match {
        case TermAtom(t, _) => Seq(t)
        case PrefixAtom(p, _) => expand(p)
        case FuzzyAtom(s, d, _) => expandFuzzy(s, d)
      }).map(_ -> a.boost)
    }.distinctBy(_._1)
}
