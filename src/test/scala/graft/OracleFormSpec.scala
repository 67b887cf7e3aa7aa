package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static guards over the generated DuckDB oracle SQL — the desync
  * classes a typo in one of many hand-written oracle strings could
  * introduce without any test noticing until the driver gate fails. */
class OracleFormSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("fold-safe roundings use matching multiplier and divisor") {
    // floor((e) * M + 0.5) / D is only the cross-engine rounding when
    // M == D — a typo'd exponent in one copy would silently desync that
    // oracle from its Spark twin. The tail tolerates line wraps (q10's
    // running-sum oracle wraps before the divisor).
    val pat = """floor\(\((?s).*?\) \* (\d+\.0) \+ 0\.5\)\s*/\s*(\d+\.0)""".r
    var found = 0
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      pat.findAllMatchIn(sql).foreach { m =>
        found += 1
        assert(m.group(1) == m.group(2),
          s"$name: rounding multiplier ${m.group(1)} != divisor ${m.group(2)}")
      }
    }
    assert(found >= 25, s"expected the fold-safe form throughout, found $found")
  }

  test("no oracle uses the engine-divergent builtins") {
    // list_cosine_similarity: unpinned summation order (and -1.0 on zero
    // vectors); round(): Spark rounds the exact binary value (HALF_UP)
    // while DuckDB rounds a decimal rendering — knife-edge divergence.
    // Both are banned outright; every rounding goes through the fold-safe
    // floor form (Tables.rd / rdSql) instead.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("list_cosine_similarity"),
        s"$name uses list_cosine_similarity")
      assert(!sql.contains("round("), s"$name uses engine-divergent round()")
    }
  }

  test("PhraseGroups stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseGroups(graft.ops.SearchOps.PhraseQuery)
    assert(parsed.map(g => (g.terms, g.phrases)) ===
      graft.ops.SearchOps.PhraseGroups)
  }

  test("FuzzyAtoms stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseScored(graft.ops.SearchOps.FuzzyQuery)
    assert(parsed === graft.ops.SearchOps.FuzzyAtoms.map(f =>
      graft.index.FuzzyAtom(f._1, f._2)))
  }

  test("BoostedTerms stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseScored(graft.ops.SearchOps.BoostedQuery)
    assert(parsed === graft.ops.SearchOps.BoostedTerms.map(t =>
      graft.index.TermAtom(t._1, t._2)))
  }

  test("NearGroups stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseGroups(graft.ops.SearchOps.NearQuery)
    assert(parsed.map(g => (g.terms, g.nearSpans)) ===
      graft.ops.SearchOps.NearGroups)
  }

  test("NegGroups stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseGroups(graft.ops.SearchOps.NegQuery)
    assert(parsed.map(g =>
      (g.terms, g.phrases, g.negTerms, g.negPrefixes, g.negPhrases)) ===
      graft.ops.SearchOps.NegGroups)
  }

  test("Near3Groups stays in lockstep with the query parser") {
    val parsed = graft.index.QueryParser
      .parseGroups(graft.ops.SearchOps.Near3Query)
    assert(parsed.map(g => (g.terms, g.nearSpans)) ===
      graft.ops.SearchOps.Near3Groups)
  }

  test("QSFieldQuery splits to the oracle's exact gate (q92/q95 pin)") {
    // the q92/q95 oracles hard-code lang='en' AND doc_id BETWEEN 100 AND
    // 400 — pin that the parser derives exactly that predicate from the
    // query string, so the constants cannot drift apart silently
    val (residual, fs) = graft.index.QueryParser
      .splitFieldFilters(graft.ops.SearchOps.QSFieldQuery)
    assert(residual === "spark query join")
    import org.apache.spark.sql.functions.col
    assert(graft.index.QueryParser.compileFields(fs) ==
      (col("tableId") >= 100L && col("tableId") <= 400L && col("lang") === "en"))
  }
}
