package graft.tools

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, QueryEngine, SearchRequest}
import graft.ops.SearchOps.workDir
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Adversarial probes at the library surface (edge inputs a user would
  * hit): empty/garbage queries, unknown terms, punctuation-only text,
  * rebuild-over-existing-index, wrong numShards. Scratch tool, not part
  * of the driver contract. */
object VerifyProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = s"$workDir/probe-index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val corpus = CorpusGen.dataset(spark, 300, 42L, 4)
    IndexBuilder.build(spark, corpus, root, numShards = 4)
    val eng = new QueryEngine(spark, root)
    def filtered(q: String, k: Int, pred: String) =
      eng.run(SearchRequest(q, k, gate = Some(expr(pred))))
    def qs(q: String, k: Int) = eng.run(SearchRequest.queryString(q, k))

    println("PROBE unknown-term topK -> " + eng.topK("zzzznotaterm qqqqq", 10))
    println("PROBE empty-query topK -> " + eng.topK("", 10))
    println("PROBE punct-only query -> " + eng.topK("!!! ??? ...", 10))
    println("PROBE stopword-only query -> " + eng.topK("the and of", 10))
    println("PROBE bool with dead group -> " +
      eng.booleanTopK("zzzznotaterm qqq, def return", 3).size + " hits (dead AND-group dropped)")
    println("PROBE bool all-dead -> " + eng.booleanTopK("zzzz, qqqq", 3))
    println("PROBE k=0 -> " + eng.topK("def", 0))
    println("PROBE huge k -> " + eng.topK("computeHashValue", 100000).size + " hits")
    println("PROBE search no hits -> " + eng.search(SearchRequest("zzzznotaterm", 5)).count() + " rows")

    // wildcard edges: dead prefix, bare '*', '*' mid-word (analyzer
    // strips it), prefix-only boolean group, cap truncation
    println("PROBE prefix topK -> " + eng.topK("merge*", 5).size + " hits")
    println("PROBE dead-prefix topK -> " + eng.topK("zzzz*", 5))
    println("PROBE bare-star topK -> " + eng.topK("*", 5))
    println("PROBE mid-star topK ('de*f' == 'de f') -> " + eng.topK("de*f", 5).size + " hits")
    println("PROBE prefix-only bool -> " + eng.booleanTopK("var*", 5).size +
      " hits (constant score " + eng.booleanTopK("var*", 1).map(_.score) + ")")
    println("PROBE dead-prefix group -> " + eng.booleanTopK("zzz* def, return", 3).size +
      " hits (dead group dropped)")
    val (kept, total) = eng.expandPrefix("s", cap = 2)
    println(s"PROBE expansion cap -> kept=${kept.size} of total=$total: $kept")
    // negation edges: live exclusion, dead-neg no-op, self-prohibition,
    // pure-negative rejection (scored surface has no operators: '-x' == x)
    println("PROBE neg bool -> " + eng.booleanTopK("posting -reader", 5).size +
      " hits (anchor alone " + eng.booleanTopK("posting", 5).size + ")")
    println("PROBE dead-neg no-op -> " +
      eng.booleanTopK("posting -zzzznope -zzz* -\"zzz qqq\"", 5).size + " hits")
    println("PROBE self-neg -> " + eng.booleanTopK("merge -merge", 5))
    try {
      eng.booleanTopK("-posting", 5)
      println("PROBE pure-negative -> NO ERROR (BAD)")
    } catch { case e: IllegalArgumentException =>
      println("PROBE pure-negative -> rejected: " + e.getMessage.take(60)) }
    println("PROBE scored '-x'==x -> " +
      (eng.topK("-merge", 5) == eng.topK("merge", 5)))
    // fuzzy edges: expansion hit, exact ~0, dead stem, loud distance cap,
    // fuzzy-only boolean group, negated fuzzy
    println("PROBE fuzzy topK -> " + eng.topK("raeder~2", 5).size + " hits")
    println("PROBE fuzzy ~0 == exact -> " +
      (eng.topK("reader~0", 5) == eng.topK("reader", 5)))
    println("PROBE dead-fuzzy topK -> " + eng.topK("zzzznope~1", 5))
    try {
      eng.topK("reader~3", 5)
      println("PROBE fuzzy ed>2 -> NO ERROR (BAD)")
    } catch { case e: IllegalArgumentException =>
      println("PROBE fuzzy ed>2 -> rejected: " + e.getMessage.take(60)) }
    println("PROBE fuzzy-only bool -> " + eng.booleanTopK("tokn~1", 5).size +
      " hits (constant score " + eng.booleanTopK("tokn~1", 1).map(_.score) + ")")
    println("PROBE neg-fuzzy bool -> " +
      eng.booleanTopK("posting -raeder~1", 5).size + " hits")
    // filtered search edges: real filter, empty filter, always-true
    // filter == unfiltered, bad predicate loud
    println("PROBE filtered topK -> " +
      filtered("posting reader", 5, "lang = 'scala'").size + " hits")
    println("PROBE filtered empty-filter -> " +
      filtered("posting reader", 5, "lang = 'nope'"))
    println("PROBE filtered always-true == plain -> " +
      (filtered("posting reader", 5, "docId >= 0") ==
        eng.topK("posting reader", 5)))
    try {
      filtered("posting", 5, "no_such_column = 1")
      println("PROBE filtered bad-pred -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE filtered bad-pred -> rejected: " + e.getMessage.take(60)) }
    // boost + pagination edges
    println("PROBE boost ^1 == plain -> " +
      (eng.topK("posting^1 reader", 5) == eng.topK("posting reader", 5)))
    println("PROBE boost reorders -> " +
      (eng.topK("posting reader^8", 5).map(_.docId) !=
        eng.topK("posting reader", 5).map(_.docId)))
    println("PROBE boost malformed '^x' -> " +
      eng.topK("posting^x", 5).size + " hits (word analyzed, not lost)")
    val pg1 = eng.topK("posting reader", 5)
    val pg2 = eng.run(SearchRequest("posting reader", 5,
      after = Some((pg1.last.score, pg1.last.docId))))
    println("PROBE search_after page2 -> " + pg2.size + " hits, overlap=" +
      pg1.map(_.docId).toSet.intersect(pg2.map(_.docId).toSet).size)
    println("PROBE search_after past-end -> " +
      eng.run(SearchRequest("posting reader", 5, after = Some((-1e18, Long.MaxValue)))))
    // sloppy spans + minimum_should_match edges
    println("PROBE near widths -> slop0=" +
      eng.booleanTopK("\"posting reader\"~0", 100000).size + " slop3=" +
      eng.booleanTopK("\"posting reader\"~3", 100000).size + " (wider >=)")
    println("PROBE near slop0 == exact -> " +
      (eng.booleanTopK("\"posting reader\"~0", 10) ==
        eng.booleanTopK("\"posting reader\"", 10)))
    // field-scoped / range syntax (r7): gated == explicit-predicate path,
    // open bounds, negated fields, loud rejects for field-only and
    // unknown-range-field queries
    println("PROBE field query-string gate == explicit gate -> " +
      (qs("posting reader lang:scala", 5) ==
        filtered("posting reader", 5, "lang = 'scala'")))
    println("PROBE field range open-bound -> " +
      qs("posting dlen:[1 TO *]", 5).size + " hits")
    println("PROBE field negated -> " +
      qs("posting -lang:scala", 5).size + " hits")
    println("PROBE field bool group-scoped -> " +
      eng.booleanTopK("posting lang:scala, reader -lang:scala", 5).size + " hits")
    try { qs("lang:scala", 5); println("PROBE field-only scored -> MISSED") }
    catch { case e: IllegalArgumentException =>
      println("PROBE field-only scored -> rejected: " + e.getMessage.take(60)) }
    try { qs("posting date:[1 TO 2]", 5); println("PROBE field unknown-range -> MISSED") }
    catch { case e: IllegalArgumentException =>
      println("PROBE field unknown-range -> rejected: " + e.getMessage.take(60)) }
    try { qs("posting id:abc", 5); println("PROBE field bad-numeric -> MISSED") }
    catch { case e: IllegalArgumentException =>
      println("PROBE field bad-numeric -> rejected: " + e.getMessage.take(60)) }
    println("PROBE field unknown-bare falls through -> " +
      (qs("posting date:x", 5).size) + " hits (analyzed, not lost)")
    println("PROBE min_match m=1 == plain -> " +
      (eng.run(SearchRequest("posting reader segment", 5, minMatch = 1)) ==
        eng.topK("posting reader segment", 5)))
    println("PROBE min_match m>clauses -> " +
      eng.run(SearchRequest("posting reader", 5, minMatch = 3)))
    val hlDoc = eng.booleanTopK("posting reader", 1).head.docId
    println("PROBE highlight -> " +
      eng.highlight("posting reader", hlDoc).map(h =>
        s"${h.term}@${h.positions.mkString("/")}").mkString(" "))
    println("PROBE highlight wildcard -> " +
      eng.highlight("post*", hlDoc).size + " terms")
    println("PROBE highlight unknown doc -> " + eng.highlight("def", -1L))

    // rebuild over a committed index: must be a no-op (all shards done)
    val r = IndexBuilder.build(spark, corpus, root, numShards = 4)
    println("PROBE rebuild over done index -> builtShards=" + r.builtShards)

    // wrong numShards on an existing index: must fail loudly, not corrupt
    try {
      IndexBuilder.build(spark, corpus, root, numShards = 8)
      println("PROBE wrong-shards -> NO ERROR (BAD)")
    } catch {
      case e: IllegalArgumentException =>
        println("PROBE wrong-shards -> rejected: " + e.getMessage.take(80))
    }

    // S11/S12 lifecycle: create -> drop -> recreate over the same root
    val lifeRoot = s"$workDir/probe-lifecycle"
    val lifeTbl = new graft.table.IcebergLite(lifeRoot)
    IndexBuilder.build(spark, corpus, lifeRoot, numShards = 4)
    lifeTbl.drop()
    println("PROBE drop -> exists=" + lifeTbl.exists +
      " manifest=" + lifeTbl.currentManifest())
    val re = IndexBuilder.build(spark, corpus, lifeRoot, numShards = 4)
    println("PROBE recreate after drop -> docs=" + re.manifest.numDocs)
    lifeTbl.drop()

    // open an engine on a nonexistent index
    try { new QueryEngine(spark, s"$workDir/nope"); println("PROBE open-missing -> NO ERROR (BAD)") }
    catch { case e: IllegalStateException => println("PROBE open-missing -> rejected: " + e.getMessage.take(60)) }

    // SQL TVF surface: good call, malformed args, unknown root
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val sx = SparkSession.builder().master("local[8]")
      .withExtensions(new graft.GraftExtensions()).getOrCreate()
    println("PROBE sql match_topk -> " + sx.sql(
      s"SELECT count(*) AS n FROM match_topk('$root', 'def return', 5)")
      .collect().head.getLong(0) + " rows")
    try {
      sx.sql(s"SELECT * FROM match_topk('$root', 7, 5)").collect()
      println("PROBE sql match_topk bad-arg -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql match_topk bad-arg -> rejected: " + e.getMessage.take(60)) }
    try {
      sx.sql("SELECT * FROM match_topk('/nope', 'def', 5)").collect()
      println("PROBE sql match_topk missing-root -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql match_topk missing-root -> rejected: " + e.getMessage.take(60)) }

    // ANN TVF surface: every method, k=0, bad method, missing dataset
    val sf = "/root/testdata/sf0.001"
    Seq("lsh", "multiprobe", "ivf", "brute").foreach { m =>
      println(s"PROBE sql ann_topk $m -> " + sx.sql(
        s"SELECT count(*) AS n FROM ann_topk('$sf', '$m', 5)")
        .collect().head.getLong(0) + " rows")
    }
    println("PROBE sql ann_topk k=0 -> " + sx.sql(
      s"SELECT count(*) AS n FROM ann_topk('$sf', 'lsh', 0)")
      .collect().head.getLong(0) + " rows")
    // literal-vector query (serving-time path): the caller brings the
    // embedding as a string literal instead of naming a stored vec_id
    val vlit = graft.ops.AnnOps.QueryVecLiteral
    println("PROBE sql ann_topk literal-vec -> " + sx.sql(
      s"SELECT count(*) AS n FROM ann_topk('$sf', 'brute', 5, '$vlit')")
      .collect().head.getLong(0) + " rows")
    try {
      sx.sql(s"SELECT * FROM ann_topk('$sf', 'brute', 5, '0.1,0.2')").collect()
      println("PROBE sql ann_topk short-vec -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql ann_topk short-vec -> rejected: " + e.getMessage.take(60)) }
    try {
      sx.sql(s"SELECT * FROM ann_topk('$sf', 'brute', 5, 'a,b,c')").collect()
      println("PROBE sql ann_topk garbage-vec -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql ann_topk garbage-vec -> rejected: " + e.getMessage.take(60)) }
    try {
      sx.sql(s"SELECT * FROM ann_topk('$sf', 'hnsw', 5)").collect()
      println("PROBE sql ann_topk bad-method -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql ann_topk bad-method -> rejected: " + e.getMessage.take(60)) }
    try {
      sx.sql("SELECT * FROM ann_topk('/nope', 'lsh', 5)").collect()
      println("PROBE sql ann_topk missing-dataset -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE sql ann_topk missing-dataset -> rejected: " + e.getMessage.take(60)) }

    // explain_score TVF: breakdown sums to the hit's score; empty edges
    val eTop = sx.sql(
      "SELECT docId, score FROM match_topk('" +
        s"$root', 'computeHashValue', 1)").collect()
    if (eTop.nonEmpty) {
      val ex = sx.sql(s"SELECT * FROM explain_score('$root', " +
        s"'computeHashValue', ${eTop.head.getLong(0)})").collect()
      val sum = ex.map(_.getAs[Double]("contribution")).foldLeft(0.0)(_ + _)
      println(s"PROBE sql explain_score -> ${ex.length} terms, " +
        s"sum==score: ${sum == eTop.head.getDouble(1)}")
    }

    // match() WHERE-predicate: rewrite path, fallback path, edge queries
    graft.GraftSql.ensureMatchSupport(sx)
    graft.ops.Tables.t(sx, sf, "documents").createOrReplaceTempView("pdocs")
    val nRewrite = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'spark query, merge join')")
      .collect().head.getLong(0)
    println(s"PROBE sql where-match -> $nRewrite rows")
    val nFallback = sx.sql(
      "SELECT count(*) AS n FROM (SELECT concat(text, '') AS body FROM pdocs) " +
        "WHERE match(body, 'spark query, merge join')")
      .collect().head.getLong(0)
    println("PROBE where-match fallback-eval -> " + nFallback +
      s" rows (agree=${nFallback == nRewrite})")
    println("PROBE where-match empty query -> " + sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, '')")
      .collect().head.getLong(0) + " rows")
    println("PROBE where-match unknown terms -> " + sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'zzz qqq')")
      .collect().head.getLong(0) + " rows")
    // phrase edges: quoted spans, unbalanced quote, stopword-only phrase
    val nPhrase = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, '\"merge join\" spark')")
      .collect().head.getLong(0)
    val nLoose = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'merge join spark')")
      .collect().head.getLong(0)
    println(s"PROBE where-match phrase -> $nPhrase rows " +
      s"(tighter-than-loose=${nPhrase < nLoose})")
    println("PROBE where-match unbalanced quote -> " + sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, '\"merge join spark')")
      .collect().head.getLong(0) + s" rows (== loose ${nLoose})")
    println("PROBE where-match stopword phrase -> " + sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, '\"the a\" spark')")
      .collect().head.getLong(0) + " rows")
    println("PROBE where-match unknown phrase -> " + sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, '\"zzz qqq\"')")
      .collect().head.getLong(0) + " rows")
    try {
      sx.sql("SELECT * FROM pdocs WHERE match(text, 7)").collect()
      println("PROBE where-match bad-arg -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE where-match bad-arg -> rejected: " + e.getMessage.take(60)) }
    // negation through the semi-join rewrite: exclusion == exact
    // complement of (anchor AND banned), and the row-eval fallback agrees
    val nNegIdx = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'merge -join')")
      .collect().head.getLong(0)
    val nNegRow = sx.sql(
      "SELECT count(*) AS n FROM pdocs " +
        "WHERE match(text || '', 'merge -join')") // non-attr arg: row eval
      .collect().head.getLong(0)
    val nAnchor = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'merge')")
      .collect().head.getLong(0)
    val nBoth = sx.sql(
      "SELECT count(*) AS n FROM pdocs WHERE match(text, 'merge join')")
      .collect().head.getLong(0)
    println(s"PROBE where-match negation -> $nNegIdx rows " +
      s"(row-eval agree=${nNegIdx == nNegRow}, " +
      s"complement-exact=${nNegIdx == nAnchor - nBoth})")
    try {
      sx.sql("SELECT count(*) FROM pdocs WHERE match(text, '-merge')").collect()
      println("PROBE where-match pure-negative -> NO ERROR (BAD)")
    } catch { case e: Exception =>
      println("PROBE where-match pure-negative -> rejected: " +
        e.getMessage.take(60)) }

    // rebase lifecycle: ingest near the batch budget, rebase, keep going
    val rbRoot = s"$workDir/probe-rebase"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rbRoot))
    IndexBuilder.build(sx, corpus, rbRoot, numShards = 4)
    import sx.implicits._
    IndexBuilder.build(sx,
      sx.range(300, 330).map(i => CorpusGen.doc(42L, i)), rbRoot, 4, batch = 2047)
    val preRebase = new QueryEngine(sx, rbRoot).topK("def return", 5)
    val rm = graft.index.SegmentMerge.rebase(sx, rbRoot)
    val postRebase = new QueryEngine(sx, rbRoot).topK("def return", 5)
    println("PROBE rebase -> batchBase=" + rm.batchBase +
      " scoresIdentical=" + (preRebase.map(_.score) == postRebase.map(_.score)))
    val after = IndexBuilder.build(sx,
      sx.range(330, 360).map(i => CorpusGen.doc(42L, i)), rbRoot, 4, batch = 2048)
    println("PROBE post-rebase ingest -> docs=" + after.docs +
      " numDocs=" + after.manifest.numDocs)

    sx.stop()
  }
}
