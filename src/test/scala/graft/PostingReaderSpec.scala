package graft

import graft.corpus.CorpusGen
import graft.index._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The held-open postings reader against the Spark scan it replaces on
  * the driver path, over a multi-segment, unmerged index (a bulk build in
  * two passes of half the shards each, a small ingest batch that reaches
  * only some shards, and a batch built without positions), and again
  * after a tiered merge:
  *  - for every reference query's term set, plus a term missing from the
  *    dictionary, the reader's rows equal the scan's, byte for byte, in
  *    both projections;
  *  - under the driver gate, topK, booleanTopK and matchingDocIds run no
  *    Spark job (a gated search only its gate collect's), and their answers
  *    equal the distributed path's. */
class PostingReaderSpec extends AnyFunSuite with SparkSessionFixture {
  import spark.implicits._

  private lazy val root = {
    val work = Files.createTempDirectory(Paths.get("target"), "postreader")
      .toAbsolutePath.toString
    val r = s"$work/index"
    IndexBuilder.buildAll(spark, CorpusGen.dataset(spark, 240, 5L, 4), r,
      numShards = 4, shardsPerPass = 2)
    IndexBuilder.build(spark, spark.range(240, 243).map(i => CorpusGen.doc(5L, i)),
      r, 4, batch = 1)
    IndexBuilder.build(spark, spark.range(243, 330).map(i => CorpusGen.doc(5L, i)),
      r, 4, batch = 2, positions = false)
    r
  }

  private val scoredKinds = Set("", "prefix", "fuzzy")

  /** Every distinct term a query's postings read touches, expanded as the
    * engine expands it. */
  private def termsOf(eng: QueryEngine, q: String, kind: String): Seq[String] =
    if (scoredKinds(kind))
      QueryParser.resolveScoredW(QueryParser.parseScored(q), eng.expandPrefix(_)._1,
        eng.expandFuzzy(_, _)._1).map(_._1).distinct
    else {
      val gs = QueryParser.parseGroups(q)
      (gs.flatMap(g => g.terms ++ g.negTerms ++ g.phrases.flatten ++
          g.negPhrases.flatten ++ g.nearSpans.flatMap(_._1) ++ g.negNearSpans.flatMap(_._1)) ++
        gs.flatMap(g => g.prefixes ++ g.negPrefixes).flatMap(eng.expandPrefixAll(_).keys) ++
        gs.flatMap(g => g.fuzzies ++ g.negFuzzies).flatMap(f =>
          eng.expandFuzzyAll(f._1, f._2).keys)).distinct
    }

  /** A row as comparable values, every byte included. */
  private def norm(r: PostingRowPos) = (r.shard, r.term, r.df, r.bytes,
    r.blocks.map(_.toSeq), r.skips, Option(r.posBlocks).map(_.map(_.toSeq)))
  private def sorted(rs: Seq[PostingRowPos]) =
    rs.map(norm).sortBy(n => (n._1, n._2, n._6.head.firstDoc))

  private def checkRows(eng: QueryEngine): Unit = {
    val reader = new PostingReader(
      eng.manifest.segments.map(s => s"$root/${s.name}/postings"),
      spark.sparkContext.hadoopConfiguration)
    val termSets = ReferenceQueries.entries.map { case (_, q, _, kind) =>
      termsOf(eng, q, kind) } :+ Seq("zzqqnotaterm", "def")
    termSets.foreach { terms =>
      val full = eng.postingsFull.where(col("term").isin(terms: _*))
        .as[PostingRowPos].collect().toSeq
      val lite = eng.postings.where(col("term").isin(terms: _*)).as[PostingRow]
        .collect().toSeq.map(r => PostingRowPos(r.shard, r.term, r.df, r.bytes,
          r.blocks, r.skips, Nil))
      assert(full.nonEmpty)
      assert(sorted(reader.rows(terms, positions = true)) == sorted(full),
        s"positional rows differ for $terms")
      assert(sorted(reader.rows(terms, positions = false)) == sorted(lite),
        s"scoring-projection rows differ for $terms")
    }
    assert(reader.rows(Seq("zzqqnotaterm"), positions = true).isEmpty)
    assert(reader.rows(Nil, positions = false).isEmpty)
  }

  /** Spark jobs submitted while `body` runs: a marker job after it
    * flushes the asynchronous listener bus. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.put(
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      spark.sparkContext.setJobDescription("postreader-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      var n = 0
      var d = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (d != "postreader-marker") {
        assert(d != null, "listener saw no marker job")
        n += 1
        d = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      (out, n)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Every reference query through the engine's three walks: the hits,
    * or for matchingDocIds the (not yet collected) DataFrame; a phrase
    * query over segments without positions answers its rejection. */
  private def calls(eng: QueryEngine): Seq[Any] =
    ReferenceQueries.entries.map { case (_, q, k, kind) =>
      try {
        if (scoredKinds(kind)) eng.topK(q, k)
        else (eng.booleanTopK(q, k), eng.matchingDocIds(q))
      } catch { case e: IllegalArgumentException => e.getMessage }
    }

  private def collected(answers: Seq[Any]): Seq[Any] = answers.map {
    case (hits, ids: org.apache.spark.sql.Dataset[_]) =>
      (hits, ids.toDF().as[Long].collect().sorted.toSeq)
    case other => other
  }

  private def checkJobs(): Unit = {
    val driver = new QueryEngine(spark, root)
    // one job each per engine: the resident dictionary, docmeta's schema
    driver.topK("def", 1)
    driver.docmeta
    val (got, jobs) = jobsDuring(calls(driver))
    assert(jobs == 0, s"driver-path queries submitted $jobs Spark jobs")
    val hits = collected(got)
    assert(hits == collected(calls(new QueryEngine(spark, root, driverPathMaxPostings = 0L))))
    assert(hits.count { case s: Seq[_] => s.nonEmpty; case _ => false } >= 10)
    assert(hits.exists(_.isInstanceOf[(_, _)]))
    // a gated driver-path query runs the jobs of its limited gate collect
    // (Spark's incremental take), no postings job
    val gate = col("docLen") > 20
    val (gatedHits, gatedJobs) = jobsDuring(driver.run(SearchRequest("def return", 10,
      gate = Some(gate))))
    val (_, collectJobs) = jobsDuring(driver.docmeta.where(gate)
      .select(lit(0).as("_1"), col("docId").as("_2")).as[(Int, Long)]
      .limit(500001).collect())
    assert(collectJobs >= 1 && gatedJobs == collectJobs,
      s"gated driver-path query submitted $gatedJobs Spark jobs, its gate collect $collectJobs")
    assert(gatedHits.nonEmpty)
    assert(gatedHits == new QueryEngine(spark, root, driverPathMaxPostings = 0L)
      .run(SearchRequest("def return", 10, gate = Some(gate))))
  }

  test("reader rows equal the Spark scan's on an unmerged multi-segment index") {
    val m = new QueryEngine(spark, root).manifest
    assert(m.segments.size == 4)
    assert(m.segments.exists(_.lineage("positions") == "false"))
    checkRows(new QueryEngine(spark, root))
  }

  test("driver-path walks run no Spark job and answer like the distributed path") {
    checkJobs()
  }

  test("after a tiered merge: same rows, still no job") {
    SegmentMerge.tiered(spark, root, maxSegments = 2, fanIn = 2)
    assert(new QueryEngine(spark, root).manifest.segments.size <= 2)
    checkRows(new QueryEngine(spark, root))
    checkJobs()
  }
}
