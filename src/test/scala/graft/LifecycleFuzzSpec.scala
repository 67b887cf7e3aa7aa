package graft

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, NaiveIndex, QueryEngine, SearchRequest, SegmentMerge}
import graft.table.IcebergLite
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Model-based lifecycle fuzz: a seeded-random interleaving of every
  * maintenance operation the index supports — incremental ingest, full
  * merge, tiered merge, compact-and-rebase, physical GC — with full
  * query parity (docIds AND scores, disjunctive AND boolean) against
  * the in-memory oracle after EVERY step. The targeted specs each pin
  * one transition; this pins arbitrary compositions of them — the
  * orderings a long-lived production index actually visits. */
class LifecycleFuzzSpec extends AnyFunSuite with SparkSessionFixture {

  test("random ingest/merge/tiered/rebase/gc sequences keep exact query parity") {
    import spark.implicits._
    // pinned seed in CI (bounded runtime); sweep more via the env knob:
    //   GRAFT_LIFEFUZZ_SEED=n sbt "testOnly graft.LifecycleFuzzSpec"
    val fuzzSeed = sys.env.get("GRAFT_LIFEFUZZ_SEED").map(_.toLong)
      .getOrElse(20260817L)
    val rng = new scala.util.Random(fuzzSeed)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "lifefuzz").toString + "/idx"
    val numShards = 4
    val seed = 99L

    var nextDoc = 0L
    var nextBatch = 1
    def ingest(n: Long, batch: Int): Unit = {
      val lo = nextDoc
      nextDoc += n
      IndexBuilder.build(spark,
        spark.range(lo, lo + n).map(i => CorpusGen.doc(seed, i)),
        root, numShards, batch = batch, resume = batch == 0)
    }
    ingest(150, batch = 0) // bulk base

    val queries = Seq("def return", "computeHashValue",
      "posting reader segment", "val match case")
    val boolQueries = Seq("def return, val match", "reader, segment writer")
    // quoted spans: positions must survive every random lifecycle
    // interleaving (merge re-blocking, rebase renumbering, appends)
    val phraseQueries = Seq("\"posting reader\" def",
      "\"merge sorted runs\", \"block max score\"")
    val prefixQueries = Seq("merge* runs", "var*")
    val negQueries = Seq("posting -reader", "merge -\"sorted runs\" -var*")
    val fuzzyQueries = Seq("raeder~2 posting", "tokn~1, merge -postin~1")
    val nearQueries = Seq("\"posting reader\"~2",
      "\"merge runs\"~3, def -\"posting reader\"~1")

    def checkParity(step: String): Unit = {
      val eng = new QueryEngine(spark, root)
      val byKey = (0L until nextDoc).map(i => CorpusGen.doc(seed, i))
        .map(d => (d.repo, d.path, d.commit) -> d.content).toMap
      val metaFull = eng.docmeta
        .select("docId", "repo", "path", "commit", "lang", "docLen").collect()
      val meta = metaFull
        .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getString(3))))
      val langOf: Map[Long, String] =
        metaFull.map(r => r.getLong(0) -> r.getString(4)).toMap
      val dlenOf: Map[Long, Int] =
        metaFull.map(r => r.getLong(0) -> r.getInt(5)).toMap
      assert(meta.length.toLong == nextDoc, s"$step: doc count")
      val oracle = new NaiveIndex(
        meta.toSeq.map { case (id, k) => (id, byKey(k)) })
      queries.foreach { q =>
        val got = eng.topK(q, 10)
        val exp = oracle.topK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: '$q' docIds")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: '$q' scores") }
      }
      boolQueries.foreach { q =>
        val got = eng.booleanTopK(q, 10)
        val exp = oracle.booleanTopK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: bool '$q'")
      }
      phraseQueries.foreach { q =>
        val got = eng.booleanTopK(q, 10)
        val exp = oracle.booleanTopK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: phrase '$q'")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: phrase '$q' scores") }
      }
      // wildcards: the dict-backed expansion must track every lifecycle
      // step (a merge materializes the dict; appends invalidate it back
      // to derived dfs — expansion ranking must stay oracle-identical)
      prefixQueries.foreach { q =>
        val got = eng.topK(q, 10)
        val exp = oracle.topK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: prefix '$q'")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: prefix '$q' scores") }
        val gotB = eng.booleanTopK(q + ", post* reader", 10)
        val expB = oracle.booleanTopK(q + ", post* reader", 10)
        assert(gotB.map(_.docId) == expB.map(_.docId), s"$step: boolprefix '$q'")
      }
      // prohibitions: exclusion cursors (and negated-phrase positions)
      // must survive merge re-blocking and rebase renumbering too
      negQueries.foreach { q =>
        val got = eng.booleanTopK(q, 10)
        val exp = oracle.booleanTopK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: neg '$q'")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: neg '$q' scores") }
      }
      // fuzzy expansions re-resolve against the CURRENT dict every step
      fuzzyQueries.foreach { q =>
        val got = eng.booleanTopK(q, 10)
        val exp = oracle.booleanTopK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: fuzzy '$q'")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: fuzzy '$q' scores") }
      }
      // sloppy spans read the same posBlocks the phrase parity reads
      nearQueries.foreach { q =>
        val got = eng.booleanTopK(q, 10)
        val exp = oracle.booleanTopK(q, 10)
        assert(got.map(_.docId) == exp.map(_.docId), s"$step: near '$q'")
        got.zip(exp).foreach { case (g, e) =>
          assert(g.score == e.score, s"$step: near '$q' scores") }
      }
      // filtered search must track renumbering too (rebase rewrites the
      // docIds the filter set is built from)
      val gotF = eng.run(SearchRequest("posting reader", 10,
        gate = Some(expr("docId % 2 = 0"))))
      val expF = oracle.topKFiltered("posting reader", 10, _ % 2 == 0)
      assert(gotF.map(_.docId) == expF.map(_.docId), s"$step: filtered")
      gotF.zip(expF).foreach { case (g, e) =>
        assert(g.score == e.score, s"$step: filtered scores") }
      // r7 field gates: the per-group docmeta gates join on docIds that
      // every rebase renumbers — both surfaces must track the CURRENT
      // snapshot's ids (engine and oracle evaluate the same metadata)
      val fieldVal: (Long, String) => Any = (id, f) => f match {
        case "lang" => langOf(id)
        case "dlen" => dlenOf(id)
        case other => throw new IllegalArgumentException(other)
      }
      val fq = "posting lang:scala, reader -lang:scala dlen:[5 TO 400]"
      val gotFq = eng.booleanTopK(fq, 10)
      val expFq = oracle.booleanTopK(fq, 10, fieldVal)
      assert(gotFq.map(_.docId) == expFq.map(_.docId), s"$step: fieldbool")
      gotFq.zip(expFq).foreach { case (g, e) =>
        assert(g.score == e.score, s"$step: fieldbool scores") }
      val gotQs = eng.run(SearchRequest.queryString("posting reader lang:scala", 10))
      val expQs = oracle.topKFiltered("posting reader", 10,
        id => langOf(id) == "scala")
      assert(gotQs.map(_.docId) == expQs.map(_.docId), s"$step: fieldscored")
      gotQs.zip(expQs).foreach { case (g, e) =>
        assert(g.score == e.score, s"$step: fieldscored scores") }
      // boosts and deep pagination on the scored path, every step
      val bq = "posting^2 reader"
      val gotB = eng.topK(bq, 10)
      val expB = oracle.topK(bq, 10)
      assert(gotB.map(_.docId) == expB.map(_.docId), s"$step: boosted")
      gotB.zip(expB).foreach { case (g, e) =>
        assert(g.score == e.score, s"$step: boosted scores") }
      if (gotB.nonEmpty) {
        val c = gotB.last
        val gotP = eng.run(SearchRequest(bq, 10, after = Some((c.score, c.docId))))
        val expP = oracle.topKAfter(bq, 10, c.score, c.docId)
        assert(gotP.map(_.docId) == expP.map(_.docId), s"$step: page2")
      }
    }
    checkParity("after bulk")

    val log = new StringBuilder
    (1 to 10).foreach { step =>
      val op = rng.nextInt(6)
      val what = op match {
        case 0 | 1 =>
          val n = 20 + rng.nextInt(60)
          ingest(n, nextBatch)
          nextBatch += 1
          s"ingest(+$n, batch ${nextBatch - 1})"
        case 2 =>
          SegmentMerge.merge(spark, root); "merge"
        case 3 =>
          val target = 1 + rng.nextInt(3)
          SegmentMerge.tiered(spark, root, maxSegments = target)
          s"tiered(max $target)"
        case 4 =>
          val m = SegmentMerge.rebase(spark, root)
          // the stream keeps its monotonically increasing raw ids; after
          // a rebase the next raw id must still map to effective >= 1
          assert(nextBatch > m.batchBase, "raw batch ids stay ahead of the base")
          s"rebase(base ${m.batchBase})"
        case 5 =>
          val n = new IcebergLite(root).gc().size; s"gc($n dead)"
      }
      log.append(s"$step:$what ")
      checkParity(s"step $step [$what] (history: $log)")
    }
  }
}
