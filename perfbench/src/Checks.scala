package graft.perfbench

import graft.analyze.CodeAnalyzer
import graft.corpus.CorpusDoc
import graft.index._
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Output checks. They run outside every timed region; each failure
  * counts into the run's error rate. */
object Checks {
  private val Key = Seq("repo", "path", "commit")

  private def key(d: CorpusDoc) = (d.repo, d.path, d.commit)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The sha256 in each hit's docmeta equals its corpus row's. */
  def hitsMatchCorpus(ctx: Ctx, eng: QueryEngine, corpus: Seq[CorpusDoc],
                      docIds: Seq[Long]): Unit = {
    val ids = docIds.distinct
    if (ids.isEmpty) return
    val byKey = corpus.map(d => key(d) -> d.content).toMap
    val meta = eng.docmeta.where(col("docId").isin(ids: _*))
      .select("docId", "repo", "path", "commit", "sha256").collect()
      .map(r => r.getLong(0) -> (byKey.get((r.getString(1), r.getString(2), r.getString(3))),
        r.getString(4))).toMap
    ids.foreach { id =>
      val ok = meta.get(id).exists { case (content, sha) => content.map(sha256).contains(sha) }
      ctx.rec.check(ok, s"hit $id: docmeta sha256 differs from its corpus row")
    }
  }

  /** Scored queries: rank-identical docIds and float-identical scores
    * against an exhaustive BM25 scorer over the raw corpus (Lucene BM25,
    * per-doc sums in query-term order, the engine's expansion ranking). */
  def scoredMatchOracle(ctx: Ctx, corpus: Seq[CorpusDoc], eng: QueryEngine,
                        qs: Seq[RefQuery], expected: Map[Int, Seq[ScoredDoc]]): Unit = {
    val idOf = eng.docmeta.select("docId", "repo", "path", "commit").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(0)).toMap
    val docs = Workloads.parallel(ctx, corpus) { d =>
      val (tf, dl) = CodeAnalyzer.termFreqs(d.content)
      (idOf(key(d)), dl, tf)
    }.sortBy(_._1)
    val n = docs.length.toLong
    val avgdl = if (n == 0) 0.0 else docs.map(_._2.toLong).sum.toDouble / n
    val bm = Bm25(n, avgdl)
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
    val docLen = docs.map(d => d._1 -> d._2).toMap
    docs.foreach { case (id, _, tf) =>
      tf.foreach { case (t, f) => postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += (id -> f) }
    }
    val df: Map[String, Long] = postings.view.mapValues(_.size.toLong).toMap
    def expandPrefix(p: String): Seq[String] =
      QueryParser.rankExpansions(df.filter(_._1.startsWith(p)).toSeq,
        QueryParser.MaxScoredExpansions)
    def expandFuzzy(s: String, d: Int): Seq[String] =
      QueryParser.rankExpansions(df.filter(t => QueryParser.editDistanceLe(t._1, s, d)).toSeq,
        QueryParser.MaxScoredExpansions)

    qs.foreach { q =>
      val terms = QueryParser.resolveScoredW(QueryParser.parseScored(q.text),
        expandPrefix, expandFuzzy).filter(t => df.contains(t._1))
      val perTerm = terms.map { case (t, w) => (bm.idf(df(t)) * w, postings(t).toMap) }
      val cand = mutable.SortedSet.empty[Long]
      perTerm.foreach(p => cand ++= p._2.keys)
      val top = new ScoredDoc.TopK(q.k)
      cand.foreach { id =>
        var s = 0.0
        perTerm.foreach { case (idf, m) => m.get(id).foreach(tf => s += bm.score(idf, tf, docLen(id))) }
        top.offer(ScoredDoc(id, s))
      }
      val want = top.result()
      ctx.rec.check(expected(q.qid) == want,
        s"query ${q.qid} '${q.text}': engine ${expected(q.qid).take(3)} vs oracle ${want.take(3)}")
    }
  }

  /** Boolean queries: the workload's engine took the driver path under
    * the gate and the distributed one over it; the same query forced
    * down the other path (driverPathMaxPostings = 0 or unbounded) must
    * return the same hits. */
  def boolDriverEqualsDistributed(ctx: Ctx, root: String, qs: Seq[RefQuery],
                                  expected: Map[Int, Seq[ScoredDoc]],
                                  ranDistributed: RefQuery => Boolean): Unit = {
    val driver = new QueryEngine(ctx.spark, root, Long.MaxValue)
    val distributed = new QueryEngine(ctx.spark, root, 0L)
    Workloads.parallel(ctx, qs) { q =>
      val other = if (ranDistributed(q)) driver else distributed
      (q, other.booleanTopK(q.text, q.k))
    }.foreach { case (q, got) =>
      ctx.rec.check(got == expected(q.qid),
        s"query ${q.qid} '${q.text}': ${expected(q.qid).take(3)} on one path, " +
          s"${got.take(3)} on the other")
    }
  }
}
