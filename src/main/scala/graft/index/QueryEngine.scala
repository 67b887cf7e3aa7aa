package graft.index

import graft.table.IcebergLite
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/**
 * Read path: BM25 top-k over the committed index — the engine-side
 * replacement for the ES `_search` ranking the reference relies on
 * (analyzed fields in the reference's sentiment.py:782-793; dashboard
 * reads its export.json).
 *
 * Read shape (scale-first):
 *   dict lookup (driver-resident map, or a term-filtered parquet read)
 *   -> per document-shard block-max WAND top-k over that shard's posting
 *      rows of the query terms, read by PostingReader (each term
 *      binary-searched to its pages in the page index held since open;
 *      postings files are term-major, one shard each, in 4-row pages, so
 *      a read decodes only its terms' pages) — shards score in parallel,
 *      the ES "query phase": on the driver path as tasks of one
 *      engine-wide pool of one thread per available processor, on the
 *      distributed path as one Spark task per shard
 *   -> global top-k merge of the per-shard top-k on the driver (the ES
 *      "reduce phase")
 *   -> docmeta fetch for the k winners only (IN-filter, pushed down).
 *
 * Small posting volumes (below ~0.5M postings) take the driver path: the
 * held-open reader walks every shard with no Spark job (a gated query
 * runs only its one-job gate collect). Larger ones run one Spark job
 * with one task per shard; each task reads only the pages the driver
 * selected in its own shard's files and runs the same walk, with no
 * Catalyst plan and no postings shuffle. The
 * distributed path is the 10^12-doc route and already won at 1M docs in
 * its earlier scan-and-group form (measured p95 0.30s vs 5.7s
 * driver-side). Selection is automatic from the dictionary's df totals,
 * in one place: the per-shard executor, whose one-shard walks are also
 * the point lookups.
 *
 * Jobs: every function the query path hands Spark lives in [[ShardJobs]],
 * and every job is one `runJob(rdd, (TaskContext, Iterator) => U,
 * partitions, handler)` call, never `rdd.collect()`: Spark's
 * ClosureCleaner ASM-parses the class that defines each function on
 * every job, and ShardJobs' class is small where QueryEngine's, RDD's and
 * SparkContext's are not (a 4-partition job on 4 vCPU: ~10.5 ms as a
 * collect, ~4 ms this way).
 */
object QueryEngine {
  private final class ShardThread(r: Runnable, n: Int) extends Thread(r, s"graft-shard-$n") {
    setDaemon(true)
  }

  /** The engine-wide shard-scoring pool: one fixed thread per available
    * processor, shared by every engine, so concurrent queries queue on it
    * instead of oversubscribing the host. */
  private lazy val shardPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors, (r: Runnable) => new ShardThread(r, n.getAndIncrement()))
  }

  /** `tasks`' answers, in task order, computed concurrently on the shard
    * pool. One task, or a call from a pool thread (a query issued inside a
    * shard task), runs inline on the caller, so nesting cannot deadlock. */
  private[graft] def onShardPool[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1 || Thread.currentThread.isInstanceOf[ShardThread]) tasks.map(_())
    else {
      val fs = tasks.map(t => shardPool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = t()
      }))
      try fs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } finally fs.foreach(_.cancel(false))
    }

  /** The ONE place per-term cursors are built from posting rows (every
    * walk and point lookup): sub-lists of a term sorted by first docId,
    * wrapped with the term's idf — PRE-MULTIPLIED by its query boost
    * (`word^2`), which scales scores AND every WAND bound consistently
    * (both derive from the cursor's idf). Positions ride along when the
    * read took them (rows read without them carry none — curPositions
    * then rejects loudly). Kept static so distributed closures capture
    * only (bm, dfs, weights). */
  private[index] def termCursors(rs: Seq[PostingRowPos], bm: Bm25,
      dfs: Map[String, Long],
      weights: Map[String, Double] = Map.empty)
      : Map[String, PostingCursor] =
    rs.groupBy(_.term).map { case (t, subs) =>
      val sorted = subs.sortBy(_.skips.head.firstDoc)
      t -> new PostingCursor(t, bm.idf(dfs(t)) * weights.getOrElse(t, 1.0),
        sorted.map(r => (r.blocks, r.skips, r.posBlocks)), bm)
    }

  /** All of one prepared group's per-shard cursors: required-term map,
    * one cursor set per required union (prefix/fuzzy expansion), one
    * exclusion cursor per prohibited term, and each negated phrase's OWN
    * cursor map (tokens may overlap the required terms — sharing cursors
    * would double-advance). Static: distributed closures must capture
    * only (bm, dfs) and the prepared groups. */
  private[index] def groupCursorSets(group: PreparedGroup,
      rs: Seq[PostingRowPos], bm: Bm25, dfsB: Map[String, Long])
      : (Map[String, PostingCursor], Seq[Seq[PostingCursor]],
         Seq[PostingCursor], Seq[(Seq[String], Map[String, PostingCursor])],
         Seq[(Seq[String], Int, Map[String, PostingCursor])]) = {
    val cur = termCursors(
      rs.filter(r => group.terms.contains(r.term)), bm, dfsB)
    // one cursor set per required union: this shard's posting rows of
    // the expansion terms (an empty set kills the group in this shard)
    val preSets = group.reqSets.map(s =>
      termCursors(rs.filter(r => s.contains(r.term)), bm, dfsB)
        .values.toSeq)
    val negCur =
      if (group.exclTerms.isEmpty) Nil
      else termCursors(
        rs.filter(r => group.exclTerms.contains(r.term)), bm, dfsB)
        .values.toSeq
    val negPh = group.negPhrases.map { ph =>
      val phSet = ph.toSet
      ph -> termCursors(rs.filter(r => phSet.contains(r.term)), bm, dfsB)
    }
    // negated sloppy spans carry their own cursor maps, same reason
    val negNear = group.negNearSpans.map { case (ph, slop) =>
      val phSet = ph.toSet
      (ph, slop,
        termCursors(rs.filter(r => phSet.contains(r.term)), bm, dfsB))
    }
    (cur, preSets, negCur, negPh, negNear)
  }

  /** One shard's (gate index, docId) rows -> per-gate SORTED docId
    * arrays (the allowedCursor input). Static: runs inside the gated
    * walk's shard tasks. */
  private[index] def sortGates(ts: Array[(Int, Long)]): Map[Int, Array[Long]] =
    ts.groupBy(_._1).map { case (i, ps) =>
      val arr = ps.map(_._2)
      java.util.Arrays.sort(arr)
      i -> arr
    }

  /** The required cursors a gated walk joins in one shard: none when
    * ungated; the gate's allowed set as one cursor (gates filter, never
    * score); None when the gate allows no doc in this shard (the walk
    * is dead here). */
  private[index] def required(gate: Option[Int], gates: Map[Int, Array[Long]])
      : Option[Seq[DocCursor]] = gate match {
    case None => Some(Nil)
    case Some(i) => gates.get(i).map(arr => Seq(WandScorer.allowedCursor(arr)))
  }

  /** Each live group's leapfrog over one shard's rows, docIds ascending
    * with the group's summed BM25; a group whose gate allows nothing in
    * this shard is dead here. */
  private[index] def groupMatches(groups: Seq[PreparedGroup],
      rs: Seq[PostingRowPos], gates: Map[Int, Array[Long]], bm: Bm25,
      dfs: Map[String, Long]): Seq[Iterator[ScoredDoc]] =
    groups.flatMap { group =>
      required(group.gate, gates).map { req =>
        val (cur, preSets, negCur, negPh, negNear) =
          groupCursorSets(group, rs, bm, dfs)
        WandScorer.conjunctive(group.terms, cur, group.phrases, preSets,
          negCur, negPh, group.nearSpans, negNear, req)
      }
    }

  /** One shard's boolean top-k. Memory-bounded EXACT scoring: each
    * AND-group keeps only its own TopK(k) while streaming its
    * intersection (never the full match set — two hot terms AND-ed would
    * otherwise accumulate O(matches) entries). Exactness: a doc's final
    * score is max over groups of the group sum; if the doc is in the
    * global top-k, then in its best-scoring group fewer than k docs beat
    * it (any group-mate with a higher group score has a final score at
    * least that high), so the doc survives that group's TopK(k) and the
    * merge sees its true max. Merge state is O(groups * k). */
  private[index] def bestOfGroups(groups: Seq[Iterator[ScoredDoc]],
                                  k: Int): Iterator[ScoredDoc] = {
    val best = scala.collection.mutable.HashMap.empty[Long, Double]
    groups.foreach { it =>
      val groupTop = new ScoredDoc.TopK(k)
      it.foreach(groupTop.offer)
      groupTop.result().foreach { sd =>
        val prev = best.get(sd.docId)
        if (prev.isEmpty || sd.score > prev.get) best(sd.docId) = sd.score
      }
    }
    val top = new ScoredDoc.TopK(k)
    best.toSeq.sortBy(_._1).foreach { case (id, s) => top.offer(ScoredDoc(id, s)) }
    top.result().iterator
  }

  /** One shard's match set: per-group ASCENDING emission + O(groups)-state
    * min-merge dedup — each group's leapfrog yields docIds in order, so
    * deduping across OR-groups only needs every iterator's HEAD; executor
    * memory is O(groups), never the O(shard-matches) hash set a dense
    * multi-group match would accumulate. */
  private[index] def unionAscending(groups: Seq[Iterator[ScoredDoc]])
      : Iterator[Long] = {
    val its = groups.map(_.map(_.docId).buffered).toArray
    new Iterator[Long] {
      def hasNext: Boolean = its.exists(_.hasNext)
      def next(): Long = {
        var m = Long.MaxValue
        var i = 0
        while (i < its.length) {
          val it = its(i)
          if (it.hasNext && it.head < m) m = it.head
          i += 1
        }
        i = 0
        while (i < its.length) {
          val it = its(i)
          while (it.hasNext && it.head == m) it.next()
          i += 1
        }
        m
      }
    }
  }
}

/** Every function the query path hands Spark, and its job submission
  * (see the QueryEngine header): kept in this small class because Spark's
  * ClosureCleaner parses the defining class of each function per job.
  * Per-query state (terms, the walk) rides in the functions' captures,
  * which the cleaner serializes but never parses. */
private[index] object ShardJobs {
  /** One shard's walk over its rows and (gate index -> sorted allowed
    * docIds). */
  type Walk[R] = (Seq[PostingRowPos], Map[Int, Array[Long]]) => Iterator[R]

  /** `walk` over one shard's rows; a shard with no rows walks nothing. */
  def walkRows[R](rs: Seq[PostingRowPos], gates: Map[Int, Array[Long]],
                  walk: Walk[R]): Iterator[R] =
    if (rs.isEmpty) Iterator.empty else walk(rs, gates)

  private def read(terms: Seq[String], positions: Boolean,
                   conf: Broadcast[SerializableConfiguration],
                   shard: Int, pages: Seq[PostingReader.FilePages]): Seq[PostingRowPos] =
    PostingReader.readPages(pages, terms, positions, Some(shard), conf.value.value)

  /** An ungated shard task: read the (shard, page selection) it was
    * handed and walk it. */
  def walkShard[R](terms: Seq[String], positions: Boolean,
                   conf: Broadcast[SerializableConfiguration], walk: Walk[R])
      : ((Int, Seq[PostingReader.FilePages])) => Iterator[R] = { case (s, pages) =>
    walkRows(read(terms, positions, conf, s, pages), Map.empty, walk)
  }

  /** A gated shard task: its (shard, page selection) zipped with the
    * (shard, (gate index, docId)) ids shuffled to it. */
  def gatedWalk[R](terms: Seq[String], positions: Boolean,
                   conf: Broadcast[SerializableConfiguration], walk: Walk[R])
      : (Iterator[(Int, Seq[PostingReader.FilePages])], Iterator[(Int, (Int, Long))])
        => Iterator[R] = { (selected, allowed) =>
    val gates = QueryEngine.sortGates(allowed.map(_._2).toArray)
    selected.flatMap { case (s, pages) =>
      walkRows(read(terms, positions, conf, s, pages), gates, walk)
    }
  }

  /** A (gate index, docId) row keyed by its docId's shard. */
  val keyByShard: ((Int, Long)) => (Int, (Int, Long)) = t => IndexBuilder.shardOf(t._2) -> t

  private val all: (TaskContext, Iterator[Any]) => Vector[Any] = (_, it) => it.toVector

  /** Every row of `rdd`, partitions in order, in one job. */
  def collect[R](rdd: RDD[R]): Seq[R] = {
    val parts = new Array[Vector[Any]](rdd.getNumPartitions)
    rdd.sparkContext.runJob(rdd.asInstanceOf[RDD[Any]], all, parts.indices,
      (i: Int, part: Vector[Any]) => parts(i) = part)
    parts.iterator.flatten.toVector.asInstanceOf[Vector[R]]
  }

  /** Every row of `rdd` when it holds at most `max`, else None, in ONE
    * job (a `limit` collect is Spark's incremental take, 2-3 jobs): each
    * partition sends at most max+1 rows, and the driver keeps them only
    * while the total stays within `max`. */
  def collectUpTo(rdd: RDD[(Int, Long)], max: Long): Option[Array[(Int, Long)]] = {
    // overflow-safe limit: a threshold near Long.MaxValue clamps
    val per = if (max >= Int.MaxValue) Int.MaxValue else (max + 1).toInt
    val got = ArrayBuffer.empty[(Int, Long)]
    var over = false
    rdd.sparkContext.runJob(rdd, upTo(per), 0 until rdd.getNumPartitions,
      (_: Int, part: Array[(Int, Long)]) => if (!over) {
        got ++= part
        if (got.length > max) { over = true; got.clear() }
      })
    if (over) None else Some(got.toArray)
  }

  private def upTo(per: Int): (TaskContext, Iterator[(Int, Long)]) => Array[(Int, Long)] =
    (_, it) => it.take(per).toArray
}

/** One OR-group with its filter-context expansions RESOLVED against the
  * dictionary: each required union (a `prefix*` or `stem~n`) as a
  * concrete term set, all prohibitions (negated terms + negated
  * prefix/fuzzy expansions) folded into one exclusion set, and the index
  * of its field gate among the walk's gates. What the distributed
  * scoring closures ship — never the engine itself. */
final case class PreparedGroup(terms: Seq[String], phrases: Seq[Seq[String]],
                               reqSets: Seq[Set[String]],
                               exclTerms: Set[String],
                               negPhrases: Seq[Seq[String]],
                               nearSpans: Seq[(Seq[String], Int)] = Nil,
                               negNearSpans: Seq[(Seq[String], Int)] = Nil,
                               gate: Option[Int] = None)
  extends Serializable

/** One search, the body of an ES `_search` call.
  *
  * Scored mode (the ES `match` query) is a disjunctive BM25 top-k:
  * `word*` words expand to their ranked, capped dictionary terms in
  * place (each scored like any term — the Lucene top-terms rewrite),
  * `word~n` likewise, and `word^2.5` multiplies the word's contributions
  * (the boost pre-multiplies the cursor idf, so WAND bounds scale with
  * the scores). Three WAND-evaluation gates compose freely on it:
  *  - `gate`, a boolean Column over docmeta (the ES filter context):
  *    candidates outside it are leapfrogged WITHOUT scoring, and scoring
  *    statistics stay GLOBAL, so a doc's score is identical with or
  *    without the gate;
  *  - `after`, the search_after cursor: only docs STRICTLY after
  *    (score, docId) in the global (score desc, docId asc) order heap,
  *    so per-shard state stays O(k) at any page depth and, scores being
  *    bit-stable across pages, the cursor is exact;
  *  - `minMatch` (minimum_should_match): only docs containing at least
  *    that many DISTINCT resolved query terms compete; a query term
  *    absent from the dictionary is a clause that never matches, so
  *    minMatch > the present-term count yields no hits (the ES rule).
  *
  * Boolean mode ("spaces are ANDs commas are ORs", quoted phrases,
  * prefixes and fuzzies filter, `-` prohibits; doc score = max over
  * matching AND-groups of the group's summed BM25) gates each OR-group
  * through the field atoms in its own query text, and takes none of the
  * three. */
final case class SearchRequest(query: String, k: Int,
                               boolMode: Boolean = false,
                               gate: Option[Column] = None,
                               after: Option[(Double, Long)] = None,
                               minMatch: Int = 1) {
  require(!boolMode || (gate.isEmpty && after.isEmpty && minMatch == 1),
    "a boolean request takes no gate, search_after cursor or minMatch — " +
      "field atoms in its query gate each OR-group")
}

object SearchRequest {
  /** The full `query_string` SCORED surface: field and range atoms
    * (`lang:en`, `id:[100 TO 400]`, `-repo:web` — the Kibana filter-bar
    * syntax every reference panel pairs with its query) compile to the
    * docmeta gate, ANDed after an explicit `filter`; the residual scores
    * like any scored query. */
  def queryString(query: String, k: Int, filter: Option[Column] = None,
                  after: Option[(Double, Long)] = None): SearchRequest = {
    val (residual, fields) = QueryParser.splitFieldFilters(query)
    // same loud contract as the boolean parser's anchor rule: a
    // field-only query has nothing to RANK (every gate-passing doc
    // would score 0.0) — metadata-only selection is a SQL predicate
    require(residual.trim.nonEmpty || fields.isEmpty,
      s"field-only scored query '$query' has no text to rank — add a " +
        "query term, or select on metadata with a plain SQL predicate")
    SearchRequest(residual, k,
      gate = (filter.toSeq ++ fields.map(_.predicate)).reduceOption(_ && _),
      after = after)
  }
}

final class QueryEngine(spark: SparkSession, val root: String,
                        driverPathMaxPostings: Long = 500000L) extends Serializable {
  import spark.implicits._

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[QueryEngine])

  private val tbl = new IcebergLite(root)
  val manifest = tbl.currentManifest()
    .getOrElse(throw new IllegalStateException(s"no committed snapshot at $root"))
  // loud gate: a pre-v4 durable root (no posBlocks/tableId parquet
  // columns) must fail HERE with a rebuild message, not deep inside the
  // first query with an unresolved-column AnalysisException
  IndexBuilder.requireFormat(manifest, root, spark.sparkContext.hadoopConfiguration)
  val bm25: Bm25 = Bm25(manifest.numDocs, manifest.avgdl)

  private val postingPaths = manifest.segments.map(s => s"$root/${s.name}/postings")
  private val docmetaPaths = manifest.segments.map(s => s"$root/${s.name}/docmeta")

  // lazy vals: file listings + parquet footers are resolved once per
  // engine, not once per query (ES analogue: segments held open).
  /** Full stored rows, positions included, as a Spark scan. The query
    * path reads through `postingReader`; this scan serves the
    * uncompacted `dict` derivation and callers outside the engine. */
  lazy val postingsFull: DataFrame = spark.read.parquet(postingPaths: _*)
  /** The scoring projection of the scan: posBlocks pruned out (the
    * Lucene .doc/.pos split as column pruning). */
  lazy val postings: DataFrame = postingsFull.select(
    PostingRow.LiteCols.map(col): _*)
  lazy val docmeta: DataFrame = spark.read.parquet(docmetaPaths: _*)
  @transient private lazy val hadoopConf = spark.sessionState.newHadoopConf()
  /** The snapshot's postings files, footers held open: every posting
    * read of the query path (opened by the first query). */
  @transient private lazy val postingReader = new PostingReader(postingPaths, hadoopConf)
  /** The Hadoop conf the distributed path's shard tasks open files with,
    * shipped once per engine. */
  @transient private lazy val taskConf =
    spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))

  /** Every committed segment was built with positions — the phrase-query
    * precondition. */
  lazy val hasPositions: Boolean = manifest.segments.nonEmpty &&
    manifest.segments.forall(_.lineage.get("positions").contains("true"))
  /** Global (term -> df). Compacted snapshots ship a materialized,
    * per-version dict file (SegmentMerge) — the right call at 10^12 docs,
    * where deriving dfs from postings at engine-open is a real job;
    * pre-compaction snapshots derive it from the immutable postings
    * (column-pruned scan). Either way the source is owned by THIS
    * snapshot, so readers pinned to old manifests stay isolated. */
  lazy val dict: DataFrame = manifest.dict match {
    case Some(d) => spark.read.parquet(s"$root/$d")
    case None => postings.groupBy("term").agg(sum("df").as("df"))
  }

  /** Driver-resident term dictionary, like Lucene's in-memory terms dict —
    * loaded once when the vocabulary is small enough; huge vocabularies
    * fall back to a pushdown-filtered parquet lookup per query. */
  private val maxResidentDictTerms = 5000000L
  private lazy val residentDict: Option[Map[String, Long]] = {
    val subListRows = manifest.segments.map(_.metrics.terms).sum
    if (subListRows <= maxResidentDictTerms)
      Some(dict.select("term", "df").as[(String, Long)].collect().toMap)
    else None
  }

  /** (term -> global df) for the query's terms; missing terms dropped. */
  private def termDfs(terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else residentDict match {
      case Some(m) => terms.flatMap(t => m.get(t).map(t -> _)).toMap
      case None => dict.where(col("term").isin(terms: _*))
        .select("term", "df").as[(String, Long)].collect().toMap
    }

  /** ALL dictionary terms starting with `prefix`, with global dfs — the
    * FILTER-context expansion (uncapped: constant-score, so extra terms
    * only tighten the walk, and a cap would silently diverge from the
    * row-level `startsWith` semantics). The non-resident path is a
    * pushdown-filtered scan of the sorted dict parquet (StringStartsWith
    * range-prunes row groups via column min/max). */
  def expandPrefixAll(prefix: String): Map[String, Long] =
    if (prefix.isEmpty) Map.empty
    else residentDict match {
      case Some(m) => m.filter { case (t, _) => t.startsWith(prefix) }
      case None => dict.where(col("term").startsWith(prefix))
        .select("term", "df").as[(String, Long)].collect().toMap
    }

  /** SCORED-context expansion of one `prefix*`: the
    * QueryParser.MaxScoredExpansions highest-df dictionary terms with
    * the prefix (term-asc tie-break — frozen, SQL-reproducible), plus
    * the TOTAL match count so callers can see what the cap dropped
    * (reported by the cap-metrics query, like the dedup caps q47/q49). */
  def expandPrefix(prefix: String,
                   cap: Int = QueryParser.MaxScoredExpansions)
      : (Seq[String], Long) = {
    val all = expandPrefixAll(prefix)
    (QueryParser.rankExpansions(all.toSeq, cap), all.size.toLong)
  }

  /** ALL dictionary terms within `maxEd` edits of `stem`, with global
    * dfs — the FILTER-context fuzzy expansion (uncapped, same reasoning
    * as expandPrefixAll). The non-resident path is a length-banded dict
    * scan with Spark's thresholded `levenshtein` (returns -1 above the
    * threshold, so the DP exits early per term) — the vocabulary is the
    * small table here; without an FST automaton a banded scan is the
    * honest cost, parallelized over the dict's partitions. */
  def expandFuzzyAll(stem: String, maxEd: Int): Map[String, Long] =
    if (stem.isEmpty) Map.empty
    else residentDict match {
      case Some(m) => m.filter { case (t, _) =>
        QueryParser.editDistanceLe(t, stem, maxEd) }
      case None => dict.where(
          length(col("term")).between(stem.length - maxEd, stem.length + maxEd) &&
          levenshtein(lit(stem), col("term"), maxEd) >= 0)
        .select("term", "df").as[(String, Long)].collect().toMap
    }

  /** SCORED-context fuzzy expansion: ranked df-desc/term-asc, capped,
    * plus the uncapped total (the q79 cap-metrics pattern). */
  def expandFuzzy(stem: String, maxEd: Int,
                  cap: Int = QueryParser.MaxScoredExpansions)
      : (Seq[String], Long) = {
    val all = expandFuzzyAll(stem, maxEd)
    (QueryParser.rankExpansions(all.toSeq, cap), all.size.toLong)
  }

  /** Disjunctive BM25 top-k; (docId, score) best-first. */
  def topK(query: String, k: Int): Seq[ScoredDoc] = run(SearchRequest(query, k))

  /** Boolean keyword top-k ("spaces are ANDs commas are ORs"). */
  def booleanTopK(query: String, k: Int): Seq[ScoredDoc] =
    run(SearchRequest(query, k, boolMode = true))

  /** Run one search request: its top-k (docId, score) best-first, ties
    * by docId ascending. */
  def run(req: SearchRequest): Seq[ScoredDoc] = {
    val k = req.k
    val shards =
      if (req.boolMode) booleanWalk(req.query)(QueryEngine.bestOfGroups(_, k))
      else scoredWalk(req)
    shards.fold(Seq.empty[ScoredDoc])(_.fold(identity, ShardJobs.collect))
      .sorted(ScoredDoc.betterOrdering).take(k)
  }

  /** run(req) joined with document metadata, display-ordered. */
  def search(req: SearchRequest): DataFrame = {
    val hits = run(req)
    if (hits.isEmpty) // zero hits: empty DF with the REAL output schema,
      return docmeta.withColumn("score", lit(0.0)).where(lit(false))
    val ids = hits.map(_.docId)
    val meta = docmeta.where(col("docId").isin(ids: _*)) // IN-pushdown, k rows
    meta.join(broadcast(hits.toDF("docId", "score")), Seq("docId"))
      .orderBy(desc("score"), asc("docId"))
  }

  /** Per-shard walk results: on the driver path, the collected shard
    * outputs; on the distributed path, the job (not yet run). */
  private type Shards[R] = Either[Seq[R], RDD[R]]

  /** The ONE driver-vs-distributed fork of every posting walk: `walk`
    * runs once per document shard (every shard, or only `shard`) over the
    * shard's PostingReader rows of `terms` (posBlocks only when
    * `positions`) and its (gate index -> sorted allowed docIds); a shard
    * with no rows walks nothing. Within `driverPathMaxPostings` of
    * `volume`, the driver's held-open reader serves every shard with no
    * Spark job: each shard reads and walks as its own task on the shard
    * pool (one thread per processor), and the outputs concatenate in
    * shard order. Over it, the walk is one job (run by its caller) of one
    * task per shard, shipped the pages the driver's reader selected in
    * the shard's files (so a pinned engine keeps its snapshot); the tasks'
    * functions are [[ShardJobs]]', so the job's closure cleaning parses
    * only that small class. Gates are docmeta predicates, pushed down. A
    * small gated walk collects at most limit+1 allowed ids in one job
    * (within the limit the array IS every allowed id); over it, the ids
    * are shuffled to their shard's task, never to the driver. */
  private def perShard[R: ClassTag](terms: Seq[String], positions: Boolean,
      volume: Long, gates: Seq[Column], shard: Option[Int] = None)
      (walk: ShardJobs.Walk[R]): Shards[R] = {
    val ids = shard.fold(0 until manifest.numShards: Seq[Int])(Seq(_))
    val reader = postingReader
    def onDriver(gatesOf: Int => Map[Int, Array[Long]]): Shards[R] =
      Left(QueryEngine.onShardPool(ids.map { s => () =>
        ShardJobs.walkRows(reader.rows(terms, positions, Some(s)), gatesOf(s), walk).toVector
      }).flatten)
    // one partition per walked shard, in shard order (partition id ==
    // shard when every shard walks), holding the shard's page selection
    def selections: RDD[(Int, Seq[PostingReader.FilePages])] =
      spark.sparkContext.parallelize(ids.map(s => s -> reader.select(terms, Some(s))), ids.size)
    val small = volume <= driverPathMaxPostings
    if (gates.isEmpty) {
      if (small) onDriver(_ => Map.empty)
      else Right(selections.flatMap(ShardJobs.walkShard(terms, positions, taskConf, walk)))
    } else {
      val allowed = gates.zipWithIndex.map { case (g, i) =>
        docmeta.where(g)
          .select(lit(i).cast("int").as("_1"), col("docId").as("_2"))
          .as[(Int, Long)]
      }.reduce(_ union _)
      val local = if (small) ShardJobs.collectUpTo(allowed.rdd, driverPathMaxPostings) else None
      local match {
        case Some(a) =>
          val byShard = a.groupBy(t => IndexBuilder.shardOf(t._2))
            .map { case (s, ts) => s -> QueryEngine.sortGates(ts) }
          onDriver(byShard.getOrElse(_, Map.empty))
        case None =>
          // HashPartitioner is the identity on shard ids 0 until numShards
          val allowedByShard = allowed.rdd.map(ShardJobs.keyByShard)
            .partitionBy(new HashPartitioner(manifest.numShards))
          Right(selections.zipPartitions(allowedByShard)(
            ShardJobs.gatedWalk(terms, positions, taskConf, walk)))
      }
    }
  }

  /** The ONE term resolver of every scored read (run, explainScore,
    * highlight): the scored query's terms in the frozen sum order, with
    * `word*` / `word~n` expanded (ranked, capped) in place, filtered to
    * the dictionary; their global dfs; and the `^boost` weights of the
    * boosted terms (only those ship to the cursors). */
  private def scoredTerms(query: String)
      : (Seq[String], Map[String, Long], Map[String, Double]) = {
    val weighted = QueryParser
      .resolveScoredW(QueryParser.parseScored(query), expandPrefix(_)._1,
        expandFuzzy(_, _)._1)
    val dfs = termDfs(weighted.map(_._1))
    (weighted.map(_._1).filter(dfs.contains), dfs,
      weighted.filter(_._2 != 1.0).toMap)
  }

  /** Scored shard walk: WAND top-k per shard; the request's gate is gate
    * 0, so a shard it allows nothing in scores nothing. None when no
    * query term is in the dictionary. */
  private def scoredWalk(req: SearchRequest): Option[Shards[ScoredDoc]] = {
    val (present, dfs, wMap) = scoredTerms(req.query)
    if (present.isEmpty) return None
    val (bm, k, after, minMatch) = (bm25, req.k, req.after, req.minMatch)
    val gate = req.gate.map(_ => 0)
    Some(perShard(present, positions = false, dfs.values.sum, req.gate.toSeq) {
        (rs, gates) =>
      QueryEngine.required(gate, gates).iterator.flatMap { r =>
        WandScorer.topK(present, QueryEngine.termCursors(rs, bm, dfs, wMap),
          k, r, after, minMatch)
      }
    })
  }

  private def requirePositions(): Unit =
    require(hasPositions,
      s"phrase query needs positional postings, but the index at $root " +
        "has segments built without them (positions=false) — rebuild or " +
        "compact with positions on")

  /** Shared boolean-path prep: filter-context prefix/fuzzy expansion
    * (uncapped) plus group validity — a group is dead if any concrete
    * term is absent from the dict OR any required expansion is empty.
    * Returns (prepared groups, their distinct field gates, dfs incl.
    * expansions).
    *
    * Prohibitions prune the other way: a negated term/prefix/fuzzy/
    * phrase that cannot occur anywhere (absent from the dict, empty
    * expansion) is a no-op and is DROPPED — never a group-killer. */
  private def prepGroups(groups: Seq[MatchGroup])
      : (Seq[PreparedGroup], Seq[Column], Map[String, Long]) = {
    val expP: Map[String, Map[String, Long]] =
      (groups.flatMap(_.prefixes) ++ groups.flatMap(_.negPrefixes)).distinct
        .map(p => p -> expandPrefixAll(p)).toMap
    val expF: Map[(String, Int), Map[String, Long]] =
      (groups.flatMap(_.fuzzies) ++ groups.flatMap(_.negFuzzies)).distinct
        .map(f => f -> expandFuzzyAll(f._1, f._2)).toMap
    val dfs = termDfs((groups.flatMap(_.terms) ++ groups.flatMap(_.negTerms) ++
      groups.flatMap(_.negPhrases).flatten ++
      groups.flatMap(_.negNearSpans).flatMap(_._1)).distinct) ++
      expP.values.flatten ++ expF.values.flatten
    // loud guard (ADVICE r6): one broad prohibition expansion (`-e*`,
    // `-a~2`) can cover a large slice of the dictionary, and exclusion
    // lists are READ in full (the Lucene must_not cost model) — a query
    // that looks like "minus one term" then reads near-corpus posting
    // volume. Mirror the pure-negative-group guard's rationale with a
    // warning once a group's negated EXPANSIONS sum past half the corpus.
    groups.foreach { g =>
      val negExpDf = (g.negPrefixes.iterator.flatMap(expP(_).values) ++
        g.negFuzzies.iterator.flatMap(expF(_).values)).sum
      if (negExpDf > manifest.numDocs / 2)
        log.warn(s"negated expansion in query group covers $negExpDf " +
          s"postings (> half of ${manifest.numDocs} docs) — the exclusion " +
          "lists are read in full; narrow the negated prefix/fuzzy or " +
          "express the prohibition as a metadata filter")
    }
    val live = groups
      .filter(g => g.terms.forall(dfs.contains) &&
        g.prefixes.forall(p => expP(p).nonEmpty) &&
        g.fuzzies.forall(f => expF(f).nonEmpty))
    // one gate per distinct field-atom list, shared by the groups with it
    val gateFields = live.map(_.fields).filter(_.nonEmpty).distinct
    val valid = live.map(g => PreparedGroup(
        terms = g.terms,
        phrases = g.phrases,
        reqSets = g.prefixes.map(expP(_).keySet) ++
          g.fuzzies.map(expF(_).keySet),
        exclTerms = (g.negTerms.filter(dfs.contains) ++
          g.negPrefixes.flatMap(expP(_).keys) ++
          g.negFuzzies.flatMap(expF(_).keys)).toSet,
        negPhrases = g.negPhrases.filter(_.forall(dfs.contains)),
        nearSpans = g.nearSpans,
        negNearSpans = g.negNearSpans.filter(_._1.forall(dfs.contains)),
        gate = Some(gateFields.indexOf(g.fields)).filter(_ >= 0)))
    (valid, gateFields.map(QueryParser.compileFields), dfs)
  }

  /** Boolean shard walk: every live group's leapfrog per shard (field
    * gates join it as required cursors), reduced by `perShardOut` to
    * the shard's output. Reads the required terms, filter-context
    * expansions, and every surviving prohibition's lists (exclusion
    * advances pay their posting volume — the Lucene must_not cost
    * model). None when no group is live. */
  private def booleanWalk[R: ClassTag](query: String)
      (perShardOut: Seq[Iterator[ScoredDoc]] => Iterator[R])
      : Option[Shards[R]] = {
    val groups = QueryParser.parseGroups(query)
    if (groups.isEmpty) return None
    val (valid, gates, dfs) = prepGroups(groups)
    if (valid.isEmpty) return None
    val needPos = valid.exists(g => g.phrases.nonEmpty ||
      g.negPhrases.nonEmpty || g.nearSpans.nonEmpty ||
      g.negNearSpans.nonEmpty)
    if (needPos) requirePositions()
    val readSet = (valid.flatMap(_.terms) ++ valid.flatMap(_.reqSets).flatten ++
      valid.flatMap(_.exclTerms) ++ valid.flatMap(_.negPhrases).flatten ++
      valid.flatMap(_.negNearSpans).flatMap(_._1)).distinct
    val bm = bm25
    Some(perShard(readSet, needPos, readSet.map(dfs).sum, gates) { (rs, gs) =>
      perShardOut(QueryEngine.groupMatches(valid, rs, gs, bm, dfs))
    })
  }

  /** The ONE point lookup (explainScore, highlight): a one-shard walk
    * over the docId's shard, where each term's cursor skip-advances
    * straight to the docId and `read` takes what it needs from a cursor
    * that lands on it. The walk is gated on the terms' global Σdf, an
    * upper bound on any one shard's volume, so a term skewed into the
    * looked-up shard can never under-gate. A docId whose shard holds no
    * postings file reads nothing. */
  private def pointLookup[R](terms: Seq[String], dfs: Map[String, Long],
      weights: Map[String, Double], positions: Boolean, docId: Long)
      (read: PostingCursor => R): Map[String, R] = {
    val bm = bm25
    perShard(terms, positions, terms.map(dfs).sum, Nil,
        Some(IndexBuilder.shardOf(docId))) { (rs, _) =>
      QueryEngine.termCursors(rs, bm, dfs, weights).iterator.flatMap { case (t, cur) =>
        cur.advanceTo(docId)
        if (!cur.exhausted && cur.curDoc == docId) Some(t -> read(cur)) else None
      }
    }.fold(identity, ShardJobs.collect).toMap
  }

  /** The ES `/_explain` analogue: the per-term BM25 breakdown of one
    * document's score against a scored query (terms resolved as `run`
    * resolves them: expansions in place, `^boost` applied). Contributions
    * are listed in QUERY TERM ORDER and sum (in that order) EXACTLY to
    * the engine's score for the doc — the frozen float order the whole
    * parity story rests on, now inspectable per term. Each contribution
    * is the scoring cursor's own (boosted idf); the reported idf is the
    * unboosted `bm25.idf(df)`. A point lookup: no scoring pass. */
  def explainScore(query: String, docId: Long): Seq[ScoreExplain] = {
    val (present, dfs, wMap) = scoredTerms(query)
    if (present.isEmpty) return Nil
    val hits = pointLookup(present, dfs, wMap, positions = false, docId)(c =>
      (c.curTf, c.curDl, c.curScore))
    present.flatMap { t =>
      hits.get(t).map { case (tf, dl, contribution) =>
        ScoreExplain(t, dfs(t), bm25.idf(dfs(t)), tf, dl, contribution)
      }
    }
  }

  /** The ES highlighter analogue: per-term match POSITIONS of one
    * document against a query — the user-facing read of the positional
    * posBlocks column beyond phrase filtering. Wildcards expand like
    * topK (ranked, capped); terms are returned in query/expansion order,
    * positions ascending. A point lookup on the full rows: only the
    * landing block's position bytes are ever decoded (at 4M docs the
    * shard pruning cut the read from every query term's full position
    * volume, ~2.7 s, to one shard's, ~flat in corpus size). */
  def highlight(query: String, docId: Long): Seq[HighlightTerm] = {
    requirePositions()
    val (present, dfs, _) = scoredTerms(query)
    if (present.isEmpty) return Nil
    val hits = pointLookup(present, dfs, Map.empty, positions = true, docId)(
      _.curPositions.toSeq)
    present.flatMap(t => hits.get(t).map(ps => HighlightTerm(t, ps)))
  }

  /** FILTER-context boolean retrieval: the FULL matching docId set (no
    * scores, no k-cut) as a DataFrame — the hit set of a
    * `WHERE match(...)` can be corpus-sized, so it is never collected on
    * the distributed path: each document shard runs the same leapfrog
    * AND-group intersection as booleanTopK and streams the union of
    * group hits out. */
  def matchingDocIds(query: String): DataFrame =
    booleanWalk(query)(QueryEngine.unionAscending) match {
      case None => spark.createDataset(Seq.empty[Long]).toDF("docId")
      case Some(Left(ids)) => ids.toDF("docId")
      case Some(Right(ids)) => spark.createDataset(ids).toDF("docId")
    }
}
