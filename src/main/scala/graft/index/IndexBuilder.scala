package graft.index

import graft.analyze.CodeAnalyzer
import graft.corpus.CorpusDoc
import graft.table._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-document index metadata (the ES-internal "stored fields + norms"
  * analogue; carries the sha256 row invariant vs the source table).
  * `tableId` is the SOURCE table's join key when the build declared one
  * (tableIdOf) — the `WHERE match()` semi-join reads it instead of
  * re-deriving an id from path conventions; -1 when the build has no
  * numeric key (composite-key tables join on repo/path/commit). */
final case class DocMeta(docId: Long, repo: String, path: String, commit: String,
                         lang: String, sha256: String, docLen: Int, shard: Int,
                         tableId: Long)

/** Analyzer output for one document (intermediate, persisted across the
  * docmeta write and the postings shuffle so content is analyzed once).
  * `pos` = the term's positions ALREADY delta-varint encoded
  * (Codec.encodePositions of one posting — ~1 byte/position instead of
  * a 4-byte int each across the shuffle; at 1M docs the raw-int
  * position payload tripled the build time). Per-posting streams are
  * self-delimiting given tf, so block streams are pure concatenation.
  * Empty when the build disabled positions; tf = position count. */
final case class TermFreq(term: String, tf: Int, pos: Array[Byte])
final case class AnalyzedDoc(docId: Long, repo: String, path: String,
                             commit: String, lang: String, sha256: String,
                             docLen: Int, terms: Array[TermFreq],
                             tableId: Long)

/** One (shard, term, doc) token posting — the SPIMI shuffle record.
  * `pos` = the doc's pre-encoded position stream for this term. */
final case class TokenPosting(shard: Int, term: String, docId: Long, tf: Int,
                              dl: Int, pos: Array[Byte])

/** One stored posting (sub-)list: the postings of `term` within one
  * document shard, as compressed blocks + skip entries. Document-sharded
  * posting lists bound every shuffle group by the shard size — the hot-term
  * skew defuser: "def"'s postings are numShards bounded groups, never one
  * giant reducer (the built-in salting required by the north rule).
  *
  * This is the SCORING projection: reading it prunes the positions
  * column out of the parquet scan entirely (the Lucene .doc/.pos file
  * split, expressed as parquet column pruning) — BM25/boolean scoring
  * never pays the position bytes. */
final case class PostingRow(shard: Int, term: String, df: Long, bytes: Long,
                            blocks: Seq[Array[Byte]], skips: Seq[Skip])

/** The FULL stored row: the scoring columns plus `posBlocks`, one
  * position stream per 128-posting block (Codec.encodePositions; empty
  * when the build disabled positions). Phrase queries read this shape. */
final case class PostingRowPos(shard: Int, term: String, df: Long, bytes: Long,
                               blocks: Seq[Array[Byte]], skips: Seq[Skip],
                               posBlocks: Seq[Array[Byte]])

object PostingRow {
  /** The scoring-projection column list (everything but posBlocks). */
  val LiteCols: Seq[String] =
    Seq("shard", "term", "df", "bytes", "blocks", "skips")
}

final case class BuildReport(manifest: Manifest, segment: Option[SegmentInfo],
                             builtShards: Seq[Int], docs: Long)

/** Named Long sums and maxima over one job's rows, folded by the job's
  * own tasks: no extra pass, and nothing registered on the session (an
  * `Observation` installs a listener for the session's lifetime, which
  * re-raises every later failed query at ERROR). Each partition reports
  * once its rows are drained, keyed by partition id, so a partition
  * recomputed after a lost cache block or a retried task counts once.
  * `get` reads like an Observation's metrics: a sum or max over no rows
  * is null (IndexBuilder.obsLong reads it as 0). */
private[graft] final class PassMetrics[T](spark: SparkSession, name: String,
    sums: Seq[(String, T => Long)], maxes: Seq[(String, T => Long)] = Nil)
    extends Serializable {
  private val fs = (sums ++ maxes).map(_._2).toArray
  private val acc = spark.sparkContext.collectionAccumulator[(Int, Array[Long])](name)

  /** `it`, reporting its partition's metrics (and row count, last) once
    * drained. */
  def track(it: Iterator[T]): Iterator[T] = new Iterator[T] {
    private val v = Array.tabulate(fs.length + 1)(i =>
      if (i < sums.size || i == fs.length) 0L else Long.MinValue)
    private var reported = false
    def hasNext: Boolean = it.hasNext || {
      if (!reported) { reported = true; acc.add(TaskContext.getPartitionId() -> v) }
      false
    }
    def next(): T = {
      val x = it.next()
      for (i <- fs.indices)
        v(i) = if (i < sums.size) v(i) + fs(i)(x) else math.max(v(i), fs(i)(x))
      v(fs.length) += 1
      x
    }
  }

  /** Every metric by name, once the job has run. */
  def get: Map[String, Any] = {
    val parts = acc.value.asScala.toMap.values.toSeq
    val empty = parts.forall(_(fs.length) == 0)
    (sums ++ maxes).map(_._1).zipWithIndex.map { case (n, i) =>
      val vs = parts.map(_(i))
      n -> (if (empty) null else java.lang.Long.valueOf(if (i < sums.size) vs.sum else vs.max))
    }.toMap
  }
}

/**
 * SPIMI-style distributed index build over an Iceberg-style corpus table
 * (repo, path, commit, lang, content) — the engine-side replacement for
 * what Elasticsearch did for the reference when it called
 * `es.index(doc)` (/root/reference/sentiment.py:227-240): analyze ->
 * postings -> compressed segment + committed metadata.
 *
 * Scale design (targets a 1000-executor / 10^12-file cluster; local[32]
 * only verifies correctness):
 *  - Documents are hash-sharded by (repo,path,commit):
 *    shard = pmod(murmur3(repo,path,commit), numShards), which is exactly
 *    Spark's HashPartitioning id — so `repartition(numShards, keys)` makes
 *    partitionId == shard with no extra pass.
 *  - docId = (batch << 52) | (shard << 32) | localIdx: dense within a
 *    shard (delta-friendly), globally unique across shards and ingest
 *    batches, deterministic under resume (a shard is always built whole,
 *    in exactly one pass). Merges therefore never remap docIDs.
 *  - One analysis pass (persisted); the postings build is map-only over
 *    its partitions (partitionId == shard), so hot terms are pre-salted
 *    by shard. Runs are built per (term, shard) either by hash
 *    accumulation within a postings budget or by sortWithinPartitions +
 *    streaming run detection — no unbounded in-memory groups.
 *  - Resume: per-shard checkpoint records; a re-run filters completed
 *    shards out BEFORE the scan (predicate on the same hash expression,
 *    pushable) and appends a new immutable segment.
 */
object IndexBuilder {

  /** Index FORMAT version: bump when analyzer/codec/layout semantics
    * change, so durable indexes built by an older engine are rebuilt
    * instead of reopened (cache roots embed it). v3: docmeta carries the
    * explicit source-table id column (tableId). v4: postings carry an
    * optional per-block position stream (posBlocks). */
  val FormatVersion = "4"

  /** Loud format gate at OPEN time: every writer since v4 stamps
    * `FormatVersion` into the manifest, so a durable pre-v4 root — whose
    * parquet lacks posBlocks/tableId columns — fails here with a clear
    * rebuild message instead of an opaque `cannot resolve posBlocks`
    * AnalysisException deep inside the first query. (Cache roots embed
    * the version in their PATH and never hit this; explicit
    * MatchRegistry.IndexRoot / direct QueryEngine / SegmentMerge use is
    * what this protects.) An EMPTY manifest (no segments yet) passes —
    * there is nothing on disk whose layout could be stale. */
  def requireFormat(m: graft.table.Manifest, root: String,
                    conf: org.apache.hadoop.conf.Configuration): Unit =
    if (m.segments.nonEmpty && !m.format.contains(FormatVersion)) {
      // UNSTAMPED manifests get one more chance (ADVICE r6): manifests
      // written by the first v4-layout engine revision predate the format
      // stamp, and forcing those fully-compatible durable roots through a
      // rebuild punishes exactly the users the stamp exists to protect.
      // Sniff the footer of every data file of every segment for the v4
      // columns (postings.posBlocks + docmeta.tableId); a compatible root
      // is accepted as v4 — the next writer commit stamps it (build/merge
      // always write format=FormatVersion). A manifest stamped with a
      // DIFFERENT version, or a root any of whose files lacks the v4
      // columns, still fails with the rebuild message.
      val compatible = m.format.isEmpty && m.segments.forall(s =>
        PostingReader.everyFileHas(s"$root/${s.name}/postings", "posBlocks", conf) &&
          PostingReader.everyFileHas(s"$root/${s.name}/docmeta", "tableId", conf))
      if (!compatible)
        throw new IllegalStateException(
          s"index at $root has on-disk format ${m.format.getOrElse("<pre-4, unstamped>")} " +
            s"but this engine requires format $FormatVersion — rebuild the index " +
            "(drop the root and re-run IndexBuilder, or point at a fresh root)")
    }

  /** One numeric metric of a build pass (PassMetrics). Null is the empty
    * pass (sum/max over no rows) and reads 0; a missing key or a value of
    * another type fails naming the key — read as 0 it would make every
    * budget check downstream of it pass. */
  private[graft] def obsLong(metrics: Map[String, Any], k: String): Long =
    metrics.get(k) match {
      case Some(null) => 0L
      case Some(l: java.lang.Long) => l.longValue
      case Some(i: java.lang.Integer) => i.longValue
      case Some(v) => throw new IllegalStateException(
        s"observation metric '$k' is a ${v.getClass.getName}, not a number")
      case None => throw new IllegalStateException(
        s"observation metric '$k' is missing (observed: ${metrics.keys.mkString(", ")})")
    }

  /** Spark SQL expression equal to the shard id a row lands on. */
  def shardExpr(numShards: Int) =
    pmod(hash(col("repo"), col("path"), col("commit")), lit(numShards))

  /** docId bit budget, sized for the 10^12-file target: 11-bit ingest
    * batch | 20-bit shard (up to ~1M document shards => ~1M docs/shard at
    * 10^12 files, so a full stopword posting sub-list stays ~8 MB) |
    * 32-bit local index (4.3B docs per shard per batch headroom). */
  val IdxBits = 32
  val ShardBits = 20
  val BatchBits = 11 // leaves the sign bit clear: docIds stay non-negative

  /** All three fields are range-checked so overflow fails LOUDLY instead
    * of silently corrupting the docId space: batch 2048 would set the sign
    * bit (negative docIds break the frozen score-desc/docId-asc ties) and
    * batch 4096 would wrap onto batch 0. Streams that outlive 2047
    * micro-batches must compact-and-rebase into a fresh index root (a
    * batch-id remap job) — documented re-batch policy, not silent wrap. */
  def docIdFor(batch: Int, shard: Int, idx: Long): Long = {
    require(idx >= 0 && idx < (1L << IdxBits), s"local idx $idx out of range")
    require(shard >= 0 && shard < (1 << ShardBits), s"shard $shard out of range")
    require(batch >= 0 && batch < (1 << BatchBits),
      s"ingest batch $batch exceeds the ${1 << BatchBits}-batch docId budget; " +
        "compact and rebase the index to reset batch ids")
    (batch.toLong << (IdxBits + ShardBits)) | (shard.toLong << IdxBits) | idx
  }

  def shardOf(docId: Long): Int =
    ((docId >> IdxBits) & ((1L << ShardBits) - 1)).toInt

  /** shardOf as a codegen'd Column (same bit arithmetic) — the single
    * home for the docId bit layout on the DataFrame side. */
  def shardColOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(docId, IdxBits).bitwiseAND(lit((1L << ShardBits) - 1)).cast("int")

  /** Rows per postings page. Postings files are term-major, so a page
    * of a few rows lets PostingReader's page index address a term: a
    * read decodes the pages of its terms, not every record of the file.
    * Four rows cost ~1% in index bytes (one-row pages cost ~14%: snappy
    * compresses each small `blocks` page alone). */
  val PostingsPageRows = 4

  /** The ONE postings write (build, merge, rebase): 4 MB row groups and
    * [[PostingsPageRows]]-row pages. parquet-mr makes its first page-size
    * check at `parquet.page.size.row.check.min` rows (default 100) and
    * only then honours the row limit, so both are set. */
  private[index] def writePostings(rows: Dataset[_], path: String): Unit =
    rows.write.mode("overwrite")
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .option("parquet.page.row.count.limit", PostingsPageRows.toString)
      .option("parquet.page.size.row.check.min", PostingsPageRows.toString)
      .parquet(path)

  private val HexChars = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(s.getBytes("UTF-8"))
    // table-driven hex (the per-byte "%02x".format of the original spent
    // ~3M Formatter calls per 100k-doc build — same output, r8)
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = HexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Encode one complete (shard, term) posting run into its stored row.
    * The single compression path shared by [[buildRuns]] and
    * [[accumRuns]] — both therefore produce identical bytes for the
    * same run content. */
  private def encodeRun(shard: Int, term: String, docs: Array[Long],
                        tfs: Array[Int], dls: Array[Int],
                        poss: collection.IndexedSeq[Array[Byte]],
                        hasPos: Boolean): PostingRowPos = {
    val enc = Codec.encode(docs, tfs, dls)
    // one position stream per 128-posting block, parallel to blocks:
    // per-posting streams are self-delimiting (tf counts them), so a
    // block stream is the plain concatenation of its postings'
    // pre-encoded streams — no re-encode on the build path
    val posBlocks: Seq[Array[Byte]] =
      if (!hasPos) Nil
      else poss.grouped(Codec.BlockSize).map { g =>
        val out = new Array[Byte](g.iterator.map(_.length).sum)
        var off = 0
        g.foreach { b =>
          System.arraycopy(b, 0, out, off, b.length); off += b.length
        }
        out
      }.toSeq
    PostingRowPos(shard, term, docs.length,
      enc.blocks.iterator.map(_.length.toLong).sum, enc.blocks.toSeq,
      enc.skips.toSeq,
      posBlocks)
  }

  /** Streaming run-builder: consumes token postings sorted with contiguous
    * (term, shard) runs (either sort major works — the run boundary checks
    * both fields; docId ascending within a run) and emits one PostingRow
    * per run, holding only a single run's postings (bounded by shard size)
    * in memory. */
  def buildRuns(it: Iterator[TokenPosting]): Iterator[PostingRowPos] = {
    val in = it.buffered
    new Iterator[PostingRowPos] {
      def hasNext: Boolean = in.hasNext
      def next(): PostingRowPos = {
        val head = in.head
        val docs = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val dls = mutable.ArrayBuilder.make[Int]
        val poss = mutable.ArrayBuffer.empty[Array[Byte]]
        var hasPos = true
        while (in.hasNext && in.head.shard == head.shard &&
               in.head.term == head.term) {
          val p = in.next()
          docs += p.docId; tfs += p.tf; dls += p.dl; poss += p.pos
          if (p.pos.isEmpty) hasPos = false
        }
        encodeRun(head.shard, head.term, docs.result(), tfs.result(),
          dls.result(), poss, hasPos)
      }
    }
  }

  /** Sort-free run builder (r8 continuation): accumulates the partition's
    * postings in an open-addressed (shard, term) map instead of requiring
    * a sorted stream — correct because the analyze stage emits documents
    * in ascending docId order, so each key's postings arrive ascending
    * (guarded per key). Emits runs sorted by (term, shard): the postings
    * job is map-only, so this emission order IS the stored term-major
    * layout that the query path's parquet min/max pruning on `term`
    * relies on. The encode path is [[encodeRun]], shared with
    * [[buildRuns]] — identical bytes.
    *
    * MEMORY: holds the whole partition's postings (~26 B + pos bytes per
    * posting) — the SORTED path bounds memory to one run and spills, so
    * the driver picks this path only when the observed tokens-per-shard
    * estimate fits [[AccumMaxPostings]] with headroom (see the postings
    * job); oversized shards keep the spillable sort. */
  def accumRuns(it: Iterator[TokenPosting]): Iterator[PostingRowPos] = {
    final class Acc(val shard: Int, val term: String) {
      val docs = new mutable.ArrayBuilder.ofLong
      val tfs = new mutable.ArrayBuilder.ofInt
      val dls = new mutable.ArrayBuilder.ofInt
      val poss = mutable.ArrayBuffer.empty[Array[Byte]]
      var hasPos = true
      var lastDoc = Long.MinValue
    }
    var cap = 1024
    var keys = new Array[Acc](cap)
    var size = 0
    def grow(): Unit = {
      val old = keys
      cap <<= 1
      keys = new Array[Acc](cap)
      val mask = cap - 1
      var i = 0
      while (i < old.length) {
        val a = old(i)
        if (a != null) {
          var j = (a.term.hashCode ^ (a.shard * 0x9e3779b9)) & mask
          while (keys(j) != null) j = (j + 1) & mask
          keys(j) = a
        }
        i += 1
      }
    }
    var held = 0L
    val hardCap =
      if (AccumMaxPostings > Long.MaxValue / 4) Long.MaxValue
      else 4L * AccumMaxPostings
    it.foreach { p =>
      // the driver-side budget heuristic (mean x2 + largest doc) chose
      // this path; a distribution pathological beyond that headroom must
      // fail LOUDLY with a remedy, not accumulate toward an executor OOM
      // the sorted path would have spilled through
      held += 1
      if (held > hardCap)
        throw new IllegalStateException(
          s"accumRuns exceeded $hardCap postings in one partition (shard " +
            s"${p.shard}) — token mass is skewed far beyond the build's " +
            "estimate; rebuild with more shards (numShards) so each " +
            "partition holds fewer postings")
      if (((size + 1) << 1) >= cap) grow()
      val mask = cap - 1
      var j = (p.term.hashCode ^ (p.shard * 0x9e3779b9)) & mask
      while (keys(j) != null &&
             !(keys(j).shard == p.shard && keys(j).term == p.term))
        j = (j + 1) & mask
      var a = keys(j)
      if (a == null) {
        a = new Acc(p.shard, p.term)
        keys(j) = a
        size += 1
      }
      require(p.docId > a.lastDoc,
        s"accumRuns requires ascending docIds per (shard, term): " +
          s"${a.lastDoc} -> ${p.docId} for '${p.term}'@${p.shard}")
      a.lastDoc = p.docId
      a.docs += p.docId; a.tfs += p.tf; a.dls += p.dl; a.poss += p.pos
      if (p.pos.isEmpty) a.hasPos = false
    }
    val accs = new Array[Acc](size)
    var i = 0
    var k = 0
    while (i < cap) {
      if (keys(i) != null) { accs(k) = keys(i); k += 1 }
      i += 1
    }
    java.util.Arrays.sort(accs, new java.util.Comparator[Acc] {
      def compare(x: Acc, y: Acc): Int = {
        val c = x.term.compareTo(y.term)
        if (c != 0) c else Integer.compare(x.shard, y.shard)
      }
    })
    accs.iterator.map(a => encodeRun(a.shard, a.term, a.docs.result(),
      a.tfs.result(), a.dls.result(), a.poss, a.hasPos))
  }

  /** Per-task posting-accumulation budget for the sort-free postings
    * path (~26 B + position bytes per posting => ~130 MB at the default).
    * Mutable only as a test seam (forcing either path). */
  private[graft] var AccumMaxPostings: Long = 4L * 1000 * 1000

  /**
   * Build (or resume) one pass of the index for `corpus` under `root`.
   * The committed manifest is the ONLY checkpoint state: a pass that
   * crashes mid-build commits nothing, so resume re-runs exactly the
   * shards no committed segment covers (never trusting side files that a
   * crash between data write and commit could leave inconsistent).
   *
   * @param batch ingest batch id (0 = initial bulk build; streaming
   *              ingest increments it per micro-batch)
   * @param maxShardsThisPass checkpoint granularity for bulk builds: at
   *              most this many input shards are built and committed per
   *              call (use [[buildAll]] to loop passes to completion).
   */
  def build(spark: SparkSession, corpus: Dataset[CorpusDoc], root: String,
            numShards: Int, batch: Int = 0, resume: Boolean = true,
            maxShardsThisPass: Int = Int.MaxValue,
            tableIdOf: Option[CorpusDoc => Long] = None,
            positions: Boolean = true): BuildReport = {
    import spark.implicits._
    val tbl = new IcebergLite(root)
    tbl.init()
    val prev = tbl.currentManifest().getOrElse(Manifest(0, numShards, Nil, 0L, 0L))
    // appending a v4 segment to a pre-v4 root would stamp the merged
    // manifest v4 while old segments still lack posBlocks/tableId — gate
    // the resume/append path the same way readers are gated
    requireFormat(prev, root, spark.sparkContext.hadoopConfiguration)
    require(prev.segments.isEmpty || prev.numShards == numShards,
      s"index at $root was created with numShards=${prev.numShards}")
    // resume=false exists for streaming re-delivery simulation (batch > 0,
    // where the lineage guard dedupes); a resume=false BULK build over an
    // index that already holds batch-0 documents would re-assign their
    // docIds — duplicates, not an overwrite. Fail loudly instead.
    require(resume || batch > 0 ||
        prev.segments.forall(s => IcebergLite.batch0Shards(s).isEmpty),
      s"bulk build with resume=false over $root would duplicate batch-0 " +
        "docIds; drop() the index first or build with resume=true")

    // idempotence for streaming re-delivery (W5): a batchId whose docs are
    // already in a committed segment is a no-op re-run. Checked against
    // the RAW stream id first ("origBatches" — survives rebase), then the
    // effective id ("batches", which compaction propagates) — a
    // micro-batch re-delivered after a merge OR a compact-and-rebase must
    // stay a no-op.
    if (batch > 0 && prev.segments.exists(s =>
        IcebergLite.origBatchesOf(s).contains(batch.toLong)))
      return BuildReport(prev, None, Nil, 0L)
    // effective batch id: raw stream id minus the manifest's batchBase
    // (0 until the first SegmentMerge.rebase). The docId budget check in
    // docIdFor applies to the EFFECTIVE id — rebase resets the headroom
    // without the stream resetting its own counter.
    val effBatch =
      if (batch == 0) 0
      else {
        val eff = batch.toLong - prev.batchBase
        require(eff > 0, s"ingest batch $batch predates the index's batch " +
          s"base ${prev.batchBase} and is not in any committed segment's " +
          "lineage — refusing to assign it a recycled effective id")
        // fail FAST on the docId budget, driver-side before any job runs
        // (docIdFor re-checks per row; see its scaladoc for the policy)
        require(eff < (1L << BatchBits),
          s"ingest batch $batch maps to effective id $eff, exceeding the " +
            s"${1 << BatchBits}-batch docId budget; run " +
            "SegmentMerge.rebase to compact and reset the batch base")
        eff.toInt
      }
    if (effBatch > 0 && prev.segments.exists(s =>
        IcebergLite.batchesOf(s).contains(effBatch)))
      return BuildReport(prev, None, Nil, 0L)

    val done: Set[Int] =
      if (resume && batch == 0) IcebergLite.completedShards(prev) else Set.empty
    val todo = (0 until numShards).filterNot(done).take(
      if (batch == 0) maxShardsThisPass else Int.MaxValue)
    if (todo.isEmpty)
      return BuildReport(prev, None, Nil, 0L)

    // 1. route + filter (completed shards never leave the scan), then make
    //    partitionId == shard and freeze within-partition order. When this
    //    pass builds EVERY shard (the bulk-build common case) the filter
    //    is a tautology — skip it so the scan does not pay a per-row
    //    murmur3 + set probe for nothing (r8).
    val preFiltered =
      if (todo.size == numShards) corpus
      else corpus
        .withColumn("__shard", shardExpr(numShards))
        .where(col("__shard").isin(todo.map(Integer.valueOf): _*))
        .drop("__shard")
    val routed = preFiltered
      .repartition(numShards, col("repo"), col("path"), col("commit"))
      .sortWithinPartitions("repo", "path", "commit")
      .as[CorpusDoc]

    // 2. single analysis pass: docIds, sha256, term freqs + positions;
    //    the pass's doc and token counts ride it (PassMetrics)
    val idOf = tableIdOf
    val withPos = positions
    val anMetrics = new PassMetrics[AnalyzedDoc](spark, "graft-build analyze",
      sums = Seq(("docs", _ => 1L), ("tokens", _.docLen.toLong)),
      maxes = Seq(("maxDl", _.docLen.toLong)))
    val analyzed: Dataset[AnalyzedDoc] = routed.mapPartitions { it =>
      val shard = TaskContext.getPartitionId()
      var idx = 0L
      // ONE analyzer session per task: term Strings intern across the
      // partition's documents (a shard's docs repeat their vocabulary),
      // and the per-doc map/position buffers are reused (r8)
      val session = new CodeAnalyzer.AnalyzerSession
      anMetrics.track(it.map { d =>
        val id = docIdFor(effBatch, shard, idx)
        idx += 1
        // fused single-pass analysis (r8): term-sorted positions straight
        // from the analyzer — no intermediate Map/tuple churn per doc
        val (tps, dl) = session.termPositionsSorted(d.content)
        val terms = new Array[TermFreq](tps.length)
        var k = 0
        while (k < terms.length) {
          val (t, ps) = tps(k)
          terms(k) = TermFreq(t, ps.length,
            if (withPos) Codec.encodePositions(Array(ps))
            else Array.emptyByteArray)
          k += 1
        }
        // the declared table-id extraction runs HERE, once per doc at
        // build time — a malformed key fails the build loudly instead
        // of becoming a silent null join key at query time
        AnalyzedDoc(id, d.repo, d.path, d.commit, d.lang,
          sha256Hex(d.content), dl, terms,
          idOf.map(f => f(d)).getOrElse(-1L))
      })
    }.persist(StorageLevel.MEMORY_AND_DISK)

    // Named by the MONOTONIC manifest version, never by segment count:
    // compaction shrinks the count, so a count-derived name could collide
    // with (and mode=overwrite would clobber) a dir an older manifest
    // still references — breaking snapshot isolation on resume-after-merge.
    val segName = s"seg-$effBatch-${prev.version}"
    val segRoot = s"$root/$segName"

    // 2b. materialize the analysis once, then run the two independent
    //     segment writes CONCURRENTLY (driver-side parallel job
    //     submission — keeps all executor slots busy across the narrow
    //     tail of each stage). Jobs carry descriptions (guide §1.5) so
    //     the UI/listeners attribute build time per phase.
    spark.sparkContext.setJobDescription(s"graft-build $segName: analyze")
    // noop-sink materialization (guide §1.4): same full evaluation as
    // count() but one job with no aggregation final stage — every AQE
    // barrier here is SERIAL time both bench levels pay equally, which
    // is exactly what depresses the 2->8 scaling ratio (r8). The
    // analysis metrics fill as this job runs and feed the postings-path
    // choice below and the manifest (no extra pass).
    analyzed.write.format("noop").mode("overwrite").save()
    val an = anMetrics.get
    val docCount = obsLong(an, "docs")
    val passTokens = obsLong(an, "tokens")
    val passMaxDl = obsLong(an, "maxDl")

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // shardOf(docId) as a codegen'd column (same bit arithmetic) — both
    // segment writes below stay pure Catalyst projections over the cached
    // analysis instead of deserializing AnalyzedDoc per row (r8)
    val shardCol = shardColOf(col("docId"))

    // 3. docmeta segment
    val docmetaJob = Future {
      spark.sparkContext.setJobDescription(s"graft-build $segName: docmeta")
      analyzed
        .select(col("docId"), col("repo"), col("path"), col("commit"),
          col("lang"), col("sha256"), col("docLen"), shardCol.as("shard"),
          col("tableId"))
        .write.mode("overwrite").parquet(s"$segRoot/docmeta")
    }

    // 4. postings: one MAP-ONLY job. partitionId == shard after the
    //    routing repartition, so every (shard, term) run lives inside
    //    one analysis partition and is built right there (no run
    //    shuffle), and each shard's postings are one term-major file —
    //    the layout merges keep and the query path's shard reads take.
    // Sort-free postings path decision (r8 continuation): the mean
    // tokens-per-built-shard (an upper bound on postings per partition —
    // tf >= 1) with 2x skew headroom, PLUS the largest single document
    // (hash-sharding scatters a repo's files uniformly, so the realistic
    // per-shard token-mass skew driver is one giant document landing
    // whole on one shard — maxDl rides the same pass metrics for free),
    // must fit the accumulation budget; otherwise keep the spillable
    // in-stage sort. Decided DRIVER-side from the metrics that rode
    // the analyze job — both paths share encodeRun and produce
    // byte-identical segments. (todo is non-empty here: build() returned
    // early above when there was nothing to build.)
    val accumOk =
      (passTokens / todo.size) * 2 + passMaxDl <= AccumMaxPostings
    val pstMetrics = new PassMetrics[PostingRowPos](spark, "graft-build postings",
      sums = Seq(("terms", _ => 1L), ("postings", _.df), ("bytes", _.bytes)))
    val postingsJob = Future {
      spark.sparkContext.setJobDescription(s"graft-build $segName: postings")
      val exploded = analyzed
        // codegen explode instead of a typed flatMap: the flatMap
        // deserialized every AnalyzedDoc (nested term array) and
        // re-serialized one TokenPosting object per posting — the
        // projection keeps the whole fan-out inside Tungsten rows (r8)
        .select(col("docId"), col("docLen"), explode(col("terms")).as("t"))
        .select(shardCol.as("shard"), col("t.term").as("term"), col("docId"),
          col("t.tf").as("tf"), col("docLen").as("dl"), col("t.pos").as("pos"))
        .as[TokenPosting]
      // Within budget, accumRuns groups by hash with no sort at all
      // (docIds arrive ascending per key); above it, the spillable
      // in-stage SortExec + one-run-at-a-time buildRuns keep the memory
      // bound. Both key runs on (shard, term), so even a multi-shard
      // input partition (foreign corpora fed to build() directly) stays
      // correct.
      val runs =
        if (accumOk) exploded.mapPartitions(it => pstMetrics.track(accumRuns(it)))
        else exploded.sortWithinPartitions("term", "shard", "docId")
          .mapPartitions(it => pstMetrics.track(buildRuns(it)))
      // TERM-major row order (both run builders emit (term, shard)
      // ascending): the `term` page min/max then address a term's rows,
      // so the query path's reads decode only their terms' pages
      // (shard-major made every row group span the whole term range —
      // measured 30x slower hot-term queries at 220k docs).
      writePostings(runs, s"$segRoot/postings")
    }
    Await.result(docmetaJob, Duration.Inf)
    Await.result(postingsJob, Duration.Inf)
    val pst = pstMetrics.get
    val termRows = obsLong(pst, "terms")
    val postingCount = obsLong(pst, "postings")
    val byteCount = obsLong(pst, "bytes")
    analyzed.unpersist()

    val seg = SegmentInfo(
      segId = prev.version, name = segName, shards = todo,
      metrics = SegmentMetrics(docCount, termRows, postingCount, byteCount),
      lineage = Map(
        "batch" -> effBatch.toString,
        "batches" -> effBatch.toString,
        "origBatches" -> batch.toString, // raw stream id, survives rebase
        "inputShards" -> todo.mkString(","),
        "source" -> "corpus(repo,path,commit,lang,content)",
        // whether docmeta.tableId is real in this segment — the match()
        // semi-join checks every segment carries it before keying on it
        "tableIds" -> tableIdOf.isDefined.toString,
        // whether posBlocks is real in this segment — phrase queries
        // check every segment carries positions before using them
        "positions" -> positions.toString) ++
        (if (batch == 0) Map("batch0Shards" -> todo.mkString(",")) else Map.empty))

    // 6. NOTE: no global dictionary on the ingest path — per-term global
    //    df is derived at query time (sum of sub-list dfs) or materialized
    //    by SegmentMerge compaction; keeps the build free of a second
    //    whole-postings aggregation per ingest batch.
    // a materialized dict (from an earlier compaction) no longer covers
    // the new segment's postings — new manifest falls back to derived dfs
    // until the next compaction re-materializes it.
    val manifest = Manifest(prev.version + 1, numShards,
      prev.segments :+ seg, prev.numDocs + docCount, prev.totalTokens + passTokens,
      dict = None, batchBase = prev.batchBase,
      format = Some(FormatVersion))

    // 7. atomic snapshot commit — the commit IS the per-pass checkpoint
    tbl.commit(manifest)
    BuildReport(manifest, Some(seg), todo, docCount)
  }

  /** Bulk build to completion in passes of `shardsPerPass` input shards,
    * committing a segment (= a durable checkpoint) after each pass. A
    * crash loses at most the current pass; re-calling buildAll resumes
    * from the committed manifest. Finer passes = finer checkpoints at the
    * cost of more (small) segments — SegmentMerge compacts afterwards. */
  def buildAll(spark: SparkSession, corpus: Dataset[CorpusDoc], root: String,
               numShards: Int, shardsPerPass: Int,
               tableIdOf: Option[CorpusDoc => Long] = None,
               positions: Boolean = true): BuildReport = {
    var rep = build(spark, corpus, root, numShards,
      maxShardsThisPass = shardsPerPass, tableIdOf = tableIdOf,
      positions = positions)
    var docs = rep.docs
    var built = rep.builtShards
    while (rep.builtShards.nonEmpty &&
           IcebergLite.completedShards(rep.manifest).size < numShards) {
      rep = build(spark, corpus, root, numShards,
        maxShardsThisPass = shardsPerPass, tableIdOf = tableIdOf,
        positions = positions)
      docs += rep.docs
      built = built ++ rep.builtShards
    }
    BuildReport(rep.manifest, rep.segment, built, docs)
  }
}
