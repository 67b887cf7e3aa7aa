package graft.index

import graft.table._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * Hierarchical segment merge (the ES/Lucene tiered-merge analogue):
 * `merge` fully compacts to one segment; `tiered` runs the smallest-first
 * compaction ladder down to a target segment count. Because docIds are globally
 * unique and ascending across (batch, shard) by construction (see
 * IndexBuilder docId layout), merging posting lists is a pure
 * concatenation of sub-lists ordered by firstDoc — NO docID remapping, no
 * re-scoring, deterministic output. Sub-lists are re-blocked into fresh
 * 128-entry blocks so skip density is restored after many small ingests.
 *
 * Plan: union segment postings -> shuffle by shard (partition id ==
 * shard) -> term-major sort -> stream re-encode runs -> one postings file
 * per shard, as the builder writes them -> new immutable segment +
 * snapshot commit. Old segment files are left in place (snapshot
 * isolation; readers of the old manifest stay correct) until
 * `IcebergLite.gc(keepManifests)` physically deletes everything
 * unreachable from the kept snapshot horizon.
 */
object SegmentMerge {

  /** Full compaction: all committed segments -> one. */
  def merge(spark: SparkSession, root: String): Manifest = {
    val tbl = new IcebergLite(root)
    val prev = tbl.currentManifest()
      .getOrElse(throw new IllegalStateException(s"nothing to merge at $root"))
    // pre-v4 roots lack posBlocks/tableId
    IndexBuilder.requireFormat(prev, root, spark.sparkContext.hadoopConfiguration)
    if (prev.segments.size <= 1) return prev
    mergeSegments(spark, root, prev, prev.segments)
  }

  /** Tiered compaction (the Lucene-ish ladder the north star names):
    * while more than `maxSegments` remain, merge the cheapest run of
    * BATCH-ADJACENT segments (at most `fanIn` per pass) into one.
    * Adjacency in ingest-batch order is a CORRECTNESS constraint, not a
    * heuristic: docIds embed the batch id in their top bits, so merging
    * a non-contiguous set (e.g. batches {1,3} around a kept batch 2)
    * would create a segment whose per-(shard,term) docId range
    * interleaves the kept segment's — the query path concatenates
    * sub-lists by firstDoc and requires them non-interleaved, and a
    * later merge of such segments would feed non-ascending docIds into
    * the codec. Among the adjacent windows, the smallest total byte size
    * wins (small ingest segments compact cheaply and often, big ones
    * rarely). Each pass is an atomic snapshot commit, so a crash
    * mid-ladder leaves a consistent (just less-compacted) index. */
  def tiered(spark: SparkSession, root: String, maxSegments: Int,
             fanIn: Int = 10): Manifest = {
    require(maxSegments >= 1 && fanIn >= 2)
    val tbl = new IcebergLite(root)
    var m = tbl.currentManifest()
      .getOrElse(throw new IllegalStateException(s"nothing to merge at $root"))
    IndexBuilder.requireFormat(m, root, spark.sparkContext.hadoopConfiguration)
    while (m.segments.size > maxSegments) {
      val surplus = m.segments.size - maxSegments + 1
      val window = math.min(surplus, fanIn)
      val ordered = m.segments.sortBy(s => IcebergLite.batchesOf(s).min)
      val victims = ordered.sliding(window)
        .minBy(_.iterator.map(_.metrics.bytes).sum)
      m = mergeSegments(spark, root, m, victims)
    }
    m
  }

  /** Compact-and-rebase: fully compact the index AND densely renumber
    * every docId into ingest batch 0 — the remedy for a stream that
    * outlives the 2048-batch docId budget (IndexBuilder fails loudly at
    * effective batch 2048; this job resets that headroom COMPLETELY: a
    * real stream's batch ids are contiguous, so a batch-bits-only remap
    * would reclaim nothing).
    *
    * Renumber: newDocId = (batch 0 | shard | rank), rank = the doc's
    * position within its shard ordered by old docId — order-preserving
    * per shard, so posting lists decode -> remap -> re-encode without
    * re-sorting, and scores are unchanged (BM25 never reads docId
    * values). The postings remap runs as a shard-cogroup: each task
    * holds exactly one shard's (old -> new) map — the same per-shard
    * size bound the SPIMI design already guarantees (~1M docs/shard at
    * the 10^12-file layout).
    *
    * The manifest's batchBase advances to the largest RAW stream id ever
    * ingested, so the stream's next id maps to effective 1 and the
    * budget is fresh; re-delivery of any pre-rebase raw id stays a no-op
    * via the (range-encoded) origBatches lineage. Two atomic commits
    * (compaction, then renumber) — a crash between them leaves a
    * consistent, merely-compacted index. */
  def rebase(spark: SparkSession, root: String): Manifest = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tbl = new IcebergLite(root)
    var prev = tbl.currentManifest()
      .getOrElse(throw new IllegalStateException(s"nothing to rebase at $root"))
    IndexBuilder.requireFormat(prev, root, spark.sparkContext.hadoopConfiguration)
    if (prev.segments.isEmpty) return prev
    if (prev.segments.size > 1) prev = merge(spark, root)
    val seg = prev.segments.head

    val segName = s"seg-rebased-${prev.version}"
    val segRoot = s"$root/$segName"
    val shiftBits = IndexBuilder.IdxBits

    // per-shard dense renumber of docmeta; the same window defines the
    // (old -> new) mapping the postings remap consumes
    val oldMeta = spark.read.parquet(s"$root/${seg.name}/docmeta")
    // docId-budget guard, loud like docIdFor's per-row requires: the
    // renumbered rank must fit the idx bits AND row_number's Int range
    // (every other ingestion path checks this; the maintenance job must
    // not be the one silent corruption path)
    val maxShardDocs = oldMeta.groupBy("shard").count()
      .agg(max("count")).head().getLong(0)
    require(maxShardDocs <= Int.MaxValue.toLong &&
        maxShardDocs <= (1L << IndexBuilder.IdxBits),
      s"rebase: a shard holds $maxShardDocs docs, exceeding the " +
        s"${IndexBuilder.IdxBits}-bit local-index budget — re-shard first")
    val w = Window.partitionBy("shard").orderBy("docId")
    val withNew = oldMeta
      .withColumn("__newId", shiftLeft(col("shard").cast("long"), shiftBits)
        .bitwiseOR(row_number().over(w).cast("long") - 1L))
      // persisted: the docmeta write and the postings-remap mapping both
      // consume this window, which is otherwise a full shuffle each time
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withNew.withColumn("docId", col("__newId")).drop("__newId")
      .write.mode("overwrite").parquet(s"$segRoot/docmeta")
    val mapping = withNew
      .select(col("shard"), col("docId").as("oldId"), col("__newId").as("newId"))
      .as[(Int, Long, Long)]

    // postings: cogroup by shard, remap each decoded docId through the
    // shard's map (monotone: rank order == old docId order), re-encode
    val pst = spark.read.parquet(s"$root/${seg.name}/postings").as[PostingRowPos]
    IndexBuilder.writePostings(pst.groupByKey(_.shard).cogroup(mapping.groupByKey(_._1)) {
      (_, rows, maps) =>
        val mp = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        maps.foreach { case (_, o, nw) => mp.put(o, nw) }
        rows.map { r =>
          val enc = EncodedPostings(r.blocks.toArray, r.skips.toArray, r.df)
          // positions survive a rebase untouched: the remap is
          // order-preserving per shard, so posting order — and with it
          // the block layout — is unchanged
          val hasPos = r.posBlocks.nonEmpty
          val (d, t, l, ps) =
            if (hasPos) Codec.decodeAllWithPositions(enc, r.posBlocks)
            else { val (a, b, c) = Codec.decodeAll(enc); (a, b, c, null) }
          var i = 0
          while (i < d.length) {
            val nw = mp.get(d(i))
            require(nw != null, s"docId ${d(i)} missing from docmeta during rebase")
            d(i) = nw
            i += 1
          }
          val e2 = Codec.encode(d, t, l)
          val posOut: Seq[Array[Byte]] =
            if (!hasPos) Nil
            else ps.grouped(Codec.BlockSize)
              .map(g => Codec.encodePositions(g)).toSeq
          PostingRowPos(r.shard, r.term, r.df,
            e2.blocks.iterator.map(_.length.toLong).sum, e2.blocks.toSeq,
            e2.skips.toSeq,
            posOut)
        }
    }
      .toDF()
      .repartitionById(prev.numShards, col("shard"))
      .sortWithinPartitions("term"), s"$segRoot/postings")

    val pstOut = spark.read.parquet(s"$segRoot/postings")
    val mrow = pstOut.agg(count(lit(1)), sum("df"), sum("bytes")).head()
    val metrics = SegmentMetrics(seg.metrics.docs, mrow.getLong(0),
      mrow.getLong(1), mrow.getLong(2))

    withNew.unpersist()

    // the dict (term -> df) is docId-independent: carry it over untouched.
    // batch0Shards after a rebase = EVERY shard: the renumber moves all
    // documents (bulk AND streamed) into the batch-0 docId space, so the
    // whole space is occupied — a later bulk batch-0 build must see every
    // shard as complete (a no-op), never re-issue ids from rank 0 over a
    // stream-only index whose original batch0Shards was empty. New bulk
    // corpora enter a rebased index as stream batches (> batchBase).
    val origRaw = IcebergLite.origBatchesOf(seg)
    val newBase = if (origRaw.isEmpty) prev.batchBase else origRaw.max
    val newSeg = SegmentInfo(prev.version, segName, seg.shards, metrics,
      Map("rebasedFrom" -> seg.name,
        "batches" -> "0",
        "origBatches" -> IcebergLite.encodeRanges(origRaw),
        "tableIds" -> seg.lineage.getOrElse("tableIds", "false"),
        "positions" -> seg.lineage.getOrElse("positions", "false"),
        "batch0Shards" -> (0 until prev.numShards).mkString(",")))
    val manifest = Manifest(prev.version + 1, prev.numShards, Seq(newSeg),
      prev.numDocs, prev.totalTokens, dict = prev.dict, batchBase = newBase,
      format = Some(IndexBuilder.FormatVersion))
    tbl.commit(manifest)
    manifest
  }

  /** Merge a subset of `prev`'s segments into one new segment; untouched
    * segments carry over. The global dict is materialized only when the
    * result is fully compacted (one segment) — a partial tier would need
    * an extra pass over the KEPT segments' postings to stay global, so
    * partial snapshots derive dfs at query time instead. */
  private def mergeSegments(spark: SparkSession, root: String, prev: Manifest,
                            toMerge: Seq[SegmentInfo]): Manifest = {
    import spark.implicits._
    val tbl = new IcebergLite(root)
    if (toMerge.size <= 1) return prev
    val kept = prev.segments.filterNot(s => toMerge.exists(_.name == s.name))

    val postingPaths = toMerge.map(s => s"$root/${s.name}/postings")
    val docmetaPaths = toMerge.map(s => s"$root/${s.name}/docmeta")
    val segName = s"seg-merged-${prev.version}"
    val segRoot = s"$root/$segName"

    // one partition per shard (partition id == shard), term-major within
    // it: one postings file per shard, the layout the builder writes and
    // the query path's per-shard reads take
    IndexBuilder.writePostings(spark.read.parquet(postingPaths: _*)
      .repartitionById(prev.numShards, col("shard"))
      .sortWithinPartitions(col("term"), col("skips")(0)("firstDoc"))
      .as[PostingRowPos]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[PostingRowPos] {
          def hasNext: Boolean = in.hasNext
          def next(): PostingRowPos = {
            val head = in.head
            val subs = mutable.ArrayBuffer.empty[PostingRowPos]
            while (in.hasNext && in.head.shard == head.shard &&
                   in.head.term == head.term) subs += in.next()
            // decode in firstDoc order, concatenate, re-block (positions
            // concatenate in the same posting order and re-block with
            // the fresh 128-entry boundaries)
            val docs = mutable.ArrayBuilder.make[Long]
            val tfs = mutable.ArrayBuilder.make[Int]
            val dls = mutable.ArrayBuilder.make[Int]
            val poss = mutable.ArrayBuffer.empty[Array[Int]]
            val hasPos = subs.forall(_.posBlocks.nonEmpty)
            var df = 0L
            subs.foreach { r =>
              val enc = EncodedPostings(r.blocks.toArray, r.skips.toArray, r.df)
              if (hasPos) {
                val (d, t, l, ps) = Codec.decodeAllWithPositions(enc, r.posBlocks)
                docs ++= d; tfs ++= t; dls ++= l; poss ++= ps
              } else {
                val (d, t, l) = Codec.decodeAll(enc)
                docs ++= d; tfs ++= t; dls ++= l
              }
              df += r.df
            }
            val enc = Codec.encode(docs.result(), tfs.result(), dls.result())
            val posOut: Seq[Array[Byte]] =
              if (!hasPos) Nil
              else poss.grouped(Codec.BlockSize)
                .map(g => Codec.encodePositions(g.toArray)).toSeq
            PostingRowPos(head.shard, head.term, df,
              enc.blocks.iterator.map(_.length.toLong).sum, enc.blocks.toSeq,
              enc.skips.toSeq,
              posOut)
          }
        }
      }, s"$segRoot/postings")

    spark.read.parquet(docmetaPaths: _*)
      .write.mode("overwrite").parquet(s"$segRoot/docmeta")

    val pst = spark.read.parquet(s"$segRoot/postings")
    val mrow = pst.agg(count(lit(1)), sum("df"), sum("bytes")).head()
    val metrics = SegmentMetrics(toMerge.map(_.metrics.docs).sum, mrow.getLong(0),
      mrow.getLong(1), mrow.getLong(2))

    // Materialize the global term dictionary (term -> df) at full
    // compaction: at 10^12 docs, deriving dfs from postings at every
    // engine open is a real job; the compacted snapshot ships it
    // precomputed. Named per version (immutable) so readers pinned to
    // older manifests keep their own view — snapshot isolation holds.
    val dict: Option[String] =
      if (kept.isEmpty) {
        val dictName = s"dict-v${prev.version + 1}"
        pst.groupBy("term").agg(sum("df").as("df"))
          .write.mode("overwrite").parquet(s"$root/$dictName")
        Some(dictName)
      } else None

    // Lineage: the merged segment must carry the UNION of its inputs'
    // ingest-batch ids — effective ids ("batches", checked by the
    // idempotence guard) AND the raw stream ids ("origBatches", unchanged
    // by a later rebase, checked first) — plus the bulk-build shard
    // coverage (drives bulk resume).
    val batches = toMerge.flatMap(IcebergLite.batchesOf).distinct.sorted
    val origBatches = toMerge.flatMap(IcebergLite.origBatchesOf).toSet
    val b0Shards = toMerge.flatMap(IcebergLite.batch0Shards).distinct.sorted
    val seg = SegmentInfo(prev.version, segName,
      toMerge.flatMap(_.shards).distinct.sorted, metrics,
      Map("mergedFrom" -> toMerge.map(_.name).mkString(","),
        "batches" -> batches.mkString(","),
        "origBatches" -> IcebergLite.encodeRanges(origBatches),
        // real only if EVERY input carried real table ids — a mixed
        // merge must not let match() key on half-populated tableIds
        "tableIds" -> toMerge.forall(
          _.lineage.get("tableIds").contains("true")).toString,
        "positions" -> toMerge.forall(
          _.lineage.get("positions").contains("true")).toString,
        "batch0Shards" -> b0Shards.mkString(",")))
    val manifest = Manifest(prev.version + 1, prev.numShards, kept :+ seg,
      prev.numDocs, prev.totalTokens, dict = dict,
      batchBase = prev.batchBase,
      format = Some(IndexBuilder.FormatVersion))

    tbl.commit(manifest)
    manifest
  }
}
