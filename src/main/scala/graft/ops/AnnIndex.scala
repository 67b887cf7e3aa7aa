package graft.ops

import graft.table.{IcebergLite, Manifest, SegmentInfo, SegmentMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Materialized ANN index structures over the `embeddings` table — built
 * ONCE per dataset, COMMITTED behind the IcebergLite snapshot protocol,
 * and REOPENED (a metadata stat) by every later session, in-process or
 * across restarts. That is the 100 TB contract: one store build, many
 * opens — the same pattern as SearchOps.docEngine. The root embeds the
 * store FormatVersion and a content fingerprint of the source table, so
 * a regenerated dataset or a changed store format rebuilds while an
 * identical corpus always reopens; a crash mid-build leaves no
 * snapshot.json, so the next ensure() clears the debris and rebuilds.
 *
 * INCREMENTAL MAINTENANCE (the streaming-corpus contract, mirroring the
 * inverted index's micro-batch segments): `append(batch, batchId)` adds
 * new vectors WITHOUT touching the committed base — each batch becomes
 * its own immutable pair of segment dirs (seg-lsh-b<k>, seg-ivf-b<k>),
 * assigned against the store's FROZEN quantizer (standard IVF practice:
 * appends never move centroids; re-clustering happens at rebuild), and
 * becomes visible only at its atomic manifest commit, so a re-delivered
 * micro-batch is a no-op and a crashed append leaves only unreachable
 * files that the retry overwrites. `compact()` merges the per-batch
 * segments back to one dir per structure and GCs the dead ones — the
 * same build/append/compact lifecycle as the posting-list index.
 *
 * Layout under workDir/ann-f<ver>-<sha12(dir+fingerprint)>-r<iters>/:
 *   snapshot.json + manifest-<v>.json (IcebergLite commit: segments
 *                                      named below, with row metrics +
 *                                      batch lineage)
 *   seg-lsh-b<k>/bucket6=<b>/...     (vec_id, label, embedding, bucket16)
 *   seg-ivf-b<k>/centroid=<c>/...    (vec_id, label, embedding)
 *   seg-centroids/...parquet         (centroid, embedding — frozen)
 *
 * Both data tables are PARTITIONED BY their probe key, so a query reads
 * only the probed partitions of every live segment (partition pruning
 * visible in the plan) and never scans the full vector set. At 10^12
 * vectors this is the standard IVF/LSH store shape: the vectors are
 * duplicated into their cell.
 *
 * Determinism/portability: LSH planes come from splitmix64(p,d) and the
 * IVF coarse quantizer uses SEED CENTROIDS (the embeddings of
 * vec_id < IvfCentroids) — both reproducible in plain SQL, so the DuckDB
 * oracle verifies the materialized tables bit-for-bit. Lloyd refinement
 * of the centroids (lloydRefine) is available as a build-time quality
 * knob (spec-tested); the oracled default keeps refineIters = 0.
 */
object AnnIndex {
  import Tables._

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** ANN store FORMAT version: bump when planes/quantizer/layout
    * semantics change, so stores built by an older engine are rebuilt
    * instead of reopened (the root embeds it). v2: manifest-resolved
    * per-batch segment dirs (append/compact lifecycle). */
  val FormatVersion = "2"

  val NumPlanes = 16
  val Dim = 64
  val IvfCentroids = 16
  val IvfProbes = 4
  /** LSH probe count: the query's own bucket6 plus (LshProbes-1)
    * Hamming-adjacent codes, flipping the planes with the smallest
    * |margin| first — the LSH equivalent of the IvfProbes recall dial. */
  val LshProbes = 4
  /** lsh partition key: low 6 bits of the 16-bit bucket (64 partitions;
    * at scale use more planes/partitions — same mechanism). */
  val Bucket6Mask = 0x3f
  /** Plane count of the partition key — every probe-code computation
    * (Scala AND the generated oracles) derives from this, so widening
    * the mask updates them all in lockstep. */
  val Bucket6Bits: Int = java.lang.Integer.bitCount(Bucket6Mask)

  /** Deterministic pseudo-random hyperplane weight (plane p, dim d) in
    * [-1, 1] — splitmix64 on (p, d), public-domain mixer. Embedded as
    * literals into the DuckDB oracle SQL. */
  def planeWeight(p: Int, d: Int): Double = {
    var z = (p.toLong << 32 | d.toLong) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  val Planes: Array[Array[Double]] =
    Array.tabulate(NumPlanes, Dim)((p, d) => planeWeight(p, d))

  /** 16-bit sign-random-projection bucket. Sequential sum order (frozen:
    * the oracle's list_reduce folds left in the same order). */
  def lshBucket16(emb: Seq[Float]): Int = {
    var bucket = 0
    var p = 0
    while (p < NumPlanes) {
      var s = 0.0
      var d = 0
      val n = math.min(emb.length, Dim)
      while (d < n) { s += Planes(p)(d) * emb(d); d += 1 }
      if (s > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Index of the nearest centroid by squared L2, ties to the lowest id
    * (strict <); sequential accumulation order, matching the oracle. */
  def nearestCentroid(e: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var i = 0
      val cv = cents(c)
      val n = math.min(e.length, cv.length)
      while (i < n) { val x = e(i) - cv(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Seed centroids: the embeddings of vec_id < cells (as doubles),
    * index == vec_id. SQL-expressible, hence oracle-verifiable. */
  def seedCentroids(spark: SparkSession, dir: String,
                    cells: Int = IvfCentroids): Array[Array[Double]] = {
    import spark.implicits._
    t(spark, dir, "embeddings")
      .where(col("vec_id") < cells)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }

  /** Optional Lloyd refinement (k-means): each round is one broadcast
    * assign + reduceByKey average — the textbook scale shape, run at
    * BUILD time only (never per query). Not part of the oracled default. */
  def lloydRefine(spark: SparkSession, dir: String,
                  init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    import spark.implicits._
    lloydRefineVecs(spark, t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .as[(Long, Seq[Double])], init, iters)
  }

  /** Lloyd core over any (id, vector) dataset — the compact(recluster)
    * path refines over the STORE's own rows (base + appended batches),
    * not the original source table. */
  private def lloydRefineVecs(spark: SparkSession,
                              emb: org.apache.spark.sql.Dataset[(Long, Seq[Double])],
                              init: Array[Array[Double]],
                              iters: Int): Array[Array[Double]] = {
    import spark.implicits._
    var cents = init
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cents)
      val next = emb.map { case (_, e) =>
        (nearestCentroid(e.toArray, bc.value), (e.toArray, 1L))
      }.rdd.reduceByKey { (x: (Array[Double], Long), y: (Array[Double], Long)) =>
        val s = new Array[Double](x._1.length)
        var d = 0
        while (d < s.length) { s(d) = x._1(d) + y._1(d); d += 1 }
        (s, x._2 + y._2)
      }.collect().toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        next.get(c).map { case (s, n) => s.map(_ / n) }.getOrElse(old)
      }
    }
    cents
  }

  /** Handle to a committed store root. Data dirs are resolved through
    * the CURRENT manifest (a file stat), so readers see exactly the
    * committed segment set — per-batch dirs after appends, a single dir
    * per structure after compaction. */
  final case class AnnPaths(root: String) {
    private def manifest: Manifest =
      new IcebergLite(root).currentManifest().getOrElse(
        throw new IllegalStateException(s"no committed ANN store at $root"))
    private def dirs(prefix: String): Seq[String] =
      manifest.segments.filter(_.name.startsWith(prefix))
        .map(s => s"$root/${s.name}")
    def lshDirs: Seq[String] = dirs("seg-lsh")
    def ivfDirs: Seq[String] = dirs("seg-ivf")
    def centroidsDir: String = dirs("seg-centroids").head
  }

  /** Read a set of committed store segment dirs as one DataFrame. Each
    * dir is its own partitioned root (Spark rejects sibling partitioned
    * roots in a single read), so read them separately and union — a
    * probe-key filter pushes through the Union into EVERY scan, keeping
    * partition pruning per segment. A single-segment store (the common,
    * post-compaction shape) stays a single pruned scan. */
  private[ops] def readSegs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)

  /** Ingest batch ids a store segment contains, RANGE-ENCODED in lineage
    * ("0,3-7"): a long-lived stream appends thousands of contiguous
    * batches and compaction folds them into one span, so the manifest
    * never grows per-batch. */
  private def segBatches(s: SegmentInfo): Set[Long] =
    s.lineage.get("batches").map(IcebergLite.decodeRanges).getOrElse(Set.empty)

  /** Build-time store parameters. `cells` is the IVF cell count — the
    * first-order scale knob: a probe scans ~probes/cells of the corpus,
    * so cells should grow ~sqrt(N) with the vector count (the oracled
    * default 16 is the demo constant the DuckDB SQL can enumerate; at
    * 1M vectors the AnnScale tool uses 512). Seed centroids are the
    * embeddings of vec_id < cells. `refineIters` runs that many Lloyd
    * rounds over the source table at build time. */
  final case class BuildParams(refineIters: Int = 0, cells: Int = IvfCentroids,
                               lshBits: Int = Bucket6Bits) {
    require(lshBits >= 1 && lshBits <= NumPlanes,
      s"lshBits must be in [1, $NumPlanes], got $lshBits")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    /** LSH partition-key mask: the low lshBits of the 16-bit bucket.
      * Like `cells`, grow it ~sqrt(N) with the corpus — a probe reads
      * ~1/2^lshBits of the vectors; 6 bits (64 partitions) is the
      * oracled demo constant. */
    def lshMask: Int = (1 << lshBits) - 1
  }

  /** The committed store root for a dataset dir: format version +
    * content fingerprint + build parameters, all in the path (the
    * docEngine scheme — a regenerated dataset changes the root). */
  def rootFor(dir: String, p: BuildParams = BuildParams()): String =
    s"${SearchOps.workDir}/ann-f$FormatVersion-${
      graft.index.IndexBuilder.sha256Hex(dir + "|" +
        Tables.contentFingerprint(s"$dir/embeddings.parquet")).take(12)
    }-r${p.refineIters}-c${p.cells}-l${p.lshBits}"

  /** One LSH segment write: bucket every vector, partition by bucket6,
    * return the row count (rides the write job's tasks — no extra pass).
    * Shared by the base build and append. */
  private def writeLshSegment(spark: SparkSession, src: DataFrame,
                              dest: String, mask: Int): Long = {
    import spark.implicits._
    val rows = new graft.index.PassMetrics[(Long, Int, Seq[Float])](spark,
      s"ann-lsh-$dest", sums = Seq(("rows", _ => 1L)))
    src.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Seq[Float])]
      .mapPartitions(it => rows.track(it).map { case (id, label, e) =>
        val b = lshBucket16(e)
        // the partition column keeps its historical name whatever the
        // mask width: it holds the low lshBits of the 16-bit bucket
        (id, label, e, b.toLong, (b & mask).toLong)
      })
      .toDF("vec_id", "label", "embedding", "bucket16", "bucket6")
      .repartition(col("bucket6"))
      .write.partitionBy("bucket6").mode("overwrite").parquet(dest)
    graft.index.IndexBuilder.obsLong(rows.get, "rows")
  }

  /** One IVF segment write against a FIXED quantizer. */
  private def writeIvfSegment(spark: SparkSession, src: DataFrame,
                              cents: Array[Array[Double]], dest: String): Unit = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    src.select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Seq[Float])]
      .map { case (id, label, e) =>
        val c = nearestCentroid(e.map(_.toDouble).toArray, bc.value)
        (id, label, e, c.toLong)
      }
      .toDF("vec_id", "label", "embedding", "centroid")
      .repartition(col("centroid"))
      .write.partitionBy("centroid").mode("overwrite").parquet(dest)
  }

  private def lshLineage(dir: String, batches: String,
                         bits: Int): Map[String, String] =
    Map("source" -> dir, "format" -> FormatVersion, "kind" -> "lsh-sign-rp",
      "planes" -> NumPlanes.toString, "partitionKey" -> "bucket6",
      "partitionBits" -> bits.toString, "batches" -> batches)

  private def ivfLineage(dir: String, batches: String, refineIters: Int,
                         cells: Int): Map[String, String] =
    Map("source" -> dir, "format" -> FormatVersion, "kind" -> "ivf",
      "cells" -> cells.toString, "refineIters" -> refineIters.toString,
      "partitionKey" -> "centroid", "batches" -> batches)

  /** Open the committed ANN store for a dataset dir, building it first
    * iff no committed snapshot covers this exact (content, format,
    * params) triple. Reopen is a single file stat — no Spark jobs, no
    * writes; only a missing/uncommitted root triggers the build (one
    * pass over embeddings per structure, writes partitioned by probe
    * key, then an atomic snapshot commit). */
  def ensure(spark: SparkSession, dir: String,
             p: BuildParams = BuildParams()): AnnPaths = synchronized {
    import spark.implicits._
    val root = rootFor(dir, p)
    val tbl = new IcebergLite(root)
    val paths = AnnPaths(root)
    if (tbl.exists) return paths // REOPEN: committed store, metadata only
    // no snapshot => never committed; clear any crash debris and build
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val emb = t(spark, dir, "embeddings")

    // base (batch 0) LSH + IVF segments
    val nVec = writeLshSegment(spark, emb, s"$root/seg-lsh-b0", p.lshMask)
    val cents0 = seedCentroids(spark, dir, p.cells)
    val cents = if (p.refineIters > 0) lloydRefine(spark, dir, cents0, p.refineIters)
                else cents0
    writeIvfSegment(spark, emb, cents, s"$root/seg-ivf-b0")

    cents.zipWithIndex
      .map { case (e, c) => (c.toLong, e.toSeq) }.toSeq
      .toDF("centroid", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/seg-centroids")

    // atomic snapshot commit: reopenable from any later session/process
    tbl.commit(Manifest(version = 1, numShards = p.lshMask + 1,
      segments = Seq(
        SegmentInfo(0, "seg-lsh-b0", Nil, SegmentMetrics(nVec, 0, nVec, 0),
          lshLineage(dir, "0", p.lshBits)),
        SegmentInfo(1, "seg-ivf-b0", Nil, SegmentMetrics(nVec, 0, nVec, 0),
          ivfLineage(dir, "0", p.refineIters, cents.length)),
        SegmentInfo(2, "seg-centroids", Nil,
          SegmentMetrics(cents.length.toLong, 0, cents.length.toLong, 0),
          Map("source" -> dir, "format" -> FormatVersion,
            "kind" -> "quantizer"))),
      numDocs = nVec, totalTokens = 0L))

    paths
  }

  /** Sweep SUPERSEDED stores of this dataset dir — stores whose CONTENT
    * fingerprint or FORMAT no longer matches the current one (an
    * in-place regeneration or an engine upgrade mints a fresh root, and
    * the stores are corpus-sized; without a sweep every regeneration
    * leaks a full copy forever). Param VARIANTS of the current content
    * are deliberately KEPT: they are distinct user-built stores, and a
    * variant may hold appended micro-batch segments that exist nowhere
    * else. This is an EXPLICIT maintenance entry point — called from
    * compact(), never from ensure(): a SQL SELECT (which ensures the
    * default store on first use) must never delete store data, however
    * stale. Every swept root is logged. Returns the swept root paths. */
  def gcStores(dir: String, p: BuildParams = BuildParams()): Seq[String] =
    synchronized {
      val root = rootFor(dir, p)
      val keepPrefix = root.substring(0, root.lastIndexOf("-r")) // fmt+sha
      val work = new java.io.File(SearchOps.workDir)
      val swept = Option(work.listFiles()).getOrElse(Array.empty).filter {
        f =>
          f.getName.startsWith("ann-") && f.getPath != root &&
          !f.getPath.startsWith(keepPrefix + "-") && {
            try new IcebergLite(f.getPath).currentManifest()
              .exists(_.segments.exists(_.lineage.get("source").contains(dir)))
            catch { case _: Exception => false } // foreign/corrupt: leave it
          }
      }.toSeq
      swept.foreach { f =>
        log.warn(s"annGcStores: sweeping superseded store " +
          s"${f.getPath} (stale content/format for source $dir; " +
          s"current root $root)")
        org.apache.commons.io.FileUtils.deleteQuietly(f)
      }
      swept.map(_.getPath)
    }

  /** Append one ingest micro-batch of NEW vectors (vec_id, embedding,
    * label; ids must not collide with committed ones — the caller owns
    * id assignment, as with the inverted index's docIds) to an existing
    * committed store. The batch is bucketed/assigned against the store's
    * FROZEN planes and quantizer and written as its own immutable
    * segment pair, visible only at the atomic manifest commit. Returns
    * false (a no-op) when this batchId is already committed — the
    * exactly-once re-delivery contract; a crashed append commits
    * nothing and the retry overwrites its debris. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             batchId: Long, p: BuildParams = BuildParams()): Boolean = synchronized {
    import spark.implicits._
    require(batchId > 0, s"batchId must be > 0 (0 is the base build), got $batchId")
    val root = rootFor(dir, p)
    val tbl = new IcebergLite(root)
    val m = tbl.currentManifest().getOrElse(throw new IllegalStateException(
      s"no committed ANN store for $dir — run ensure() before append()"))
    if (m.segments.exists(s => segBatches(s).contains(batchId)))
      return false // already committed: re-delivered micro-batch

    val lshName = s"seg-lsh-b$batchId"
    val ivfName = s"seg-ivf-b$batchId"
    val n = writeLshSegment(spark, batch, s"$root/$lshName", p.lshMask)
    if (n == 0) {
      // empty micro-batch (streams deliver them routinely): a file-less
      // partitioned dir would break later segment reads, so commit no
      // new segment — just fold the batchId into the existing lineage
      // ranges, which keeps the re-delivery check exact
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$root/$lshName"))
      val segs = m.segments.map { s =>
        if (s.name.startsWith("seg-lsh") || s.name.startsWith("seg-ivf"))
          s.copy(lineage = s.lineage + ("batches" ->
            IcebergLite.encodeRanges(segBatches(s) + batchId)))
        else s
      }
      tbl.commit(m.copy(version = m.version + 1, segments = segs))
      return true
    }
    // quantizer read deferred past the empty-batch path: a sparse stream
    // fires mostly empty triggers, which must not pay a centroids job
    val cents = spark.read.parquet(AnnPaths(root).centroidsDir)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    writeIvfSegment(spark, batch, cents, s"$root/$ivfName")

    val nextSeg = m.segments.map(_.segId).max + 1
    val refine = m.segments.find(_.name.startsWith("seg-ivf"))
      .flatMap(_.lineage.get("refineIters")).getOrElse("0")
    tbl.commit(m.copy(version = m.version + 1,
      segments = m.segments ++ Seq(
        SegmentInfo(nextSeg, lshName, Nil, SegmentMetrics(n, 0, n, 0),
          lshLineage(dir, batchId.toString, p.lshBits)),
        SegmentInfo(nextSeg + 1, ivfName, Nil, SegmentMetrics(n, 0, n, 0),
          ivfLineage(dir, batchId.toString, refine.toInt, cents.length))),
      numDocs = m.numDocs + n))
    true
  }

  /** Merge the per-batch segment dirs back to ONE dir per structure
    * (re-partitioned by probe key) and GC the dead ones — the ANN
    * analogue of SegmentMerge over posting segments. Queries before,
    * during and after see identical rows: the merged segments become
    * visible only at the atomic commit, and batch lineage is folded into
    * ranges so re-delivery of any pre-compaction batch stays a no-op.
    * (Visibility is at manifest granularity: a DataFrame that resolved
    * the OLD segment files before the compaction follows IcebergLite's
    * gc retention horizon — re-resolve after the commit, as every
    * AnnOps query does.)
    *
    * `recluster > 0` additionally runs that many Lloyd rounds over the
    * STORE's own vectors (base + every appended batch) and reassigns all
    * inverted lists to the refined centroids — the standard remedy for
    * quantizer drift under append-only growth (appends are assigned
    * against frozen centroids; a corpus that drifts from the seed
    * distribution degrades cell balance until a recluster). The LSH side
    * never needs this: its planes are data-independent. */
  def compact(spark: SparkSession, dir: String,
              p: BuildParams = BuildParams(),
              recluster: Int = 0): AnnPaths = synchronized {
    import spark.implicits._
    val root = rootFor(dir, p)
    val tbl = new IcebergLite(root)
    val m = tbl.currentManifest().getOrElse(throw new IllegalStateException(
      s"no committed ANN store for $dir — nothing to compact"))
    val paths = AnnPaths(root)
    val lshSegs = m.segments.filter(_.name.startsWith("seg-lsh"))
    val ivfSegs = m.segments.filter(_.name.startsWith("seg-ivf"))
    val fragmented = lshSegs.size > 1 || ivfSegs.size > 1
    // sweep first: a crash between a previous compact's commit and its
    // gc() would otherwise strand the corpus-sized dead per-batch dirs
    // forever (the early return below never reached them); compaction is
    // also the maintenance window where superseded-content sibling
    // stores are reclaimed (logged, never from the SELECT/ensure path)
    tbl.gc()
    gcStores(dir, p)
    if (!fragmented && recluster <= 0) return paths // already compact

    val v = m.version + 1
    val batches = IcebergLite.encodeRanges(
      (lshSegs ++ ivfSegs).flatMap(segBatches).toSet)
    val nVec = lshSegs.map(_.metrics.docs).sum
    val refine = ivfSegs.flatMap(_.lineage.get("refineIters"))
      .headOption.getOrElse("0")

    // LSH: merge when fragmented (planes are data-independent, so a
    // single-segment store needs no rewrite even when reclustering);
    // explicit partition count: AQE must not coalesce the merge write
    val lshSeg =
      if (lshSegs.size > 1) {
        val lshName = s"seg-lsh-v$v"
        readSegs(spark, paths.lshDirs)
          .repartition(p.lshMask + 1, col("bucket6"))
          .write.partitionBy("bucket6").mode("overwrite")
          .parquet(s"$root/$lshName")
        SegmentInfo(0, lshName, Nil, SegmentMetrics(nVec, 0, nVec, 0),
          lshLineage(dir, batches, p.lshBits))
      } else lshSegs.head.copy(segId = 0,
        lineage = lshSegs.head.lineage + ("batches" -> batches))

    // quantizer: refined over the store's own vectors, or carried over
    val centroidsSeg0 = m.segments.find(_.name.startsWith("seg-centroids")).get
    val (newCents, centroidsSeg) =
      if (recluster > 0) {
        val cur = spark.read.parquet(paths.centroidsDir)
          .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
        val vecs = readSegs(spark, paths.lshDirs)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("e"))
          .as[(Long, Seq[Double])]
        val nc = lloydRefineVecs(spark, vecs, cur, recluster)
        val name = s"seg-centroids-v$v"
        nc.zipWithIndex.map { case (e, c) => (c.toLong, e.toSeq) }.toSeq
          .toDF("centroid", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
        (Some(nc), SegmentInfo(2, name, Nil,
          SegmentMetrics(nc.length.toLong, 0, nc.length.toLong, 0),
          centroidsSeg0.lineage + ("reclustered" -> recluster.toString)))
      } else (None, centroidsSeg0.copy(segId = 2))

    // IVF: reassign against refined centroids, else a pure merge of the
    // stored assignments (deterministic — no recompute needed)
    val ivfSeg =
      if (recluster > 0 || ivfSegs.size > 1) {
        val ivfName = s"seg-ivf-v$v"
        newCents match {
          case Some(nc) =>
            writeIvfSegment(spark, readSegs(spark, paths.lshDirs), nc,
              s"$root/$ivfName")
          case None =>
            readSegs(spark, paths.ivfDirs)
              .repartition(p.cells, col("centroid"))
              .write.partitionBy("centroid").mode("overwrite")
              .parquet(s"$root/$ivfName")
        }
        SegmentInfo(1, ivfName, Nil, SegmentMetrics(nVec, 0, nVec, 0),
          ivfLineage(dir, batches, refine.toInt, p.cells) ++
            newCents.map(_ => "reclustered" -> recluster.toString))
      } else ivfSegs.head.copy(segId = 1,
        lineage = ivfSegs.head.lineage + ("batches" -> batches))

    tbl.commit(m.copy(version = v, segments = Seq(lshSeg, ivfSeg, centroidsSeg)))
    tbl.gc() // delete the dead per-batch dirs + old manifests
    paths
  }
}
