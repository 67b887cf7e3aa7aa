package graft

import graft.ops.{AnnIndex, AnnOps, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Durability + incremental-maintenance contract of the materialized ANN
  * stores: built once, committed behind the snapshot protocol, REOPENED
  * (not rebuilt) by later opens; content-fingerprinted roots so a
  * regenerated dataset rebuilds instead of serving stale buckets; and
  * the append/compact micro-batch lifecycle mirroring the inverted
  * index (frozen quantizer, idempotent re-delivery, atomic visibility). */
class AnnIndexSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  private def snap(f: java.io.File): Seq[(String, Long, Long)] =
    if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(snap)
    else Seq((f.getPath, f.length, f.lastModified))

  /** A temp dataset dir holding the sf embeddings rows with vec_id in
    * [lo, hi) as its embeddings table. */
  private def subsetDir(prefix: String, lo: Int, hi: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), prefix).toString
    Tables.t(spark, sf, "embeddings")
      .where(col("vec_id") >= lo && col("vec_id") < hi)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("committed ANN store is reopened, never rebuilt: no jobs, no file churn, same results") {
    val p1 = AnnIndex.ensure(spark, sf)
    assert(new graft.table.IcebergLite(p1.root).exists,
      "build must commit a snapshot")
    val lsh1 = AnnOps.qAnnLshTopK(spark, sf).collect().toSeq
    val ivf1 = AnnOps.qAnnIvfTopK(spark, sf).collect().toSeq
    val before = snap(new java.io.File(p1.root))

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val p2 =
      try {
        val p = AnnIndex.ensure(spark, sf)
        Thread.sleep(500) // listener events are posted asynchronously
        p
      } finally spark.sparkContext.removeSparkListener(listener)

    assert(p2.root == p1.root, "same content must resolve to the same root")
    assert(jobs.get() == 0, "reopening a committed store must launch no Spark jobs")
    assert(snap(new java.io.File(p1.root)) == before,
      "reopen must not rewrite any store file")
    assert(AnnOps.qAnnLshTopK(spark, sf).collect().toSeq == lsh1)
    assert(AnnOps.qAnnIvfTopK(spark, sf).collect().toSeq == ivf1)
  }

  test("manifest records the three store segments with row metrics") {
    val p = AnnIndex.ensure(spark, sf)
    val m = new graft.table.IcebergLite(p.root).currentManifest().get
    assert(m.segments.map(_.name).sorted ==
      Seq("seg-centroids", "seg-ivf-b0", "seg-lsh-b0"))
    val lsh = m.segments.find(_.name.startsWith("seg-lsh")).get
    assert(lsh.metrics.docs == Tables.t(spark, sf, "embeddings").count())
    assert(lsh.lineage("source") == sf)
    assert(m.segments.find(_.name == "seg-centroids").get.metrics.docs ==
      AnnIndex.IvfCentroids.toLong)
  }

  test("regenerated dataset at the same path gets a fresh fingerprinted root") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "annfp").toString
    val src = Tables.t(spark, sf, "embeddings").limit(64)
    src.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root1 = AnnIndex.rootFor(dir)
    AnnIndex.ensure(spark, dir)
    assert(new graft.table.IcebergLite(root1).exists)

    Thread.sleep(1100) // parquet mtime granularity can be 1s
    // regenerate in place: different rows => different content
    Tables.t(spark, sf, "embeddings").limit(32).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root2 = AnnIndex.rootFor(dir)
    assert(root2 != root1,
      "fingerprint must change when the dataset is regenerated in place")
    val p2 = AnnIndex.ensure(spark, dir)
    assert(p2.root == root2)
    assert(spark.read.parquet(p2.lshDirs: _*).count() == 32,
      "the fresh store must index the regenerated data, not the stale one")
    // ensure() (the SELECT path) must NOT delete the superseded store —
    // reads never destroy data, however stale
    assert(new java.io.File(root1).exists(),
      "ensure() must leave the stale store alone (no deletes on the read path)")
    // the EXPLICIT maintenance sweep reclaims it, loudly (a corpus-sized
    // copy per regeneration would otherwise leak forever)
    val (swept, logged) =
      SparkSessionFixture.warnings("graft.ops.AnnIndex")(AnnIndex.gcStores(dir))
    assert(swept == Seq(root1),
      s"gcStores must report the stale root it removed, got $swept")
    assert(!new java.io.File(root1).exists(),
      "stale store for the regenerated dataset must be deleted by gcStores")
    assert(logged.contains(root1) &&
      logged.contains("sweeping superseded store"),
      "every swept root must be logged")
  }

  test("a crashed (uncommitted) build is cleared and rebuilt on the next ensure") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "anncrash").toString
    Tables.t(spark, sf, "embeddings").limit(48).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root = AnnIndex.rootFor(dir)
    // simulate a crash: partial store files on disk, NO snapshot commit
    new java.io.File(s"$root/seg-lsh-b0").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/seg-lsh-b0/garbage.parquet"), "not parquet")
    val p = AnnIndex.ensure(spark, dir)
    assert(new graft.table.IcebergLite(p.root).exists)
    assert(spark.read.parquet(p.lshDirs: _*).count() == 48)
  }

  test("APPEND: base + appended batch answers exactly like a fresh full build") {
    // grown store: base build over vec_id [0,120), one appended batch
    // [120,200) assigned against the FROZEN planes + seed quantizer
    val grown = subsetDir("anngrow", 0, 120)
    AnnIndex.ensure(spark, grown)
    val batch = Tables.t(spark, sf, "embeddings")
      .where(col("vec_id") >= 120 && col("vec_id") < 200)
    assert(AnnIndex.append(spark, grown, batch, batchId = 1))

    // reference store: one fresh build over the full [0,200) — the seed
    // centroids (vec_id < 16) are identical, so assignments must agree
    val full = subsetDir("annfull", 0, 200)
    AnnIndex.ensure(spark, full)

    assert(AnnOps.qAnnLshBuckets(spark, grown).collect().toSeq ==
      AnnOps.qAnnLshBuckets(spark, full).collect().toSeq)
    assert(AnnOps.qAnnIvfAssign(spark, grown).collect().toSeq ==
      AnnOps.qAnnIvfAssign(spark, full).collect().toSeq)
    assert(AnnOps.qAnnLshTopK(spark, grown).collect().toSeq ==
      AnnOps.qAnnLshTopK(spark, full).collect().toSeq)
    assert(AnnOps.qAnnLshMultiProbe(spark, grown).collect().toSeq ==
      AnnOps.qAnnLshMultiProbe(spark, full).collect().toSeq)
    assert(AnnOps.qAnnIvfTopK(spark, grown).collect().toSeq ==
      AnnOps.qAnnIvfTopK(spark, full).collect().toSeq)

    // queries on the grown store still PRUNE: they read only the probed
    // bucket partitions of each live segment, never the full store
    val scan = AnnOps.qAnnLshTopK(spark, grown)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
    val scans = scan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, "one pruned scan per live segment")
    val sel = scans.map(_.selectedPartitions.partitionCount).sum
    assert(sel <= 2, s"single-probe over 2 segments must read <= 2 dirs, got $sel")
    assert(scans.map(_.relation.location.inputFiles.length).sum > sel)

    // QUERY BY AN APPENDED VECTOR: vec 150 exists only in the store
    // (the grown dir's source table is [0,120)); the qid must resolve
    // from the store's own rows and answer exactly like the full build,
    // from the Scala API and from SQL (ann_topk TVF)
    assert(Tables.t(spark, grown, "embeddings")
      .where(col("vec_id") === 150).count() == 0L)
    graft.GraftSql.ensureStrategy(spark)
    Seq("lsh", "multiprobe", "ivf").foreach { m =>
      def run(d: String) =
        org.apache.spark.sql.GraftBridge.ofRows(spark,
          graft.plans.AnnTopK(d, m, 10, qid = 150L))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = run(grown)
      assert(got.nonEmpty && got.head._1 == 150L,
        s"$m: appended query vector must self-match first, got $got")
      assert(got == run(full),
        s"$m: grown-store answers for an appended qid must equal the full build")
    }
    // a qid in NEITHER the source nor the store still fails loudly
    val eMissing = intercept[Exception](
      AnnOps.lshTopK(spark, grown, AnnIndex.BuildParams(), 10, qid = 99999L))
    assert(eMissing.getMessage.contains("not found"))

    // re-delivered micro-batch: a committed batchId is a NO-OP
    val root = AnnIndex.rootFor(grown)
    val mBefore = new graft.table.IcebergLite(root).currentManifest().get
    val before = snap(new java.io.File(root))
    assert(!AnnIndex.append(spark, grown, batch, batchId = 1))
    assert(new graft.table.IcebergLite(root).currentManifest().get.version ==
      mBefore.version)
    assert(snap(new java.io.File(root)) == before,
      "re-delivery must not touch the store")
    assert(mBefore.numDocs == 200L)

    // COMPACT: per-batch segments merge to one dir per structure; same
    // answers, dead dirs GC'd, pre-compaction re-delivery still a no-op
    val lshTop = AnnOps.qAnnLshTopK(spark, grown).collect().toSeq
    AnnIndex.compact(spark, grown)
    val mAfter = new graft.table.IcebergLite(root).currentManifest().get
    assert(mAfter.segments.size == 3,
      s"compacted store must hold 3 segments, got ${mAfter.segments.map(_.name)}")
    assert(!new java.io.File(s"$root/seg-lsh-b0").exists(),
      "dead per-batch dir must be GC'd")
    assert(!new java.io.File(s"$root/seg-lsh-b1").exists())
    assert(AnnOps.qAnnLshTopK(spark, grown).collect().toSeq == lshTop)
    assert(AnnOps.qAnnLshBuckets(spark, grown).count() == 200L)
    assert(!AnnIndex.append(spark, grown, batch, batchId = 1),
      "range-folded lineage must still recognize a pre-compaction batch")
    // a genuinely new batch keeps working after compaction
    val batch2 = Tables.t(spark, sf, "embeddings")
      .where(col("vec_id") >= 200 && col("vec_id") < 210)
    assert(AnnIndex.append(spark, grown, batch2, batchId = 2))
    assert(AnnOps.qAnnLshBuckets(spark, grown).count() == 210L)

    // EMPTY micro-batch: committed as lineage only (no file-less dirs),
    // still exactly-once on re-delivery, store answers unchanged
    val empty = Tables.t(spark, sf, "embeddings").where(col("vec_id") < 0)
    assert(AnnIndex.append(spark, grown, empty, batchId = 3))
    assert(!AnnIndex.append(spark, grown, empty, batchId = 3))
    assert(!new java.io.File(s"$root/seg-lsh-b3").exists())
    assert(AnnOps.qAnnLshBuckets(spark, grown).count() == 210L)
  }

  test("compact(recluster): Lloyd over the store's own vectors, lists reassigned, quantizer committed") {
    import spark.implicits._
    val dir = subsetDir("annrecl", 0, 100)
    val p = AnnIndex.ensure(spark, dir)
    val batch = Tables.t(spark, sf, "embeddings")
      .where(col("vec_id") >= 100 && col("vec_id") < 160)
    assert(AnnIndex.append(spark, dir, batch, batchId = 1))
    val before = spark.read.parquet(p.centroidsDir)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq

    AnnIndex.compact(spark, dir, recluster = 2)
    val root = AnnIndex.rootFor(dir)
    val m = new graft.table.IcebergLite(root).currentManifest().get
    assert(m.segments.exists(_.name.startsWith("seg-centroids-v")),
      "recluster must commit a fresh quantizer segment")
    assert(m.segments.find(_.name.startsWith("seg-ivf")).get
      .lineage("reclustered") == "2")
    val after = spark.read.parquet(p.centroidsDir)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(after.size == AnnIndex.IvfCentroids)
    assert(after != before, "Lloyd rounds must move at least one centroid")

    // every vector (base + appended) reassigned; probe query still exact
    // on its own cell; a second compact finds nothing to do
    assert(AnnOps.qAnnIvfAssign(spark, dir).count() == 160L)
    assert(AnnOps.qAnnIvfTopK(spark, dir).collect().head.getLong(0) == 0L)
    assert(AnnOps.qAnnLshBuckets(spark, dir).count() == 160L)
    val vNow = m.version
    AnnIndex.compact(spark, dir)
    assert(new graft.table.IcebergLite(root).currentManifest().get.version == vNow)
  }

  test("param-variant stores coexist; the sweep removes only stale content") {
    val dir = subsetDir("annvar", 0, 48)
    val rootA = AnnIndex.rootFor(dir)
    AnnIndex.ensure(spark, dir)
    val pB = AnnIndex.BuildParams(cells = 8, lshBits = 4)
    val rootB = AnnIndex.rootFor(dir, pB)
    AnnIndex.ensure(spark, dir, pB)
    assert(new graft.table.IcebergLite(rootA).exists &&
      new graft.table.IcebergLite(rootB).exists,
      "opening one variant must never destroy another (appended segments " +
        "live only in their store)")
    // regenerate the content in place: BOTH variants are now stale, but
    // building the fresh store (ensure = the SELECT path) leaves them;
    // only the explicit compact() maintenance window sweeps them
    Thread.sleep(1100)
    Tables.t(spark, sf, "embeddings").where(col("vec_id") < 32).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    AnnIndex.ensure(spark, dir)
    assert(new java.io.File(rootA).exists() && new java.io.File(rootB).exists(),
      "ensure() must not sweep — stale stores survive every read/build")
    AnnIndex.compact(spark, dir)
    assert(!new java.io.File(rootA).exists() && !new java.io.File(rootB).exists(),
      "compact() must sweep stale-content stores (both param variants)")
  }

  test("a no-op compact still sweeps dead dirs (crash between a prior commit and its gc)") {
    val dir = subsetDir("anngc", 0, 40)
    AnnIndex.ensure(spark, dir)
    val root = AnnIndex.rootFor(dir)
    // debris a crash can leave: a segment dir no kept manifest references
    val dead = new java.io.File(s"$root/seg-lsh-b9")
    dead.mkdirs()
    AnnIndex.compact(spark, dir) // nothing to merge — must sweep anyway
    assert(!dead.exists(), "early-return compact must still GC orphans")
  }

  test("model-based ANN lifecycle fuzz: random append/compact/recluster sequences stay consistent") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(
      sys.env.get("GRAFT_ANNFUZZ_SEED").map(_.toLong).getOrElse(20260817L))
    val dir = subsetDir("annlife", 0, 64)
    AnnIndex.ensure(spark, dir)
    val root = AnnIndex.rootFor(dir)
    var nextId = 64L
    var nextBatch = 1L
    var committed = Set.empty[Long] // batchIds the model says are in

    def check(step: String): Unit = {
      // LSH buckets are plane-determined: ALWAYS the model's recompute,
      // whatever maintenance ran (recluster never touches them)
      val got = AnnOps.qAnnLshBuckets(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size.toLong == nextId, s"$step: store row count")
      val emb = Tables.t(spark, sf, "embeddings")
        .where(col("vec_id") < nextId)
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
      emb.foreach { case (id, e) =>
        assert(got(id) == AnnIndex.lshBucket16(e).toLong, s"$step: bucket of $id") }
      // IVF covers every vector exactly once
      assert(AnnOps.qAnnIvfAssign(spark, dir).count() == nextId, s"$step: ivf")
      // re-delivery of every committed batch stays a no-op
      committed.foreach { b =>
        assert(!AnnIndex.append(spark, dir,
          Tables.t(spark, sf, "embeddings").where(col("vec_id") < 0), b),
          s"$step: batch $b re-delivered")
      }
      // the newest APPENDED vector (absent from the source table, which
      // holds only [0,64)) is addressable as a query: qid resolves from
      // the store's own rows and the probe equals the model's exact
      // cosine over the query's bucket (same fold order as the plan)
      if (nextId > 64) {
        val qid = nextId - 1
        val embMap = emb.toMap
        val qv = embMap(qid).map(_.toDouble)
        def cosM(a: Seq[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < a.length) { dot += a(i).toDouble * qv(i); i += 1 }
          i = 0; while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
          i = 0; while (i < qv.length) { nb += qv(i) * qv(i); i += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val qb = got(qid) & AnnIndex.Bucket6Mask
        val expect = emb.toSeq
          .filter { case (id, _) => (got(id) & AnnIndex.Bucket6Mask) == qb }
          .map { case (id, e) => (id, math.floor(cosM(e) * 1e6 + 0.5) / 1e6) }
          .sortBy { case (id, c) => (-c, id) }.take(10)
        val top = AnnOps.lshTopK(spark, dir, AnnIndex.BuildParams(), 10, qid)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(top == expect, s"$step: appended-qid lsh topk ($qid)")
      }
    }
    check("base")
    (1 to 8).foreach { step =>
      val what = rng.nextInt(5) match {
        case 0 | 1 =>
          val n = 8 + rng.nextInt(24)
          val batch = Tables.t(spark, sf, "embeddings")
            .where(col("vec_id") >= nextId && col("vec_id") < nextId + n)
          assert(AnnIndex.append(spark, dir, batch, nextBatch))
          committed += nextBatch
          nextId += n; nextBatch += 1
          s"append(+$n)"
        case 2 => AnnIndex.compact(spark, dir); "compact"
        case 3 => AnnIndex.compact(spark, dir, recluster = 1); "recluster"
        case 4 => // empty micro-batch
          assert(AnnIndex.append(spark, dir,
            Tables.t(spark, sf, "embeddings").where(col("vec_id") < 0),
            nextBatch))
          committed += nextBatch; nextBatch += 1
          "append(empty)"
      }
      check(s"step $step [$what]")
    }
    // settle: a final compact leaves exactly one dir per structure and
    // the whole history still answers identically
    AnnIndex.compact(spark, dir)
    check("final compact")
    val m = new graft.table.IcebergLite(root).currentManifest().get
    assert(m.segments.size == 3, m.segments.map(_.name))
  }

  test("append without a committed base build fails loudly") {
    val dir = subsetDir("annnobase", 0, 32)
    val batch = Tables.t(spark, sf, "embeddings").where(col("vec_id") < 8)
    val e = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, batch, batchId = 1)
    }
    assert(e.getMessage.contains("ensure"))
    intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, batch, batchId = 0)
    }
  }
}
