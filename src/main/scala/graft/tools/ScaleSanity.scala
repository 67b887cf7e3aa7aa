package graft.tools
import graft.corpus.CorpusGen
import graft.index._
import graft.ops.SearchOps.workDir
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
object ScaleSanity {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = s"$workDir/scale-index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def timed[A](n: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $n%-24s ${(System.nanoTime()-t0)/1e9}%8.1f s"); r
    }
    // positions toggle: the 4M point builds positions=false in this
    // sandbox — the positional shuffle+spill exceeds the ~67 GB scratch
    // disk at that scale; disjunctive/boolean/match-set measurements
    // never read positions, so they stay r4-comparable, and phrase
    // scaling is measured at 1M/2M (positions on)
    val positions = sys.env.getOrElse("GRAFT_SCALE_POSITIONS", "true").toBoolean
    // GRAFT_SCALE_PASSES > 1 bounds per-pass scratch: the bulk build runs
    // in checkpointed passes of numShards/passes input shards each (the
    // buildAll resume loop — each pass analyzes and shuffles only its own
    // shards' docs, so peak shuffle+spill is ~1/passes of the single-pass
    // build). This is how the 4M-doc POSITIONAL point fits this sandbox's
    // ~67 GB scratch disk, and exactly the per-partition-checkpoint story
    // the north rule's 10^12-file build needs anyway.
    val passes = sys.env.getOrElse("GRAFT_SCALE_PASSES", "1").toInt
    println(s"[scale] positions=$positions passes=$passes")
    // two batches then a merge: the full lifecycle at scale
    val r1 = timed(s"build batch0 ${nDocs}") {
      val corpus = CorpusGen.dataset(spark, nDocs, 42L, 128)
      if (passes <= 1) IndexBuilder.build(spark, corpus, root, 64,
        positions = positions)
      else IndexBuilder.buildAll(spark, corpus, root, 64,
        shardsPerPass = (64 + passes - 1) / passes, positions = positions)
    }
    println(s"[scale] batch0 docs/sec note: segments=${r1.manifest.segments.size} docs=${r1.manifest.numDocs}")
    import spark.implicits._
    timed("build batch1 +20k") {
      IndexBuilder.build(spark,
        spark.range(nDocs, nDocs + 20000).map(i => CorpusGen.doc(42L, i)), root,
        64, batch = 1, positions = positions)
    }
    val eng0 = new QueryEngine(spark, root)
    val m = eng0.manifest
    println(s"[scale] manifest: docs=${m.numDocs} segs=${m.segments.size} " +
      m.segments.map(s => s"${s.name}(terms=${s.metrics.terms},postings=${s.metrics.postings},MB=${s.metrics.bytes/1024/1024})").mkString(" "))
    val hits = timed("query warm+3") {
      ReferenceQueries.all.take(3).foreach(q => eng0.topK(q, 10))
      ReferenceQueries.all.map(q => eng0.topK(q, 10).size).sum
    }
    println(s"[scale] total hits over query set: $hits")
    val boolBefore = ReferenceQueries.boolQueries.map(q => eng0.booleanTopK(q, 10))
    timed("merge") { SegmentMerge.merge(spark, root) }
    val eng1 = new QueryEngine(spark, root)
    val agree = ReferenceQueries.all.forall(q => eng1.topK(q, 10) == eng0.topK(q, 10))
    println(s"[scale] post-merge identical results: $agree; segs=${eng1.manifest.segments.size}; " +
      s"dict=${eng1.manifest.dict}")
    val boolAgree = ReferenceQueries.boolQueries.zip(boolBefore)
      .forall { case (q, before) => eng1.booleanTopK(q, 10) == before }
    println(s"[scale] post-merge boolean identical: $boolAgree")
    // latency at this scale
    val lats = (1 to 2).flatMap(_ => ReferenceQueries.all.map { q =>
      val t0 = System.nanoTime(); eng1.topK(q, 10); (System.nanoTime()-t0)/1e9 })
    println(f"[scale] p50=${lats.sorted.apply(lats.size/2)}%.3f p95=${lats.sorted.apply((lats.size*95)/100 min (lats.size-1))}%.3f")
    // per-query disjunctive breakdown: the stopword-dense vs selective
    // split is the MAXSCORE story — selective-bearing queries should
    // stay flat as the corpus grows, all-dense ones are honest-linear
    ReferenceQueries.all.foreach { q =>
      val t0 = System.nanoTime(); eng1.topK(q, 10)
      val t1 = (System.nanoTime() - t0) / 1e9
      val t2 = System.nanoTime(); eng1.topK(q, 10)
      println(f"[scale] disj '${q.take(40)}%-40s' ${t1}%.3f / ${(System.nanoTime()-t2)/1e9}%.3f s")
    }
    val blats = (1 to 2).flatMap(_ => ReferenceQueries.boolQueries.map { q =>
      val t0 = System.nanoTime(); eng1.booleanTopK(q, 10); (System.nanoTime()-t0)/1e9 })
    println(f"[scale] bool p50=${blats.sorted.apply(blats.size/2)}%.3f p95=${blats.sorted.apply((blats.size*95)/100 min (blats.size-1))}%.3f")
    // negation at scale: the must_not cost model says exclusion pays the
    // banned list's posting volume — a DENSE ban ('def' matches ~every
    // doc) is the worst case, a selective ban ~free; both vs the anchor
    Seq("posting reader", "posting reader -checkpoint",
        "posting reader -def").foreach { q =>
      val t0 = System.nanoTime()
      val n = eng1.booleanTopK(q, 10).size
      println(f"[scale] neg '$q%-28s' -> $n hits in ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    // complement-exactness over the FULL distributed match set
    val nAll = eng1.matchingDocIds("posting").count()
    val nBan = eng1.matchingDocIds("posting def").count()
    val t0n = System.nanoTime()
    val nNeg = eng1.matchingDocIds("posting -def").count()
    println(f"[scale] neg match-set 'posting -def' -> $nNeg docs in " +
      f"${(System.nanoTime()-t0n)/1e9}%.2f s " +
      s"(complement-exact=${nNeg == nAll - nBan}: $nAll-$nBan)")
    // fuzzy at scale: the banded dict scan is the expansion cost (the
    // vocabulary is the small table — report it separately from scoring)
    Seq(("raeder", 2), ("postin", 1)).foreach { case (s, d) =>
      val t0 = System.nanoTime()
      val (kept, total) = eng1.expandFuzzy(s, d)
      val tExp = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = eng1.topK(s"$s~$d", 10).size
      println(f"[scale] fuzzy '$s~$d' expand=${tExp}%.3f s " +
        f"(kept=${kept.size}/$total) query=${(System.nanoTime()-t1)/1e9}%.3f s $n hits")
    }
    // round-6 surfaces: sloppy span (same pruned positional read the
    // exact phrase pays), minimum_should_match (same WAND walk + a
    // counter), filtered search (allowed-set shuffle), deep page
    if (eng1.hasPositions) Seq(0, 2, 5).foreach { slop =>
      val t0 = System.nanoTime()
      val n = eng1.booleanTopK(s""""posting reader"~$slop""", 10).size
      println(f"[scale] near slop=$slop -> $n hits in ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    Seq(1, 2, 3).foreach { m =>
      val t0 = System.nanoTime()
      val n = eng1.run(SearchRequest("posting reader segment", 10, minMatch = m)).size
      println(f"[scale] min_match m=$m -> $n hits in ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    val tF = System.nanoTime()
    val nF = eng1.run(SearchRequest("posting reader", 10,
      gate = Some(expr("docId % 4 = 0")))).size
    println(f"[scale] filtered topK (25%% allowed) -> $nF hits in ${(System.nanoTime()-tF)/1e9}%.2f s")
    val tP = System.nanoTime()
    val pg1 = eng1.topK("posting reader", 10)
    val pg2 = eng1.run(SearchRequest("posting reader", 10,
      after = Some((pg1.last.score, pg1.last.docId))))
    println(f"[scale] page1+page2 -> ${pg1.size}+${pg2.size} hits in ${(System.nanoTime()-tP)/1e9}%.3f s")
    // r7 field syntax: the query-string gate must ride the SAME allowed-set
    // path as the explicit predicate (parity + timing), per-group gates
    // must agree with a docmeta join over the ungated match set, and the
    // dense multi-group match set exercises the merge-dedup emission
    val tQ1 = System.nanoTime()
    val qsHits = eng1.run(
      SearchRequest.queryString("posting reader lang:scala dlen:[20 TO 200]", 10))
    val tQs = (System.nanoTime()-tQ1)/1e9
    val exHits = eng1.run(SearchRequest("posting reader", 10, gate = Some(
      expr("lang = 'scala' AND docLen >= 20 AND docLen <= 200"))))
    println(f"[scale] field query-string gate (lang+dlen) -> ${qsHits.size} hits in " +
      f"$tQs%.2f s (parity with explicit predicate: ${qsHits == exHits})")
    val tQ2 = System.nanoTime()
    val nGated = eng1.matchingDocIds("posting lang:scala, reader -lang:scala").count()
    val tGated = (System.nanoTime()-tQ2)/1e9
    val viaJoin = {
      import org.apache.spark.sql.functions.col
      val scalaIds = eng1.docmeta.where(col("lang") === "scala").select("docId")
      val a = eng1.matchingDocIds("posting").join(scalaIds, Seq("docId"),
        "left_semi").count()
      val b = eng1.matchingDocIds("reader").join(scalaIds, Seq("docId"),
        "left_anti").count()
      val both = eng1.matchingDocIds("posting lang:scala")
        .join(eng1.matchingDocIds("reader -lang:scala"), Seq("docId"), "left_semi")
        .count()
      a + b - both
    }
    println(f"[scale] field match-set (2 gated groups) -> $nGated docs in " +
      f"$tGated%.2f s (docmeta-join parity: ${nGated == viaJoin}: $viaJoin)")
    // allowed-set memory shape: sorted array (8 B/doc) vs the bitmap the
    // cursor factory picks for dense sets (8 KB per populated 64Ki chunk)
    locally {
      import org.apache.spark.sql.functions.col
      val allowed = eng1.docmeta.where(col("lang") === "scala")
        .select("docId").as[Long].collect()
      java.util.Arrays.sort(allowed)
      val containers = allowed.map(_ >>> 16).distinct.length
      println(s"[scale] allowed-set memory (lang=scala, n=${allowed.length}): " +
        s"array=${allowed.length * 8L / 1024} KiB vs bitmap=" +
        s"${containers * 8192L / 1024} KiB ($containers containers, " +
        s"bitmap picked=${allowed.length >= 4096 &&
          containers.toLong * 1024 < allowed.length})")
    }
    val tM3 = System.nanoTime()
    val nDense = eng1.matchingDocIds("def, return, posting").count()
    println(f"[scale] dense 3-group match-set (merge-dedup emission) -> " +
      f"$nDense docs in ${(System.nanoTime()-tM3)/1e9}%.2f s")
    // phrase queries at scale: positional decode rides the same pruned
    // postings read (positions column read ONLY here)
    if (eng1.hasPositions) {
    val plats = (1 to 2).flatMap(_ => ReferenceQueries.phraseQueries.map { q =>
      val t0 = System.nanoTime()
      val n = eng1.booleanTopK(q, 10).size
      ((System.nanoTime()-t0)/1e9, n) })
    println(f"[scale] phrase p50=${plats.map(_._1).sorted.apply(plats.size/2)}%.3f " +
      f"p95=${plats.map(_._1).sorted.apply((plats.size*95)/100 min (plats.size-1))}%.3f " +
      s"hits=${plats.map(_._2).sum}")
    } else println("[scale] phrase: skipped (positions=false build)")
    // WHERE match() at scale: the FULL hit set, distributed (the filter-
    // context semi-join build side — counted, never collected), plus a
    // one-query parity check against direct corpus re-analysis
    Seq("def return", "posting reader, segment writer", "computeHashValue")
      .foreach { q =>
        val t0 = System.nanoTime()
        val n = eng1.matchingDocIds(q).count()
        println(f"[scale] match-set '$q' -> $n docs in ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    val mq = "def return"
    val mGroups = QueryParser.parseGroups(mq).map(_.terms)
    val direct = timed("match direct re-analysis") {
      CorpusGen.dataset(spark, nDocs + 20000, 42L, 128)
        .map(d => graft.analyze.CodeAnalyzer.analyze(d.content).toSet)
        .filter(ts => mGroups.exists(g => g.forall(ts.contains))).count()
    }
    val viaIndex = eng1.matchingDocIds(mq).count()
    println(s"[scale] match-set parity '$mq': index=$viaIndex direct=$direct " +
      s"agree=${viaIndex == direct}")

    // physical GC after compaction: old segments deleted, reader correct
    // (snapshot results captured BEFORE gc — eng0's files are reclaimed)
    val preGc = ReferenceQueries.all.take(4).map(q => eng1.topK(q, 10))
    val deleted = timed("gc") { new graft.table.IcebergLite(root).gc(keepManifests = 1) }
    println(s"[scale] gc deleted ${deleted.size} entries")
    val eng2 = new QueryEngine(spark, root)
    val gcAgree = ReferenceQueries.all.take(4).zip(preGc)
      .forall { case (q, before) => eng2.topK(q, 10) == before }
    println(s"[scale] post-gc identical results: $gcAgree")
    // compact-and-rebase at scale: the docId renumber over the full
    // posting volume (the maintenance job a decade-long stream needs)
    // compared as path-sorted sets: the display order breaks exact-score
    // ties by internal docId, which the renumber intentionally changes
    def topSet(e: QueryEngine, q: String) =
      e.search(SearchRequest(q, 10)).select("path", "score").collect().toSeq
        .sortBy(_.getString(0))
    val preRb = ReferenceQueries.all.take(4).map(q => topSet(eng2, q))
    val rbm = timed("rebase (renumber)") { SegmentMerge.rebase(spark, root) }
    val eng3 = new QueryEngine(spark, root)
    val rbAgree = ReferenceQueries.all.take(4).zip(preRb).forall { case (q, b) =>
      topSet(eng3, q) == b }
    println(s"[scale] post-rebase identical results: $rbAgree; " +
      s"batchBase=${rbm.batchBase} batches=${rbm.segments.flatMap(graft.table.IcebergLite.batchesOf).toSet}")
    spark.stop()
  }
}
