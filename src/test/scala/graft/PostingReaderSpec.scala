package graft

import graft.corpus.CorpusGen
import graft.index._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.io.IOException
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The held-open postings reader against the Spark scan of the same
  * files, over a multi-segment, unmerged index (a bulk build in two
  * passes of half the shards each, a small ingest batch that reaches only
  * some shards, and a batch built without positions), again after a
  * tiered merge and again after a rebase:
  *  - for every reference query's term set, plus a term missing from the
  *    dictionary, the reader's rows equal the scan's, byte for byte, in
  *    both projections (a legacy file of one page per column chunk
  *    included); and the per-shard reads a distributed task makes (the
  *    pages the reader selected for its shard) add up to the unrestricted
  *    read, also over a legacy postings dir whose files span shards (as
  *    written before bounded pages, and in 4-row pages);
  *  - the reader's counters: a one-term read assembles at most its rows
  *    plus page slack, and fewer records and pages than an all-term read;
  *  - page decompression: postings are written SNAPPY whatever the
  *    session's parquet codec; SNAPPY pages decompress without a per-page
  *    codec buffer (allocated bytes per page of a warm read, after a Spark
  *    scan filled parquet's JVM-wide codec cache), GZIP and UNCOMPRESSED
  *    files read as the scan does, and a page of the wrong length or a
  *    corrupt one fails loudly;
  *  - under the driver gate, topK, booleanTopK, matchingDocIds,
  *    explainScore and highlight run no Spark job (a gated search only its
  *    one gate collect job), also from 8 concurrent client threads; over
  *    it, an ungated walk is one job; both paths answer alike;
  *  - merge and rebase write one shard per postings file; build, merge
  *    and rebase write pages of at most IndexBuilder.PostingsPageRows
  *    rows. */
class PostingReaderSpec extends AnyFunSuite with SparkSessionFixture {
  import spark.implicits._

  private lazy val work = Files.createTempDirectory(Paths.get("target"), "postreader")
    .toAbsolutePath.toString
  private def conf = spark.sparkContext.hadoopConfiguration

  private lazy val root = {
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

  private def termSets(eng: QueryEngine): Seq[Seq[String]] =
    ReferenceQueries.entries.map { case (_, q, _, kind) =>
      termsOf(eng, q, kind) } :+ Seq("zzqqnotaterm", "def")

  /** Per shard, the read a distributed task makes (the pages `reader`
    * selects for the shard's terms, read from only the shard's files)
    * equals `reader`'s own shard read and holds only that shard's rows;
    * over every shard they add up to the unrestricted read, in both
    * projections. */
  private def checkShardReads(reader: PostingReader, numShards: Int,
                              sets: Seq[Seq[String]]): Unit =
    for (terms <- sets; positions <- Seq(true, false)) {
      val byShard = (0 until numShards).map { s =>
        val selected = reader.select(terms, Some(s))
        assert(selected.map(_.path).toSet.subsetOf(reader.filesOf(s).toSet))
        val task = PostingReader.readPages(selected, terms, positions, Some(s), conf)
        assert(task.forall(_.shard == s))
        assert(sorted(task) == sorted(reader.rows(terms, positions, shard = Some(s))),
          s"shard $s: task read differs for $terms")
        task
      }
      assert(sorted(byShard.flatten) == sorted(reader.rows(terms, positions)),
        s"shard reads (positions=$positions) do not add up for $terms")
    }

  /** `reader`'s rows of every term set equal the Spark scan's of `dirs`,
    * byte for byte, in both projections. */
  private def checkScan(reader: PostingReader, dirs: Seq[String],
                        sets: Seq[Seq[String]]): Unit = {
    val scan = spark.read.parquet(dirs: _*)
    sets.foreach { terms =>
      val full = scan.where(col("term").isin(terms: _*))
        .as[PostingRowPos].collect().toSeq
      val lite = scan.select(PostingRow.LiteCols.map(col): _*)
        .where(col("term").isin(terms: _*)).as[PostingRow]
        .collect().toSeq.map(r => PostingRowPos(r.shard, r.term, r.df, r.bytes,
          r.blocks, r.skips, Nil))
      assert(full.nonEmpty)
      assert(sorted(reader.rows(terms, positions = true)) == sorted(full),
        s"positional rows differ for $terms")
      assert(sorted(reader.rows(terms, positions = false)) == sorted(lite),
        s"scoring-projection rows differ for $terms")
    }
  }

  /** The codecs of every column chunk of the data files under `dir`. */
  private def codecsOf(dir: String): Set[CompressionCodecName] =
    PostingReader.dataFiles(dir, conf).flatMap { st =>
      PostingReader.footer(HadoopInputFile.fromStatus(st, conf), conf).getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec))
    }.toSet

  /** The reader over `eng`'s postings files plus one legacy file: the
    * same rows as one file, written as builds wrote postings before
    * bounded pages (one page per column chunk). */
  private def checkRows(eng: QueryEngine): Unit = {
    val legacy = Files.createTempDirectory(Paths.get(work), "single-page").toString
    eng.postingsFull.coalesce(1).sortWithinPartitions("term", "shard")
      .write.mode("overwrite").option("parquet.block.size", (4 * 1024 * 1024).toString)
      .parquet(legacy)
    val legacyFiles = PostingReader.dataFiles(legacy, conf)
    assert(legacyFiles.size == 1)
    assert(termPages(legacyFiles.head.getPath.toString).forall(_.size == 1),
      "the legacy file is not one page per column chunk")
    val dirs = eng.manifest.segments.map(s => s"$root/${s.name}/postings")
    val reader = new PostingReader(dirs :+ legacy, conf)
    checkScan(reader, dirs :+ legacy, termSets(eng))
    assert(reader.rows(Seq("zzqqnotaterm"), positions = true).isEmpty)
    assert(reader.rows(Nil, positions = false).isEmpty)
    checkShardReads(reader, eng.manifest.numShards, termSets(eng))
    assert(reader.filesOf(IndexBuilder.shardOf(-1L)).isEmpty)
    checkCounters(eng)
  }

  /** Per row group, the row count of each `term` page of one file (from
    * its offset index). */
  private def termPages(file: String): Seq[Seq[Long]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try r.getRowGroups.asScala.toSeq.map { b =>
      val oi = r.readOffsetIndex(b.getColumns.asScala.find(_.getPath.toDotString == "term").get)
      (0 until oi.getPageCount).map(i =>
        oi.getLastRowIndex(i, b.getRowCount) - oi.getFirstRowIndex(i) + 1)
    } finally r.close()
  }

  /** Every postings file of the committed snapshot is written in pages
    * of at most IndexBuilder.PostingsPageRows rows, several per file
    * (an empty partition's file holds no row group). */
  private def checkPageBounds(): Unit =
    new QueryEngine(spark, root).manifest.segments.foreach { seg =>
      PostingReader.dataFiles(s"$root/${seg.name}/postings", conf).foreach { st =>
        val pages = termPages(st.getPath.toString).flatten
        assert(pages.isEmpty || pages.size > 1, s"${st.getPath} has one term page")
        assert(pages.forall(_ <= IndexBuilder.PostingsPageRows),
          s"${st.getPath} has a page over ${IndexBuilder.PostingsPageRows} rows: $pages")
      }
    }

  /** The reader's counters against the rows it returns: a one-term read
    * assembles at most the term's rows plus page slack, and strictly
    * fewer records and pages than an all-term read; read + skipped add up
    * to the same totals; a positional one-term read decompresses strictly
    * fewer `posBlocks` pages than the files hold. */
  private def checkCounters(eng: QueryEngine): Unit = {
    val dirs = eng.manifest.segments.map(s => s"$root/${s.name}/postings")
    val reader = new PostingReader(dirs, conf)
    val nFiles = dirs.map(PostingReader.dataFiles(_, conf).size).sum
    val all = eng.dict.select("term").as[String].collect().toSeq
    val allRead = reader.read(all, positions = false)
    assert(allRead.recordsSkipped == 0)
    for (term <- Seq("def", "return", all.min, all.max)) {
      val one = reader.read(Seq(term), positions = false)
      assert(one.rows.nonEmpty)
      assert(one.recordsRead <= one.rows.size + 2L * IndexBuilder.PostingsPageRows * nFiles,
        s"'$term': ${one.recordsRead} records assembled for ${one.rows.size} rows")
      assert(one.recordsRead < allRead.recordsRead && one.pagesRead < allRead.pagesRead)
      assert(one.recordsRead + one.recordsSkipped == allRead.recordsRead)
      assert(one.pagesRead + one.pagesSkipped == allRead.pagesRead + allRead.pagesSkipped)
      // posBlocks is the one column the positional projection adds
      val pos = reader.read(Seq(term), positions = true)
      assert(pos.rows.map(r => (r.shard, r.term)) == one.rows.map(r => (r.shard, r.term)))
      val posRead = pos.pagesRead - one.pagesRead
      val posHeld = posRead + pos.pagesSkipped - one.pagesSkipped
      assert(posRead > 0 && posRead < posHeld,
        s"'$term': positional read decompressed $posRead of $posHeld posBlocks pages")
    }
  }

  /** Every postings file of the committed snapshot holds one shard. */
  private def checkSingleShardFiles(): Unit =
    new QueryEngine(spark, root).manifest.segments.foreach { seg =>
      PostingReader.dataFiles(s"$root/${seg.name}/postings", conf).foreach { st =>
        val shards = spark.read.parquet(st.getPath.toString).select("shard")
          .distinct().count()
        assert(shards == 1, s"${st.getPath} holds $shards shards")
      }
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
    // a gated driver-path query runs one job, its gate collect, and no
    // postings job
    val gate = col("docLen") > 20
    val (gatedHits, gatedJobs) = jobsDuring(driver.run(SearchRequest("def return", 10,
      gate = Some(gate))))
    assert(gatedJobs == 1, s"gated driver-path query submitted $gatedJobs Spark jobs")
    assert(gatedHits.nonEmpty)
    assert(gatedHits == new QueryEngine(spark, root, driverPathMaxPostings = 0L)
      .run(SearchRequest("def return", 10, gate = Some(gate))))
  }

  /** Over the driver gate, an ungated walk is one Spark job, and a match
    * set is built lazily and collected in one. */
  private def checkDistributedJobs(): Unit = {
    val dist = new QueryEngine(spark, root, driverPathMaxPostings = 0L)
    dist.topK("def", 1) // the resident dictionary's job
    val (hits, topJobs) = jobsDuring(dist.topK("def return", 10))
    assert(hits.nonEmpty && topJobs == 1, s"distributed topK submitted $topJobs jobs")
    val (boolHits, boolJobs) = jobsDuring(dist.booleanTopK("def return, posting", 10))
    assert(boolHits.nonEmpty && boolJobs == 1,
      s"distributed booleanTopK submitted $boolJobs jobs")
    val (ids, planJobs) = jobsDuring(dist.matchingDocIds("def return"))
    assert(planJobs == 0, s"building the match set submitted $planJobs jobs")
    val (got, idJobs) = jobsDuring(ids.as[Long].collect())
    assert(got.nonEmpty && idJobs == 1, s"collecting the match set submitted $idJobs jobs")
  }

  test("reader rows equal the Spark scan's on an unmerged multi-segment index") {
    val m = new QueryEngine(spark, root).manifest
    assert(m.segments.size == 4)
    assert(m.segments.exists(_.lineage("positions") == "false"))
    checkPageBounds()
    checkRows(new QueryEngine(spark, root))
  }

  test("driver-path walks run no Spark job and answer like the distributed path") {
    checkJobs()
  }

  test("distributed walks are one Spark job each") {
    checkDistributedJobs()
  }

  test("postings are written SNAPPY whatever the session's parquet codec") {
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    val r = s"$work/gzip-session"
    spark.conf.set(key, "gzip")
    try IndexBuilder.build(spark, CorpusGen.dataset(spark, 160, 7L, 4), r, numShards = 4)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val eng = new QueryEngine(spark, r)
    assert(eng.manifest.segments.forall(s =>
      codecsOf(s"$r/${s.name}/docmeta") == Set(CompressionCodecName.GZIP)),
      "the session's codec did not reach the build")
    val dirs = eng.manifest.segments.map(s => s"$r/${s.name}/postings")
    dirs.foreach(d => assert(codecsOf(d) == Set(CompressionCodecName.SNAPPY), d))
    checkScan(new PostingReader(dirs, conf), dirs, termSets(eng))
  }

  test("GZIP and UNCOMPRESSED postings read as the Spark scan reads them") {
    val eng = new QueryEngine(spark, root)
    val sets = termSets(eng)
    val pageRows = IndexBuilder.PostingsPageRows.toString
    Seq("gzip" -> CompressionCodecName.GZIP,
        "uncompressed" -> CompressionCodecName.UNCOMPRESSED).foreach { case (codec, name) =>
      val dir = s"$work/postings-$codec"
      eng.postingsFull.repartition(4, col("shard")).sortWithinPartitions("term", "shard")
        .write.option("compression", codec)
        .option("parquet.page.row.count.limit", pageRows)
        .option("parquet.page.size.row.check.min", pageRows).parquet(dir)
      assert(codecsOf(dir) == Set(name))
      val reader = new PostingReader(Seq(dir), conf)
      checkScan(reader, Seq(dir), sets)
      checkShardReads(reader, 4, sets)
    }
  }

  test("a page of another length than its header says, or a corrupt one, fails loudly") {
    val codecs = new PostingReader.PageCodecs(new Configuration(false))
    val snappy = codecs.getDecompressor(CompressionCodecName.SNAPPY)
    val raw = new Array[Byte](1000)
    new scala.util.Random(7).nextBytes(raw)
    val packed = org.xerial.snappy.Snappy.compress(raw)
    assert(snappy.decompress(BytesInput.from(packed), raw.length).toByteArray.sameElements(raw))
    val padded = Array[Byte](9, 9) ++ packed :+ 9.toByte
    assert(snappy.decompress(BytesInput.from(padded, 2, packed.length), raw.length)
      .toByteArray.sameElements(raw))
    def fails(codec: String, bytes: Array[Byte], size: Int, why: String): Unit = {
      val e = intercept[IOException](codecs.getDecompressor(CompressionCodecName.valueOf(codec))
        .decompress(BytesInput.from(bytes), size))
      Seq(codec, s"${bytes.length} compressed bytes", s"says $size uncompressed bytes", why)
        .foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    }
    fails("SNAPPY", packed, raw.length + 8, s"the page holds ${raw.length}")
    fails("SNAPPY", packed.take(packed.length / 2), raw.length, "snappy rejects it")
    fails("UNCOMPRESSED", raw, raw.length - 1, s"the page holds ${raw.length}")
    codecs.release()
  }

  test("a warm one-term read allocates no per-page codec buffer, after a Spark scan") {
    val dirs = new QueryEngine(spark, root).manifest.segments
      .map(s => s"$root/${s.name}/postings")
    // a Spark scan first: parquet-mr's JVM-wide codec cache then holds a
    // SNAPPY codec built from the session's conf (64 KB stream buffers)
    assert(spark.read.parquet(dirs: _*).where(col("term") === "def").collect().nonEmpty)
    val reader = new PostingReader(dirs, conf)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def bytesPerPage(): Long = {
      val before = threads.getCurrentThreadAllocatedBytes
      val read = reader.read(Seq("def"), positions = false)
      val bytes = threads.getCurrentThreadAllocatedBytes - before
      assert(read.rows.nonEmpty && read.pagesRead > 0)
      bytes / read.pagesRead
    }
    (0 until 20).foreach(_ => bytesPerPage())
    val perPage = (0 until 5).map(_ => bytesPerPage()).min
    // measured on this index: ~150 KB per page through parquet-mr's codec
    // (a 64 KB buffer per page and per dictionary page), ~28 KB without
    assert(perPage < 64 * 1024, s"a one-term read allocated $perPage bytes per page")
  }

  test("shard reads of a legacy postings dir whose files span shards") {
    val eng = new QueryEngine(spark, root)
    // the layout merges wrote before they wrote one file per shard; then
    // the same layout in bounded pages, where a term's rows (one per
    // segment and shard, contiguous) run across page boundaries
    val pageRows = IndexBuilder.PostingsPageRows.toString
    Seq("legacy-postings" -> Map.empty[String, String],
        "legacy-postings-paged" -> Map("parquet.page.row.count.limit" -> pageRows,
          "parquet.page.size.row.check.min" -> pageRows)).foreach { case (name, opts) =>
      val legacy = s"$work/$name"
      eng.postingsFull.repartition(spark.sessionState.conf.numShufflePartitions,
          col("shard"), col("term"))
        .sortWithinPartitions("term", "shard")
        .write.options(opts).parquet(legacy)
      val reader = new PostingReader(Seq(legacy), conf)
      val files = (0 until 4).flatMap(reader.filesOf)
      assert(files.size > files.distinct.size, "no legacy file spans two shards")
      val sets = termSets(eng)
      sets.foreach { terms =>
        assert(sorted(reader.rows(terms, positions = true)) == sorted(
          eng.postingsFull.where(col("term").isin(terms: _*)).as[PostingRowPos].collect().toSeq))
      }
      checkShardReads(reader, 4, sets)
    }
  }

  test("after a tiered merge: same rows, still no job") {
    SegmentMerge.tiered(spark, root, maxSegments = 2, fanIn = 2)
    assert(new QueryEngine(spark, root).manifest.segments.size <= 2)
    checkSingleShardFiles()
    checkPageBounds()
    checkRows(new QueryEngine(spark, root))
    checkJobs()
    checkDistributedJobs()
  }

  test("after a rebase: single-shard files, same rows, same job counts") {
    SegmentMerge.rebase(spark, root)
    assert(new QueryEngine(spark, root).manifest.segments.size == 1)
    checkSingleShardFiles()
    checkPageBounds()
    checkRows(new QueryEngine(spark, root))
    checkJobs()
    checkDistributedJobs()
  }

  private lazy val posRoot = {
    val r = s"$work/positional"
    IndexBuilder.build(spark, CorpusGen.dataset(spark, 160, 9L, 4), r, numShards = 4)
    r
  }

  test("point lookups: no job under the gate, one shard's answer on both paths") {
    val driver = new QueryEngine(spark, posRoot)
    val dist = new QueryEngine(spark, posRoot, driverPathMaxPostings = 0L)
    val q = "def return posting"
    val hits = driver.topK(q, 5)
    assert(hits.nonEmpty)
    hits.foreach { h =>
      val ((explained, highlighted), jobs) =
        jobsDuring((driver.explainScore(q, h.docId), driver.highlight(q, h.docId)))
      assert(jobs == 0, s"point lookups under the gate submitted $jobs jobs")
      assert(explained.nonEmpty && highlighted.nonEmpty)
      assert(explained.map(_.contribution).sum == h.score)
      assert(dist.explainScore(q, h.docId) == explained)
      assert(dist.highlight(q, h.docId) == highlighted)
    }
    // a docId whose shard holds no postings file reads nothing
    Seq(-1L, Long.MaxValue).foreach { id =>
      Seq(driver, dist).foreach { eng =>
        assert(eng.explainScore(q, id).isEmpty && eng.highlight(q, id).isEmpty)
      }
    }
  }

  /** Every reference query through topK, booleanTopK, a collected
    * matchingDocIds, explainScore and highlight (of the top hit). */
  private def answers(eng: QueryEngine): Seq[Any] =
    ReferenceQueries.entries.map { case (_, q, k, kind) =>
      try {
        if (scoredKinds(kind)) {
          val hits = eng.topK(q, k)
          val d = hits.headOption.fold(-1L)(_.docId)
          (hits, eng.explainScore(q, d), eng.highlight(q, d))
        } else (eng.booleanTopK(q, k), eng.matchingDocIds(q).as[Long].collect().sorted.toSeq)
      } catch { case e: IllegalArgumentException => e.getMessage }
    }

  test("concurrent queries on one engine answer as serial ones, with no Spark job") {
    val eng = new QueryEngine(spark, posRoot)
    val serial = answers(eng) // also loads the resident dictionary
    assert(serial == answers(new QueryEngine(spark, posRoot, driverPathMaxPostings = 0L)))
    val clients = java.util.concurrent.Executors.newFixedThreadPool(8)
    val (concurrent, jobs) = try jobsDuring {
      (0 until 8).map(_ => clients.submit(() => answers(eng))).map(_.get(300,
        java.util.concurrent.TimeUnit.SECONDS))
    } finally clients.shutdown()
    assert(jobs == 0, s"concurrent driver-path queries submitted $jobs Spark jobs")
    concurrent.foreach(a => assert(a == serial))
    // queries issued from the shard pool's own threads, more of them than
    // it has threads, run their shards inline and complete
    val (q, k) = ("def return posting", 10)
    val n = 2 * Runtime.getRuntime.availableProcessors
    val nested = scala.concurrent.Future(QueryEngine.onShardPool(
      (0 until n).map(_ => () => (Thread.currentThread.getName, eng.topK(q, k)))))(
      scala.concurrent.ExecutionContext.global)
    val got = scala.concurrent.Await.result(nested, scala.concurrent.duration.Duration(120, "s"))
    assert(got.forall { case (thread, hits) =>
      thread.startsWith("graft-shard-") && hits == eng.topK(q, k) })
  }
}
