package graft.perfbench

import graft.SparkEntry
import graft.corpus.{CorpusDoc, CorpusGen}
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Main.{rm, timedS}

/** One frozen reference query (src/main/resources/graft/queries.tsv). */
final case class RefQuery(qid: Int, text: String, k: Int, kind: String) {
  /** Scored kinds run topK; the others run booleanTopK. */
  val scored: Boolean = kind == "" || kind == "prefix" || kind == "fuzzy"
  def label: String = if (scored) "scored" else "bool"
}

object Workloads {
  /** Input sizes. Each run fits JVM start, three set-ups, a warm-up, the
    * measured rounds and the output checks into about a minute, so the
    * corpus is a few percent of graft.Bench's 100k docs, yet large enough
    * that the set-up's bulk build takes the sorted postings path, as a
    * 100k-doc build does. */
  val SearchDocs = 4500L
  val IngestBatchDocs = 100L
  val IngestBatches = 2
  /** Set-up repetitions, each followed by one measured round (the first
    * also by the warm-up). The later repetitions do the same work into
    * directories of their own. Spread so over the run, a stretch of host
    * contention (CPU steal on a shared host comes in bursts of tens of
    * seconds) slows only some rounds: latency is taken from per-query or
    * per-operator medians across the rounds, throughput over all of them. */
  val SetupReps = 3
  /** Unmeasured passes over the workload's queries or operators after its
    * first pass and its output checks, before the first measured round.
    * A fresh JVM still speeds up through the run (each round reads faster
    * than the one before), so the median round is the middle one. */
  val WarmUpPasses = 1
  /** Queries run after every ingest commit: a scored prefix query and a
    * phrase query. */
  val IngestQids = Seq(24, 21)
  /** Four operators of graft.Bench's list, one per module the workload
    * stands for, whose DuckDB oracles are cheap enough to check on every
    * run: a dashboard aggregation (q01), brute-force ANN (q50), the engine
    * search surface (q61) and the match() WHERE rewrite (q74). */
  val SqlOps = Seq("q01_pricing_summary", "q50_ann_bruteforce", "q61_engine_search",
    "q74_match_where")
  /** Fewest whole passes over SqlOps in one measured round. */
  val SqlOpsPasses = 2

  val All: Map[String, Ctx => Unit] = scala.collection.immutable.ListMap(
    "search" -> search,
    "sql-ops" -> sqlOps)

  lazy val queries: Seq[RefQuery] =
    ReferenceQueries.entries.map { case (id, q, k, kind) => RefQuery(id, q, k, kind) }

  /** The engine's driver/distributed gate, scaled with the corpus: the
    * default 500k postings sits at the median query's posting volume of
    * a 100k-doc corpus, so 5 postings per doc keeps that split at these
    * sizes and both scoring paths run. */
  def gateFor(numDocs: Long): Long = 5L * numDocs

  def run(eng: QueryEngine, q: RefQuery): Seq[ScoredDoc] =
    if (q.scored) eng.topK(q.text, q.k) else eng.booleanTopK(q.text, q.k)

  def genCorpus(ctx: Ctx, n: Long, seed: Long, path: String): Unit =
    CorpusGen.dataset(ctx.spark, n, seed, ctx.nproc * 2)
      .write.mode("overwrite").parquet(path)

  def readCorpus(spark: SparkSession, path: String): Dataset[CorpusDoc] = {
    import spark.implicits._
    spark.read.parquet(path).as[CorpusDoc]
  }

  /** The generated corpus on the driver, for the output checks: the rows
    * CorpusGen.dataset(n, seed) writes. */
  def corpusDocs(ctx: Ctx, n: Long, seed: Long): Seq[CorpusDoc] =
    parallel(ctx, 0L until n)(i => CorpusGen.doc(seed, i))

  def batchSeed(ctx: Ctx): Long = ctx.seed ^ 0x5eedL

  def contentBytes(c: Seq[CorpusDoc]): Long = c.map(_.content.getBytes("UTF-8").length.toLong).sum

  def dirBytes(root: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(root))

  /** Closed loop: `clients` threads each send their next request only
    * when the previous one returned, until the window closes; a client
    * stops only after a non-zero multiple of `every` requests. */
  def closedLoop(ctx: Ctx, phase: String, clients: Int, seconds: Double, every: Int = 1)
                (op: (Int, Int) => (String, Boolean, Double)): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0
        while (i == 0 || i % every != 0 || System.nanoTime() < deadline) {
          val s = System.nanoTime()
          val (kind, ok, work) =
            try op(c, i)
            catch { case e: Throwable => errors.add(e); ("error", false, 0.0) }
          ctx.rec.req(Req(kind, phase, s, System.nanoTime(), ok, work))
          i += 1
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    ctx.rec.windows(phase) = (t0, deadline)
    errors.forEach(e => ctx.rec.errors += s"$phase: $e")
  }

  /** `f` over `xs` on nproc driver threads, results in input order. */
  def parallel[A, B](ctx: Ctx, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** Old-gen occupancy after a full collection. Taken at the start of
    * each measured round, so that no round pays for collecting the garbage
    * of the set-up or checks before it, and at the end of the workload. */
  def heap(ctx: Ctx): Unit = ctx.rec.heapMb += Main.oldGenAfterGcMb()

  /** IndexBuilder's accum-vs-sorted postings choice for one segment,
    * recomputed from its docmeta: 2 x tokens per built shard plus the
    * longest document, against the accumulation budget. */
  private def postingsPathNote(ctx: Ctx, label: String, root: String, seg: String,
                               shards: Int): Unit = {
    val r = ctx.spark.read.parquet(s"$root/$seg/docmeta")
      .agg(sum("docLen"), max("docLen")).head()
    val est = r.getLong(0) / shards * 2 + r.getInt(1)
    val side = if (est <= IndexBuilder.AccumMaxPostings) "accum" else "sorted"
    ctx.rec.notes(s"$label.postings_path") =
      s"$side (tokens-per-shard estimate $est vs budget ${IndexBuilder.AccumMaxPostings})"
  }

  /** IndexBuilder.build inside a "build" span. The builder leaves its
    * last phase's job description on the calling thread; clear it so the
    * benchmark's own later jobs are not attributed to the build. */
  def build(ctx: Ctx, corpus: Dataset[CorpusDoc], root: String, batch: Int = 0,
            resume: Boolean = true, req: Long = 0L, shards: Int = 0,
            tableIdOf: Option[CorpusDoc => Long] = None): BuildReport =
    try ctx.trace.span("build", req) {
      IndexBuilder.build(ctx.spark, corpus, root,
        numShards = if (shards > 0) shards else ctx.nproc, batch = batch, resume = resume,
        tableIdOf = tableIdOf)
    } finally ctx.spark.sparkContext.setJobDescription(null)

  /** One repetition of the workload's set-up: a sample of setup_s. Each
    * workload runs SetupReps of them, the same work into a directory of
    * its own each time, with measured rounds between them. Inputs are
    * generated before the first, once. */
  def setUp[A](ctx: Ctx, rep: Int)(body: => A): A = {
    val (r, s) = timedS(body)
    ctx.rec.setupS += s
    ctx.mark(s"set-up ${rep + 1} done")
    r
  }

  /** A set-up's bulk build: its docs/s is the run's build throughput. */
  def setupBuild(ctx: Ctx, corpus: Dataset[CorpusDoc], root: String, shards: Int = 0,
                 tableIdOf: Option[CorpusDoc => Long] = None): BuildReport = {
    val (rep, s) = timedS(build(ctx, corpus, root, shards = shards, tableIdOf = tableIdOf))
    ctx.rec.buildDocsPerS += rep.docs / s
    rep
  }

  /** A query as the engine parses it: scored atoms or boolean groups. */
  def parse(q: RefQuery): Either[Seq[QueryAtom], Seq[MatchGroup]] =
    if (q.scored) Left(QueryParser.parseScored(q.text)) else Right(QueryParser.parseGroups(q.text))

  /** The distinct terms whose postings a parsed query reads, expanded as
    * the engine expands them (ranked and capped for scored queries,
    * uncapped for boolean ones), and whether it reads positions. */
  def termsOf(eng: QueryEngine, parsed: Either[Seq[QueryAtom], Seq[MatchGroup]])
      : (Seq[String], Boolean) = parsed match {
    case Left(atoms) =>
      (QueryParser.resolveScoredW(atoms, eng.expandPrefix(_)._1, eng.expandFuzzy(_, _)._1)
        .map(_._1).distinct, false)
    case Right(gs) =>
      val plain = gs.flatMap(g => g.terms ++ g.negTerms ++ g.phrases.flatten ++
        g.negPhrases.flatten ++ g.nearSpans.flatMap(_._1) ++ g.negNearSpans.flatMap(_._1))
      val expanded = gs.flatMap(g => g.prefixes ++ g.negPrefixes).distinct
        .flatMap(eng.expandPrefixAll(_).keys) ++
        gs.flatMap(g => g.fuzzies ++ g.negFuzzies).distinct
          .flatMap(f => eng.expandFuzzyAll(f._1, f._2).keys)
      val positional = gs.exists(g => g.phrases.nonEmpty || g.negPhrases.nonEmpty ||
        g.nearSpans.nonEmpty || g.negNearSpans.nonEmpty)
      ((plain ++ expanded).distinct, positional)
  }

  /** Σdf of the postings a query reads, from the engine's dictionary. */
  def sigmaDf(eng: QueryEngine, dict: Map[String, Long], q: RefQuery): Long =
    termsOf(eng, parse(q))._1.flatMap(dict.get).sum

  def dictOf(eng: QueryEngine): Map[String, Long] = {
    import eng.dict.sparkSession.implicits._
    eng.dict.select("term", "df").as[(String, Long)].collect().toMap
  }

  /** Search queries that take the distributed path: the ones of the
    * largest Σdf. Which queries straddle a fixed gate changes with the
    * seed's corpus, so the gate is set from each seed's index instead, and
    * every seed runs the same split. */
  val DistributedQueries = 10

  /** Each query's Σdf, and the gate that sends the DistributedQueries of
    * the largest Σdf down the distributed path and the rest down the
    * driver path. */
  private def rankGate(ctx: Ctx, eng: QueryEngine, qs: Seq[RefQuery]): (Map[Int, Long], Long) = {
    val dict = dictOf(eng)
    val dfs = qs.map(q => q.qid -> sigmaDf(eng, dict, q)).toMap
    val gate = dfs.values.toSeq.sorted.apply(qs.size - DistributedQueries - 1)
    val over = dfs.values.count(_ > gate)
    ctx.rec.notes("search.query_path") =
      s"${qs.size - over} driver / $over distributed (gate $gate postings; " +
        s"Σdf ${dfs.values.min}..${dfs.values.max})"
    (dfs, gate)
  }

  // ---------------------------------------------------------------- search

  def search(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpusPath = ctx.path("search/corpus")
    val root = ctx.path("search/idx")
    val batchPath = ctx.path("search/batches")
    genCorpus(ctx, SearchDocs, ctx.seed, corpusPath)
    ctx.mark("corpus written")
    batchSource(ctx, IngestBatchDocs, batchPath)
    ctx.mark("batches written")
    val corpus = readCorpus(spark, corpusPath)
    val docs = corpusDocs(ctx, SearchDocs, ctx.seed)
    ctx.mark("corpus on the driver")
    def setUpInto(dir: String): QueryEngine = {
      rm(dir)
      setupBuild(ctx, corpus, dir)
      new QueryEngine(spark, dir)
    }
    val opened = setUp(ctx, 0)(setUpInto(root))
    ctx.rec.facts("index_bytes_per_input_byte") =
      (dirBytes(root).toDouble / contentBytes(docs), "B/B")
    val qs = queries
    val (sigma, gate) = rankGate(ctx, opened, qs)
    val eng = new QueryEngine(spark, root, gate)
    // the reference answer each measured request must repeat; then the
    // output checks and WarmUpPasses more passes warm the query path up
    val expected: Map[Int, Seq[ScoredDoc]] = parallel(ctx, qs)(q => q.qid -> run(eng, q)).toMap
    ctx.mark("first pass done")
    postingsPathNote(ctx, "search", root, "seg-0-0", ctx.nproc)
    Checks.scoredMatchOracle(ctx, docs, eng, qs.filter(_.scored), expected)
    ctx.mark("oracle check done")
    Checks.boolDriverEqualsDistributed(ctx, root, qs.filterNot(_.scored), expected,
      q => sigma(q.qid) > gate)
    ctx.mark("boolean path check done")
    Checks.hitsMatchCorpus(ctx, eng, docs, expected.values.flatten.map(_.docId).toSeq)
    (1 to WarmUpPasses).foreach { _ =>
      parallel(ctx, qs) { q =>
        ctx.rec.check(run(eng, q) == expected(q.qid), s"query ${q.qid} changed in warm-up")
      }
    }
    ctx.mark("warm-up done")

    def request(q: RefQuery) = {
      val req = ctx.trace.newRequest()
      val got = ctx.trace.span(s"query.${q.label}", req)(run(eng, q))
      (s"${q.label}.q${q.qid}", got == expected(q.qid), 1.0)
    }
    // a round: one client, one whole pass over the query set, for latency;
    // then nproc clients for throughput, each starting on its own share of
    // the set and stopping when the round's share of the window closes
    val share = (qs.size + ctx.nproc - 1) / ctx.nproc
    def round(r: Int): Unit = {
      heap(ctx)
      closedLoop(ctx, s"c1#$r", 1, 0, qs.size)((_, i) => request(qs(i)))
      closedLoop(ctx, s"c${ctx.nproc}#$r", ctx.nproc, ctx.seconds / SetupReps)((c, i) =>
        request(qs((c * share + i) % qs.size)))
      ctx.mark(s"round ${r + 1} done")
    }
    round(0)
    // set-up repetition 2 builds an index of its own, which the ingest
    // tail then appends to and merges; the rounds' index stays as built
    val ingestRoot = s"$root-1"
    setUp(ctx, 1)(setUpInto(ingestRoot))
    val (ingested, merged) = ingestTail(ctx, docs, ingestRoot, batchPath)
    round(1)
    setUp(ctx, 2)(setUpInto(s"$root-2"))
    rm(s"$root-2")
    round(2)
    heap(ctx)
    if (ctx.trace.enabled) {
      Replay.layers(ctx, ingested.map(_.content), ingestRoot, merged, qs,
        gateFor(merged.manifest.numDocs))
      Replay.buildPhases(ctx)
    }
  }

  // ---------------------------------------------------------------- ingest

  /** IngestBatches batches of `perBatch` fresh docs, one parquet
    * partition per batch. */
  private def batchSource(ctx: Ctx, perBatch: Long, path: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = batchSeed(ctx)
    spark.range(0, perBatch * IngestBatches, 1, ctx.nproc * 2).map { i =>
      val d = CorpusGen.doc(seed, i)
      ((i / perBatch).toInt, d.repo, d.path, d.commit, d.lang, d.content)
    }.toDF("batch", "repo", "path", "commit", "lang", "content")
      .write.mode("overwrite").partitionBy("batch").parquet(path)
  }

  /** Continuous ingest against an index built as the search one: each batch goes
    * through IndexBuilder.build(batch = i, resume = false), the call
    * StreamIngest's foreachBatch makes; after each commit a fresh engine
    * runs the query subset. Then SegmentMerge.tiered compacts to one
    * segment, and the subset must answer exactly as before the merge.
    * Returns the ingested corpus and the engine over the merged index. */
  private def ingestTail(ctx: Ctx, base: Seq[CorpusDoc], root: String,
                         batchPath: String): (Seq[CorpusDoc], QueryEngine) = {
    val spark = ctx.spark
    val batches = readCorpus(spark, batchPath)
    def batch(b: Int) = batches.where(col("batch") === b).drop("batch")
      .as[CorpusDoc](org.apache.spark.sql.Encoders.product[CorpusDoc])
    val qs = queries.filter(q => IngestQids.contains(q.qid))
    val perBatch = IngestBatchDocs
    var lastResults: Map[Int, Seq[ScoredDoc]] = Map.empty
    val t0 = System.nanoTime()
    for (b <- 0 until IngestBatches) {
      val req = ctx.trace.newRequest()
      val s = System.nanoTime()
      val rep = build(ctx, batch(b), root, batch = b + 1, resume = false, req = req)
      ctx.rec.req(Req("commit", "ingest", s, System.nanoTime(), rep.docs == perBatch,
        rep.docs.toDouble))
      if (b == 0) postingsPathNote(ctx, "ingest", root, rep.segment.get.name, ctx.nproc)
      val eng = ctx.trace.span("query.open", req)(
        new QueryEngine(spark, root, gateFor(rep.manifest.numDocs)))
      lastResults = qs.map { q =>
        val s2 = System.nanoTime()
        val got = ctx.trace.span(s"query.${q.label}", req)(run(eng, q))
        ctx.rec.req(Req("mixed_search", "ingest", s2, System.nanoTime(), true, 0.0))
        q.qid -> got
      }.toMap
    }
    ctx.rec.windows("ingest") = (t0, System.nanoTime())
    val m0 = new IcebergLite(root).currentManifest().get
    ctx.rec.facts("segments_before_merge") = (m0.segments.size.toDouble, "count")

    val (m1, mergeS) = timedS(ctx.trace.span("merge", ctx.trace.newRequest())(
      SegmentMerge.tiered(spark, root, maxSegments = 1)))
    ctx.rec.facts("merge_s") = (mergeS, "s")
    val ingested = base ++ corpusDocs(ctx, IngestBatchDocs * IngestBatches, batchSeed(ctx))
    ctx.rec.check(m1.numDocs == ingested.size,
      s"merged index holds ${m1.numDocs} docs, ingested ${ingested.size}")
    ctx.rec.facts("merged_index_bytes_per_input_byte") =
      (m1.segments.map(s => dirBytes(s"$root/${s.name}")).sum.toDouble / contentBytes(ingested), "B/B")
    val merged = new QueryEngine(spark, root, gateFor(m1.numDocs))
    qs.foreach { q =>
      ctx.rec.check(run(merged, q) == lastResults(q.qid),
        s"query ${q.qid} differs after SegmentMerge.tiered")
    }
    Checks.hitsMatchCorpus(ctx, merged, ingested, lastResults.values.flatten.map(_.docId).toSeq)
    if (ctx.trace.enabled) {
      val removed = m0.segments.filterNot(s => m1.segments.exists(_.name == s.name))
      ctx.rec.layers("merge.segments_in") = (m0.segments.size.toDouble, "count")
      ctx.rec.layers("merge.segments_out") = (m1.segments.size.toDouble, "count")
      ctx.rec.layers("merge.bytes_rewritten") = (removed.map(_.metrics.bytes).sum.toDouble, "B")
    }
    ctx.mark("ingest + merge done")
    (ingested, merged)
  }

  // ---------------------------------------------------------------- sql-ops

  /** The documents table in the corpus shape, mapped as SearchOps maps it. */
  private def documentsCorpus(ctx: Ctx): Dataset[CorpusDoc] =
    ctx.spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select(col("source").as("repo"), concat(lit("doc_"), col("doc_id")).as("path"),
        md5(col("text")).as("commit"), col("lang"), col("text").as("content"))
      .as[CorpusDoc](org.apache.spark.sql.Encoders.product[CorpusDoc])

  def sqlOps(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sf = ctx.sfDir
    val ops = SqlOps
    def runOp(name: String): Unit =
      SparkEntry.queries(name)(spark, sf).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.out}/ops/$name")
    // set-up: build the documents index the engine operators read, where
    // and how SearchOps.docEngine builds it, so the operators reopen it
    // instead of building their own (should that derivation drift,
    // docEngine builds its own: slower, still correct); the tables are
    // first read by the unmeasured warm-up pass
    val docsRoot = s"${graft.ops.SearchOps.workDir}/doc-index-f${IndexBuilder.FormatVersion}-" +
      IndexBuilder.sha256Hex(sf + "|" + graft.ops.Tables.contentFingerprint(
        s"$sf/documents.parquet")).take(12)
    def setUpInto(dir: String): Unit = {
      rm(dir)
      setupBuild(ctx, documentsCorpus(ctx), dir, shards = 8,
        tableIdOf = Some(d => d.path.stripPrefix("doc_").toLong))
    }
    setUp(ctx, 0)(setUpInto(docsRoot))
    postingsPathNote(ctx, "sql-ops", docsRoot, "seg-0-0", 8)
    val docEng = graft.ops.SearchOps.docEngine(spark, sf)
    (0 to WarmUpPasses).foreach(_ => ops.foreach(runOp)) // warm-up
    ctx.mark("warm-up done")

    // a round: closed loop, one client, whole passes over the operator
    // list for the round's share of the window and at least SqlOpsPasses
    // of them; the round's window runs until its last pass returns
    def round(r: Int): Unit = {
      heap(ctx)
      val phase = s"c1#$r"
      val t0 = System.nanoTime()
      val deadline = t0 + (ctx.seconds / SetupReps * 1e9).toLong
      var passes = 0
      while (passes < SqlOpsPasses || System.nanoTime() < deadline) {
        ops.foreach { name =>
          val req = ctx.trace.newRequest()
          val s = System.nanoTime()
          val ok = try { ctx.trace.span(s"ops.$name", req)(runOp(name)); true }
          catch { case e: Exception => ctx.rec.errors += s"$name: $e"; false }
          ctx.rec.req(Req(name, phase, s, System.nanoTime(), ok, 1.0))
        }
        passes += 1
      }
      ctx.rec.windows(phase) = (t0, System.nanoTime())
      ctx.mark(s"round ${r + 1} done: $passes passes")
    }
    round(0)
    (1 until SetupReps).foreach { r =>
      setUp(ctx, r)(setUpInto(s"$docsRoot-$r"))
      rm(s"$docsRoot-$r")
      round(r)
    }
    heap(ctx)
    // run.py compares the last pass's outputs with DuckDB
    val oracles = SparkEntry.oracleSql.filter(o => ops.contains(o._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.out}/ops/oracle_sql.json"),
      oracles.map { case (k, v) => s"${Result.quote(k)}: ${Result.quote(v)}" }
        .mkString("{", ",", "}"))
    ctx.rec.facts("ops_checked_by_oracle") = (oracles.size.toDouble, "count")
    if (ctx.trace.enabled) {
      Replay.layers(ctx, documentsCorpus(ctx).limit(Replay.SampleDocs).collect().map(_.content),
        docEng.root, docEng, queries,
        gateFor(docEng.manifest.numDocs))
      Replay.buildPhases(ctx)
      Replay.opsJobs(ctx, ops.size)
    }
  }
}
