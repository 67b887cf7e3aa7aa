package graft.perfbench

import graft.analyze.CodeAnalyzer
import graft.index._
import graft.table.IcebergLite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-layer numbers for the traced run: each layer is measured by
  * replaying, per query or per doc sample, the public calls the engine
  * itself makes, on the workload's own data, after its measured rounds. */
object Replay {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `body` inside a span and returns its result with its wall in ns. */
  private def timed[A](ctx: Ctx, name: String, req: Long)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = ctx.trace.span(name, req)(body)
    (r, System.nanoTime() - t0)
  }

  val SampleDocs = 300

  /** Every layer replay a workload reports: analyze, codec, table and
    * query, on the workload's corpus sample and index. */
  def layers(ctx: Ctx, contents: Seq[String], root: String, eng: QueryEngine,
             qs: Seq[RefQuery], gate: Long): Unit = {
    analyzeAndCodec(ctx, contents.take(SampleDocs).toArray)
    table(ctx, root)
    query(ctx, root, eng, qs, gate)
  }

  private def analyzeAndCodec(ctx: Ctx, contents: Array[String]): Unit = {
    val L = ctx.rec.layers
    def analyzeAll(s: CodeAnalyzer.AnalyzerSession, req: Long) =
      contents.map(c => timed(ctx, "analyze", req)(s.termPositionsSorted(c)))
    analyzeAll(new CodeAnalyzer.AnalyzerSession, 0L) // JIT warm-up
    val analyzed = analyzeAll(new CodeAnalyzer.AnalyzerSession, ctx.trace.newRequest())
    L("analyze.us_per_doc") = (analyzed.map(_._2).sum / 1e3 / contents.length, "us")
    L("analyze.tokens_per_doc") = (analyzed.map(_._1._2.toDouble).sum / contents.length, "count")

    // per-term posting lists over the sample, docIds in sample order
    val lists = mutable.TreeMap.empty[String, mutable.ArrayBuffer[(Long, Int, Int)]]
    analyzed.zipWithIndex.foreach { case (((tps, dl), _), i) =>
      tps.foreach { case (t, ps) =>
        lists.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((i.toLong, ps.length, dl))
      }
    }
    val cols = lists.values.map(l => (l.map(_._1).toArray, l.map(_._2).toArray, l.map(_._3).toArray)).toSeq
    val postings = cols.map(_._1.length.toLong).sum
    def encodeAll(req: Long) = cols.map { case (d, t, l) =>
      timed(ctx, "codec.encode", req)(Codec.encode(d, t, l)) }
    def decodeAll(enc: Seq[EncodedPostings], req: Long) =
      enc.map(e => timed(ctx, "codec.decode", req)(Codec.decodeAll(e))._2).sum
    val warm = encodeAll(0L).map(_._1)
    decodeAll(warm, 0L)
    val req = ctx.trace.newRequest()
    val enc = encodeAll(req)
    L("codec.encode_ns_per_posting") = (enc.map(_._2).sum.toDouble / postings, "ns")
    L("codec.bytes_per_posting") =
      (enc.map(_._1.blocks.map(_.length.toLong).sum).sum.toDouble / postings, "B")
    L("codec.decode_ns_per_posting") = (decodeAll(enc.map(_._1), req).toDouble / postings, "ns")
  }

  private def table(ctx: Ctx, root: String): Unit = {
    val req = ctx.trace.newRequest()
    val reads = (1 to 20).map(_ => timed(ctx, "table.manifest", req)(
      new IcebergLite(root).currentManifest().get))
    ctx.rec.layers("table.manifest_read_ms") = (median(reads.map(_._2 / 1e6)), "ms")
    ctx.rec.layers("table.segments") = (reads.head._1.segments.size.toDouble, "count")
  }

  /** One replayed query: the wall of the real call plus each layer's. */
  private final case class QRep(large: Boolean, e2eMs: Double, e2eSpanMs: (Long, Long),
                                ms: Map[String, Double], rows: Long, bytes: Long,
                                postings: Long)

  private def query(ctx: Ctx, root: String, eng: QueryEngine, qs: Seq[RefQuery],
                    gate: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dict = Workloads.dictOf(eng)
    val reps = qs.map { q =>
      val req = ctx.trace.newRequest()
      val e2eStartMs = System.currentTimeMillis()
      val (_, e2e) = timed(ctx, "query", req)(Workloads.run(eng, q))
      val e2eEndMs = System.currentTimeMillis()
      val (parsed, parseNs) = timed(ctx, "query.parse", req)(Workloads.parse(q))
      val ((terms, needPos), expandNs) =
        timed(ctx, "query.expand", req)(Workloads.termsOf(eng, parsed))
      val present = terms.filter(dict.contains)
      val sigma = present.map(dict).sum
      // the engine's own read: the full rows (with positions) when a
      // phrase or near span needs them, else the scoring projection
      val (ds, planNs) = timed(ctx, "query.plan", req) {
        val d = if (needPos) eng.postingsFull.where(col("term").isin(present: _*)).as[PostingRowPos]
          else eng.postings.where(col("term").isin(present: _*)).as[PostingRow]
            .map(r => PostingRowPos(r.shard, r.term, r.df, r.bytes, r.blocks, r.skips, Nil))
        d.queryExecution.executedPlan
        d
      }
      val (rows, scanNs) = timed(ctx, "query.scan", req)(
        if (present.isEmpty) Array.empty[PostingRowPos] else ds.collect())
      val (_, decodeNs) = timed(ctx, "codec.decode", req)(rows.foreach { r =>
        Codec.decodeAll(EncodedPostings(r.blocks.toArray,
          r.skips.map(s => Skip(s.firstDoc, s.lastDoc, s.maxTf, s.minDl)).toArray, r.df))
      })
      val wandNs = if (!q.scored || present.isEmpty) 0L else timed(ctx, "query.wand", req) {
        val bm = eng.bm25
        rows.groupBy(_.shard).values.foreach { rs =>
          val cursors = rs.groupBy(_.term).map { case (t, subs) =>
            t -> new PostingCursor(t, bm.idf(dict(t)),
              subs.sortBy(_.skips.head.firstDoc).map(r => (r.blocks, r.skips, Seq.empty[Array[Byte]])).toSeq, bm)
          }
          WandScorer.topK(present, cursors, q.k)
        }
      }._2
      val ms = Map("parse_us" -> parseNs / 1e3, "expand_ms" -> expandNs / 1e6,
        "plan_ms" -> planNs / 1e6, "scan_ms" -> scanNs / 1e6, "decode_ms" -> decodeNs / 1e6,
        "wand_ms" -> wandNs / 1e6)
      val attributed = (parseNs + expandNs + planNs + scanNs + wandNs) / 1e6
      QRep(sigma > gate, e2e / 1e6, (e2eStartMs, e2eEndMs),
        ms + ("unattributed_ms" -> (e2e / 1e6 - attributed)),
        rows.length.toLong, rows.map(r => r.bytes + r.posBlocks.map(_.length.toLong).sum).sum,
        rows.map(_.df).sum)
    }
    val jobs = jobCounts(ctx, reps.map(_.e2eSpanMs))
    val jobsOf = reps.zip(jobs).toMap
    def put(suffix: String, rs: Seq[QRep]): Unit = if (rs.nonEmpty) {
      val L = ctx.rec.layers
      def mean(f: QRep => Double) = rs.map(f).sum / rs.size
      Seq("parse_us" -> "us", "expand_ms" -> "ms", "plan_ms" -> "ms", "scan_ms" -> "ms",
        "decode_ms" -> "ms", "wand_ms" -> "ms", "unattributed_ms" -> "ms").foreach {
        case (k, u) => L(s"query.$k$suffix") = (mean(_.ms(k)), u)
      }
      L(s"query.posting_rows$suffix") = (mean(_.rows.toDouble), "count")
      L(s"query.posting_bytes$suffix") = (mean(_.bytes.toDouble), "B")
      L(s"query.postings$suffix") = (mean(_.postings.toDouble), "count")
      L(s"query.jobs_per_query$suffix") = (mean(jobsOf(_).toDouble), "count")
      L(s"query.e2e_ms$suffix") = (mean(_.e2eMs), "ms")
      L(s"query.queries$suffix") = (rs.size.toDouble, "count")
    }
    put("", reps)
    put(".small", reps.filterNot(_.large))
    put(".large", reps.filter(_.large))

    val opens = (1 to 3).map { _ =>
      val req = ctx.trace.newRequest()
      timed(ctx, "query.open", req)(Workloads.run(new QueryEngine(spark, root, gate), qs.head))._2 / 1e6
    }
    ctx.rec.layers("query.engine_open_ms") = (median(opens), "ms")
  }

  /** Jobs submitted inside each (start, end) epoch-millis interval. */
  private def jobCounts(ctx: Ctx, spans: Seq[(Long, Long)]): Seq[Int] = {
    val l = ctx.listener.get
    l.drain(ctx.spark)
    val jobs = l.snapshot
    spans.map { case (a, b) => jobs.count(j => j.start >= a && j.start <= b) }
  }

  /** Whether a job was submitted inside a span; the scheduler stamps
    * whole milliseconds, so a span's start is widened by 2 ms. */
  private def inSpan(ctx: Ctx, s: Span)(j: JobRec): Boolean = {
    val t = ctx.nanoOf(j.start)
    t >= s.t0 - 2000000L && t <= s.t1
  }

  /** Build phases from the listener, per build span (median over the
    * run's builds): each phase job's wall, the commit tail after the last
    * phase job, and the jobs, shuffle and spill bytes inside the span. */
  def buildPhases(ctx: Ctx): Unit = {
    val l = ctx.listener.get
    l.drain(ctx.spark)
    val jobs = l.snapshot
    val Phase = """graft-build \S+: (\w+)""".r
    val builds = ctx.trace.all.filter(_.name == "build").map { s =>
      val in = jobs.filter(inSpan(ctx, s))
      def wall(p: String) = in.collect {
        case j @ JobRec(_, Phase(`p`), _, _, _, _) if j.end >= 0 => (j.end - j.start) / 1e3
      }.sum
      val lastEnd = in.filter(_.description.startsWith("graft-build")).map(_.end).maxOption
      Map("analyze_s" -> wall("analyze"), "postings_s" -> wall("postings"),
        "docmeta_s" -> wall("docmeta"),
        "commit_s" -> lastEnd.map(e => (s.t1 - ctx.nanoOf(e)) / 1e9).getOrElse(Double.NaN),
        "jobs" -> in.size.toDouble, "shuffle_write_bytes" -> in.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> in.map(_.spill).sum.toDouble)
    }
    val units = Map("jobs" -> "count", "shuffle_write_bytes" -> "B", "spill_bytes" -> "B")
    Seq("analyze_s", "postings_s", "docmeta_s", "commit_s", "jobs", "shuffle_write_bytes",
      "spill_bytes").foreach { k =>
      ctx.rec.layers(s"build.$k") = (median(builds.map(_(k))), units.getOrElse(k, "s"))
    }
    ctx.rec.layers("build.builds") = (builds.size.toDouble, "count")
  }

  /** Spark jobs the operator list launches per pass. */
  def opsJobs(ctx: Ctx, opsPerPass: Int): Unit = {
    val l = ctx.listener.get
    l.drain(ctx.spark)
    val spans = ctx.trace.all.filter(_.name.startsWith("ops."))
    val jobs = l.snapshot.filter(j => spans.exists(inSpan(ctx, _)(j)))
    val passes = spans.size.toDouble / opsPerPass
    ctx.rec.layers("ops.jobs_per_pass") = (jobs.size / passes, "count")
    ctx.rec.layers("ops.shuffle_write_bytes_per_pass") = (jobs.map(_.shuffleWrite).sum / passes, "B")
  }

  /** Median wall of a trivial one-task-per-core job: the per-job floor. */
  def jobFloorMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    (1 to 5).foreach(_ => sc.parallelize(0 until n, n).count())
    median((1 to 15).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(0 until n, n).count()
      (System.nanoTime() - t0) / 1e6
    })
  }
}
