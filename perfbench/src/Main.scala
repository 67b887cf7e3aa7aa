package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: a build, a query, a batch commit or an operator.
  * `work` is what it delivered (docs for builds, 1 for a query or an
  * operator); `phase` names the measured window it ran in. */
final case class Req(kind: String, phase: String, t0: Long, t1: Long,
                     ok: Boolean, work: Double)

/** Everything one run records. The JVM side only measures; percentiles,
  * rates, self times and the error rate are computed by stats.py from
  * these raw samples. */
final class Record {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val buildDocsPerS = mutable.ArrayBuffer.empty[Double]
  val reqs = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
  val windows = mutable.LinkedHashMap.empty[String, (Long, Long)]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  var checks = 0L
  /** Failed output checks; each counts into the error rate. */
  val failures = mutable.ArrayBuffer.empty[String]
  /** What made a request fail (the request itself counts, with ok = false). */
  val errors = mutable.ArrayBuffer.empty[String]
  /** Workload facts for the printed table: name -> (value, unit). */
  val facts = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced run only): name -> (value, unit). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Which side of each engine path choice the inputs fall on. */
  val notes = mutable.LinkedHashMap.empty[String, String]

  def req(r: Req): Unit = reqs.add(r)

  /** One output check: counts into the run's error rate when it fails. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    checks += 1
    if (!ok) failures += what
  }
}

final class Ctx(val spark: SparkSession, val trace: Trace,
                val listener: Option[JobListener], val work: String,
                val out: String, val seed: Long, val seconds: Double,
                val nproc: Int, val sfDir: String) {
  val rec = new Record
  /** Pairs the scheduler's epoch-millis job stamps with span nanoTimes. */
  val epoch0Ms: Long = System.currentTimeMillis()
  val nano0: Long = System.nanoTime()
  def nanoOf(epochMs: Long): Long = nano0 + (epochMs - epoch0Ms) * 1000000L
  /** Timeline line in the run's log: where a run's wall time goes. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - nano0) / 1e9}%.1fs $what")
  def path(p: String): String = s"$work/$p"
}

object Main {
  def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rm(p: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(p))

  /** Old-generation occupancy right after a full collection. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  /** Aggregate register-only spin rate of `threads` workers, in
    * millions of multiply-adds per second: the host context each run's
    * numbers were taken under. */
  def spinMops(threads: Int, ms: Long): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var n = 0L
        var x = 1234567L
        while (!stop.get()) {
          var i = 0
          while (i < 10000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
          n += 10000
        }
        counts.set(t, n + (x & 1))
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); Thread.sleep(ms); stop.set(true); ts.foreach(_.join())
    (0 until threads).map(counts.get).sum / ((System.nanoTime() - t0) / 1e3)
  }

  private def args(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = args(argv)
    val workload = a("workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val ctxOut = a("out")
    rm(work); rm(ctxOut) // every run starts from fresh indexes
    Files.createDirectories(Paths.get(work)); Files.createDirectories(Paths.get(ctxOut))
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = a("trace") == "1"
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new Trace(traced), listener, work, ctxOut,
      a("seed").toLong, a("seconds").toDouble, nproc, a("sf"))
    try try run(ctx, workload) finally Result.write(ctx, workload)
    finally spark.stop()
  }

  private def run(ctx: Ctx, workload: String): Unit = {
    val spinBefore = if (ctx.trace.enabled) spinMops(ctx.nproc, 300) else 0.0
    Workloads.All.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))(ctx)
    if (ctx.trace.enabled) {
      ctx.rec.layers("spark.job_floor_ms") = (Replay.jobFloorMs(ctx.spark), "ms")
      ctx.rec.layers("host.spin_mops") =
        ((spinBefore + spinMops(ctx.nproc, 300)) / 2, "Mops/s")
    }
  }
}

/** Plain JSON for the run's raw record (read by run.py). */
object Result {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
  private def named(m: Iterable[(String, (Double, String))]): String =
    obj(m.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> quote(u))) })

  def write(ctx: Ctx, workload: String): Unit = {
    val r = ctx.rec
    val rt = Runtime.getRuntime
    val reqs = r.reqs.asScala.toSeq.sortBy(_.t0).map { x =>
      s"[${quote(x.kind)},${quote(x.phase)},${x.t0},${x.t1},${x.ok},${num(x.work)}]"
    }
    val json = obj(Seq(
      "workload" -> quote(workload),
      "seed" -> ctx.seed.toString,
      "env" -> obj(Seq("nproc" -> ctx.nproc.toString,
        "max_heap_mb" -> num(rt.maxMemory / 1048576.0),
        "jvm" -> quote(System.getProperty("java.vm.version")),
        "spark" -> quote(ctx.spark.version))),
      "setup_s" -> r.setupS.map(num).mkString("[", ",", "]"),
      "build_docs_per_s" -> r.buildDocsPerS.map(num).mkString("[", ",", "]"),
      "windows" -> obj(r.windows.map { case (k, (a, b)) => k -> s"[$a,$b]" }),
      "reqs" -> reqs.mkString("[", ",", "]"),
      "heap_mb" -> r.heapMb.map(num).mkString("[", ",", "]"),
      "checks" -> r.checks.toString,
      "failures" -> r.failures.map(quote).mkString("[", ",", "]"),
      "errors" -> r.errors.map(quote).mkString("[", ",", "]"),
      "facts" -> named(r.facts),
      "layers" -> named(r.layers),
      "notes" -> obj(r.notes.map { case (k, v) => k -> quote(v) }),
      "spans" -> ctx.trace.all.map(s =>
        s"[${s.id},${s.parent},${s.req},${quote(s.name)},${s.t0},${s.t1}]")
        .mkString("[", ",", "]")))
    Files.writeString(Paths.get(s"${ctx.out}/result.json"), json)
  }
}
