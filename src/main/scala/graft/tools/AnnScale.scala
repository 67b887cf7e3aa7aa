package graft.tools
import graft.ops.{AnnIndex, AnnOps}
import graft.ops.AnnIndex.BuildParams
import org.apache.spark.sql.SparkSession

/** ANN-store lifecycle at scale (the AnnIndexSpec contract, sized up):
  * build a base store over deterministic synthetic vectors, grow it with
  * appended micro-batches, compact, recluster — timing every step and
  * checking result stability across the maintenance operations. The IVF
  * cell count follows the sqrt(N) rule through BuildParams (the oracled
  * 16-cell store is the SQL-enumerable demo constant; a probe scans
  * ~probes/cells of the corpus, so cells must grow with it).
  * `runMain graft.tools.AnnScale [nVecs]` (default 1,000,000 x dim 64).
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Two DIFFERENT scaling rules (measured, see BENCH/BASELINE.md):
    // - IVF cells follow sqrt(N): probe cost is the SCAN FRACTION
    //   (probes/cells of all rows), so more cells always shrink the scan.
    // - LSH partition bits follow a VOLUME floor (~8 MB/partition): a
    //   probe reads whole partitions, and once they fall under a few MB
    //   the per-partition listing/scheduling overhead exceeds the scan —
    //   512 partitions at 1M vecs measured SLOWER than 64 despite an 8x
    //   smaller scan.
    val cells = math.max(16, Integer.highestOneBit(math.sqrt(n.toDouble).toInt))
    val probes = math.max(4, cells / 32)
    val approxStoreBytes = n * 280L // ~parquet bytes per 64-float row
    val lshBits = math.min(AnnIndex.NumPlanes, math.max(AnnIndex.Bucket6Bits,
      63 - java.lang.Long.numberOfLeadingZeros(approxStoreBytes / (8L << 20))))
    val P = BuildParams(cells = cells, lshBits = lshBits.toInt)
    println(s"[annscale] n=$n cells=$cells probes=$probes " +
      s"(ivf probe fraction ${"%.1f".format(100.0 * probes / cells)}%), " +
      s"lshBits=${P.lshBits} (${1 << P.lshBits} partitions, " +
      s"~${approxStoreBytes / (1L << P.lshBits) / (1 << 20)} MB each)")

    val work = graft.ops.SearchOps.workDir
    val ds = s"$work/annscale-dataset"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ds))
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[annscale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s"); r
    }
    // deterministic synthetic vectors (same splitmix mixer as the LSH
    // planes, different lane): vec i, dim d -> [-1, 1]
    def vecs(lo: Long, hi: Long) =
      spark.range(lo, hi).map { i =>
        (i, Array.tabulate(AnnIndex.Dim)(d =>
          AnnIndex.planeWeight((i % Int.MaxValue).toInt, d + 1000).toFloat).toSeq,
          (i % 7).toInt)
      }.toDF("vec_id", "embedding", "label")

    val base = n / 2
    timed(s"write dataset ($base vecs)") {
      vecs(0, base).write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    }
    timed(s"base build ($base vecs)") { AnnIndex.ensure(spark, ds, P) }

    val batchSize = n / 8
    (1 to 4).foreach { b =>
      val lo = base + (b - 1) * batchSize
      timed(s"append batch $b (+$batchSize)") {
        AnnIndex.append(spark, ds, vecs(lo, lo + batchSize), batchId = b, p = P)
      }
    }
    val root = AnnIndex.rootFor(ds, P)
    val m = new graft.table.IcebergLite(root).currentManifest().get
    println(s"[annscale] grown store: numDocs=${m.numDocs} segments=${m.segments.size}")

    def lat(name: String, f: => Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
      val rows = f // warm (and the returned result — no extra run)
      val reps = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"[annscale] $name%-28s p50 ${reps.sorted.apply(2)}%.3f s (5 reps)")
      rows
    }
    val lshBefore = lat("lsh top-10 (5 segs)", AnnOps.lshTopK(spark, ds, P).collect())
    val ivfBefore = lat("ivf top-10 (5 segs)",
      AnnOps.ivfTopK(spark, ds, P, probes).collect())

    timed("compact (merge 5 -> 1)") { AnnIndex.compact(spark, ds, P) }
    val lshAfter = lat("lsh top-10 (compacted)", AnnOps.lshTopK(spark, ds, P).collect())
    val ivfAfter = lat("ivf top-10 (compacted)",
      AnnOps.ivfTopK(spark, ds, P, probes).collect())
    println(s"[annscale] post-compact identical: " +
      s"lsh=${lshAfter.toSeq == lshBefore.toSeq} ivf=${ivfAfter.toSeq == ivfBefore.toSeq}")

    timed("compact(recluster=1)") { AnnIndex.compact(spark, ds, P, recluster = 1) }
    val assigned = AnnOps.ivfAssign(spark, ds, P).count()
    val lshFinal = AnnOps.lshTopK(spark, ds, P).collect()
    println(s"[annscale] post-recluster: assigned=$assigned (want $n) " +
      s"lshUnchanged=${lshFinal.toSeq == lshBefore.toSeq}")
    lat("ivf top-10 (reclustered)", AnnOps.ivfTopK(spark, ds, P, probes).collect())

    // cleanup: these stores are corpus-sized
    new graft.table.IcebergLite(root).drop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ds))
    spark.stop()
  }
}
