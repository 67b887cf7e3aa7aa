package graft.plans

import graft.ops.{AnnIndex, AnnOps}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * ANN similarity search as a first-class Catalyst operator — the vector
 * sibling of MatchTopK: a logical leaf naming a dataset dir, a method
 * and k, planned by MatchStrategy into a physical node that runs the
 * materialized-store probe (partition-pruned) as a coordinator phase.
 * Exposed to SQL as the table-valued function
 *   SELECT * FROM ann_topk('<datasetDir>', '<method>', k)
 * with method in ('lsh', 'multiprobe', 'ivf', 'brute'); composes like
 * any relation (joins, filters, CTEs).
 */
case class AnnTopK(datasetDir: String, method: String, k: Int,
                   qid: Long = 0L,
                   cells: Int = AnnIndex.IvfCentroids,
                   lshBits: Int = AnnIndex.Bucket6Bits,
                   qvecStr: Option[String] = None,
                   override val output: Seq[Attribute] = AnnTopK.freshOutput())
    extends LeafNode

object AnnTopK {
  val Methods: Set[String] = Set("lsh", "multiprobe", "ivf", "brute")

  /** Output carried as a constructor field so tree copies keep the same
    * exprIds (the LocalRelation pattern, as in MatchTopK). */
  def freshOutput(): Seq[Attribute] = schema
    .map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = true),
    StructField("method", StringType, nullable = false)))
}

case class AnnTopKExec(plan: AnnTopK) extends LeafExecNode {
  override val output: Seq[Attribute] = plan.output

  override protected def doExecute(): RDD[InternalRow] = {
    // Coordinator phase driver-side (it launches its own pruned probe
    // jobs, like a broadcast-exchange build); k rows come back as a
    // one-partition RDD.
    val spark = SparkSession.active
    val p = AnnIndex.BuildParams(cells = plan.cells, lshBits = plan.lshBits)
    // a SELECT must never trigger a surprise multi-second store BUILD
    // for explicitly-chosen params: non-default stores are built via
    // AnnIndex.ensure (Scala) and only OPENED here; the default-params
    // store keeps its build-on-first-use demo convenience
    if (p != AnnIndex.BuildParams())
      require(new graft.table.IcebergLite(
          AnnIndex.rootFor(plan.datasetDir, p)).exists,
        s"ann_topk: no committed ANN store for ${plan.datasetDir} with " +
          s"cells=${plan.cells}, lshBits=${plan.lshBits} — build it first " +
          "via AnnIndex.ensure(spark, dir, BuildParams(...))")
    // probes follow the documented scaling rule (probes = cells/32,
    // floor 4) so a scaled store keeps its measured recall from SQL
    val ivfProbes = math.max(AnnIndex.IvfProbes, plan.cells / 32)
    // a literal query vector (serving-time path) bypasses the qid lookup
    val qvec = plan.qvecStr.map(AnnOps.parseVecLiteral)
    val df = plan.method match {
      case "lsh" =>
        AnnOps.lshTopK(spark, plan.datasetDir, p, plan.k, plan.qid, qvec)
      case "multiprobe" =>
        AnnOps.lshMultiProbe(spark, plan.datasetDir, p, plan.k, plan.qid, qvec)
      case "ivf" =>
        AnnOps.ivfTopK(spark, plan.datasetDir, p, probes = ivfProbes,
          k = plan.k, qid = plan.qid, qvec = qvec)
      case "brute" =>
        AnnOps.bruteTopK(spark, plan.datasetDir, plan.k, plan.qid, qvec)
      case m => throw new IllegalArgumentException(
        s"ann_topk: unknown method '$m' (one of ${AnnTopK.Methods.mkString(", ")})")
    }
    val rows: Seq[InternalRow] = df.select("vec_id", "cos").collect().toSeq
      .map { r =>
        InternalRow(r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          UTF8String.fromString(plan.method))
      }
    DriverRows(sparkContext, rows, AnnTopK.schema)
  }
}

/** SQL builder for ann_topk(datasetDir, method, k). */
object AnnTvf {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  val usage = "ann_topk(datasetDir, method, k[, qidOrVec[, cells[, lshBits]]])" +
    " - approximate-nearest-neighbor top-k over the materialized ANN " +
    "store as a relation (vec_id, cos, method); method in " +
    "('lsh','multiprobe','ivf','brute'); qidOrVec picks the query " +
    "vector: an integer is a vec_id — from the dataset's embeddings " +
    "table, else (for the store-backed methods) from the store's own " +
    "rows, so appended micro-batch vectors are addressable as queries " +
    "(default 0) — while a string literal '0.1,-0.2,…' IS the query " +
    "vector (the serving-time path: the caller brings an embedding; " +
    "dimension-checked); " +
    "cells/lshBits OPEN a store previously built with those BuildParams " +
    "via AnnIndex.ensure (never built from SQL; Lloyd-refined stores " +
    "stay on the Scala API)"

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(
      s"ann_topk: $what must be a string literal, got $e")
  }
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) =>
      require(v.isValidInt, s"ann_topk: $what out of Int range: $v")
      v.toInt
    case _ => throw new IllegalArgumentException(
      s"ann_topk: $what must be an integer literal, got $e")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw new IllegalArgumentException(
      s"ann_topk: $what must be an integer literal, got $e")
  }

  def build(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 6,
      "ann_topk(datasetDir, method, k[, qid[, cells[, lshBits]]]) takes 3-6 arguments")
    val method = strArg(args(1), "method")
    require(AnnTopK.Methods.contains(method),
      s"ann_topk: method must be one of ${AnnTopK.Methods.mkString(", ")}, got '$method'")
    // arg 3 is overloaded: an integer literal is a qid; a string
    // literal is the query vector itself ('0.1,-0.2,…')
    val (qid, qvecStr) = args.lift(3) match {
      case Some(Literal(v: UTF8String, StringType)) if v != null =>
        (0L, Some(v.toString))
      case Some(e) => (longArg(e, "qidOrVec"), None)
      case None => (0L, None)
    }
    AnnTopK(strArg(args(0), "datasetDir"), method, intArg(args(2), "k"),
      qid = qid, qvecStr = qvecStr,
      cells = args.lift(4).map(intArg(_, "cells"))
        .getOrElse(AnnIndex.IvfCentroids),
      lshBits = args.lift(5).map(intArg(_, "lshBits"))
        .getOrElse(AnnIndex.Bucket6Bits))
  }
}
