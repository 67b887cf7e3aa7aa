package graft.plans

import graft.index.{QueryEngine, SearchRequest}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Full-text BM25 search as a first-class Catalyst operator (SURVEY.md
 * §4.3 stretch: the `IndexScan` strategy): a logical leaf that names an
 * index and a query, planned by a custom SparkStrategy into a physical
 * node that runs the engine's coordinator path — the shape ES exposes as
 * `/index/_search`. Registered via SparkSessionExtensions
 * (graft.GraftExtensions), so `--conf spark.sql.extensions=
 * graft.GraftExtensions` wires it into any session.
 */
case class MatchTopK(indexRoot: String, query: String, k: Int,
                     boolMode: Boolean,
                     filter: Option[String] = None,
                     override val output: Seq[Attribute] = MatchTopK.freshOutput())
    extends LeafNode

object MatchTopK {
  /** Output carried as a constructor field so tree copies keep the same
    * exprIds (the LocalRelation pattern) — a regenerated `val output`
    * breaks attribute binding in parent operators. */
  def freshOutput(): Seq[Attribute] = schema
    .map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  val schema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("sha256", StringType)))
}

case class MatchTopKExec(plan: MatchTopK) extends LeafExecNode {
  override val output: Seq[Attribute] = plan.output

  override protected def doExecute(): RDD[InternalRow] = {
    // Coordinator phase runs driver-side (it launches its own Spark jobs,
    // like a broadcast-exchange build); the k result rows come back as a
    // one-partition RDD. The plan's own session, as in MatchIdsExec.
    val eng = MatchTopKExec.engineFor(session, plan.indexRoot)
    // the scored path honors the field/range syntax (field atoms gate,
    // ANDed after an explicit filter argument); boolean mode gates each
    // OR-group through its own field atoms and rejects a filter
    val filter = plan.filter.map(org.apache.spark.sql.functions.expr)
    val hits = eng.run(
      if (plan.boolMode)
        SearchRequest(plan.query, plan.k, boolMode = true, gate = filter)
      else SearchRequest.queryString(plan.query, plan.k, filter))
    val rows: Seq[InternalRow] =
      if (hits.isEmpty) Nil
      else {
        val ids = hits.map(_.docId)
        val meta = eng.docmeta
          .where(org.apache.spark.sql.functions.col("docId").isin(ids: _*))
          .select("docId", "repo", "path", "commit", "lang", "sha256")
          .collect()
          .map(r => r.getLong(0) -> r).toMap
        hits.map { h =>
          val m = meta(h.docId)
          InternalRow(h.docId, h.score,
            UTF8String.fromString(m.getString(1)), UTF8String.fromString(m.getString(2)),
            UTF8String.fromString(m.getString(3)), UTF8String.fromString(m.getString(4)),
            UTF8String.fromString(m.getString(5)))
        }
      }
    DriverRows(sparkContext, rows, MatchTopK.schema)
  }
}

object MatchTopKExec {
  // Cached per (application, index root), KEYED BY SNAPSHOT VERSION: a
  // long-lived session would otherwise stay pinned to whatever snapshot
  // was current at first use and never see later commits (streaming
  // ingest / compaction), and a fresh session in the same JVM must not
  // inherit an engine bound to a stopped SparkContext. The version check
  // is one small JSON read per query — cheap next to a scan.
  private val engines =
    scala.collection.mutable.HashMap.empty[String, (Int, QueryEngine)]
  def engineFor(spark: SparkSession, root: String): QueryEngine = synchronized {
    graft.ops.Tables.evictDeadSessions(engines, spark)
    val key = graft.ops.Tables.sessionCacheKey(spark, root)
    val version = new graft.table.IcebergLite(root)
      .currentManifest().map(_.version).getOrElse(-1)
    engines.get(key) match {
      case Some((v, eng)) if v == version => eng
      case _ =>
        val eng = new QueryEngine(spark, root)
        engines(key) = (version, eng)
        eng
    }
  }
}

/** Rows computed on the driver as the one-partition RDD a leaf exec node
  * returns, projected to UnsafeRows of `schema`. */
private[plans] object DriverRows {
  def apply(sc: SparkContext, rows: Seq[InternalRow],
            schema: StructType): RDD[InternalRow] =
    sc.parallelize(rows, 1).mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map(r => proj(r).copy())
    }
}

object MatchStrategy extends SparkStrategy {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[SparkPlan] = plan match {
    case m: MatchTopK => MatchTopKExec(m) :: Nil
    case a: AnnTopK => AnnTopKExec(a) :: Nil
    case i: MatchIds => MatchIdsExec(i) :: Nil
    case x: ExplainScore => ExplainScoreExec(x) :: Nil
    case h: Highlight => HighlightExec(h) :: Nil
    case _ => Nil
  }
}

/** The ES highlighter shape on the SQL surface:
  *   SELECT * FROM highlight('<indexRoot>', '<query>', docId)
  * one row per (matching query term, token position) — exploded so the
  * relation carries scalars only (composes with ORDER BY/joins, and the
  * driver comparator hashes it directly). */
case class Highlight(indexRoot: String, query: String, docId: Long,
                     override val output: Seq[Attribute] = Highlight.freshOutput())
    extends LeafNode

object Highlight {
  val schema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false)))
  def freshOutput(): Seq[Attribute] = schema
    .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

case class HighlightExec(plan: Highlight) extends LeafExecNode {
  override val output: Seq[Attribute] = plan.output
  override protected def doExecute(): RDD[InternalRow] = {
    val eng = MatchTopKExec.engineFor(session, plan.indexRoot)
    val rows: Seq[InternalRow] =
      eng.highlight(plan.query, plan.docId).flatMap { h =>
        h.positions.map(p => InternalRow(UTF8String.fromString(h.term), p))
      }
    DriverRows(sparkContext, rows, Highlight.schema)
  }
}

/** The ES `/_explain` shape on the SQL surface:
  *   SELECT * FROM explain_score('<indexRoot>', '<query>', docId)
  * one row per contributing query term (term, df, idf, tf, dl,
  * contribution) — QueryEngine.explainScore as a relation. */
case class ExplainScore(indexRoot: String, query: String, docId: Long,
                        override val output: Seq[Attribute] = ExplainScore.freshOutput())
    extends LeafNode

object ExplainScore {
  val schema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("df", LongType, nullable = false),
    StructField("idf", DoubleType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("dl", IntegerType, nullable = false),
    StructField("contribution", DoubleType, nullable = false)))
  def freshOutput(): Seq[Attribute] = schema
    .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

case class ExplainScoreExec(plan: ExplainScore) extends LeafExecNode {
  override val output: Seq[Attribute] = plan.output
  override protected def doExecute(): RDD[InternalRow] = {
    val eng = MatchTopKExec.engineFor(session, plan.indexRoot)
    val rows: Seq[InternalRow] =
      eng.explainScore(plan.query, plan.docId).map { e =>
        InternalRow(UTF8String.fromString(e.term), e.df, e.idf, e.tf, e.dl,
          e.contribution)
      }
    DriverRows(sparkContext, rows, ExplainScore.schema)
  }
}

/**
 * SQL surface for the search operator: a TABLE-VALUED FUNCTION
 *   SELECT * FROM match_topk('<indexRoot>', '<query>', k [, boolMode [, filter]])
 * registered in the session's table-function registry (the same registry
 * `range(...)` lives in), building the MatchTopK logical plan (planned by
 * MatchStrategy) — the ES `/index/_search` shape reachable from plain
 * `spark.sql(...)` once the session is built with
 * spark.sql.extensions=graft.GraftExtensions. The TVF composes like any
 * relation (joins, filters, CTEs). */
object MatchTvf {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  val usage = "match_topk(indexRoot, query, k[, boolMode[, filter]]) - " +
    "BM25 top-k search over a committed index as a relation " +
    "(docId, score, repo, path, commit, lang, sha256); `filter` is a " +
    "SQL predicate over the metadata columns (the ES filter context — " +
    "gates candidates, statistics stay global; scored mode only)"

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(
      s"match_topk: $what must be a string literal, got $e")
  }
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) =>
      require(v.isValidInt, s"match_topk: $what=$v out of Int range")
      v.toInt
    case _ => throw new IllegalArgumentException(
      s"match_topk: $what must be an integer literal, got $e")
  }
  private def boolArg(e: Expression): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case _ => throw new IllegalArgumentException(
      s"match_topk: boolMode must be a boolean literal, got $e")
  }

  def build(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 5,
      "match_topk(indexRoot, query, k[, boolMode[, filter]]) takes 3 to 5 arguments")
    val boolMode = args.lift(3).exists(boolArg)
    val filter = args.lift(4).map(strArg(_, "filter")).filter(_.nonEmpty)
    require(filter.isEmpty || !boolMode,
      "match_topk: filter composes with the SCORED path (boolMode=false); " +
        "boolean queries compose filters through WHERE match(...) instead")
    MatchTopK(
      indexRoot = strArg(args(0), "indexRoot"),
      query = strArg(args(1), "query"),
      k = intArg(args(2), "k"),
      boolMode = boolMode,
      filter = filter)
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw new IllegalArgumentException(
      s"explain_score: $what must be an integer literal, got $e")
  }

  val explainUsage = "explain_score(indexRoot, query, docId) - per-term " +
    "BM25 breakdown of one document's score as a relation " +
    "(term, df, idf, tf, dl, contribution); contributions sum in row " +
    "order exactly to the engine's score"

  def buildExplain(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 3,
      "explain_score(indexRoot, query, docId) takes 3 arguments")
    ExplainScore(strArg(args(0), "indexRoot"), strArg(args(1), "query"),
      longArg(args(2), "docId"))
  }

  val highlightUsage = "highlight(indexRoot, query, docId) - per-term " +
    "match positions of one document as a relation (term, pos); " +
    "positions are post-filter token indices (the phrase-match space); " +
    "wildcard terms expand like the scored search"

  def buildHighlight(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 3,
      "highlight(indexRoot, query, docId) takes 3 arguments")
    Highlight(strArg(args(0), "indexRoot"), strArg(args(1), "query"),
      longArg(args(2), "docId"))
  }
}
