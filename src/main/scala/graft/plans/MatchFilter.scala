package graft.plans

import graft.analyze.CodeAnalyzer
import graft.index.QueryParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeReference, BinaryExpression, EqualTo, Expression,
  Predicate, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, Join, JoinHint, LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/**
 * `match(content, 'a b, c')` — the FILTER-context form of the boolean
 * keyword query (SURVEY.md §4.3; reference semantics "spaces are ANDs
 * commas are ORs", /root/reference/sentiment.py:638-641): true iff the
 * analyzed content contains every term of some AND-group.
 *
 * Row-level evaluation (this expression) is the universal fallback —
 * correct over any string, but it re-analyzes every row. The scale path
 * is MatchFilterRewrite, which replaces `Filter(match(text, q), scan)`
 * over an indexed documents table with a LEFT SEMI join against the
 * index's distributed match set (QueryEngine.matchingDocIds — a
 * term-pruned postings walk), so the corpus text is never re-tokenized
 * and the filter cost is the probed posting volume, not the corpus.
 */
case class MatchFilter(content: Expression, queryExpr: Expression)
    extends BinaryExpression with Predicate with CodegenFallback {
  override def left: Expression = content
  override def right: Expression = queryExpr
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (content.dataType, queryExpr.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"match(content, query) needs two strings, got $other")
    }

  private def parseGroups(q: Any): Seq[graft.index.MatchGroup] =
    if (q == null) Nil else QueryParser.parseGroups(q.toString)

  // the query is almost always a literal: parse its AND-groups once
  @transient private lazy val foldedGroups: Option[Seq[graft.index.MatchGroup]] =
    if (queryExpr.foldable) Some(parseGroups(queryExpr.eval(null))) else None

  override def eval(input: InternalRow): Any = {
    val c = content.eval(input)
    if (c == null) false
    else {
      val groups = foldedGroups.getOrElse(parseGroups(queryExpr.eval(input)))
      // field atoms (lang:en, id:[a TO b]) gate on INDEX METADATA — this
      // row-level fallback sees only the text, and silently dropping the
      // gate would return wrong rows. Reject loudly and point at the
      // indexed path (the rewrite evaluates fields inside matchingDocIds).
      require(groups.forall(_.fields.isEmpty),
        "field-scoped match() atoms (lang:en, id:[a TO b]) need the " +
          "index-accelerated path — register the table in MatchRegistry " +
          "(row-level evaluation cannot see document metadata)")
      if (groups.isEmpty) false
      else {
        val toks = CodeAnalyzer.analyze(c.toString)
        val tokSet = toks.toSet
        groups.exists(g => g.terms.forall(tokSet.contains) &&
          g.phrases.forall(ph => toks.sliding(ph.length).exists(_ == ph)) &&
          g.prefixes.forall(p => toks.exists(_.startsWith(p))) &&
          g.fuzzies.forall(f =>
            toks.exists(QueryParser.editDistanceLe(_, f._1, f._2))) &&
          g.nearSpans.forall(ns => QueryParser.nearMatch(toks, ns._1, ns._2)) &&
          !g.negTerms.exists(tokSet.contains) &&
          !g.negPrefixes.exists(p => toks.exists(_.startsWith(p))) &&
          !g.negPhrases.exists(ph => toks.sliding(ph.length).exists(_ == ph)) &&
          !g.negFuzzies.exists(f =>
            toks.exists(QueryParser.editDistanceLe(_, f._1, f._2))) &&
          !g.negNearSpans.exists(ns =>
            QueryParser.nearMatch(toks, ns._1, ns._2)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatchFilter =
    copy(content = newLeft, queryExpr = newRight)
  override def prettyName: String = "match"
}

/**
 * The index match SET as a logical leaf (one column per declared join
 * key): the build side of the `WHERE match(...)` semi-join. Execution
 * is DEFERRED to runtime (MatchIdsExec runs SearchOps.matchMeta then) —
 * an explain() or plan compile must not launch Spark jobs or an index
 * build, and a cached DataFrame re-executed after an index append must
 * see the CURRENT snapshot, not one frozen at optimization time. Stats
 * deliberately report unknown-large so the static planner never
 * broadcasts a potentially corpus-sized hit set; AQE converts the join
 * to broadcast at runtime when the set turns out small.
 */
case class MatchIds(index: MatchRegistry.IndexRef, query: String,
                    metaCols: Seq[String],
                    override val output: Seq[Attribute])
    extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) / 16)
  override def doCanonicalize(): LogicalPlan =
    copy(output = MatchIds.outputFor(metaCols).map(a =>
      a.withExprId(org.apache.spark.sql.catalyst.expressions.ExprId(0))))
}

object MatchIds {
  def apply(index: MatchRegistry.IndexRef, query: String,
            metaCols: Seq[String]): MatchIds =
    MatchIds(index, query, metaCols, outputFor(metaCols))
  /** One attribute per docmeta join column, in keyMap order. */
  def outputFor(metaCols: Seq[String]): Seq[Attribute] = metaCols.map(m =>
    AttributeReference(s"match_$m", MatchRegistry.MetaColTypes(m),
      nullable = true)())
}

case class MatchIdsExec(plan: MatchIds) extends LeafExecNode {
  override val output: Seq[Attribute] = plan.output
  // the plan's own session, NOT SparkSession.active: execution paths that
  // bypass Dataset.withActive (nested toRdd, multi-session apps, foreign
  // threads) must still resolve the engine under the owning session
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    graft.ops.SearchOps
      .matchMeta(session, plan.index, plan.query, plan.metaCols)
      .queryExecution.toRdd
  // same (index, query, keys) => same result: lets exchange/stage reuse
  // kick in when one query carries the predicate twice
  // (plan.canonicalized normalizes the per-instance exprIds away)
  override protected def doCanonicalize(): org.apache.spark.sql.execution.SparkPlan =
    copy(plan = plan.canonicalized.asInstanceOf[MatchIds])
}

/**
 * Rewrites `Filter(... AND match(content, 'q') AND ...)` over an
 * index-registered parquet relation into a LEFT SEMI join with the
 * committed index's match set (a lazy MatchIds leaf). Fires only when
 * ALL of:
 *   - the match column traces by exprId to exactly one parquet
 *     LogicalRelation whose single root path resolves in MatchRegistry
 *     (an explicit registration, or the driver-testdata
 *     documents.parquet convention) and names that entry's content
 *     column;
 *   - the query is a foldable string;
 *   - every declared join-key column is present on the relation with
 *     the declared type AND still visible at the filter, and no Union
 *     sits between (Union reuses its head child's exprIds WITHOUT row
 *     correspondence — a semi-join keyed on one branch's keys would
 *     filter other branches' rows by the wrong table's text);
 *   - for the documents convention only: the relation also carries the
 *     documents shape (lang/source strings) — a foreign table that
 *     merely shares the file name stays on row-level eval instead of
 *     failing at execution.
 * Anything else — including any unexpected analysis failure, which is
 * caught — keeps the row-level MatchFilter evaluation (correct, just
 * not index-accelerated). Non-match conjuncts stay in a residual Filter
 * above the join.
 *
 * PRECONDITION: the table's join-key column must be UNIQUE per row (the
 * index build derives one index document per key). With duplicate keys
 * the semi-join is row-level-divergent: a row whose text does not match
 * would pass because a sibling row with the same key matches. The
 * documents convention guarantees this (doc_id is the table's primary
 * key); explicitly registered tables declare their key and own the
 * uniqueness contract. The engine open/build is ensure-on-first-use AT
 * EXECUTION, same policy and timing as the match_topk TVF default path.
 */
object MatchFilterRewrite
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformUp {
      case Filter(cond, child)
          if cond.exists(_.isInstanceOf[MatchFilter]) =>
        var current: LogicalPlan = child
        val kept = Seq.newBuilder[Expression]
        splitConjunctivePredicates(cond).foreach {
          case m @ MatchFilter(attr: AttributeReference, q) if q.foldable =>
            rewriteOne(attr, q, child) match {
              case Some(wrap) => current = wrap(current)
              case None => kept += m
            }
          case other => kept += other
        }
        val rest = kept.result()
        if (rest.isEmpty) current else Filter(rest.reduce(And), current)
    }
    if (rewritten.fastEquals(plan)) plan
    else try {
      // the main optimizer's pruning batch already ran (this rule lives
      // in extraOptimizations): re-prune so the scan under the new
      // semi-join stops reading the match column — at corpus scale the
      // text column dominates the scan, and it is dead once the
      // predicate is a docId join
      import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning}
      CollapseProject(ColumnPruning(rewritten))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the re-prune is an optimization on an already-correct plan —
        // never let it kill the query (same never-fail invariant as
        // rewriteOne)
        log.warn(
          s"matchRewrite: re-prune pass failed, keeping unpruned plan: ${e.getMessage}")
        rewritten
    }
  }

  private def rewriteOne(attr: AttributeReference, q: Expression,
      child: LogicalPlan): Option[LogicalPlan => LogicalPlan] = try {
    if (!attr.dataType.isInstanceOf[StringType]) return None
    val query = Option(q.eval(null)).map(_.toString).getOrElse(return None)
    // Union has no per-row exprId correspondence (see scaladoc): bail
    if (child.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Union])) return None
    val rel = child.collect {
      case lr: LogicalRelation if lr.output.exists(_.exprId == attr.exprId) => lr
    } match {
      case Seq(one) => one
      case _ => return None // ambiguous (self-join) or derived column
    }
    val roots = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.toList.map(_.toString)
      case _ => return None
    }
    if (roots.isEmpty) return None
    // single root resolves exactly (incl. the documents convention);
    // multi-root — a partitioned corpus read per-partition-dir, or any
    // subdirectory read — resolves when one REGISTERED table path
    // prefixes every root (the Union bail-out above already rejects the
    // unsafe no-row-correspondence shape)
    val entry = MatchRegistry.lookupCovering(roots).getOrElse(return None)
    if (attr.name != entry.contentCol) return None
    def colType(n: String): Option[org.apache.spark.sql.types.DataType] =
      rel.output.find(_.name == n).map(_.dataType)
    entry.index match {
      case MatchRegistry.DocsTable(_) =>
        // the documents shape the deferred index build reads — a foreign
        // table that merely shares the file name must stay on row-eval
        if (!colType("lang").exists(_.isInstanceOf[StringType]) ||
            !colType("source").exists(_.isInstanceOf[StringType])) return None
      case _ => () // explicit registration: the caller owns the contract
    }
    // every declared join key must be on the relation with the declared
    // type and visible at the filter
    val keyAttrs: Seq[Attribute] = entry.keyMap.map { case (tcol, mcol) =>
      val a = rel.output.find(a =>
        a.name == tcol &&
          a.dataType == MatchRegistry.MetaColTypes(mcol)).getOrElse(return None)
      if (!child.outputSet.contains(a)) return None
      a
    }
    val hitsPlan = MatchIds(entry.index, query, entry.keyMap.map(_._2))
    val cond = keyAttrs.zip(hitsPlan.output)
      .map { case (a, b) => EqualTo(a, b): Expression }.reduce(And)
    Some(cur => Join(cur, hitsPlan, LeftSemi, Some(cond), JoinHint.NONE))
  } catch {
    case scala.util.control.NonFatal(e) =>
      // an optimizer rule must never kill a query the row-level
      // predicate can answer; log and fall back
      log.warn(s"matchRewrite: falling back to row-level eval " +
        s"for match(${attr.name}, ...): ${e.getMessage}")
      None
  }
}
