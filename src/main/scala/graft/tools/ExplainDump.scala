package graft.tools
import graft.index.QueryParser
import graft.ops.{AnnOps, DashboardOps, SearchOps, SentimentOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Dumps engine plans under the working directory. With no arguments:
  * representative operators' physical plans to EXPLAIN.md (the artifacts
  * behind PlanShapeSpec). With `<tag> <suffix> [sfDir] [namePrefix...]`:
  * `.explain("formatted")` of the SparkEntry queries starting with a
  * prefix (all when none) to plans/<tag>/<query>_<suffix>.txt. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) explainMd(spark) else queryPlans(spark, args.toSeq)
    spark.stop()
  }

  /** `df`'s physical plan, after one run when `exec` (AQE's final plan). */
  private def dump(df: DataFrame, formatted: Boolean, exec: Boolean = true): String = {
    if (exec) df.collect()
    if (formatted) df.queryExecution.explainString(FormattedMode)
    else df.queryExecution.executedPlan.toString.take(12000)
  }

  private def queryPlans(spark: SparkSession, args: Seq[String]): Unit = {
    val outDir = Files.createDirectories(Paths.get("plans", args(0)))
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(3)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        val file = outDir.resolve(s"${name}_${args(1)}.txt")
        try {
          Files.writeString(file, dump(fn(spark, sfDir), formatted = true))
          println(s"[explain] wrote $file")
        } catch { case e: Throwable => println(s"[explain] $name FAILED: ${e.getMessage.take(120)}") }
      }
  }

  private def explainMd(spark: SparkSession): Unit = {
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder("# EXPLAIN — representative physical plans (sf0.001, local[8])\n\n")
    sb.append("Generated by `graft.tools.ExplainDump`; these are the plans\n")
    sb.append("PlanShapeSpec pins (pushdown, pruning, TakeOrdered, broadcast,\n")
    sb.append("partial+final agg, codegen spans).\n")
    def section(title: String, df: DataFrame, exec: Boolean = true): Unit =
      sb.append(s"\n## $title\n\n```\n${dump(df, formatted = false, exec)}\n```\n")
    section("q60 BM25 top-10 as a pure Catalyst plan", SearchOps.qBm25TopK(spark, sf))
    section("q02 terms top-5 (TakeOrderedAndProject)", DashboardOps.qTermsTop5(spark, sf))
    section("q11 broadcast dimension joins", DashboardOps.qJoinDims(spark, sf))
    val eng = SearchOps.docEngine(spark, sf)
    // the query path reads postings with PostingReader, not this scan
    section("postings scan for dict derivation and replay, term-IN pushdown",
      eng.postings.where(col("term").isin("spark", "query")), exec = false)
    section("q74 WHERE match(): index semi-join rewrite (no text re-analysis)",
      SearchOps.qMatchWhere(spark, sf))
    section("MatchTopK custom operator (search as a plan)",
      graft.GraftSql.search(spark, eng.root, "spark query join", 10), exec = false)
    // materialized ANN stores: the probe key is a PARTITION FILTER, so a
    // query touches only its probed cells (no full scan per query)
    section("q55 IVF top-k over the materialized store (centroid partition pruning)",
      AnnOps.qAnnIvfTopK(spark, sf))
    section("q53 LSH top-k over the materialized store (single bucket partition)",
      AnnOps.qAnnLshTopK(spark, sf))
    section("q56 LSH multi-probe top-k (4 Hamming-adjacent bucket partitions)",
      AnnOps.qAnnLshMultiProbe(spark, sf))
    section("q26 link merge: window rank + groupBy share ONE user_id shuffle",
      SentimentOps.qLinkMerge(spark, sf))
    // r6: the dict prefix expansion is a pushdown-filtered scan of the
    // sorted term dictionary (StringStartsWith reaches the parquet scan,
    // range-pruning row groups via term min/max)
    section("prefix expansion: dict scan with StartsWith pushdown",
      eng.dict.where(col("term").startsWith("s")), exec = false)
    section("q80 WHERE match() with wildcard groups (same semi-join shape)",
      SearchOps.qPrefixMatchWhere(spark, sf))
    // r7: field gates — the docmeta scan under the gate carries the
    // compiled predicate as PushedFilters (pruned before the allowed-set shuffle)
    section("field gate: docmeta scan with compiled predicate pushdown",
      eng.docmeta.where(QueryParser.compileFields(
        QueryParser.splitFieldFilters("x lang:en id:[100 TO 400]")._2)), exec = false)
    section("q93 WHERE match() with per-group field gates (semi-join shape)",
      SearchOps.qFieldMatchWhere(spark, sf))
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println("[explain] wrote EXPLAIN.md")
  }
}
