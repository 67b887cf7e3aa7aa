package graft.tools
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of representative operators to
  * EXPLAIN.md — the artifacts behind PlanShapeSpec's assertions. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# EXPLAIN — representative physical plans (sf0.001, local[8])\n\n")
    sb.append("Generated by `graft.tools.ExplainDump`; these are the plans\n")
    sb.append("PlanShapeSpec pins (pushdown, pruning, TakeOrdered, broadcast,\n")
    sb.append("partial+final agg, codegen spans).\n")
    def dump(title: String, df: org.apache.spark.sql.DataFrame, exec: Boolean = true): Unit = {
      if (exec) df.collect() // finalize AQE
      sb.append(s"\n## $title\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(12000))
      sb.append("\n```\n")
    }
    dump("q60 BM25 top-10 as a pure Catalyst plan", graft.ops.SearchOps.qBm25TopK(spark, sf))
    dump("q02 terms top-5 (TakeOrderedAndProject)", graft.ops.DashboardOps.qTermsTop5(spark, sf))
    dump("q11 broadcast dimension joins", graft.ops.DashboardOps.qJoinDims(spark, sf))
    val eng = graft.ops.SearchOps.docEngine(spark, sf)
    dump("engine postings scan, term-IN pushdown",
      eng.postings.where(org.apache.spark.sql.functions.col("term").isin("spark", "query")), exec = false)
    dump("q74 WHERE match(): index semi-join rewrite (no text re-analysis)",
      graft.ops.SearchOps.qMatchWhere(spark, sf))
    dump("MatchTopK custom operator (search as a plan)",
      graft.GraftSql.search(spark, eng.root, "spark query join", 10), exec = false)
    // materialized ANN stores: the probe key is a PARTITION FILTER, so a
    // query touches only its probed cells (no full scan per query)
    dump("q55 IVF top-k over the materialized store (centroid partition pruning)",
      graft.ops.AnnOps.qAnnIvfTopK(spark, sf))
    dump("q53 LSH top-k over the materialized store (single bucket partition)",
      graft.ops.AnnOps.qAnnLshTopK(spark, sf))
    dump("q56 LSH multi-probe top-k (4 Hamming-adjacent bucket partitions)",
      graft.ops.AnnOps.qAnnLshMultiProbe(spark, sf))
    dump("q26 link merge: window rank + groupBy share ONE user_id shuffle",
      graft.ops.SentimentOps.qLinkMerge(spark, sf))
    // r6: the dict prefix expansion is a pushdown-filtered scan of the
    // sorted term dictionary (StringStartsWith reaches the parquet scan,
    // range-pruning row groups via term min/max)
    dump("prefix expansion: dict scan with StartsWith pushdown",
      eng.dict.where(org.apache.spark.sql.functions.col("term").startsWith("s")),
      exec = false)
    dump("q80 WHERE match() with wildcard groups (same semi-join shape)",
      graft.ops.SearchOps.qPrefixMatchWhere(spark, sf))
    // r7: field gates — the docmeta scan under the gate carries the
    // compiled predicate as PushedFilters (pruned before the cogroup)
    dump("field gate: docmeta scan with compiled predicate pushdown",
      eng.docmeta.where(graft.index.QueryParser.compileFields(
        graft.index.QueryParser.splitFieldFilters(
          "x lang:en id:[100 TO 400]")._2)),
      exec = false)
    dump("q93 WHERE match() with per-group field gates (semi-join shape)",
      graft.ops.SearchOps.qFieldMatchWhere(spark, sf))
    Files.writeString(Paths.get("/root/repo/EXPLAIN.md"), sb.toString)
    println("[explain] wrote EXPLAIN.md")
    spark.stop()
  }
}
