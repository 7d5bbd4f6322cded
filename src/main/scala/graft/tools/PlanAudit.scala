package graft.tools

import graft.core.GraftSession

/** Dev tool: dump formatted physical plans for plan-quality review
  * (pushdown, pruning, broadcast, partial aggregation, codegen spans).
  *
  * Usage: runMain graft.tools.PlanAudit [query ...] [--exec]
  * (--exec runs each query first so the final adaptive plan is shown).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8, "plan-audit")
    val sf = "/root/testdata/sf0.01"
    val exec = args.contains("--exec")
    val names = args.filterNot(_.startsWith("--")).toSeq
    val targets = if (names.nonEmpty) names else Seq(
      "q01_map_project", "q02_filter", "q05_keyed_stats", "q06_agg_pricing",
      "q13_join_inner", "q14_join_broadcast", "q21_tumbling", "q24_interval_join",
      "q34_text_fingerprint", "q37_minhash_pairs", "q39_ann_topk",
      "q56_repetition", "q59_seq_packing", "q60_top_tokens",
      "q61_corpus_pipeline", "q62_asof_join")
    targets.foreach { name =>
      println(s"\n=================== $name ===================")
      val df = graft.SparkEntry.queries(name)(spark, sf)
      if (exec) df.collect()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
