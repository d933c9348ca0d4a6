package graft.tools
import org.apache.spark.sql.SparkSession

/** Plan inspector: `tools/run.sh graft.tools.ExplainCheck [query ...]` —
  * prints the formatted physical plan for named SparkEntry queries (all
  * relational + one per family by default) so shuffle count, pushdown,
  * and codegen spans can be reviewed (SURVEY.md §6).
  *
  * Expression ids (`#123`) and `plan_id=` annotations are stripped from
  * the output, so two commits' plans compare line by line. Before/after
  * diff of a change:
  * {{{
  *   git stash; sbt -batch compile
  *   tools/run.sh graft.tools.ExplainCheck sig_rfft sig_fft2 > /tmp/before.txt
  *   git stash pop; sbt -batch compile
  *   tools/run.sh graft.tools.ExplainCheck sig_rfft sig_fft2 > /tmp/after.txt
  *   diff /tmp/before.txt /tmp/after.txt
  * }}}
  */
object ExplainCheck {
  private val exprId = "#\\d+".r
  private val planId = ",? ?\\[plan_id=\\d+\\]".r

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Functions.install(spark)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_join", "q4_asof", "q5_interval",
        "sig_rfft", "sig_rfft_pregrouped", "sig_sosfilt",
        "dedup_minhash_lsh", "ann_topk_bruteforce", "text_pack")
    val dir = "/root/testdata/sf0.001"
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val plan = graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      println(exprId.replaceAllIn(planId.replaceAllIn(plan, ""), "#"))
    }
    spark.stop()
  }
}
