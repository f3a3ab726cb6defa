package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: prints `explain("formatted")` for the named queries
  * (or a default headline set), planned on the same session config
  * Bench and Verify run, so broadcast/pushdown/codegen can be inspected
  * per operator:
  *
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  *
  * Things to look for (SURVEY §5): `PushedFilters`/`ReadSchema` on the
  * parquet scans, `BroadcastHashJoin` for dim joins, wide
  * `WholeStageCodegen` spans, no `CartesianProduct` anywhere.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_join_enrich", "q_dom_analysis", "q_dedup_minhash",
        "q_ann_cosine", "q_price_candidates", "q_tfidf_topk", "q_hotspots")
    val named = Battery.select(names)
    val battery = new Battery("graft-explain", recycleEvery = 0)
    named.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      println(fn(battery.next(), sfDir).queryExecution.explainString(FormattedMode))
    }
    battery.stop()
  }
}
