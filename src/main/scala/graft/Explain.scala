package graft

/** Plan-audit main: print the formatted physical plan of declared queries.
  *
  * {{{
  * sbt 'runMain graft.Explain [sfDir] [query ...]'   // default: a key set
  * }}}
  *
  * The machine-checked plan properties live in PlanSpec; this tool is for
  * eyeballing WholeStageCodegen spans, PushedFilters, and join strategies
  * when iterating on an operator.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "join_inner", "ts_range_scan",
        "dedup_embedding", "text_tfidf", "win_sessionize")
    val spark = GraftSession.local(4)
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
