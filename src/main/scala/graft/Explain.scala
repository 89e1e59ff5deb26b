package graft
/** Plan-inspection main: prints the formatted physical plan of selected
  * catalog queries (default: the scan/join/agg shapes worth auditing for
  * pushdown, broadcast, and codegen coverage).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s1_scan_filter", "q1_agg", "j5_three_way_join", "j8_hier_vc_count",
        "m8_cdc_apply", "d5_embed_cosine", "ann_topk")
    val spark = Session.build(8)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
