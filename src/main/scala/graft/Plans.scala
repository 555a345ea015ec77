package graft

/** Dev tool: dump physical plans for representative queries so the
  * shuffle/pushdown/codegen structure can be reviewed
  * (`sbt "runMain graft.Plans <sfDir> <query...>"`).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
    else Seq("q01_pricing", "q03_region_revenue", "q_between", "q_movrms16",
      "q_resample_linear", "q_cosine_topk", "q_minhash_sig")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
