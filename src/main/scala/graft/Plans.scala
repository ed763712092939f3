package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all of them by default) for shuffle/broadcast/pushdown review.
  * Usage: runMain graft.Plans [sfDir] [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.local()
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
