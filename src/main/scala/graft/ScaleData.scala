package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-lake scale-up: replicate EVERY testdata table ×factor with
  * consistent key shifts, so the full 96-query catalog (TPC-H-ish core,
  * conformance closures, LLM pipeline) can be benchmarked at a larger SF
  * than the driver ships. The output is a complete dataset: foreign keys
  * shift by the SAME per-domain stride as their referenced primary keys,
  * so join cardinalities scale linearly — k-th copy joins k-th copy,
  * exactly how a lake that ingested factor× more periods of
  * the same business would behave. Dims (region, nation) stay fixed, as
  * they would at any scale.
  *
  * Usage: runMain graft.ScaleData <srcSf> <outDir> [factor=10]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scaled")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.GraftSession.local()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame =
      if (t == "events") graft.core.Tables.events(spark, src)
      else spark.read.parquet(s"$src/$t.parquet")

    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1

    // one stride per key domain, shared by every table referencing it
    val strides = Map(
      "cust" -> strideOf(read("customer"), "c_custkey"),
      "supp" -> strideOf(read("supplier"), "s_suppkey"),
      "part" -> strideOf(read("part"), "p_partkey"),
      "ord"  -> strideOf(read("orders"), "o_orderkey"),
      "evt"  -> strideOf(read("events"), "event_id"),
      "user" -> strideOf(read("events"), "user_id"),
      "doc"  -> strideOf(read("documents"), "doc_id"),
      "vec"  -> strideOf(read("embeddings"), "vec_id"))

    def replicate(t: String, shifts: (String, String)*): Unit = {
      val df = read(t)
      val scaled =
        if (shifts.isEmpty) df
        else (0 until factor).map { k =>
          shifts.foldLeft(df) { case (d, (c, dom)) =>
            d.withColumn(c, col(c) + lit(k * strides(dom)))
          }
        }.reduce(_ unionByName _)
      // A union of k copies inherits the SOURCE's file layout — at 10x
      // that is ~11 fat files of one parquet row group each, capping scan
      // parallelism at 11 tasks no matter the split size (a row group is
      // the atomic scan unit). Real lakes are many-filed; lay the slice
      // out the same way: range-repartition on the lead key (keeps the
      // source's key clustering, unlike a round-robin repartition) into
      // at least one file per core, and cap row groups at 16 MB so even
      // a fat file stays split-parallel.
      val laidOut = shifts.headOption match {
        case Some((k, _)) =>
          val nFiles = math.max(spark.sparkContext.defaultParallelism, factor)
          scaled.repartitionByRange(nFiles, col(k))
        case None => scaled
      }
      laidOut.write.mode("overwrite")
        .option("parquet.block.size", (16 * 1024 * 1024).toString)
        .parquet(s"$out/$t.parquet")
      println(s"[scale] $t x${if (shifts.isEmpty) 1 else factor}")
    }

    replicate("region")
    replicate("nation")
    replicate("customer", "c_custkey" -> "cust")
    replicate("supplier", "s_suppkey" -> "supp")
    replicate("part", "p_partkey" -> "part")
    replicate("orders", "o_orderkey" -> "ord", "o_custkey" -> "cust")
    replicate("lineitem", "l_orderkey" -> "ord", "l_partkey" -> "part",
      "l_suppkey" -> "supp")
    replicate("events", "event_id" -> "evt", "user_id" -> "user")
    replicate("documents", "doc_id" -> "doc")
    replicate("embeddings", "vec_id" -> "vec")
    println(s"[scale] $src x$factor -> $out")
    spark.stop()
  }
}
