package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions._

/** ANN serving under CONCURRENCY at sweep scale (round-9 verdict item 6):
  * the IVF-PQ serve story had recall and single-stream latency but no
  * throughput evidence. This main scales the embeddings ×factor (the
  * SCALE_SWEEP metamorphic construction: exact copies at id strides, so
  * ground truth needs no oracle), builds the persisted IVF index + PQ
  * codes once, then drives N client threads issuing INDEPENDENT query
  * batches through `PqIndex.topK` (ADC shortlist + exact rescore over
  * the pinned tables) at 1 / 4 / 16 threads.
  *
  * Per thread level it records wall, batch count, queries/sec, and the
  * recall@10 of every batch (the metamorphic floor: each query's true
  * top-10 are its exact copies — any concurrency-induced mis-serve, e.g.
  * a torn pin read or cross-session state bleed, breaks recall, not just
  * latency). Spark schedules the concurrent jobs from one SparkContext,
  * exactly how a serving tier shares a cluster.
  *
  * Usage: runMain graft.ScaleServeConcurrency [src] [outDir]
  *   SPARK_GRAFT_SCALE_FACTOR (default 750), SPARK_GRAFT_CPUS,
  *   SPARK_GRAFT_SERVE_BATCHES (batches per thread, default 4),
  *   SPARK_GRAFT_SERVE_REUSE=1 reuses an already-built index under outDir.
  */
object ScaleServeConcurrency {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_serve_conc")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "750").toInt
    val batchesPerThread = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCHES", "4").toInt
    // FAIR pools: concurrent serve batches share executors instead of
    // convoying behind one another's stages — the serving-tier setting
    val spark = graft.core.GraftSession.local(
      extra = Map("spark.scheduler.mode" -> "FAIR"))

    import graft.llm.{IvfIndex, PqIndex, Similarity}

    val dataDir = s"$outDir/data"
    val root = s"$outDir/pq_index_f$factor"
    val reuse = sys.env.get("SPARK_GRAFT_SERVE_REUSE").contains("1") &&
      new java.io.File(s"$root/PQINDEX").exists()

    val emb0 = spark.read.parquet(s"$src/embeddings.parquet")
    val origVecs = emb0.count()
    val maxId = emb0.agg(max(col("vec_id"))).head.getLong(0)
    var stride = maxId + 1
    while (stride % 10 != 7) stride += 1

    if (!reuse) {
      val scaled = (0 until factor).map { k =>
        emb0.withColumn("vec_id", col("vec_id") + lit(k * stride))
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
      val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      val tb0 = System.nanoTime()
      IvfIndex.buildAndSave(emb, "vec_id", "embedding", root): Unit
      val codec = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 256)
      PqIndex.buildCodes(spark, root, "vec_id", "embedding", codec): Unit
      println(f"[serve-conc] built ×$factor index " +
        f"(${origVecs * factor} vectors) in ${(System.nanoTime() - tb0) / 1e9}%.1f s")
    }
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")

    // independent query batches: 50 ORIGINAL vectors each, disjoint id
    // ranges per (thread, batch) so no two in-flight jobs share a plan
    val batchSize = 50L
    // The deepest level consumes slots [1, 1 + maxThreads*batchesPerThread);
    // every slot must be fully populated from the ORIGINAL corpus or its
    // batch is empty, recall degenerates, and the floor require below
    // fails with a misleading message. Refuse undersized sources up front.
    val maxThreads = 16
    val slotsNeeded = (1 + maxThreads * batchesPerThread) * batchSize
    require(origVecs >= slotsNeeded,
      s"source corpus has $origVecs vectors but the $maxThreads-thread level " +
        s"needs ${1 + maxThreads * batchesPerThread} disjoint $batchSize-id " +
        s"query batches (vec_id < $slotsNeeded) — use a larger src or lower " +
        "SPARK_GRAFT_SERVE_BATCHES")
    def queryBatch(slot: Int): org.apache.spark.sql.DataFrame =
      emb.filter(col("vec_id") >= slot * batchSize &&
        col("vec_id") < (slot + 1) * batchSize)
    val copies = math.min(10, factor - 1)

    val levels = Seq(1, 4, 16)
    val results = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
    levels.foreach { threads =>
      val pool = Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // warm one batch (codegen + pin read) outside the clock
      Similarity.recallAtK(
        Similarity.bruteForceTopK(queryBatch(0), emb, "vec_id", "embedding", 10),
        PqIndex.topK(queryBatch(0), root, "vec_id", "embedding", k = 10,
          probes = 4, refine = 4)): Unit
      // timed region: ONLY the serve path (plan + ADC shortlist + exact
      // rescore + materialization). Ground-truth brute force runs after
      // the clock stops — it costs far more than the serve and would
      // otherwise dominate the measured throughput.
      val t0 = System.nanoTime()
      val futures = (0 until threads).map { t =>
        Future {
          (0 until batchesPerThread).map { b =>
            val slot = 1 + t * batchesPerThread + b
            slot -> PqIndex.topK(queryBatch(slot), root, "vec_id",
              "embedding", k = 10, probes = 4, refine = 4).collect()
          }
        }
      }
      val servedRows = Await.result(Future.sequence(futures), Duration.Inf)
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      // untimed verification: recall@10 per batch against brute force
      val recalls = servedRows.map(_.map { case (slot, rows) =>
        val approx = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq.map(r =>
            (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))), 4))
          .toDF("query_id", "neighbor_id")
        val exact = Similarity.bruteForceTopK(queryBatch(slot), emb,
          "vec_id", "embedding", 10)
        Similarity.recallAtK(exact, approx)
      }.min)
      val nBatches = threads * batchesPerThread
      val qps = nBatches * batchSize / wall
      results(s"threads_$threads") = Map(
        "wall_sec" -> f"$wall%.2f".toDouble,
        "batches" -> nBatches,
        "queries_per_sec" -> f"$qps%.1f".toDouble,
        "recall_at_10_min" -> recalls.min)
      println(f"[serve-conc] threads=$threads wall=$wall%.2fs " +
        f"qps=$qps%.1f recall_min=${recalls.min}%.3f")
      require(recalls.min >= copies / 10.0,
        s"recall floor broken under $threads threads: ${recalls.min}")
    }

    def j(v: Any): String = v match {
      case m: Map[_, _] => m.map { case (k, x) => s""""$k":${j(x)}""" }
        .mkString("{", ",", "}")
      case s: String => "\"" + s + "\""
      case other => other.toString
    }
    val json = j(Map("factor" -> factor, "src" -> src,
      "vectors" -> origVecs * factor, "batch_size" -> batchSize,
      "batches_per_thread" -> batchesPerThread,
      "note" -> ("concurrent IVF-PQ serve (ADC shortlist + exact rescore) " +
        "via FAIR-scheduled jobs; recall floor is the metamorphic " +
        "exact-copy construction"),
      "levels" -> results.toMap))
    val out = sys.env.getOrElse("SPARK_GRAFT_SERVE_OUT",
      "/root/repo/SCALE_SERVE_CONC_r10.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8")): Unit
    println(s"[serve-conc] wrote $out")
    spark.stop()
  }
}
