package graft

import org.apache.spark.sql.functions._

import graft.llm.{IvfIndex, PqIndex}
import graft.sources.TxnTable
import graft.streaming.CorpusStream

/** CorpusStream at sweep scale (round-8 verdict item 4): the per-batch
  * cost law — O(batch · √N), flat in BATCH INDEX because the standing
  * corpus is never rescanned — measured over a real multi-batch file
  * stream against a factor-scaled standing corpus, with one injected
  * crash-replay at the same scale. Mirrors the SCALE_SWEEP_r8_pq750
  * artifact format.
  *
  * Usage: runMain graft.ScaleStreamSweep <srcSf> <workDir> <out.json>
  * Env: SPARK_GRAFT_SCALE_FACTOR (embeddings axis, default 750),
  * SPARK_GRAFT_SCALE_FACTOR_DOCS (text axis, default 100 — bounds the
  * materialized text volume while the INDEX side carries the full
  * 1.5M-vector load), SPARK_GRAFT_STREAM_BATCHES (default 6).
  */
object ScaleStreamSweep {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft_stream_sweep")
    val out = args.lift(2).getOrElse("SCALE_SWEEP_stream.json")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "750").toInt
    val docFactor =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR_DOCS", "100").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "6").toInt
    val spark = graft.core.GraftSession.local()

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(work))

    // ---- standing corpus at factor× (docs + embeddings share the id
    // domain; stride walks copies through the %10 slices like ScaleSweep)
    val docs0 = graft.core.Tables.documents(spark, src).select("doc_id", "text")
    val emb0 = graft.core.Tables.embeddings(spark, src)
      .select("vec_id", "embedding")
    def strideFor(maxId: Long): Long = {
      var s = maxId + 1
      while (s % 10 != 7) s += 1
      s
    }
    val stride = strideFor(
      docs0.agg(max("doc_id")).head.getLong(0)
        .max(emb0.agg(max("vec_id")).head.getLong(0)))
    def scaleBy(df: org.apache.spark.sql.DataFrame, idCol: String, f: Int) =
      (0 until f).map(k =>
        df.withColumn(idCol, col(idCol) + lit(k * stride)))
        .reduce(_ unionByName _)
    // materialize the scaled frames once (the stream loop re-reads them)
    val docsPath = s"$work/docs_scaled.parquet"
    val embPath = s"$work/emb_scaled.parquet"
    scaleBy(docs0, "doc_id", docFactor).write.parquet(docsPath)
    scaleBy(emb0, "vec_id", factor).write.parquet(embPath)
    val standingDocs = spark.read.parquet(docsPath)
    val standingEmb = spark.read.parquet(embPath)
    val nStanding = standingDocs.count()
    println(s"[stream-sweep] standing: $nStanding docs (x$docFactor), " +
      s"index over ${standingEmb.count()} vectors (x$factor)")

    val corpus = TxnTable(spark, s"$work/corpus")
    corpus.append(standingDocs): Unit
    val ivfRoot = s"$work/ivf"
    val tBuild0 = System.nanoTime()
    IvfIndex.buildAndSave(standingEmb, "vec_id", "embedding", ivfRoot): Unit
    PqIndex.buildCodes(spark, ivfRoot, "vec_id", "embedding",
      PqIndex.train(standingEmb, "vec_id", "embedding", m = 8, k = 256)): Unit
    val buildWall = (System.nanoTime() - tBuild0) / 1e9
    println(f"[stream-sweep] index + codes built in $buildWall%.1f s")

    // ---- the stream: nBatches parquet files of FRESH docs (ids beyond
    // the scaled domain, texts mutated so they are not exact dups),
    // each batch the size of the original corpus — plus embeddings for
    // those ids unioned into the embeddings frame the loop reads
    val incStride = stride * math.max(factor, docFactor).toLong
    val streamDir = s"$work/stream"
    val incEmbParts = (1 to nBatches).map { b =>
      docs0.select((col("doc_id") + lit(b * incStride)).as("doc_id"),
          concat(lit(s"lote $b "), col("text")).as("text"))
        .coalesce(1).write.parquet(s"$streamDir/b$b")
      emb0.select((col("vec_id") + lit(b * incStride)).as("vec_id"),
        col("embedding"))
    }
    val embAll = incEmbParts.foldLeft(standingEmb)(_ unionByName _)
    val batchRows = docs0.count()

    // ---- drive the real file stream; wall per micro-batch measured
    // around the same processBatch the production front door runs
    val schema = spark.read.parquet(s"$streamDir/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/b*/part-*.parquet")
    val flags = TxnTable(spark, s"$work/flags")
    val stateRoot = s"$work/state"
    val checkpoint = s"$work/ckpt"
    val walls = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        CorpusStream.processBatch(batch, id, corpus, flags, embAll,
          ivfRoot, stateRoot, 0.8)
        val w = (System.nanoTime() - t0) / 1e9
        walls += ((id, w))
        println(f"[stream-sweep] batch $id: $w%.1f s")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // ---- invariants at scale
    val landed = corpus.read().count()
    val expLanded = nStanding + nBatches * batchRows
    val nAssign = IvfIndex.assignmentTable(spark, ivfRoot).read().count()
    val nCodes = PqIndex.codesTable(spark, ivfRoot).read().count()
    val nFlags = flags.read().count()
    val batchesSeen = walls.size

    // the cost law: batch 0 pays JIT/scan warmup; afterwards the wall
    // must be flat in batch index (the standing corpus is not rescanned)
    val steady = walls.toSeq.sortBy(_._1).drop(1).map(_._2)
    val flatRatio =
      if (steady.size >= 2) steady.max / steady.min else 1.0

    // ---- injected crash-replay AT SCALE: intent written, append
    // committed, died before MARK — the replay must not re-append and
    // must leave codes covering assignments
    val lastId = walls.map(_._1).max
    val replayBatch = spark.read.parquet(s"$streamDir/b$nBatches")
    val vBefore = corpus.version()
    val rowsBefore = corpus.read().count()
    java.nio.file.Files.write(java.nio.file.Paths.get(stateRoot, "MARK"),
      (lastId - 1).toString.getBytes("UTF-8"))
    val intentV0 = corpus.version() - 1 // the version the doomed epoch saw
    java.nio.file.Files.write(java.nio.file.Paths.get(stateRoot, "INTENT"),
      s"$lastId $intentV0".getBytes("UTF-8"))
    val tR0 = System.nanoTime()
    CorpusStream.processBatch(replayBatch, lastId, corpus, flags, embAll,
      ivfRoot, stateRoot, 0.8)
    val replayWall = (System.nanoTime() - tR0) / 1e9
    val rowsAfterReplay = corpus.read().count()
    val nAssign2 = IvfIndex.assignmentTable(spark, ivfRoot).read().count()
    val nCodes2 = PqIndex.codesTable(spark, ivfRoot).read().count()
    val replayOk = rowsAfterReplay == rowsBefore && corpus.version() == vBefore &&
      nCodes2 == nAssign2

    val ok = landed == expLanded && nCodes == nAssign &&
      batchesSeen == nBatches && flatRatio <= 2.0 && replayOk &&
      nFlags == nBatches * batchRows

    def q2(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val wallsJson = walls.toSeq.sortBy(_._1)
      .map { case (id, w) => f"""{"batch":$id,"sec":$w%.2f}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"factor_emb":$factor,"factor_docs":$docFactor,"src":${q2(src)},"standing_docs":$nStanding,
         |"batches":$nBatches,"batch_rows":$batchRows,
         |"index_build_s":$buildWall,
         |"batch_walls":$wallsJson,
         |"steady_flat_ratio_max_over_min":$flatRatio,
         |"landed_rows":$landed,"expected_rows":$expLanded,
         |"flag_rows":$nFlags,
         |"codes_cover_assignments":${nCodes == nAssign},
         |"replay":{"wall_s":$replayWall,"no_reappend":$replayOk},
         |"ok":$ok}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8")): Unit
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
