package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.core.Tables
import graft.llm.{ExactDedup, Shingles, TextAnalysis}
import graft.operators.ConnectedComponents
import graft.sources.LakeIO

/** End-to-end training-corpus pipeline: the LLM-data analog of
  * [[Analytics]]'s lake flow, composing the catalog operators into the
  * standard pretraining curation sequence over the three lake layers:
  *
  *  - stage    `corpus_stage`:  PII-scrubbed text + quality / language /
  *                              token annotations (zero-shuffle map).
  *  - domain   `corpus_curado`: exact dedup (md5 keep-min-id) → near-dup
  *                              component survivors (MinHash→LSH→Jaccard
  *                              verify→connected components) → benchmark
  *                              decontamination → per-source quality gate
  *                              (top 80% by score) → per-source
  *                              token-budget admission.
  *  - analytics `corpus_chunks`: survivors packed into overlapping word
  *                              windows (the q40 chunking shape).
  *  - analytics `corpus_secuencias`: survivors assigned to fixed-token
  *                              training sequences (the q46 running-sum
  *                              packing shape).
  *
  * Every stage is an operator the oracle gate already value-checks
  * individually (q15/q19/q38/q34/q36/q39/q40/q46/q47); the pipeline spec
  * pins the cross-stage invariants (no duplicate content survives, at
  * most one survivor per near-dup component, no contaminated or benchmark
  * doc admitted, every curated doc chunked and sequenced). Near-dup
  * detection runs on the RAW text (scrubbing replaces PII with
  * placeholders, which could otherwise merge distinct documents that
  * differ only in PII). */
object CorpusPipeline {

  def buildStage(lake: LakeIO, sfDir: String): Unit = {
    val spark = lake.spark
    val d = Tables.documents(spark, sfDir)
    val staged = d.select(col("doc_id"), col("source"),
      TextAnalysis.scrubPii(col("text")).as("text"),
      TextAnalysis.qualityScore(col("text")).as("calidad"),
      TextAnalysis.predictLang(col("text")).as("lang_pred"),
      size(Shingles.words(col("text"))).cast("long").as("tokens"))
    lake.write(staged, lake.layers.Stage, "corpus_stage")
  }

  def buildCurated(lake: LakeIO, sfDir: String, budget: Long = 2000L): Unit = {
    val spark = lake.spark
    val staged = lake.read(lake.layers.Stage, "corpus_stage")
    // exact dedup on the scrubbed text (identical content -> min doc_id)
    val exact = ExactDedup.dropExact(staged, "text", "doc_id")
    // near-dup groups collapse to their component survivor
    val edges = LLMQueries.verifiedPairs(spark, sfDir).select("id_a", "id_b")
    // releasable labeling: the write below materializes the whole flow,
    // so the label cache is dropped before returning (repeated pipeline
    // runs would otherwise stack persisted RDDs until GC)
    val (lbl, _, releaseLabels) = ConnectedComponents.labelsReleasable(edges)
    val losers = lbl
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    // benchmark decontamination: the held-out slice itself never trains,
    // and corpus docs colliding with it are dropped (q34 semantics)
    val flags = TrainingQueries.q34Decontaminate(spark, sfDir)
      .select(col("doc_id"), col("contaminado"))
    val clean = deduped
      .filter(col("doc_id") % 50 =!= 0)
      .join(flags, Seq("doc_id"), "left")
      .filter(coalesce(col("contaminado"), lit(0)) === 0)
      .drop("contaminado")
    // per-source quality gate (q47 shape): keep the top 80% by the staged
    // quality score before spending budget on low-quality docs. Shares the
    // source hash partitioning with the admission window below — one
    // Exchange, two sort orders.
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("calidad").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    val gated = clean
      .withColumn("__rango", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rango") <= expr("(8 * __n + 9) div 10"))
      .drop("__rango", "__n")
    // per-source token-budget admission in deterministic hash order
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = gated
      .withColumn("__acum", sum(col("tokens")).over(w))
      .filter(col("__acum") - col("tokens") < budget)
      .drop("__acum")
    lake.write(admitted, lake.layers.Domain, "corpus_curado")
    releaseLabels()
  }

  def buildPacked(lake: LakeIO, width: Int = 200, stride: Int = 100): Unit = {
    val cur = lake.read(lake.layers.Domain, "corpus_curado")
    val chunks = cur.select(col("doc_id"), col("source"),
        Shingles.words(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), posexplode(transform(
        sequence(lit(0), floor((size(col("ws")) - 1) / stride).cast(IntegerType)),
        i => slice(col("ws"), i * stride + 1, lit(width)))).as(Seq("idx_chunk", "chunk")))
      .select(col("doc_id"), col("source"), col("idx_chunk").cast(IntegerType),
        size(col("chunk")).cast(IntegerType).as("n_palabras_chunk"),
        array_join(col("chunk"), " ").as("texto_chunk"))
    lake.write(chunks, lake.layers.Analytics, "corpus_chunks")
  }

  /** Curated docs → fixed-token training sequences (the q46 running-sum
    * packing shape): one source-window cumsum assigns each doc to the
    * sequence its token offset starts in. */
  def buildSequences(lake: LakeIO, seqTokens: Long = 1024L): Unit = {
    val cur = lake.read(lake.layers.Domain, "corpus_curado")
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seqs = cur.select(col("doc_id"), col("source"), col("tokens"))
      .withColumn("__acum", sum(col("tokens")).over(w))
      .withColumn("secuencia",
        expr(s"(__acum - tokens) div $seqTokens").cast(IntegerType))
      .withColumn("offset_seq", (col("__acum") - col("tokens")) % seqTokens)
      .drop("__acum")
    lake.write(seqs, lake.layers.Analytics, "corpus_secuencias")
  }

  /** Curated docs → reproducible training-shard layout (the q58 shape):
    * 256 md5-prefix shards with a dense intra-shard ordinal, partitioned
    * on disk by shard so a training reader streams one directory per
    * shard in shuffled order — membership and position recomputable from
    * doc_id alone. */
  def buildShards(lake: LakeIO): Unit = {
    val cur = lake.read(lake.layers.Domain, "corpus_curado")
    val wPos = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col("doc_id"))
    val sharded = cur.select(col("doc_id"), col("source"), col("tokens"),
        md5(col("doc_id").cast("string")).as("__h"))
      .withColumn("shard", substring(col("__h"), 1, 2))
      .withColumn("pos", row_number().over(wPos).cast(IntegerType))
      .drop("__h")
    lake.write(sharded, lake.layers.Analytics, "corpus_shards",
      partitionBy = Seq("shard"))
  }

  /** Churn-bounded incremental near-dup for a transaction-logged corpus:
    * dedup only the documents INSERTED between two versions against the
    * standing corpus at `toV` — the corpus-side twin of
    * `Analytics.buildAnalyticsIncremental`. `TxnTable.changes` resolves
    * the increment from the manifest diff (only added/removed files are
    * scanned), and the asymmetric band join never scores corpus × corpus,
    * so a daily run costs O(churn), not O(corpus). */
  def dedupIncrement(txn: graft.sources.TxnTable, fromV: Long, toV: Long,
                     minJ: Double = 0.8): org.apache.spark.sql.DataFrame = {
    val inc = txn.changes(fromV, toV)
      .filter(col("_change_type") === "insert")
      .select("doc_id", "text")
    val corpus = txn.readVersion(toV)
      .join(inc.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
    graft.llm.IncrementalDedup.flag(inc, corpus, minJ = minJ)
  }

  /** Land a raw mixed-format document directory in the stage layer — the
    * reference's extract_data flow (documents decoded where they are
    * listed, extracted text + per-document errors into the lake):
    *
    *  - `documentos_raw`: one row per file — path, ext, text (null for
    *    unsupported/refused formats), error (null unless the decode
    *    threw) — so failed documents stay visible for reprocessing
    *    instead of vanishing from the batch;
    *  - `documentos_chunks`: the q40 chunk grain (path, idx_chunk,
    *    n_palabras_chunk, texto_chunk) over every decoded text, chunked
    *    by the reference's word-accumulating law
    *    ([[graft.sources.DocumentIngest.chunkWords]]).
    *
    * Decode runs on the executors (binaryFile + mapPartitions); nothing
    * document-sized ever reaches the driver. */
  def ingestStage(lake: LakeIO, docsDir: String, chunkSize: Int = 1000): Unit = {
    val spark = lake.spark
    val raw = graft.sources.DocumentIngest.ingest(spark, docsDir)
    lake.write(raw, lake.layers.Stage, "documentos_raw")
    // the chunk grain comes from the ONE shared chunk law
    // (DocumentIngest.chunkFrame) — chunking what LANDED, so error rows
    // stay visible in documentos_raw and the chunk boundaries cannot
    // drift from the ingestChunks consumers'
    val chunks = graft.sources.DocumentIngest.chunkFrame(
      lake.read(lake.layers.Stage, "documentos_raw"), chunkSize)
    lake.write(chunks, lake.layers.Stage, "documentos_chunks")
  }

  /** Full run; idempotent (overwrite semantics per layer). */
  def run(spark: SparkSession, sfDir: String, lakeRoot: String,
          budget: Long = 2000L): LakeIO = {
    val lake = LakeIO(spark, lakeRoot)
    buildStage(lake, sfDir)
    buildCurated(lake, sfDir, budget)
    buildPacked(lake)
    buildSequences(lake)
    buildShards(lake)
    lake
  }
}
