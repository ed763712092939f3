package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{CorpusPipeline, LLMQueries}

/** Cross-stage invariants of the end-to-end corpus curation flow — each
  * operator is oracle-checked individually; this pins their composition. */
class CorpusPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("corpus pipeline: curation invariants hold end to end") {
    val root = Files.createTempDirectory("graft_corpus").toString
    val lake = CorpusPipeline.run(spark, sf, root)

    val docs = graft.core.Tables.documents(spark, sf)
    val staged = lake.read(lake.layers.Stage, "corpus_stage")
    val curated = lake.read(lake.layers.Domain, "corpus_curado")
    val chunks = lake.read(lake.layers.Analytics, "corpus_chunks")

    // stage annotates every document, nothing dropped yet
    assert(staged.count() == docs.count())

    // no two curated docs share content
    assert(curated.groupBy(md5(col("text"))).count().filter(col("count") > 1).isEmpty,
      "exact duplicates must not survive curation")

    // at most one survivor per verified near-dup pair
    val ids = curated.select("doc_id").as[Long].collect().toSet
    val pairs = LLMQueries.verifiedPairs(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val bothAlive = pairs.filter { case (a, b) => ids.contains(a) && ids.contains(b) }
    assert(bothAlive.isEmpty,
      s"near-dup pairs with both endpoints curated: ${bothAlive.take(3).mkString(",")}")

    // no benchmark docs and no contaminated docs admitted
    assert(ids.forall(_ % 50 != 0), "benchmark slice must never train")
    val contaminated = graft.pipeline.TrainingQueries.q34Decontaminate(spark, sf)
      .filter(col("contaminado") === 1).select("doc_id").as[Long].collect().toSet
    assert(ids.intersect(contaminated).isEmpty, "contaminated docs must be dropped")

    // budget admission: every admitted doc STARTED inside its source budget
    val over = curated.withColumn("__acum",
        sum(col("tokens")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("__acum") - col("tokens") >= 2000L)
    assert(over.isEmpty, "no admitted doc may start past the token budget")

    // quality gate: recompute the gate's input (post-dedup, post-decontam
    // docs) and pin the per-source ceiling — curated counts can never
    // exceed ceil(80%) of what reached the gate
    val exactKept = staged.groupBy(md5(col("text")).as("__h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val ccLosers = graft.operators.ConnectedComponents
      .labels(LLMQueries.verifiedPairs(spark, sf).select("id_a", "id_b"))
      .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
    val cleanPerSource = staged
      .join(exactKept, Seq("doc_id"), "left_semi")
      .join(ccLosers, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 50 =!= 0)
      .join(spark.createDataset(contaminated.toSeq).toDF("doc_id"),
        Seq("doc_id"), "left_anti")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val curatedPerSource = curated.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    curatedPerSource.foreach { case (src, n) =>
      val ceil80 = (8 * cleanPerSource(src) + 9) / 10
      assert(n <= ceil80,
        s"source $src curated $n docs > gate ceiling $ceil80")
    }

    // every curated doc is chunked, and chunk ids never leave the curated set
    val chunkIds = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(chunkIds == ids, "chunk stage must cover exactly the curated docs")
    assert(chunks.count() >= curated.count())

    // sequence packing covers exactly the curated docs, offsets stay inside
    // the sequence budget, and sequence ids are dense per source
    val seqs = lake.read(lake.layers.Analytics, "corpus_secuencias")
    assert(seqs.select("doc_id").distinct().as[Long].collect().toSet == ids,
      "sequence stage must cover exactly the curated docs")
    assert(seqs.filter(col("offset_seq") < 0 || col("offset_seq") >= 1024).isEmpty)
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("secuencia"))
    val gaps = seqs.select(col("source"), col("secuencia")).distinct()
      .withColumn("__prev", lag(col("secuencia"), 1, -1).over(wSeq))
      .filter(col("secuencia") - col("__prev") > 1)
    assert(gaps.isEmpty, "sequence ids must be dense per source")

    // shard layout covers exactly the curated docs, positions are dense
    // per shard, and the table is physically partitioned by shard
    val shards = lake.read(lake.layers.Analytics, "corpus_shards")
    assert(shards.select("doc_id").as[Long].collect().toSet == ids,
      "shard stage must cover exactly the curated docs")
    val badPos = shards.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"),
        countDistinct("pos").as("dn"))
      .filter(col("mx") =!= col("n") || col("dn") =!= col("n"))
    assert(badPos.isEmpty, "positions must be dense 1..n inside each shard")
    val shardDirs = new java.io.File(
      s"$root/${lake.layers.Analytics}/corpus_shards").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty, "corpus_shards must be partitioned by shard")
  }

  test("CDC-driven incremental dedup equals the slice-driven catalog form") {
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val txn = graft.sources.TxnTable(spark,
      Files.createTempDirectory("graft_corpus_txn").toString)
    // day 0: the standing corpus lands; day 1: the increment arrives
    val v1 = txn.append(docs.filter(col("doc_id") % 10 =!= 3))
    val v2 = txn.append(docs.filter(col("doc_id") % 10 === 3))
    val viaCdc = CorpusPipeline.dedupIncrement(txn, v1, v2)
    val viaSlices = LLMQueries.q60IncrementalDedup(spark, sf)
    assert(viaCdc.except(viaSlices).count() == 0
      && viaSlices.except(viaCdc).count() == 0,
      "changes()-fed dedup must reproduce the catalog q60 exactly")
  }

  test("ingestStage lands a mixed-format corpus: errors preserved, q40 chunk grain") {
    // synthesized mixed corpus: decodable docx + txt + pdf, one
    // unsupported binary, one corrupt office file
    def zip(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (n, c) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(c.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val docx = zip("word/document.xml" ->
      """<w:document xmlns:w="x"><w:body><w:p><w:r><w:t>texto del informe anual</w:t></w:r></w:p></w:body></w:document>""")
    val pdf = ("%PDF-1.4\n1 0 obj << /Length 28 >>\nstream\n" +
      "BT (parrafo del pdf) Tj ET\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
      .getBytes("ISO-8859-1")
    val dir = Files.createTempDirectory("graft_ing_docs")
    Files.write(dir.resolve("a.docx"), docx)
    Files.write(dir.resolve("b.txt"),
      ("palabra " * 30).trim.getBytes("UTF-8"))
    Files.write(dir.resolve("c.pdf"), pdf)
    Files.write(dir.resolve("d.bin"), Array[Byte](0, 1, 2))
    Files.write(dir.resolve("e.docx"), Array[Byte](9, 9, 9))

    val root = Files.createTempDirectory("graft_ing_lake").toString
    val lake = graft.sources.LakeIO(spark, root)
    CorpusPipeline.ingestStage(lake, dir.toString, chunkSize = 40)

    val raw = lake.read(lake.layers.Stage, "documentos_raw")
    assert(raw.count() == 5, "every listed file lands, decodable or not")
    val byName = raw.collect().map(r => r.getString(0).split('/').last ->
      (Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(byName("a.docx")._1.contains("texto del informe anual"))
    assert(byName("c.pdf")._1.contains("parrafo del pdf"))
    assert(byName("d.bin") == (None, None), "unsupported: null text, null error")
    assert(byName("e.docx")._1.isEmpty && byName("e.docx")._2.nonEmpty,
      "corrupt files keep their error row")

    // chunk grain: one row per (path, idx_chunk), q40's column shape
    val chunks = lake.read(lake.layers.Stage, "documentos_chunks")
    assert(chunks.columns.toSeq ==
      Seq("path", "idx_chunk", "n_palabras_chunk", "texto_chunk"))
    // b.txt: 30 words of 8 chars vs chunkSize 40 → multiple chunks,
    // idx dense from 0, word counts consistent with the text
    val b = chunks.filter(col("path").endsWith("b.txt"))
      .orderBy("idx_chunk").collect()
    assert(b.length > 1)
    assert(b.map(_.getInt(1)).toSeq == b.indices)
    assert(b.map(_.getInt(2)).sum == 30)
    // only decoded documents chunk — no rows for the refused/corrupt ones
    assert(chunks.filter(col("path").endsWith(".bin")).isEmpty)
    assert(chunks.filter(col("path").endsWith("e.docx")).isEmpty)
  }
}
