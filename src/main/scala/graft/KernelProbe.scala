package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Microbench for the native text kernels (guide §1.2 step 2: per-task
  * work), timed as direct static calls over the REAL sf corpus so a
  * kernel change can be A/B'd without Spark dispatch noise drowning the
  * delta. Loads the documents table's text once, then times min-of-N
  * whole-corpus passes per kernel; a folded checksum defeats dead-code
  * elimination. Probe tool only — never on a query path.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.KernelProbe"
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_KERNEL_REPS", "7").toInt
    val spark = graft.core.GraftSession.local()
    // a null document has no bytes to hash; the kernels never see one
    val texts: Array[UTF8String] = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("text").isNotNull)
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    spark.stop()
    val totalBytes = texts.map(_.numBytes.toLong).sum
    println(s"docs=${texts.length} bytes=$totalBytes")

    def bench(name: String)(pass: () => Long): Unit = {
      var best = Long.MaxValue
      var sink = 0L
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        sink ^= pass()
        val dt = System.nanoTime() - t0
        if (dt < best) best = dt
        r += 1
      }
      val mbps = totalBytes / (best / 1e9) / 1e6
      println(f"$name%-28s min=${best / 1e6}%8.1f ms  ${mbps}%8.1f MB/s  sink=$sink")
    }

    bench("gram_hashes(48)") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        val a = graft.functions.GramHashes.compute(texts(i), 48)
        if (a.numElements() > 0) acc ^= a.getLong(0) ^ a.numElements()
        i += 1
      }
      acc
    }
    bench("gram_hashes_winnowed(48,16)") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        val a = graft.functions.GramHashes.winnow(texts(i), 48, 16)
        acc ^= a.numElements()
        i += 1
      }
      acc
    }
    bench("simhash64_md5") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        acc ^= graft.functions.TextHash.simhashMd5(texts(i))
        i += 1
      }
      acc
    }
    bench("minhash_signature(5,64)") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        val a = graft.functions.TextHash.minHashSignature(texts(i), 5, 64)
        acc ^= a.getLong(0)
        i += 1
      }
      acc
    }
    bench("word_shingles(5)") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        acc ^= graft.functions.TextHash.wordShingles(texts(i), 5).numElements()
        i += 1
      }
      acc
    }
    bench("max_word_freq") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        acc ^= graft.functions.TextHash.maxWordFreq(texts(i))
        i += 1
      }
      acc
    }
    bench("simhash64(xxh)") { () =>
      var acc = 0L
      var i = 0
      while (i < texts.length) {
        acc ^= graft.functions.TextHash.simhash64(texts(i))
        i += 1
      }
      acc
    }
  }
}
