package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Multimodal column plumbing: opaque binary payloads + typed metadata.
  *
  * The Spark-side mechanics are real — binary columns, content digests,
  * per-batch iteration via mapPartitions — while the media decode itself is
  * STUBBED deterministically (this environment has no image/audio codecs).
  * Swap [[decodeStub]] for a real codec (e.g. a Pandas-UDF or JNI decoder)
  * without touching the surrounding plan: schema, partitioning and batch
  * shape stay identical.
  */
object Multimodal {
  /** Treat a string column as the binary payload (in a real lake this is
    * the raw image/audio bytes read from object storage). */
  def asBinary(c: Column): Column = c.cast("binary")

  def contentSha(bin: Column): Column = sha2(bin, 256)

  def byteLength(bin: Column): Column = octet_length(bin).cast(IntegerType)

  /** STUB decode: derives fake media dimensions/format purely from payload
    * size, so pipelines exercising the decode path are deterministic.
    * A real decoder replaces these three expressions (or the whole select)
    * with a batch decode over `mapPartitions`. */
  def decodeStub(bin: Column): (Column, Column, Column) = {
    val n = byteLength(bin)
    val width  = (lit(64) + pmod(n, lit(512))).cast(IntegerType)
    val height = (lit(64) + pmod(n * 7, lit(512))).cast(IntegerType)
    val fmt = when(pmod(n, lit(3)) === 0, lit("png"))
      .when(pmod(n, lit(3)) === 1, lit("jpeg")).otherwise(lit("webp"))
    (width, height, fmt)
  }

  /** STUB duration (seconds) for audio/video payloads, derived from size. */
  def durationStub(bin: Column): Column =
    (lit(1) + pmod(byteLength(bin), lit(120))).cast(IntegerType)

  /** Frame sampling: one row per sampled frame at `everySeconds` spacing —
    * the explode to (payload, frame_ts) grain a real frame extractor
    * decodes. Pipelined (no shuffle): the row multiplication happens
    * inside the scan stage. Frame bytes are stubbed as a deterministic
    * payload slice + digest; a real extractor replaces only frame_stub. */
  def sampleFrames(df: DataFrame, binCol: String, everySeconds: Int = 10): DataFrame = {
    val bin = col(binCol)
    df.withColumn("frame_ts",
        explode(sequence(lit(0), durationStub(bin) - 1, lit(everySeconds))))
      .withColumn("frame_stub",
        bin.substr((pmod(col("frame_ts"), greatest(byteLength(bin), lit(1))) + 1).cast(IntegerType), lit(16)))
      .withColumn("frame_sha", sha2(col("frame_stub"), 256))
  }

  /** Frame sampling driven by the REAL container duration (r10): the
    * payload's WAV/MP3/MP4 header supplies duration via
    * [[MediaHeaders.decodeAv]] (images and unknowns contribute zero
    * frames — there is nothing to sample), and one row per `everySeconds`
    * frame timestamp explodes inside the scan stage, exactly like
    * [[sampleFrames]] but with the stubbed duration replaced by the
    * decoded one.
    *
    * Frame BYTES (r11): for a complete PCM16 WAV payload — the one
    * container whose samples need no codec — `frame_bytes` is the REAL
    * audio at the frame timestamp ([[MediaHeaders.wavFrameSlice]]:
    * block-aligned data-chunk slice) and `frame_src` = 'pcm'. Compressed
    * formats keep the deterministic stub slice (`frame_src` = 'stub');
    * a codec-backed extractor replaces only that branch. */
  def sampleFramesAv(df: DataFrame, binCol: String,
                     everySeconds: Int = 10): DataFrame = {
    val bin = col(binCol)
    val pcmSlice = udf((b: Array[Byte], ts: Int) =>
      MediaHeaders.wavFrameSlice(b, ts, 16).orNull)
    val decoded = decodeAvBatches(df, binCol)()
    decoded
      .withColumn("dur_s", (col("dur_ms") / lit(1000)).cast(IntegerType))
      .filter(col("dur_s") > 0)
      .withColumn("frame_ts",
        explode(sequence(lit(0), col("dur_s") - 1, lit(everySeconds))))
      .withColumn("__pcm", pcmSlice(bin, col("frame_ts")))
      .withColumn("frame_bytes", coalesce(col("__pcm"),
        bin.substr((pmod(col("frame_ts"), greatest(byteLength(bin), lit(1))) + 1)
          .cast(IntegerType), lit(16))))
      .withColumn("frame_src",
        when(col("__pcm").isNotNull, lit("pcm")).otherwise(lit("stub")))
      .withColumn("frame_sha", sha2(col("frame_bytes"), 256))
      .drop("__pcm")
  }

  /** Batch-decode plumbing: partition-at-a-time iteration with the same
    * row shape a vectorized decoder would use. The per-row `decode` is
    * injected so tests can observe batching; the default is the REAL
    * header-only parser ([[MediaHeaders.decode]] — PNG/JPEG/GIF/BMP). */
  def decodeBatches(df: DataFrame, binCol: String)(
      decode: Array[Byte] => (Int, Int, String) = MediaHeaders.decode): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields ++ Array(
      StructField("ancho", IntegerType), StructField("alto", IntegerType),
      StructField("formato", StringType)))
    val idx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, f) = decode(r.getAs[Array[Byte]](idx))
        Row.fromSeq(r.toSeq ++ Seq(w, h, f))
      }
    }(enc)
  }

  /** Per-window PCM sample statistics — the value-real audio analysis
    * stage (r11): each payload's PCM16 stream decodes inside the scan
    * stage ([[MediaHeaders.decodePcm]]) and emits one row per
    * `windowSamples`-sample window of the raw interleaved stream with
    * exact integer stats — peak |sample|, sum of squares, and a
    * position-weighted checksum (Σ sample·(pos+1), order-sensitive, so a
    * sample swap or off-by-one can't cancel). All integers: the stats
    * are bit-reproducible across engines with no floating-point
    * accumulation. Payloads that fail the PCM refuse contract contribute
    * zero rows (same convention as zero-duration clips in
    * [[sampleFramesAv]]). Zero shuffle — the window explode pipelines in
    * mapPartitions; per-row cost is O(payload bytes).
    *
    * Bounds: |sample| ≤ 32768 so a window's sum of squares ≤ n·2^30 and
    * the checksum ≤ n²·2^15 — both inside Long for any window under ~2^30
    * samples. */
  def pcmWindows(df: DataFrame, binCol: String, windowSamples: Int = 512)(
      decode: Array[Byte] => Option[MediaHeaders.PcmAudio] = MediaHeaders.decodePcm)
      : DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields ++ Array(
      StructField("sample_rate", IntegerType), StructField("canales", IntegerType),
      StructField("codec", StringType),
      StructField("ventana", IntegerType), StructField("n_muestras", IntegerType),
      StructField("pico", IntegerType), StructField("suma_cuadrados", LongType),
      StructField("suma_ponderada", LongType)))
    val idx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decode(r.getAs[Array[Byte]](idx)) match {
          case None => Iterator.empty
          case Some(pcm) =>
            val base = r.toSeq
            val n = pcm.samples.length
            val nWin = (n + windowSamples - 1) / windowSamples
            (0 until nWin).iterator.map { w =>
              val from = w * windowSamples
              val until = math.min(from + windowSamples, n)
              var pico = 0
              var sumSq = 0L
              var sumW = 0L
              var k = from
              while (k < until) {
                val v = pcm.samples(k).toInt
                val a = math.abs(v)
                if (a > pico) pico = a
                sumSq += v.toLong * v
                sumW += v.toLong * (k - from + 1)
                k += 1
              }
              Row.fromSeq(base ++ Seq[Any](pcm.sampleRate, pcm.channels,
                pcm.codec, w, until - from, pico, sumSq, sumW))
            }
        }
      }
    }(enc)
  }

  /** Audio/video sibling of [[decodeBatches]]: appends the full
    * [[MediaHeaders.AvMeta]] surface (sample rate, channels, duration,
    * track dims, format) — same partition-at-a-time shape, zero shuffle. */
  def decodeAvBatches(df: DataFrame, binCol: String)(
      decode: Array[Byte] => MediaHeaders.AvMeta = MediaHeaders.decodeAv): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(df.schema.fields ++ Array(
      StructField("sample_rate", IntegerType), StructField("canales", IntegerType),
      StructField("dur_ms", LongType), StructField("ancho", IntegerType),
      StructField("alto", IntegerType), StructField("formato", StringType)))
    val idx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val m = decode(r.getAs[Array[Byte]](idx))
        Row.fromSeq(r.toSeq ++
          Seq(m.sampleRate, m.channels, m.durationMs, m.width, m.height, m.format))
      }
    }(enc)
  }
}
