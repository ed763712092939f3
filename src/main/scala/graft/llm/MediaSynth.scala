package graft.llm

import java.io.ByteArrayOutputStream

/** Deterministic media-payload synthesis: well-formed PNG/JPEG/GIF/BMP
  * headers whose dimensions are pure functions of a seed id. Used by the
  * q65 gate query: Spark builds the binaries and parses them back with
  * [[MediaHeaders]]; the DuckDB oracle independently predicts the decoded
  * metadata from the same id arithmetic — so a parser bug (wrong offset,
  * endianness, marker walk) breaks the hash compare.
  *
  * Payload byte lengths are format-fixed constants (pinned by spec and
  * used by the oracle's n_bytes arithmetic).
  */
object MediaSynth {
  /** Dimensions a seed synthesizes to — shared by synth and oracle. */
  def widthOf(id: Long): Int = (1 + math.floorMod(id * 13L, 1920L)).toInt
  def heightOf(id: Long): Int = (1 + math.floorMod(id * 7L, 1080L)).toInt
  /** Format cycle: 0=png, 1=baseline jpeg (SOF0), 2=progressive jpeg
    * (SOF2), 3=gif, 4=bmp. Two jpeg variants exercise distinct SOF
    * markers through the same walk. */
  def formatOf(id: Long): String = math.floorMod(id, 5L) match {
    case 0 => "png"
    case 1 | 2 => "jpeg"
    case 3 => "gif"
    case _ => "bmp"
  }

  val PngBytes = 33   // sig 8 + len 4 + tag 4 + IHDR data 13 + crc 4
  val JpegBytes = 42  // SOI 2 + APP0 18 + DQT 7 + SOF 13 + EOI 2
  val GifBytes = 13   // sig 6 + screen descriptor 7
  val BmpBytes = 54   // file header 14 + BITMAPINFOHEADER 40

  private def beU16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >> 8) & 0xff); o.write(v & 0xff)
  }
  private def leU16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def beU32(o: ByteArrayOutputStream, v: Long): Unit = {
    o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
    o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
  }
  private def leI32(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }

  private def png(w: Int, h: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream(PngBytes)
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(o.write)
    beU32(o, 13L)                       // IHDR data length
    "IHDR".foreach(c => o.write(c.toInt))
    beU32(o, w.toLong); beU32(o, h.toLong)
    o.write(8); o.write(6)              // bit depth, color type RGBA
    o.write(0); o.write(0); o.write(0)  // compression, filter, interlace
    beU32(o, 0L)                        // CRC (not validated by header parse)
    o.toByteArray
  }

  private def jpeg(w: Int, h: Int, progressive: Boolean): Array[Byte] = {
    val o = new ByteArrayOutputStream(JpegBytes)
    o.write(0xff); o.write(0xd8)                   // SOI
    o.write(0xff); o.write(0xe0); beU16(o, 16)     // APP0, len 16
    "JFIF".foreach(c => o.write(c.toInt)); o.write(0)
    o.write(1); o.write(1)                         // version 1.1
    o.write(0); beU16(o, 1); beU16(o, 1)           // density units + x/y
    o.write(0); o.write(0)                         // no thumbnail
    o.write(0xff); o.write(0xdb); beU16(o, 5)      // DQT stub, len 5
    o.write(0); o.write(0); o.write(0)             // 3 payload bytes
    o.write(0xff); o.write(if (progressive) 0xc2 else 0xc0)
    beU16(o, 11)                                   // SOF len: 8 + 3*1 comp
    o.write(8)                                     // precision
    beU16(o, h); beU16(o, w)                       // HEIGHT then WIDTH
    o.write(1)                                     // 1 component
    o.write(1); o.write(0x11); o.write(0)          // comp id, sampling, qtable
    o.write(0xff); o.write(0xd9)                   // EOI
    o.toByteArray
  }

  private def gif(w: Int, h: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream(GifBytes)
    "GIF89a".foreach(c => o.write(c.toInt))
    leU16(o, w); leU16(o, h)
    o.write(0); o.write(0); o.write(0)  // packed, bg color, aspect
    o.toByteArray
  }

  private def bmp(w: Int, h: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream(BmpBytes)
    o.write('B'.toInt); o.write('M'.toInt)
    leI32(o, BmpBytes)                  // file size
    leI32(o, 0)                         // reserved
    leI32(o, BmpBytes)                  // pixel-data offset (none here)
    leI32(o, 40)                        // BITMAPINFOHEADER size
    leI32(o, w); leI32(o, -h)           // negative height = top-down
    leU16(o, 1); leU16(o, 24)           // planes, bpp
    leI32(o, 0); leI32(o, 0)            // compression, image size
    leI32(o, 2835); leI32(o, 2835)      // ppm resolution
    leI32(o, 0); leI32(o, 0)            // palette counts
    o.toByteArray
  }

  /** The payload for a seed id — format, dims, and length all pure
    * functions of the id. */
  def synth(id: Long): Array[Byte] = {
    val w = widthOf(id); val h = heightOf(id)
    math.floorMod(id, 5L) match {
      case 0 => png(w, h)
      case 1 => jpeg(w, h, progressive = false)
      case 2 => jpeg(w, h, progressive = true)
      case 3 => gif(w, h)
      case _ => bmp(w, h)
    }
  }

  // --------------------------------------------------------- audio/video
  // The q78 gate twin: WAV / MP3 / MP4 payloads whose header fields are
  // pure integer functions of the id, so the DuckDB oracle re-derives the
  // decoded sample rate / channels / duration / dims from id arithmetic
  // alone. Selector arithmetic uses the id QUOTIENT (id/3) so the fields
  // vary within each format class (id%3 picks the class itself).

  def avFormatOf(id: Long): String = math.floorMod(id, 3L) match {
    case 0 => "wav"
    case 1 => "mp3"
    case _ => "mp4"
  }

  private def q(id: Long): Long = id / 3

  // WAV: PCM16; declared data size = nSamples * blockAlign (header-only
  // payload — the parser's duration input is the DECLARED size)
  def wavSampleRate(id: Long): Int = (8000L * (1 + math.floorMod(q(id), 4L))).toInt
  def wavChannels(id: Long): Int = (1 + math.floorMod(q(id), 2L)).toInt
  def wavSamples(id: Long): Long = 800L + math.floorMod(id * 11L, 40000L)
  def wavDurationMs(id: Long): Long = wavSamples(id) * 1000L / wavSampleRate(id)
  val WavBytes = 44

  // MP3: MPEG1 Layer III CBR; payload = frames * frameLen zero-padded
  private val Mp3BitrateSel = Array(128000, 192000, 256000, 320000)
  private val Mp3BitrateIdx = Array(9, 11, 13, 14) // header index of each
  private val Mp3RateSel = Array(44100, 48000, 32000)
  def mp3Bitrate(id: Long): Int = Mp3BitrateSel(math.floorMod(q(id), 4L).toInt)
  def mp3SampleRate(id: Long): Int = Mp3RateSel(math.floorMod(q(id), 3L).toInt)
  def mp3Channels(id: Long): Int = if (math.floorMod(q(id), 2L) == 0L) 2 else 1
  def mp3Frames(id: Long): Long = 2L + math.floorMod(q(id), 5L)
  def mp3FrameLen(id: Long): Int = 144 * mp3Bitrate(id) / mp3SampleRate(id)
  def mp3Bytes(id: Long): Int = (mp3Frames(id) * mp3FrameLen(id)).toInt
  def mp3DurationMs(id: Long): Long =
    mp3Frames(id) * 1152L * 1000L / mp3SampleRate(id)

  // MP4: ftyp + moov(mvhd + trak(tkhd)); duration = units/timescale
  private val Mp4TimescaleSel = Array(600, 1000, 90000)
  def mp4Timescale(id: Long): Int = Mp4TimescaleSel(math.floorMod(q(id), 3L).toInt)
  def mp4Units(id: Long): Long = 1000L + math.floorMod(id * 17L, 100000L)
  def mp4DurationMs(id: Long): Long = mp4Units(id) * 1000L / mp4Timescale(id)
  val Mp4Bytes = 232 // ftyp 16 + moov(8 + mvhd 108 + trak(8 + tkhd 92))

  def avBytesOf(id: Long): Int = math.floorMod(id, 3L) match {
    case 0 => WavBytes
    case 1 => mp3Bytes(id)
    case _ => Mp4Bytes
  }

  private def wav(id: Long): Array[Byte] = {
    val sr = wavSampleRate(id); val ch = wavChannels(id)
    val blockAlign = 2 * ch
    val dataBytes = (wavSamples(id) * blockAlign).toInt
    val o = new ByteArrayOutputStream(WavBytes)
    def leU32i(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    "RIFF".foreach(c => o.write(c.toInt)); leU32i(36L + dataBytes)
    "WAVE".foreach(c => o.write(c.toInt))
    "fmt ".foreach(c => o.write(c.toInt)); leU32i(16L)
    leU16(o, 1); leU16(o, ch)                     // PCM, channels
    leU32i(sr.toLong); leU32i(sr.toLong * blockAlign) // rate, byte rate
    leU16(o, blockAlign); leU16(o, 16)            // block align, bits
    "data".foreach(c => o.write(c.toInt)); leU32i(dataBytes.toLong)
    o.toByteArray                                  // declared body, no bytes
  }

  private def mp3(id: Long): Array[Byte] = {
    val bIdx = Mp3BitrateIdx(math.floorMod(q(id), 4L).toInt)
    val rIdx = math.floorMod(q(id), 3L).toInt
    val mode = if (mp3Channels(id) == 1) 3 else 0
    val out = new Array[Byte](mp3Bytes(id))
    out(0) = 0xff.toByte
    out(1) = 0xfb.toByte                 // MPEG1, Layer III, no CRC
    out(2) = ((bIdx << 4) | (rIdx << 2)).toByte // no padding/private
    out(3) = (mode << 6).toByte
    out
  }

  private def mp4(id: Long): Array[Byte] = {
    val w = widthOf(id); val h = heightOf(id)
    val o = new ByteArrayOutputStream(Mp4Bytes)
    def beU32i(v: Long): Unit = beU32(o, v)
    def fourcc(s: String): Unit = s.foreach(c => o.write(c.toInt))
    def zeros(n: Int): Unit = (0 until n).foreach(_ => o.write(0))
    def matrix(): Unit = {
      beU32i(0x10000L); beU32i(0L); beU32i(0L)
      beU32i(0L); beU32i(0x10000L); beU32i(0L)
      beU32i(0L); beU32i(0L); beU32i(0x40000000L)
    }
    beU32i(16L); fourcc("ftyp"); fourcc("isom"); beU32i(0x200L)
    beU32i(216L); fourcc("moov")
    beU32i(108L); fourcc("mvhd"); beU32i(0L)     // version 0 + flags
    zeros(8)                                      // ctime, mtime
    beU32i(mp4Timescale(id).toLong); beU32i(mp4Units(id))
    beU32i(0x00010000L); zeros(4)                // rate 1.0; volume+reserved
    zeros(8); matrix(); zeros(24); beU32i(2L)
    beU32i(100L); fourcc("trak")
    beU32i(92L); fourcc("tkhd"); beU32i(7L)      // version 0 + enabled flags
    zeros(8)                                      // ctime, mtime
    beU32i(1L); beU32i(0L)                        // track id, reserved
    beU32i(mp4Units(id))                          // duration (movie timescale)
    zeros(8)                                      // reserved
    zeros(8)                                      // layer, alt, volume, reserved
    matrix()
    beU32i(w.toLong << 16); beU32i(h.toLong << 16)
    o.toByteArray
  }

  /** The audio/video payload for a seed id — format, header fields and
    * length all pure functions of the id. */
  def synthAv(id: Long): Array[Byte] = math.floorMod(id, 3L) match {
    case 0 => wav(id)
    case 1 => mp3(id)
    case _ => mp4(id)
  }

  // --------------------------------------------------------- PCM (q79)
  // Sample-BEARING WAVs (unlike the q78 header-only synth): 16-bit LE PCM
  // where the k-th sample of the interleaved stream is the closed-form
  //   ((id·13 + k·37) mod 65536) − 32768
  // so the DuckDB oracle re-derives every decoded sample — and therefore
  // every per-window peak / sum-of-squares / position-weighted checksum —
  // from (id, k) arithmetic alone. A byte-order, chunk-offset, channel
  // block-align or sign-extension bug in the decoder diverges immediately.

  def pcmSampleRate(id: Long): Int = (8000L * (1 + math.floorMod(id, 4L))).toInt
  def pcmChannels(id: Long): Int = (1 + math.floorMod(id, 2L)).toInt
  /** Frames per channel — kept ≤ ~2k so the oracle's unnest stays linear. */
  def pcmFrames(id: Long): Long = 256L + math.floorMod(id * 7L, 1800L)
  /** Raw interleaved stream length (frames × channels). */
  def pcmTotalSamples(id: Long): Long = pcmFrames(id) * pcmChannels(id)
  /** The k-th sample of the interleaved stream, in [-32768, 32767]. */
  def pcmSample(id: Long, k: Long): Int =
    (math.floorMod(id * 13L + k * 37L, 65536L) - 32768L).toInt

  /** A complete PCM16 WAV: 44-byte RIFF/fmt/data header plus the real
    * sample bytes (little-endian i16, interleaved). */
  def synthPcm(id: Long): Array[Byte] = {
    val sr = pcmSampleRate(id); val ch = pcmChannels(id)
    val blockAlign = 2 * ch
    val total = pcmTotalSamples(id).toInt
    val dataBytes = total * 2
    val o = new ByteArrayOutputStream(44 + dataBytes)
    def leU32i(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    "RIFF".foreach(c => o.write(c.toInt)); leU32i(36L + dataBytes)
    "WAVE".foreach(c => o.write(c.toInt))
    "fmt ".foreach(c => o.write(c.toInt)); leU32i(16L)
    leU16(o, 1); leU16(o, ch)                          // PCM, channels
    leU32i(sr.toLong); leU32i(sr.toLong * blockAlign)  // rate, byte rate
    leU16(o, blockAlign); leU16(o, 16)                 // block align, bits
    "data".foreach(c => o.write(c.toInt)); leU32i(dataBytes.toLong)
    var k = 0
    while (k < total) {
      val s = pcmSample(id, k.toLong)
      o.write(s & 0xff); o.write((s >> 8) & 0xff)      // LE i16
      k += 1
    }
    o.toByteArray
  }

  // -------------------------------------------------------- G.711 (q87)
  // Companded 8-bit WAVs (μ-law format 7 / A-law format 6): the k-th wire
  // BYTE is the closed-form (id·11 + k·29) mod 256, so the oracle
  // re-derives every expanded 16-bit sample by replaying the public ITU
  // expansion formula in SQL integer arithmetic — a wrong table, wrong
  // codec dispatch, or byte off-by-one diverges on the window stats.

  /** μ-law for even ids, A-law for odd — WAV format code 7 / 6. */
  def g711Format(id: Long): Int = if (math.floorMod(id, 2L) == 0L) 7 else 6
  def g711Channels(id: Long): Int = (1 + math.floorMod(id / 2L, 2L)).toInt
  /** Frames per channel — same oracle-friendly bound as the PCM synth. */
  def g711Frames(id: Long): Long = 200L + math.floorMod(id * 5L, 500L)
  def g711TotalSamples(id: Long): Long = g711Frames(id) * g711Channels(id)
  /** The k-th companded wire byte, in [0, 255]. */
  def g711Code(id: Long, k: Long): Int =
    math.floorMod(id * 11L + k * 29L, 256L).toInt

  // ---------------------------------------------------- IMA ADPCM (q92)
  // Block-structured 4-bit ADPCM WAVs (format 0x11) with HOSTILE block
  // sizes — the predictor/index state resets at every block header, which
  // is exactly where ADPCM implementations break, so blocks are kept
  // short (down to ONE data word = 9 samples/block) and both the header
  // predictor and the nibble stream are closed forms of (id, block, j):
  // the DuckDB oracle replays the full recurrence (step table, clamps,
  // nibble order, block resets) in SQL integer arithmetic.

  /** Hostile block-align cycle: 8 (one data word — reset every 9
    * samples), 12, 36, 132 bytes. */
  def adpcmBlockAlign(id: Long): Int =
    Array(8, 12, 36, 132)(math.floorMod(id, 4L).toInt)
  def adpcmBlocks(id: Long): Long = 2L + math.floorMod(id * 3L, 6L)
  /** Samples per block (mono): header sample + 2 per data byte. */
  def adpcmSamplesPerBlock(id: Long): Int = 1 + (adpcmBlockAlign(id) - 4) * 2
  /** Block header: initial predictor (i16) — also the block's sample 0. */
  def adpcmPred0(id: Long, blk: Long): Int =
    (math.floorMod(id * 29L + blk * 37L, 65536L) - 32768L).toInt
  /** Block header: initial step index, exercising the whole [0, 88] table. */
  def adpcmIdx0(id: Long, blk: Long): Int =
    math.floorMod(id + blk * 17L, 89L).toInt
  /** The j-th wire nibble of a block (j = 0 drives sample 1). */
  def adpcmNibble(id: Long, blk: Long, j: Long): Int =
    math.floorMod(id * 7L + blk * 11L + j * 13L, 16L).toInt

  /** A complete mono IMA ADPCM WAV: RIFF/fmt(0x11, 4-bit, with the
    * cbSize=2 samples-per-block extension)/data, whole blocks only. */
  def synthAdpcm(id: Long): Array[Byte] = {
    val ba = adpcmBlockAlign(id)
    val nb = adpcmBlocks(id).toInt
    val spb = adpcmSamplesPerBlock(id)
    val dataBytes = nb * ba
    val o = new ByteArrayOutputStream(46 + dataBytes)
    def leU32i(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    "RIFF".foreach(c => o.write(c.toInt)); leU32i(40L + dataBytes)
    "WAVE".foreach(c => o.write(c.toInt))
    // fmt size 20 = 16 base + 2 (cbSize field itself) + cbSize=2 ext
    "fmt ".foreach(c => o.write(c.toInt)); leU32i(20L)
    leU16(o, 0x11); leU16(o, 1)                  // IMA ADPCM, mono
    leU32i(8000L); leU32i(8000L * ba / spb)      // rate, avg byte rate
    leU16(o, ba); leU16(o, 4)                    // block align, bits
    leU16(o, 2); leU16(o, spb)                   // cbSize, samples/block
    "data".foreach(c => o.write(c.toInt)); leU32i(dataBytes.toLong)
    var blk = 0
    while (blk < nb) {
      val p0 = adpcmPred0(id, blk.toLong)
      o.write(p0 & 0xff); o.write((p0 >> 8) & 0xff) // predictor LE i16
      o.write(adpcmIdx0(id, blk.toLong)); o.write(0) // index, reserved
      var m = 0
      while (m < ba - 4) {
        val lo = adpcmNibble(id, blk.toLong, 2L * m)
        val hi = adpcmNibble(id, blk.toLong, 2L * m + 1)
        o.write(lo | (hi << 4)) // LOW nibble first
        m += 1
      }
      blk += 1
    }
    o.toByteArray
  }

  /** A complete G.711 WAV: RIFF/fmt/data with 8-bit companded bytes
    * (block align = channels, bits = 8, rate 8000 — the G.711 wire). */
  def synthG711(id: Long): Array[Byte] = {
    val ch = g711Channels(id)
    val total = g711TotalSamples(id).toInt
    val o = new ByteArrayOutputStream(44 + total)
    def leU32i(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    "RIFF".foreach(c => o.write(c.toInt)); leU32i(36L + total)
    "WAVE".foreach(c => o.write(c.toInt))
    "fmt ".foreach(c => o.write(c.toInt)); leU32i(16L)
    leU16(o, g711Format(id)); leU16(o, ch)         // μ-law/A-law, channels
    leU32i(8000L); leU32i(8000L * ch)              // rate, byte rate
    leU16(o, ch); leU16(o, 8)                      // block align, bits
    "data".foreach(c => o.write(c.toInt)); leU32i(total.toLong)
    var k = 0
    while (k < total) {
      o.write(g711Code(id, k.toLong))
      k += 1
    }
    o.toByteArray
  }
}
