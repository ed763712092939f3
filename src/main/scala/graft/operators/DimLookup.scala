package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Open-addressing long→long hash map over one interleaved primitive
  * array — the broadcast payload of [[DimLookup]]. Immutable after
  * build; probe is a branch-light linear scan from a mixed slot, safe
  * for concurrent readers. 32 bytes/entry at the 0.5 max load factor;
  * no per-entry objects, so a 15M-key dimension deserializes in one
  * array allocation instead of the per-row UnsafeRow materialization a
  * `HashedRelation` broadcast pays (measured: that build is the
  * dominant serial cost of broadcasting a multi-million-row dim).
  *
  * Key/value domain: `Long.MinValue` is reserved (empty-slot and miss
  * sentinels); the build rejects it loudly. Ids in this engine are
  * non-negative, so the reservation costs nothing in practice.
  */
final class LongLongMap private (table: Array[Long], mask: Int)
    extends Serializable {

  /** Value stored under `k`, or [[LongLongMap.Miss]] when absent. */
  def probe(k: Long): Long = {
    var i = LongLongMap.smear(k) & mask
    while (true) {
      val slotKey = table(i << 1)
      if (slotKey == k) return table((i << 1) + 1)
      if (slotKey == LongLongMap.Empty) return LongLongMap.Miss
      i = (i + 1) & mask
    }
    LongLongMap.Miss // unreachable
  }

  def sizeBytes: Long = table.length.toLong * 8L

  private[graft] def insert(k: Long, v: Long): Unit = {
    require(k != LongLongMap.Empty && v != LongLongMap.Miss,
      s"DimLookup: key/value ${LongLongMap.Empty} (Long.MinValue) is a " +
        "reserved sentinel — this dimension cannot be lookup-mapped")
    var i = LongLongMap.smear(k) & mask
    while (true) {
      val slotKey = table(i << 1)
      if (slotKey == LongLongMap.Empty) {
        table(i << 1) = k
        table((i << 1) + 1) = v
        return
      }
      if (slotKey == k)
        // a duplicate key means an equi-join on this dim would DUPLICATE
        // probe rows — a lookup cannot represent that; refuse rather than
        // silently keep one arbitrary value
        throw new IllegalStateException(
          s"DimLookup: duplicate dimension key $k — the key column must " +
            "be unique (a join against it would fan out)")
      i = (i + 1) & mask
    }
  }
}

object LongLongMap {
  val Empty: Long = Long.MinValue
  val Miss: Long = Long.MinValue

  /** Finalizer-style bit mix so dense/strided id spaces spread across
    * slots (splitmix64's output stage). */
  def smear(k: Long): Int = {
    var z = k
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt
  }

  /** Hard addressing bound: capacity = next pow2 ≥ 2n and the table is
    * one Array[Long] of 2·capacity slots, so n past 2^28 overflows the
    * array length — refuse before allocating, the caller's None/Try
    * contract turns it into a clean join fallback. */
  val MaxMapEntries: Int = 1 << 28

  def create(n: Int): LongLongMap = {
    require(n >= 0 && n <= MaxMapEntries,
      s"LongLongMap: $n entries exceed the 2^28 addressing bound")
    // capacity = next pow2 ≥ 2n → load factor ≤ 0.5, short probe chains
    var cap = 1
    while (cap < math.max(2, n * 2)) cap <<= 1
    val table = new Array[Long](cap << 1)
    java.util.Arrays.fill(table, Empty)
    // vals share the fill; only key slots are ever compared against Empty
    new LongLongMap(table, cap - 1)
  }
}

/** Long→string sibling of [[LongLongMap]]: the open-addressing index
  * maps the key to a value ordinal, and all values live in ONE shared
  * UTF-8 blob sliced by an offsets array — probes return a zero-copy
  * [[UTF8String]] view, and the broadcast payload stays three flat
  * arrays (no per-entry objects). */
final class LongStringMap private (index: LongLongMap, offs: Array[Int],
                                   blob: Array[Byte]) extends Serializable {
  /** The value under `k`, or null when absent (inner-join miss). */
  def probe(k: Long): UTF8String = {
    val i = index.probe(k)
    if (i == LongLongMap.Miss) null
    else UTF8String.fromBytes(blob, offs(i.toInt), offs(i.toInt + 1) - offs(i.toInt))
  }
  def sizeBytes: Long = index.sizeBytes + offs.length.toLong * 4 + blob.length
}

object LongStringMap {
  /** Build from parallel packed partition arrays (keys / value lengths /
    * concatenated value bytes) — the no-boxing collect shape. */
  def fromPacked(parts: Array[(Array[Long], Array[Int], Array[Byte])]): LongStringMap = {
    val n = parts.iterator.map(_._1.length.toLong).sum
    require(n <= LongLongMap.MaxMapEntries,
      s"LongStringMap: $n entries exceed addressing (2^28)")
    val index = LongLongMap.create(n.toInt)
    val offs = new Array[Int](n.toInt + 1)
    val totalBytes = parts.iterator.map(_._3.length.toLong).sum
    require(totalBytes <= Int.MaxValue - 16,
      s"LongStringMap: $totalBytes value bytes exceed one blob")
    val blob = new Array[Byte](totalBytes.toInt)
    var ord = 0
    var off = 0
    parts.foreach { case (keys, lens, bytes) =>
      var i = 0
      var src = 0
      while (i < keys.length) {
        index.insert(keys(i), ord.toLong)
        System.arraycopy(bytes, src, blob, off, lens(i))
        offs(ord) = off
        off += lens(i); src += lens(i); ord += 1; i += 1
      }
    }
    offs(ord) = off
    new LongStringMap(index, offs, blob)
  }
}

/** `dim_lookup(fk)`: the broadcast probe as a codegen-friendly scalar.
  * NULL input → NULL; missing key → NULL (so `.filter(isNotNull)` on the
  * result reproduces an inner join's unmatched-row drop exactly). The
  * map is resolved from the broadcast ONCE per codegen instance (per
  * task), so the per-row cost is the pure probe. */
case class DimLookupExpr(child: Expression, bc: Broadcast[LongLongMap],
                         dimDesc: String) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dim_lookup"

  override protected def nullSafeEval(input: Any): Any = {
    val r = bc.value.probe(input.asInstanceOf[Long])
    if (r == LongLongMap.Miss) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("dimLookupBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val mapVar = ctx.addMutableState("graft.operators.LongLongMap",
      "dimLookupMap",
      v => s"$v = (graft.operators.LongLongMap) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      val probed = ctx.freshName("probed")
      s"""
         |long $probed = $mapVar.probe($c);
         |if ($probed == ${LongLongMap.Miss}L) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $probed;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DimLookupExpr =
    copy(child = newChild)
}

/** `dim_lookup_str(fk)`: the string-valued probe — same NULL contract
  * as [[DimLookupExpr]], returning a zero-copy UTF8String view into the
  * broadcast blob. */
case class DimLookupStrExpr(child: Expression, bc: Broadcast[LongStringMap],
                            dimDesc: String) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StringType
  override def nullable: Boolean = true
  override def prettyName: String = "dim_lookup_str"

  override protected def nullSafeEval(input: Any): Any =
    bc.value.probe(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("dimLookupStrBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val mapVar = ctx.addMutableState("graft.operators.LongStringMap",
      "dimLookupStrMap",
      v => s"$v = (graft.operators.LongStringMap) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      val probed = ctx.freshName("probedStr")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $probed = $mapVar.probe($c);
         |if ($probed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $probed;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DimLookupStrExpr =
    copy(child = newChild)
}

/** Broadcast FK→attribute resolution for joins whose ONLY contribution
  * is one value column keyed by a unique long key — `orders` probed for
  * `o_custkey` by `l_orderkey` is the canonical case. Semantically an
  * inner equi-join against a uniquely-keyed two-column projection of the
  * dim (unmatched/NULL FKs drop via the NULL result); physically a
  * broadcast of ONE primitive array plus a per-row hash probe inside
  * whole-stage codegen — no join operator, no driver-side
  * `HashedRelation` build (whose per-row UnsafeRow materialization is
  * the serial bottleneck of broadcasting multi-million-row dims: at the
  * 10x relational slice it put a 1.5M-row orders broadcast at ~1 s of
  * the q8 wall), and no join shuffle.
  *
  * Scale guard: entries ≤ `spark.graft.dimLookup.maxEntries` (default
  * 2^24 ≈ 16.7M ≈ 512 MB broadcast at max load) — past that,
  * [[DimLookup.forParquet]] answers None and callers keep their shuffle
  * join, the same measured-size adaptivity as
  * `autoBroadcastJoinThreshold`. A 100 TB fact never qualifies; its
  * conformed dims usually do.
  *
  * Reuse: maps are cached per (path, key, value) and invalidated by a
  * file fingerprint (names/mtimes/sizes — the ConformanceRunner
  * convention), so steady-state serving rebuilds only when the dim
  * actually changed. First use after a change pays the build inside its
  * own wall-clock: a column-pruned scan collected as per-partition
  * packed long arrays (no Row boxing) plus one linear insert pass.
  */
object DimLookup {
  private val idGen = new AtomicLong(0L)
  private final case class Entry(fp: String, n: Long, bc: AnyRef, fn: String)
  // keyed by applicationId too: a cache hit must never hand out a
  // broadcast registered with a stopped SparkContext (session restarts)
  private val cache =
    new ConcurrentHashMap[(String, String, String, String), Entry]()

  def maxEntries(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dimLookup.maxEntries")
      .map(_.toLong).getOrElse(1L << 24)

  /** Register the probe function under `fn` in THIS session's registry
    * (createOrReplace — idempotent for cache hits from other sessions
    * of the same context) and return the reusable column builder. One
    * registration per cache entry, not per call: the registry stays
    * bounded, and displacing a cache entry drops its function so the
    * old broadcast becomes collectable. */
  private def register(spark: SparkSession, fn: String, bc: AnyRef,
                       str: Boolean, desc: String): Column => Column = {
    if (str) {
      val b = bc.asInstanceOf[Broadcast[LongStringMap]]
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(fn,
        exprs => DimLookupStrExpr(exprs.head, b, desc), "built-in")
    } else {
      val b = bc.asInstanceOf[Broadcast[LongLongMap]]
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(fn,
        exprs => DimLookupExpr(exprs.head, b, desc), "built-in")
    }
    probe => call_function(fn, probe.cast(LongType))
  }

  private def dropFn(spark: SparkSession, fn: String): Unit = {
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(fn)): Unit
  }

  /** Lookup column builder for a parquet-backed dim, or None when the
    * dim exceeds the entry cap OR cannot be lookup-mapped (duplicate
    * keys, NULL values, reserved sentinels, addressing overflow) — the
    * caller keeps its join on None, so the refusal is always safe.
    * Caching requires a LOCAL path (file-stat fingerprints); non-local
    * dims (hdfs/s3) build per call rather than risk a fingerprint that
    * can never invalidate. */
  def forParquet(spark: SparkSession, path: String, keyCol: String,
                 valCol: String): Option[Column => Column] = {
    val cacheKey = (spark.sparkContext.applicationId, path, keyCol, valCol)
    val fpOpt = fingerprint(path)
    val cap = maxEntries(spark)
    // the cap governs USE, not just build: a cached map over the
    // session's current cap is skipped, not served
    val hit = fpOpt.flatMap(fp =>
      Option(cache.get(cacheKey)).filter(e => e.fp == fp && e.n <= cap))
    hit match {
      case Some(e) =>
        Some(register(spark, e.fn, e.bc, str = false,
          s"$path:$keyCol->$valCol"))
      case None =>
        val dim = spark.read.parquet(path)
        val n = dim.count()
        if (n > cap) None
        else scala.util.Try(build(dim, keyCol, valCol)).toOption.map { b =>
          val fn = s"__dim_lookup_${idGen.incrementAndGet()}"
          fpOpt.foreach { fp =>
            val old = cache.put(cacheKey, Entry(fp, n, b, fn))
            if (old != null) dropFn(spark, old.fn)
          }
          register(spark, fn, b, str = false, s"$path:$keyCol->$valCol")
        }
    }
  }

  /** Build the broadcast map from any uniquely-keyed DataFrame. Rows
    * with a NULL key are skipped (a NULL FK never equi-matches); a NULL
    * value under a live key is refused loudly — a primitive map cannot
    * carry it, and silently dropping the key would turn matched rows
    * into unmatched ones. */
  def build(dim: DataFrame, keyCol: String, valCol: String): Broadcast[LongLongMap] = {
    val spark = dim.sparkSession
    val proj = dim.select(col(keyCol).cast(LongType), col(valCol).cast(LongType))
    // per-partition packed primitive arrays: the collect moves ~16 bytes
    // a row and never boxes
    val parts: Array[Array[Long]] = proj.queryExecution.toRdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          if (r.isNullAt(1))
            throw new IllegalStateException(
              s"DimLookup: NULL $valCol under live key ${r.getLong(0)} — " +
                "a primitive lookup cannot represent it")
          b += r.getLong(0)
          b += r.getLong(1)
        }
      }
      Iterator.single(b.result())
    }.collect()
    val n = parts.iterator.map(_.length.toLong).sum / 2
    require(n <= LongLongMap.MaxMapEntries,
      s"DimLookup: $n entries exceed map addressing (2^28)")
    val map = LongLongMap.create(n.toInt)
    parts.foreach { arr =>
      var i = 0
      while (i < arr.length) { map.insert(arr(i), arr(i + 1)); i += 2 }
    }
    spark.sparkContext.broadcast(map)
  }

  /** Lookup builder over an arbitrary uniquely-keyed DataFrame (e.g. a
    * FILTERED dim projection — the inner-join-with-filtered-dim case:
    * rows whose key misses the filtered map drop via NULL, exactly the
    * join's behavior). Answers None when the frame exceeds the entry
    * cap OR cannot be lookup-mapped (duplicate keys, NULL values,
    * reserved sentinels) — the caller keeps its join on None, so the
    * refusal is always safe.
    *
    * Caching: a frame whose leaves are ALL file-backed caches under
    * (canonicalized-plan hash, cols) and invalidates on the source
    * files' fingerprints — the same steady-state-serving argument as
    * [[forParquet]], extended through the transformation (the filtered
    * orders probe must not re-collect per query invocation). Frames
    * with non-file leaves (literal test data, views over streams)
    * rebuild per call. */
  def forFrame(df: DataFrame, keyCol: String,
               valCol: String): Option[Column => Column] =
    framed(df, keyCol, valCol, str = false)(build(df, keyCol, valCol))

  /** String-valued [[forFrame]]. */
  def forFrameString(df: DataFrame, keyCol: String,
                     valCol: String): Option[Column => Column] =
    framed(df, keyCol, valCol, str = true)(buildString(df, keyCol, valCol))

  private[graft] final case class FrameEntry(planCanonical: String,
      fp: String, n: Long, bc: AnyRef, fn: String)
  private[graft] val frameCache =
    new ConcurrentHashMap[(String, Int, String, String, Boolean), FrameEntry]()

  /** Cache identity of a file-backed frame: (applicationId,
    * canonicalized plan hash, cols, variant) as the key, plus the FULL
    * canonicalized plan text (compared on hit — a 32-bit hash collision
    * must never serve another frame's map) and a fingerprint over every
    * leaf's source files. None when any leaf is not a LOCAL file
    * relation — no stable identity to invalidate on. */
  private def frameIdentity(df: DataFrame, keyCol: String, valCol: String,
                            str: Boolean)
      : Option[((String, Int, String, String, Boolean), String, String)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val roots = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          Some(fs.location.rootPaths.map(_.toUri.getPath).sorted)
        case _ => None
      }
      case _ => None
    }
    if (roots.isEmpty || roots.exists(_.isEmpty)) None
    else {
      val fps = roots.flatMap(_.get).sorted.map(fingerprint)
      if (fps.exists(_.isEmpty)) None
      else {
        val canonical = plan.canonicalized.toString
        Some(((df.sparkSession.sparkContext.applicationId,
          canonical.hashCode, keyCol, valCol, str),
          canonical, fps.map(_.get).mkString("|")))
      }
    }
  }

  private def framed(df: DataFrame, keyCol: String, valCol: String,
                     str: Boolean)(mk: => AnyRef): Option[Column => Column] = {
    val spark = df.sparkSession
    val cap = maxEntries(spark)
    val desc = s"frame:$keyCol->$valCol"
    val id = frameIdentity(df, keyCol, valCol, str)
    val hit = id.flatMap { case (k, canonical, fp) =>
      Option(frameCache.get(k)).filter(e =>
        e.planCanonical == canonical && e.fp == fp && e.n <= cap)
    }
    hit.map(e => register(spark, e.fn, e.bc, str, desc)).orElse {
      val n = df.count()
      if (n > cap) None
      else scala.util.Try(mk).toOption.map { b =>
        val fn = s"__dim_lookup_${idGen.incrementAndGet()}"
        id.foreach { case (k, canonical, fp) =>
          val old = frameCache.put(k, FrameEntry(canonical, fp, n, b, fn))
          if (old != null) dropFn(spark, old.fn)
        }
        register(spark, fn, b, str, desc)
      }
    }
  }

  private[graft] final case class LabeledEntry(planCanonical: String,
      fp: String, n: Long, bc: Broadcast[LongLongMap], labels: Array[String],
      fn: String)
  private[graft] val labeledCache =
    new ConcurrentHashMap[(String, Int, String, String, Boolean), LabeledEntry]()

  /** Labeled dense-index lookup: probe(key) = `labelId << 32 | ordinal`,
    * where `labelId` indexes the returned label array and `ordinal` is a
    * DENSE per-label sequence 0,1,2,… over the dim's keys. The shape a
    * bitmap-exact distinct count wants: grouping by the labelId part and
    * counting distinct ordinals via `bitmap_distinct` replaces the
    * hash-set distinct machinery over fact rows with one bit-set per row
    * and a ceil(n/64)-word exchange — the q2 exact-distinct fix (the
    * probe map already enumerates the candidate keys, so their identity
    * compresses to a per-label ordinal). Same None/cap/refusal and
    * fingerprint-cache contract as [[forFrame]]. */
  def forFrameLabeled(df: DataFrame, keyCol: String, labelCol: String)
      : Option[(Column => Column, Array[String])] = {
    val spark = df.sparkSession
    val cap = maxEntries(spark)
    val desc = s"frame:$keyCol->labeled:$labelCol"
    val id = frameIdentity(df, keyCol, labelCol, str = true)
    val hit = id.flatMap { case (k, canonical, fp) =>
      Option(labeledCache.get(k)).filter(e =>
        e.planCanonical == canonical && e.fp == fp && e.n <= cap)
    }
    hit.map(e => (register(spark, e.fn, e.bc, str = false, desc), e.labels))
      .orElse {
        val n = df.count()
        if (n > cap) None
        else scala.util.Try(buildLabeled(df, keyCol, labelCol)).toOption.map {
          case (b, labels) =>
            val fn = s"__dim_lookup_${idGen.incrementAndGet()}"
            id.foreach { case (k, canonical, fp) =>
              val old = labeledCache.put(k,
                LabeledEntry(canonical, fp, n, b, labels, fn))
              if (old != null) dropFn(spark, old.fn)
            }
            (register(spark, fn, b, str = false, desc), labels)
        }
      }
  }

  /** Build the labeled packed map (driver pass over the same packed
    * no-boxing collect as [[buildString]]): label ids in first-seen
    * order, per-label dense ordinals. */
  def buildLabeled(dim: DataFrame, keyCol: String, labelCol: String)
      : (Broadcast[LongLongMap], Array[String]) = {
    val spark = dim.sparkSession
    val parts = collectPackedStrings(dim, keyCol, labelCol)
    val n = parts.iterator.map(_._1.length.toLong).sum
    require(n <= LongLongMap.MaxMapEntries,
      s"DimLookup: $n entries exceed map addressing (2^28)")
    val map = LongLongMap.create(n.toInt)
    val labelIds = new java.util.LinkedHashMap[String, Integer]()
    val counters = scala.collection.mutable.ArrayBuffer.empty[Long]
    parts.foreach { case (keys, lens, bytes) =>
      var i = 0
      var src = 0
      while (i < keys.length) {
        val label = new String(bytes, src, lens(i),
          java.nio.charset.StandardCharsets.UTF_8)
        var lid = labelIds.get(label)
        if (lid == null) {
          lid = Integer.valueOf(labelIds.size())
          labelIds.put(label, lid)
          counters += 0L
        }
        val ord = counters(lid.intValue())
        counters(lid.intValue()) = ord + 1
        // n <= 2^28 bounds both parts: lid < 2^28 labels, ord < 2^28
        map.insert(keys(i), (lid.longValue() << 32) | ord)
        src += lens(i)
        i += 1
      }
    }
    (spark.sparkContext.broadcast(map),
      labelIds.keySet().toArray(new Array[String](0)))
  }

  /** Per-partition packed (keys, value lengths, concatenated UTF-8)
    * collect — no per-row boxing. NULL keys skip (never equi-match);
    * NULL values under a live key refuse loudly. */
  private def collectPackedStrings(dim: DataFrame, keyCol: String,
      valCol: String): Array[(Array[Long], Array[Int], Array[Byte])] = {
    val proj = dim.select(col(keyCol).cast(LongType),
      col(valCol).cast(org.apache.spark.sql.types.StringType))
    proj.queryExecution.toRdd.mapPartitions { it =>
      val ks = new scala.collection.mutable.ArrayBuilder.ofLong
      val ls = new scala.collection.mutable.ArrayBuilder.ofInt
      val bs = new scala.collection.mutable.ArrayBuilder.ofByte
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          if (r.isNullAt(1))
            throw new IllegalStateException(
              s"DimLookup: NULL $valCol under live key ${r.getLong(0)} — " +
                "a packed lookup cannot represent it")
          val b = r.getUTF8String(1).getBytes
          ks += r.getLong(0); ls += b.length; bs ++= b
        }
      }
      Iterator.single((ks.result(), ls.result(), bs.result()))
    }.collect()
  }

  /** Build the broadcast string map: per-partition packed (keys,
    * lengths, concatenated UTF-8) arrays — no per-row boxing on the
    * collect. NULL keys skip (never equi-match); NULL values under a
    * live key refuse loudly (same law as the long build). */
  def buildString(dim: DataFrame, keyCol: String,
                  valCol: String): Broadcast[LongStringMap] = {
    val spark = dim.sparkSession
    val parts = collectPackedStrings(dim, keyCol, valCol)
    spark.sparkContext.broadcast(LongStringMap.fromPacked(parts))
  }

  /** Cheap data fingerprint (file names/mtimes/sizes) — the
    * ConformanceRunner convention, shared invalidation semantics.
    * None for paths that are not local files/dirs (hdfs://, s3a://):
    * a java.io fingerprint there would be a CONSTANT, so the cache
    * could never invalidate on a dim rewrite — those paths skip
    * caching instead of risking stale serves. */
  private def fingerprint(dir: String): Option[String] = {
    def stamp(f: java.io.File): String =
      s"${f.getName}:${f.lastModified}:${f.length}"
    val root = new java.io.File(dir)
    // single-file parquet (driver testdata) stamps itself; a directory
    // stamps its parts
    if (root.isFile) Some(stamp(root))
    else if (root.isDirectory)
      Some(Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(stamp).sorted.mkString("|").hashCode.toString)
    else None
  }
}
