package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestScan
import graft.operators.MergeSCD1

/** Minimal version-file transaction log: the crash-safe commit protocol the
  * reference gets from Delta (`common_jobs_functions.py:279-304` upsert via
  * `DeltaTable.merge`), rebuilt on two filesystem primitives — immutable
  * uniquely-named data files, and one atomic link of a manifest.
  *
  * Layout:
  * {{{
  *   <table>/
  *     _graft_log/v<20-digit>.manifest   one text line per live file:
  *       "<partitionDir>\t<fileName>[\t<col>\t<kind>\t<min>\t<max>]..."
  *       (the 4-field stats group repeats once per tracked column)
  *     data/[<partitionDir>/]<uuid>.parquet
  * }}}
  *
  * Invariants:
  *  - Data files are never overwritten or rewritten; a write stages new
  *    files under fresh UUID names, then publishes a NEW manifest listing
  *    the complete live set. The manifest link is the commit point.
  *  - Readers resolve the highest manifest version and read exactly the
  *    files it lists (basePath keeps partition-column inference). The
  *    manifest IS the file listing: every read stats the listed files on
  *    the driver and launches no listing job; the merged footer schema is
  *    cached per exact file list (path, length, mtime of each file) plus
  *    the session's parquet schema-conversion settings, never per root or
  *    version alone. A crash before the manifest link leaves orphan data
  *    files and the previous version fully intact — no torn table states,
  *    ever.
  *  - Commits carry the version they were based on; a concurrent commit of
  *    the same version loses with a [[TxnConflictException]] (optimistic
  *    concurrency). Cross-process writers should additionally take the
  *    Maintenance JobLock; the log's job is crash atomicity.
  *  - Every version whose manifest survives [[vacuum]] is fully readable:
  *    vacuum first retires superseded manifests past the grace window,
  *    then deletes only data files no REMAINING manifest references.
  *  - When `statsColumns` is set, staged entries carry those columns'
  *    per-file min/max (ONE bounded aggregation per stage, all columns),
  *    and [[upsert]] rewrites only the files that actually contain source
  *    keys — the reference's Delta merge cost model (data skipping +
  *    matched-file rewrite) instead of rewriting every touched partition.
  *    [[readWhere]] turns the same stats into conjunctive box pruning,
  *    and [[compactZOrdered]] keeps EVERY tracked column's per-file span
  *    narrow, so multi-dimensional predicates prune at the FILE level
  *    (Delta's OPTIMIZE ZORDER BY loop) — at 100 TB the difference
  *    between opening a handful of files and listing-then-scanning all.
  */
final class TxnConflictException(msg: String) extends RuntimeException(msg)

/** Per-file column statistics carried in the manifest. `kind` is "num"
  * (compare as decimal) or "str" (compare lexically; base64 on disk). */
final case class FileStat(column: String, kind: String, min: String, max: String)

final case class TxnEntry(part: String, file: String,
                          stats: Seq[FileStat] = Nil) {
  /** First recorded stat — the single-column view older call sites use. */
  def stat: Option[FileStat] = stats.headOption
  def statFor(column: String): Option[FileStat] = stats.find(_.column == column)
}

final case class TxnTable(spark: SparkSession, root: String,
                          statsColumns: Seq[String] = Nil) {
  private val logDir: Path = Paths.get(root, "_graft_log")
  private val dataDir: Path = Paths.get(root, "data")

  // ------------------------------------------------------------ log state
  private def manifestPath(v: Long): Path =
    logDir.resolve(f"v$v%020d.manifest")

  private def listDir(p: Path): List[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private def walkFiles(p: Path): List[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  private def manifestVersions(): List[Long] =
    if (!Files.isDirectory(logDir)) Nil
    else listDir(logDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong }

  private val hintPath: Path = logDir.resolve("_latest.hint")

  /** Highest committed version, or 0 if the table has never been written.
    *
    * Resolution is O(1), not O(versions): commits leave a `_latest.hint`
    * pointer (the Delta `_last_checkpoint` pattern) and the reader probes
    * FORWARD from it for manifests the hint doesn't know about yet — a
    * crash between manifest link and hint write, or a concurrent
    * committer, leaves the hint stale but never wrong-ahead. A missing or
    * corrupt hint (or one whose manifest vacuum retired) falls back to
    * the full directory listing. At 100k commits this is the difference
    * between one small read and a 100k-entry list call per metadata op. */
  def version(): Long = {
    val hinted: Long =
      try new String(Files.readAllBytes(hintPath), "UTF-8").trim.toLong
      catch { case _: Throwable => -1L }
    if (hinted <= 0 || !Files.exists(manifestPath(hinted)))
      manifestVersions().foldLeft(0L)(math.max)
    else {
      var v = hinted
      while (Files.exists(manifestPath(v + 1))) v += 1
      v
    }
  }

  /** Best-effort hint refresh after a successful commit: readers never
    * depend on it being current (see [[version]]), so a crash mid-write
    * costs at most a forward probe. */
  private def writeHint(v: Long): Unit =
    try {
      val tmp = logDir.resolve(s".hint-${UUID.randomUUID()}")
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, hintPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING): Unit
    } catch { case _: Throwable => () }

  def exists(): Boolean = version() > 0

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  private def lineOf(e: TxnEntry): String = {
    val groups = e.stats.map { s =>
      val (mn, mx) =
        if (s.kind == "str") (b64e(s.min), b64e(s.max)) else (s.min, s.max)
      s"\t${s.column}\t${s.kind}\t$mn\t$mx"
    }.mkString
    s"${e.part}\t${e.file}$groups"
  }

  private def parseLine(line: String): TxnEntry = {
    val f = line.split("\t", -1)
    // stats ride as repeated 4-field groups; a pre-multi-stat manifest line
    // is exactly one group, so old tables read unchanged
    val stats = f.drop(2).grouped(4).collect {
      case Array(c, kind, mn0, mx0) =>
        val (mn, mx) = if (kind == "str") (b64d(mn0), b64d(mx0)) else (mn0, mx0)
        FileStat(c, kind, mn, mx)
    }.toSeq
    TxnEntry(f(0), f(1), stats)
  }

  /** Live entries of a version with their file stats. A version whose
    * manifest vacuum retired reads as empty (callers see the same
    * "no committed version" failure as a never-written one). */
  def entriesFull(v: Long = version()): Seq[TxnEntry] =
    if (v == 0 || !Files.exists(manifestPath(v))) Nil
    else Files.readAllLines(manifestPath(v)).asScala.toSeq
      .filter(_.nonEmpty).map(parseLine)

  /** Live (partitionDir, fileName) entries of a version ("" = root). */
  def entries(v: Long = version()): Seq[(String, String)] =
    entriesFull(v).map(e => (e.part, e.file))

  private[sources] def filePath(e: TxnEntry): Path =
    if (e.part.isEmpty) dataDir.resolve(e.file)
    else dataDir.resolve(e.part).resolve(e.file)

  // ------------------------------------------------------------- reading
  def read(): DataFrame = readVersion(version())

  /** Time-travel read of a specific committed version. Valid for every
    * manifest [[vacuum]] has not retired (vacuum only deletes data files
    * after deleting the manifests that referenced them). mergeSchema keeps
    * reads correct across schema-evolved versions. */
  def readVersion(v: Long): DataFrame = {
    val es = entriesFull(v)
    require(es.nonEmpty, s"table $root has no committed version $v")
    scan(es)
  }

  /** The one reader of data files: the relation over exactly `es`, built
    * from the manifest with no directory listing (see [[ManifestScan]]).
    * It equals the `basePath` + `mergeSchema` parquet read of the same
    * files, so partition columns infer from the `data/` layout and
    * schema-evolved versions read with missing columns as null. */
  private def scan(es: Seq[TxnEntry]): DataFrame =
    ManifestScan.parquet(spark, dataDir.toString, es.map(e => filePath(e).toString))

  /** Stats-pruned range read on the FIRST tracked column: scans only the
    * files whose manifest [min,max] can contain values in [lo, hi] — the
    * file-list analog of parquet row-group pruning, resolved driver-side
    * from the manifest with NO data scan (reference: the Delta data
    * skipping the merge cost model rests on). The 1-D special case of
    * [[readWhere]]; at 100 TB the difference is opening the 3 files a key
    * range lives in instead of 30 000. */
  def readRange(lo: Any, hi: Any, v: Long = version()): DataFrame = {
    val c = statsColumns.headOption.getOrElse(throw new IllegalStateException(
      s"readRange needs statsColumns configured on $root"))
    readWhere(Seq((c, lo, hi)), v)
  }

  /** Conjunctive box-predicate read: keeps only the files whose stats can
    * satisfy EVERY (column, lo, hi) range at once, then applies the same
    * predicate to the surviving rows — so the result always equals
    * `read().filter(c1 between ... AND c2 between ...)`, with files
    * carrying no stats for a column conservatively kept. Multi-dimensional
    * file skipping composes with [[compactZOrdered]]: after a z-ordered
    * rewrite every tracked column's per-file span is narrow, and a 2-D box
    * opens ~(box volume / file volume) files instead of all of them. */
  def readWhere(boxes: Seq[(String, Any, Any)], v: Long = version()): DataFrame = {
    require(boxes.nonEmpty, "readWhere needs at least one (column, lo, hi) box")
    val es = entriesFull(v)
    require(es.nonEmpty, s"table $root has no committed version $v")
    val rendered = boxes.map { case (c, lo, hi) =>
      (c, statKind(lo), statRender(lo), statRender(hi)) }
    val hits = es.filter(e => rendered.forall { case (c, k, sLo, sHi) =>
      e.statFor(c).forall(st => overlaps(st, k, sLo, sHi)) })
    val pred = boxes.map { case (c, lo, hi) =>
      col(c).between(lit(lo), lit(hi)) }.reduce(_ && _)
    if (hits.isEmpty) readVersion(v).filter(pred).limit(0)
    else scan(hits).filter(pred)
  }

  /** Partition-pruned read, resolved driver-side from the manifest: keeps
    * only the files whose partition path (e.g. `cell=17`) satisfies
    * `keep`. The manifest analog of Hive partition pruning — an arbitrary
    * partition SET (not just a contiguous range like [[readRange]]) costs
    * opening exactly the matching files. Serving paths with a bounded,
    * driver-known key set (the IVF probe cells, a shard list) use this to
    * touch probed partitions only. Files written without `partitionBy`
    * have an empty part path and are always kept (the result then equals
    * a full read — pruning is an optimization, never a filter). */
  def readParts(v: Long = version())(keep: String => Boolean): DataFrame = {
    val es = entriesFull(v)
    require(es.nonEmpty, s"table $root has no committed version $v")
    val hits = es.filter(e => e.part.isEmpty || keep(e.part))
    if (hits.isEmpty) readVersion(v).limit(0)
    else scan(hits)
  }

  /** Row-level changes between two committed versions, cost bounded by
    * CHURN, not table size: files common to both manifests cannot
    * contribute changes (data files are immutable), so only the
    * added/removed file sets are scanned and anti-joined. Emits Delta-CDF
    * shaped rows — `_change_type` "insert" for rows present only in the
    * newer version, "delete" for rows present only in the older; an
    * update appears as its delete+insert pair. Duplicate-multiset
    * semantics via exceptAll (a row appearing twice then once yields one
    * delete). */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes($fromV, $toV): versions out of order")
    val before = entriesFull(fromV).toSet
    val after = entriesFull(toV).toSet
    require(fromV == 0 || before.nonEmpty,
      s"table $root has no committed version $fromV (vacuumed?)")
    require(after.nonEmpty, s"table $root has no committed version $toV")
    def readSet(es: Set[TxnEntry]): Option[DataFrame] =
      if (es.isEmpty) None else Some(scan(es.toSeq))
    val added = readSet(after -- before)
    val removed = readSet(before -- after)
    // align schema-evolved sides: missing columns read as null
    def aligned(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(cols.map(n =>
        if (df.columns.contains(n)) col(n) else lit(null).as(n)): _*)
    (added, removed) match {
      case (None, None) =>
        read().limit(0).withColumn("_change_type", lit(""))
      case (Some(a), None) => a.withColumn("_change_type", lit("insert"))
      case (None, Some(r)) => r.withColumn("_change_type", lit("delete"))
      case (Some(a), Some(r)) =>
        val cols = (a.columns ++ r.columns.filterNot(a.columns.contains)).toSeq
        val aa = aligned(a, cols)
        val rr = aligned(r, cols)
        aa.exceptAll(rr).withColumn("_change_type", lit("insert"))
          .unionByName(rr.exceptAll(aa).withColumn("_change_type", lit("delete")))
    }
  }

  // ------------------------------------------------------------- writing
  /** Stage `df`'s files into data/ under fresh names WITHOUT committing.
    * Returns the staged entries (with `statsColumns` min/max per file when
    * configured); visible to no reader until [[commit]]. */
  private[graft] def stage(df: DataFrame, partitionBy: Seq[String]): Seq[TxnEntry] = {
    val tmp = Paths.get(root, s"_staging_${UUID.randomUUID()}")
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    val staged = walkFiles(tmp)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val partDir = tmp.relativize(p.getParent).toString
        val fresh = s"${UUID.randomUUID().toString}.parquet"
        val destDir = if (partDir.isEmpty) dataDir else dataDir.resolve(partDir)
        Files.createDirectories(destDir)
        // same-volume move: cheap rename, file becomes immutable once placed
        Files.move(p, destDir.resolve(fresh), StandardCopyOption.ATOMIC_MOVE)
        TxnEntry(partDir, fresh)
      }.toList
    deleteRecursively(tmp)
    attachStats(staged, df.columns.toSeq, partitionBy)
  }

  /** ONE bounded aggregation over the just-staged files computes every
    * tracked column's per-file min/max (column-pruned scan of fresh data —
    * the write path's footer-stats analog). Cost is independent of how
    * many columns are tracked: a single groupBy(file) pass with 2·k
    * aggregates. Columns absent from the frame or used as partition keys
    * are skipped (partition values prune via [[readParts]] instead); an
    * all-null column in a file simply records no stat for that file. */
  private def attachStats(staged: Seq[TxnEntry], dfCols: Seq[String],
                          partitionBy: Seq[String]): Seq[TxnEntry] = {
    val cols = statsColumns.filter(c =>
      dfCols.contains(c) && !partitionBy.contains(c))
    if (cols.isEmpty || staged.isEmpty) return staged
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val rows = scan(staged)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byName = rows.map { r =>
      val f = r.getString(0)
      val name = f.substring(f.lastIndexOf('/') + 1)
      val stats = cols.zipWithIndex.flatMap { case (c, i) =>
        val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
        if (r.isNullAt(mnI)) None
        else Some(FileStat(c, statKind(r.get(mnI)),
          statRender(r.get(mnI)), statRender(r.get(mxI))))
      }
      name -> stats
    }.toMap
    staged.map(e => e.copy(stats = byName.getOrElse(e.file, Nil)))
  }

  private def statKind(v: Any): String = v match {
    case _: java.lang.Number | _: java.math.BigDecimal | _: BigDecimal => "num"
    case _ => "str"
  }

  private def statRender(v: Any): String = v match {
    case n: java.lang.Number => new java.math.BigDecimal(n.toString).toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case other => String.valueOf(other)
  }

  /** [fileMin, fileMax] ∩ [srcMin, srcMax] ≠ ∅ under the stat's ordering.
    * Pruning is only ever an optimization: when the file stat's kind and
    * the query bound's kind disagree (schema/kind drift — a column stored
    * as strings in some files meeting a numeric bound, or vice versa), or
    * a "num" stat fails to parse, the file is conservatively KEPT — a
    * lexical compare of numeric strings ("020" vs [10,30]) or a thrown
    * NumberFormatException would break readWhere's equality with
    * read().filter(). */
  private def overlaps(st: FileStat, boundKind: String,
                       srcMin: String, srcMax: String): Boolean =
    if (st.kind != boundKind) true
    else if (st.kind == "num")
      try BigDecimal(st.max) >= BigDecimal(srcMin) &&
          BigDecimal(st.min) <= BigDecimal(srcMax)
      catch { case _: NumberFormatException => true }
    else st.max >= srcMin && st.min <= srcMax

  /** Publish `newEntries` as version `basedOn + 1`. The single atomic
    * manifest link is the commit point. */
  private[graft] def commit(newEntries: Seq[TxnEntry], basedOn: Long): Long = {
    Files.createDirectories(logDir)
    val next = basedOn + 1
    val target = manifestPath(next)
    if (Files.exists(target))
      throw new TxnConflictException(
        s"version $next already committed at $root (concurrent writer)")
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, newEntries.map(lineOf).asJava)
    // createLink is the atomic one-winner primitive: unlike rename (which
    // silently REPLACES an existing target on POSIX), linking to an
    // existing path fails — so of N same-version committers exactly one
    // publishes and the rest get a conflict.
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new TxnConflictException(
        s"version $next already committed at $root (concurrent writer)")
    }
    Files.deleteIfExists(tmp)
    writeHint(next)
    next
  }

  /** Atomic full replace. */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val base = version()
    commit(stage(df, partitionBy), base)
  }

  /** Atomic append: new files join the live set, nothing is rewritten. */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val base = version()
    commit(entriesFull(base) ++ stage(df, partitionBy), base)
  }

  /** Dynamic partition overwrite (the reference's default fact write
    * mode, common_jobs_functions.py:326 `partitionOverwriteMode=dynamic`):
    * partitions present in `df` are replaced atomically, every other
    * partition's files carry into the new manifest BY REFERENCE — an
    * incremental period rebuild rewrites only the touched periods. */
  def overwritePartitions(df: DataFrame, partitionBy: Seq[String]): Long = {
    require(partitionBy.nonEmpty,
      "overwritePartitions needs partition columns; use overwrite() for full replace")
    val base = version()
    val staged = stage(df, partitionBy)
    val touched = staged.map(_.part).toSet
    val kept = entriesFull(base).filterNot(e => touched.contains(e.part))
    commit(kept ++ staged, base)
  }

  /** Crash-safe SCD1 upsert with Delta-merge cost semantics
    * (reference: common_jobs_functions.py:288-304).
    *
    * With `statsColumns` covering merge keys, only the files that actually
    * contain source keys are rewritten: manifest min/max stats prune the
    * candidate set driver-side (no scan) — conjunctively across EVERY
    * tracked key, so a z-ordered table prunes on the intersection of the
    * key boxes — then a key-column semi-join over the candidates
    * (input_file_name) pins the truly matched files; everything else
    * carries into the new manifest by reference. Without stats the rewrite
    * falls back to partition scope (or the full table when unpartitioned).
    * Null merge keys are not matched by the pruned path (standard SQL
    * equality — same as the semi-join). Source schema may drift: columns
    * evolve with [[MergeSCD1.merge]]'s Delta autoMerge semantics. */
  def upsert(df: DataFrame, keys: Seq[String], partitionBy: Seq[String] = Nil): Long = {
    val base = version()
    if (base == 0) return commit(stage(df, partitionBy), base)
    // the stats-pruned path needs only its schema, and only when no file
    // matches: it must not build a whole-table relation up front
    lazy val current = read()
    val prunable = statsColumns.filter(keys.contains)
    prunable match {
      case pk if pk.nonEmpty =>
        val es = entriesFull(base)
        val mmAggs = pk.flatMap(c => Seq(min(col(c)), max(col(c))))
        val mm = df.agg(mmAggs.head, mmAggs.tail: _*).head()
        val srcBoxes = pk.zipWithIndex.map { case (c, i) =>
          val (mnI, mxI) = (2 * i, 2 * i + 1)
          (c, if (mm.isNullAt(mnI)) None
              else Some((statKind(mm.get(mnI)),
                statRender(mm.get(mnI)), statRender(mm.get(mxI)))))
        }
        val (touched, kept) =
          // a key with NO non-null source values can match nothing
          if (srcBoxes.exists(_._2.isEmpty)) (Seq.empty[TxnEntry], es)
          else {
            // files missing a stat for some key stay candidates
            val candidates = es.filter(e => srcBoxes.forall {
              case (c, Some((k, sMin, sMax))) =>
                e.statFor(c).forall(st => overlaps(st, k, sMin, sMax))
              case _ => true
            })
            val touchedNames: Set[String] =
              if (candidates.isEmpty) Set.empty
              else scan(candidates)
                .withColumn("__f", input_file_name())
                .join(df.select(keys.map(col): _*).distinct(), keys, "left_semi")
                .select("__f").distinct().collect()
                .map { r =>
                  val s = r.getString(0)
                  s.substring(s.lastIndexOf('/') + 1)
                }.toSet
            es.partition(e => touchedNames.contains(e.file))
          }
        val targetRows =
          if (touched.isEmpty)
            spark.createDataFrame(java.util.Collections.emptyList[Row](), current.schema)
          else scan(touched)
        val merged = MergeSCD1.merge(targetRows, df, keys)
        commit(kept ++ stage(merged, partitionBy), base)
      case _ =>
        val merged =
          if (partitionBy.isEmpty) MergeSCD1.merge(current, df, keys)
          else {
            val parts = df.select(partitionBy.map(col): _*).distinct().collect()
            val cond = parts.map { r =>
              partitionBy.zipWithIndex.map { case (cn, i) => col(cn) <=> lit(r.get(i)) }
                .reduce(_ && _)
            }.reduceOption(_ || _).getOrElse(lit(false))
            MergeSCD1.merge(current.filter(cond), df, keys)
          }
        val staged = stage(merged, partitionBy)
        // merged rows live exactly in the touched partitions, so the staged
        // partition dirs (Spark's own escaping) name what must be replaced
        val touched = staged.map(_.part).toSet
        val kept = entriesFull(base).filterNot(e => touched.contains(e.part))
        commit(kept ++ staged, base)
    }
  }

  /** Rewrite the live set into ~`targetFiles` files per partition
    * (compaction); readers switch to the compacted files atomically. */
  def compact(targetFiles: Int = 1, partitionBy: Seq[String] = Nil): Long = {
    val base = version()
    // partitioned tables key the exchange on the partition columns: a
    // round-robin repartition spreads every partition's rows over every
    // task, and the dynamic-partition write then emits tasks × partitions
    // files — the exact small-file tax compaction exists to pay down
    // (measured by the r13 gram-hash index sweep, SCALE_SWEEP_r13_spans.json:
    // targetFiles=64 over 64 celda partitions wrote 64×64 = 4096 files in
    // the round-robin form, one per cell in this form)
    val compacted =
      if (partitionBy.isEmpty) read().repartition(targetFiles)
      else read().repartition(targetFiles, partitionBy.map(col): _*)
    commit(stage(compacted, partitionBy), base)
  }

  /** Compaction that CLUSTERS by the stats columns while it rewrites:
    * `repartitionByRange` gives each output file a disjoint lexicographic
    * range of the tracked columns, so the manifest min/max stats it
    * carries become maximally selective — after a sorted compaction,
    * [[readRange]] and stats-pruned [[upsert]] touch ~1 file per point
    * lookup on the LEADING column instead of every file (append-order
    * files interleave the key space; their stats overlap everything).
    * This is the OPTIMIZE-then-prune loop a long-lived 100 TB table runs
    * nightly: same data, same log protocol, strictly better skipping.
    * Lexicographic order favors the first column; when two or more
    * tracked columns are probed independently, use [[compactZOrdered]].
    * Requires `statsColumns` (or an explicit `sortCols` subset — callers
    * like [[TableOptimizer]] pass only the columns that actually carry
    * stats, since tracked-but-absent columns are legal on the write path
    * and would make repartitionByRange throw). */
  def compactSorted(targetFiles: Int, partitionBy: Seq[String] = Nil,
                    sortCols: Seq[String] = Nil): Long = {
    val cols = if (sortCols.nonEmpty) sortCols else statsColumns
    require(cols.nonEmpty,
      "compactSorted needs statsColumns (or sortCols) to cluster by")
    val base = version()
    val compacted = read()
      .repartitionByRange(targetFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    commit(stage(compacted, partitionBy), base)
  }

  /** Z-order OPTIMIZE: rewrites the live set clustered on the Morton
    * interleave of the given columns (default: every tracked stats
    * column), so EVERY clustered column's per-file [min,max] span stays
    * narrow at once — the multi-dimensional upgrade of [[compactSorted]],
    * Delta's `OPTIMIZE ... ZORDER BY` on this log. After it, a
    * [[readWhere]] box on any subset of the dimensions prunes to ~the
    * files the box actually intersects, and multi-key [[upsert]]s prune
    * conjunctively. Same data, same commit protocol; readers switch
    * atomically. Clustering columns must be numeric-castable (rank
    * buckets come from approxQuantile — see [[graft.functions.ZOrder]]). */
  def compactZOrdered(targetFiles: Int, zCols: Seq[String] = Nil,
                      partitionBy: Seq[String] = Nil,
                      bitsPerDim: Int = 12): Long = {
    val cols = if (zCols.nonEmpty) zCols else statsColumns
    require(cols.nonEmpty,
      "compactZOrdered needs zCols or statsColumns to cluster by")
    val base = version()
    val arranged = graft.functions.ZOrder.arrange(
      read(), cols, targetFiles, bitsPerDim)
    commit(stage(arranged, partitionBy), base)
  }

  /** Publish a symlink-format manifest of the CURRENT version — one
    * absolute data-file path per line under
    * `_symlink_format_manifest/manifest` — the standard handshake for
    * external engines (Redshift Spectrum / Trino / Presto) reading a
    * versioned table, mirroring the reference's post-write manifest
    * generation (common_jobs_functions.py:303-315). Atomic via the same
    * tmp-then-rename protocol as the log itself. */
  def writeSymlinkManifest(): Path = {
    val dir = Paths.get(root, "_symlink_format_manifest")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp,
      entriesFull().map(e => filePath(e).toAbsolutePath.toString).asJava)
    val target = dir.resolve("manifest")
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    target
  }

  /** Reclaim storage while keeping every surviving version readable:
    * first retire superseded manifests older than `retainMs` (the current
    * version always survives), then delete data files that no REMAINING
    * manifest references and that are older than the grace period. Time
    * travel within the retention window is thus always honored — a
    * version is either listed and fully readable, or gone. */
  def vacuum(retainMs: Long = 0L): Seq[String] = {
    if (!Files.isDirectory(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - retainMs
    val cur = version()
    manifestVersions()
      .filter(v => v != cur &&
        Files.getLastModifiedTime(manifestPath(v)).toMillis <= cutoff)
      .foreach(v => Files.delete(manifestPath(v)))
    val live = manifestVersions().flatMap(entriesFull(_))
      .map(e => filePath(e).toAbsolutePath.toString).toSet
    val removed = walkFiles(dataDir)
      .filter(p => !live.contains(p.toAbsolutePath.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
    removed.foreach(Files.delete(_))
    removed.map(_.toString)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p): Unit
  }
}
