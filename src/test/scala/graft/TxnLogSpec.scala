package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{TxnConflictException, TxnEntry, TxnTable}

/** Crash-safety gate for the version-file transaction log: a writer dying
  * at ANY point before the manifest rename must leave readers on the prior
  * version, with no torn state; conflicting commits must lose loudly. */
class TxnLogSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshTable(): TxnTable =
    TxnTable(spark, Files.createTempDirectory("graft_txn").toString)

  test("overwrite then upsert: source wins per key, inserts appear") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v"))
    t.upsert(Seq((2L, "b2", 21), (3L, "c", 30)).toDF("id", "name", "v"), Seq("id"))
    val out = t.read().as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30)))
    assert(t.version() == 2)
  }

  test("a crash between staging and commit exposes nothing") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10)).toDF("id", "v"))
    val before = t.read().as[(Long, Int)].collect().toSet
    // simulate the writer dying after its files are placed but before the
    // manifest rename: stage() without commit()
    t.stage(Seq((1L, 99), (2L, 100)).toDF("id", "v"), Nil)
    assert(t.version() == 1, "no new version may appear")
    assert(t.read().as[(Long, Int)].collect().toSet == before,
      "reader must still see the prior committed state")
    // the orphans are reclaimable and reclaiming them changes nothing
    val removed = t.vacuum(retainMs = 0L)
    assert(removed.nonEmpty)
    assert(t.read().as[(Long, Int)].collect().toSet == before)
  }

  test("conflicting commit of the same base version loses loudly") {
    val t = freshTable()
    t.overwrite(Seq((1L, 10)).toDF("id", "v"))
    val base = t.version()
    val stagedA = t.stage(Seq((1L, 11)).toDF("id", "v"), Nil)
    val stagedB = t.stage(Seq((1L, 12)).toDF("id", "v"), Nil)
    t.commit(stagedA, base)
    intercept[TxnConflictException] { t.commit(stagedB, base) }
  }

  test("racing committers: exactly one wins each version, state stays consistent") {
    val t = freshTable()
    t.overwrite(Seq((0L, 0)).toDF("id", "v"))
    val staged = (1 to 6).map(i => (i, t.stage(Seq((i.toLong, i)).toDF("id", "v"), Nil)))
    val base = t.version()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val outcomes = Await.result(Future.sequence(staged.map { case (i, s) =>
      Future {
        try { t.commit(s, base); Some(i) }
        catch { case _: graft.sources.TxnConflictException => None }
      }
    }), 60.seconds).toList
    assert(outcomes.flatten.size == 1, s"exactly one committer may win: $outcomes")
    assert(t.version() == base + 1)
    // the table is exactly the winner's content — no torn mixture
    val winner = outcomes.flatten.head
    assert(t.read().as[(Long, Int)].collect().toSet ==
      Set((winner.toLong, winner)))
  }

  test("partitioned upsert rewrites only touched partitions (by reference)") {
    val t = freshTable()
    t.overwrite(Seq((1L, "p1", 10), (2L, "p2", 20)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val untouchedBefore = t.entries().filter(_._1 == "part=p2")
    t.upsert(Seq((1L, "p1", 11)).toDF("id", "part", "v"), Seq("id"), Seq("part"))
    val untouchedAfter = t.entries().filter(_._1 == "part=p2")
    assert(untouchedAfter == untouchedBefore,
      "untouched partition files must carry over untouched")
    val out = t.read().select("id", "part", "v").as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "p1", 11), (2L, "p2", 20)))
  }

  test("symlink manifest lists exactly the current version's files") {
    val t = freshTable()
    t.overwrite(spark.range(10).toDF("id"))
    t.append(spark.range(10, 20).toDF("id"))
    val manifest = t.writeSymlinkManifest()
    val listed = Files.readAllLines(manifest)
    assert(listed.size == t.entries().size)
    listed.forEach { p =>
      assert(java.nio.file.Paths.get(p).isAbsolute && Files.exists(java.nio.file.Paths.get(p)))
    }
    // an external reader over the manifest paths sees the committed state
    import scala.jdk.CollectionConverters._
    val external = spark.read.parquet(listed.asScala.toSeq: _*).as[Long].collect().toSet
    assert(external == (0L until 20L).toSet)
  }

  test("failed job fans out through the alerter, success stays quiet") {
    val root = Files.createTempDirectory("graft_alerts").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val log = graft.sources.JobLog(root,
      (table, _, status, msg) => seen += ((s"$table:$status", msg)))
    log.tracked("t_ok", "domain") { 42 }
    intercept[RuntimeException] {
      log.tracked("t_bad", "domain") { throw new RuntimeException("boom") }
    }
    assert(seen.toList == List(("t_bad:FAILED", "boom")))
    assert(log.lastStatus("t_ok").contains("SUCCEEDED"))
    assert(log.lastStatus("t_bad").contains("FAILED"))
  }

  test("time-travel read sees the state as of each version") {
    val t = freshTable()
    t.overwrite(Seq((1L, "v1")).toDF("id", "v"))
    t.upsert(Seq((1L, "v2"), (2L, "new")).toDF("id", "v"), Seq("id"))
    assert(t.readVersion(1).as[(Long, String)].collect().toSet == Set((1L, "v1")))
    assert(t.readVersion(2).as[(Long, String)].collect().toSet ==
      Set((1L, "v2"), (2L, "new")))
    assert(t.read().as[(Long, String)].collect().toSet ==
      t.readVersion(t.version()).as[(Long, String)].collect().toSet)
  }

  test("stats-pruned upsert touching one key rewrites one file, rest by reference") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    // three disjoint-key-range files via three single-file appends
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").coalesce(1))
    t.append(Seq((20L, "e"), (21L, "f")).toDF("id", "v").coalesce(1))
    val before = t.entriesFull()
    assert(before.size == 3 && before.forall(_.stat.nonEmpty))
    // source touches only the middle file's range
    t.upsert(Seq((10L, "C!")).toDF("id", "v"), Seq("id"))
    val after = t.entriesFull()
    val carried = after.map(_.file).toSet.intersect(before.map(_.file).toSet)
    assert(carried == before.filterNot(e =>
      e.stat.exists(st => st.min.toDouble <= 10 && st.max.toDouble >= 10))
      .map(_.file).toSet,
      "exactly the files whose key range misses the source must carry over")
    assert(after.map(_.file).toSet.size == 3)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (10L, "C!"), (11L, "d"), (20L, "e"), (21L, "f")))
    // inserts outside every file's range rewrite nothing
    val files2 = t.entriesFull().map(_.file).toSet
    t.upsert(Seq((99L, "new")).toDF("id", "v"), Seq("id"))
    assert(files2.subsetOf(t.entriesFull().map(_.file).toSet),
      "a pure out-of-range insert must carry every existing file by reference")
    assert(t.read().count() == 7)
  }

  test("readRange scans only the files whose stats overlap the range") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").coalesce(1))
    t.append(Seq((20L, "e"), (21L, "f")).toDF("id", "v").coalesce(1))
    val narrow = t.readRange(10L, 11L)
    // pruning: one of three files opened, resolved from the manifest alone
    assert(narrow.inputFiles.length == 1,
      s"expected 1 pruned scan file, got ${narrow.inputFiles.length}")
    // semantics: identical to the unpruned filter
    assert(narrow.as[(Long, String)].collect().toSet ==
      t.read().filter(col("id").between(10, 11)).as[(Long, String)].collect().toSet)
    // a range outside every file matches nothing and scans nothing extra
    assert(t.readRange(500L, 600L).count() == 0)
  }

  test("changes() is churn-bounded row-level CDC between versions") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // v1
    t.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").coalesce(1))  // v2
    t.upsert(Seq((10L, "C!")).toDF("id", "v"), Seq("id"))              // v3
    // v1 -> v2: pure append — inserts only, and the untouched v1 file is
    // common to both manifests so it is never scanned
    val d12 = t.changes(1, 2)
    assert(d12.inputFiles.length == 1, "common files must not be scanned")
    assert(d12.as[(Long, String, String)].collect().toSet ==
      Set((10L, "c", "insert"), (11L, "d", "insert")))
    // v2 -> v3: the upsert rewrote one file; the update surfaces as its
    // delete+insert pair, the carried row (11) cancels out in exceptAll
    val d23 = t.changes(2, 3).as[(Long, String, String)].collect().toSet
    assert(d23 == Set((10L, "C!", "insert"), (10L, "c", "delete")),
      s"expected the updated row's CDF pair, got $d23")
    // from version 0: everything is an insert
    assert(t.changes(0, 3).filter(col("_change_type") =!= "insert").count() == 0)
    assert(t.changes(0, 3).count() == 4)
  }

  test("changes() aligns schema-evolved versions (missing columns as null)") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    t.overwrite(Seq((1L, "a")).toDF("id", "v").coalesce(1))          // v1
    t.upsert(Seq((1L, "a2", 9)).toDF("id", "v", "extra"), Seq("id")) // v2: drift
    val d = t.changes(1, 2)
    assert(d.columns.toSet == Set("id", "v", "extra", "_change_type"))
    val rows = d.select("id", "v", "extra", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.get(2), r.getString(3))).toSet
    // the pre-drift row reads with the evolved column as null
    assert(rows == Set((1L, "a2", 9, "insert"), (1L, "a", null, "delete")),
      s"got $rows")
  }

  test("every manifest surviving a vacuum stays fully readable") {
    val t = freshTable()
    t.overwrite(Seq((1L, "v1")).toDF("id", "v"))
    t.upsert(Seq((1L, "v2")).toDF("id", "v"), Seq("id"))
    t.upsert(Seq((2L, "v3")).toDF("id", "v"), Seq("id"))
    // long grace: superseded manifests survive, so every version must read
    t.vacuum(retainMs = 3600 * 1000L)
    (1L to 3L).foreach { v =>
      assert(t.readVersion(v).count() > 0, s"version $v must stay readable")
    }
    // zero grace: superseded manifests retire WITH their files
    t.vacuum(retainMs = 0L)
    assert(t.readVersion(3).as[(Long, String)].collect().toSet ==
      Set((1L, "v2"), (2L, "v3")))
    intercept[IllegalArgumentException] { t.readVersion(1) }
    intercept[IllegalArgumentException] { t.readVersion(2) }
  }

  test("upsert tolerates source schema drift (Delta autoMerge semantics)") {
    val t = freshTable()
    t.overwrite(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v"))
    // source adds `extra` and drops `v`
    t.upsert(Seq((2L, "b2", "x2"), (3L, "c", "x3")).toDF("id", "name", "extra"),
      Seq("id"))
    val out = t.read().select("id", "name", "v", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        Option(r.getString(3)))).toSet
    assert(out == Set(
      (1L, "a", Some(10), None),        // untouched row: new column null
      (2L, "b2", Some(20), Some("x2")), // matched: keeps v (source can't set it)
      (3L, "c", None, Some("x3"))))     // insert: no v to inherit
  }

  test("compact preserves content and bumps the version atomically") {
    val t = freshTable()
    t.overwrite(spark.range(100).toDF("id"))
    t.append(spark.range(100, 200).toDF("id"))
    val before = t.read().as[Long].collect().toSet
    val v = t.compact(targetFiles = 1)
    assert(v == 3)
    assert(t.read().as[Long].collect().toSet == before)
    t.vacuum(0L) // superseded pre-compaction files reclaimed
    assert(t.read().as[Long].collect().toSet == before)
  }

  test("sorted compaction restores stats pruning that interleaved appends destroyed") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    // appends in arrival order: every file spans nearly the whole key
    // space, so every file's [min,max] overlaps every range probe
    t.overwrite(Seq(1L, 50L, 99L).toDF("id").coalesce(1))
    t.append(Seq(2L, 51L, 98L).toDF("id").coalesce(1))
    t.append(Seq(3L, 52L, 97L).toDF("id").coalesce(1))
    t.append(Seq(4L, 53L, 96L).toDF("id").coalesce(1))
    val before = t.read().as[Long].collect().toSet
    assert(t.readRange(50L, 53L).inputFiles.length == 4,
      "interleaved appends must defeat pruning (that is the problem)")
    // OPTIMIZE: same data, range-clustered files, disjoint stats
    t.compactSorted(targetFiles = 4)
    assert(t.read().as[Long].collect().toSet == before, "data unchanged")
    val pruned = t.readRange(50L, 53L)
    assert(pruned.inputFiles.length <= 2,
      s"after sorted compaction a narrow range must touch ~1 file, " +
        s"got ${pruned.inputFiles.length}")
    assert(pruned.as[Long].collect().toSet == Set(50L, 51L, 52L, 53L))
    // point probe: exactly one file
    assert(t.readRange(97L, 97L).inputFiles.length == 1)
    // and it is still a normal committed version (time travel intact)
    assert(t.version() == 5)
  }

  test("multi-column stats: one stage records every tracked column's min/max") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("a", "b"))
    t.overwrite(Seq((1L, 100L, "x"), (2L, 200L, "y")).toDF("a", "b", "v").coalesce(1))
    val es = t.entriesFull()
    assert(es.size == 1)
    val stats = es.head.stats
    assert(stats.map(_.column).toSet == Set("a", "b"),
      s"both tracked columns must carry stats, got $stats")
    assert(es.head.statFor("a").exists(s => s.min == "1" && s.max == "2"))
    assert(es.head.statFor("b").exists(s => s.min == "100" && s.max == "200"))
    // a column tracked but absent from the frame records nothing, loudly ok
    val t2 = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("a", "missing"))
    t2.overwrite(Seq((1L, "x")).toDF("a", "v").coalesce(1))
    assert(t2.entriesFull().head.stats.map(_.column) == Seq("a"))
  }

  test("manifest round-trips multi-stat lines and still parses single-stat ones") {
    val dir = Files.createTempDirectory("graft_txn")
    val t = TxnTable(spark, dir.toString, statsColumns = Seq("a", "b"))
    t.overwrite(Seq((5L, 7L, "s")).toDF("a", "b", "v").coalesce(1))
    // reopen cold: stats come back from the manifest text, both groups
    val cold = TxnTable(spark, dir.toString, statsColumns = Seq("a", "b"))
    val e = cold.entriesFull().head
    assert(e.stats.size == 2 && e.statFor("b").exists(_.min == "7"))
    // a legacy single-group line (the pre-multi-stat format) parses as one stat
    val legacy = dir.resolve("_graft_log").resolve(f"v${2L}%020d.manifest")
    Files.write(legacy,
      java.util.List.of(s"\t${e.file}\ta\tnum\t5\t5"))
    assert(cold.entriesFull(2L).head.stats == Seq(
      graft.sources.FileStat("a", "num", "5", "5")))
  }

  test("readWhere prunes conjunctively across dimensions and equals the plain filter") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("a", "b"))
    // 3 files with disjoint boxes: (a in [0,9], b in [0,9]),
    // ([10,19],[10,19]), ([20,29],[20,29])
    (0 until 3).foreach { i =>
      val rows = (0 until 10).map(j => (i * 10L + j, i * 10L + j, s"f$i-$j"))
      if (i == 0) t.overwrite(rows.toDF("a", "b", "v").coalesce(1))
      else t.append(rows.toDF("a", "b", "v").coalesce(1))
    }
    val boxed = t.readWhere(Seq(("a", 10L, 15L), ("b", 12L, 18L)))
    assert(boxed.inputFiles.length == 1,
      s"a 2-D box inside one file's span must open 1 file, got ${boxed.inputFiles.length}")
    assert(boxed.as[(Long, Long, String)].collect().toSet ==
      t.read().filter(col("a").between(10, 15) && col("b").between(12, 18))
        .as[(Long, Long, String)].collect().toSet)
    // conjunction: each dim alone overlaps a file, but no file satisfies both
    assert(t.readWhere(Seq(("a", 0L, 5L), ("b", 20L, 25L))).count() == 0)
    // a dimension with no recorded stats is conservatively kept
    assert(t.readWhere(Seq(("v", "f0-0", "f0-0"))).count() == 1)
  }

  test("z-order compaction narrows every dimension's file span at once") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("x", "y"))
    // arrival order interleaves BOTH dimensions: every file spans ~everything
    val rng = new scala.util.Random(7)
    val pts = rng.shuffle((0 until 32).flatMap(x => (0 until 32).map(y =>
      (x.toLong, y.toLong, s"$x:$y"))).toVector)
    pts.grouped(128).zipWithIndex.foreach { case (g, i) =>
      if (i == 0) t.overwrite(g.toDF("x", "y", "v").coalesce(1))
      else t.append(g.toDF("x", "y", "v").coalesce(1))
    }
    val before = t.read().as[(Long, Long, String)].collect().toSet
    val box = Seq(("x", 4L, 7L), ("y", 4L, 7L))
    assert(t.readWhere(box).inputFiles.length == 8,
      "interleaved appends must defeat box pruning (that is the problem)")
    t.compactZOrdered(targetFiles = 16)
    assert(t.read().as[(Long, Long, String)].collect().toSet == before,
      "OPTIMIZE must not change the data")
    val pruned = t.readWhere(box)
    assert(pruned.inputFiles.length <= 4,
      s"a 4x4 box over a 32x32 z-ordered grid in 16 files must touch a " +
        s"corner of the curve, got ${pruned.inputFiles.length} files")
    assert(pruned.count() == 16)
    // 1-D probes prune too: z-order keeps BOTH dims narrow, not just one
    assert(t.readWhere(Seq(("y", 0L, 3L))).inputFiles.length <= 8)
    // and a multi-key upsert prunes conjunctively through the same stats
    val files = t.entriesFull().map(_.file).toSet
    t.upsert(Seq((5L, 5L, "updated")).toDF("x", "y", "v"), Seq("x", "y"))
    val carried = t.entriesFull().map(_.file).toSet.intersect(files)
    assert(carried.size >= files.size - 4,
      s"a point upsert on a z-ordered table must rewrite ~1 file, " +
        s"carried only ${carried.size} of ${files.size}")
    assert(t.read().filter(col("v") === "updated").count() == 1)
    assert(t.read().count() == 32 * 32)
  }

  test("version hint: stale, corrupt, missing, and wrong-ahead hints all resolve correctly") {
    val dir = Files.createTempDirectory("graft_txn")
    val t = TxnTable(spark, dir.toString)
    (1 to 4).foreach(i => t.append(Seq(i.toLong).toDF("id")))
    assert(t.version() == 4)
    val hint = dir.resolve("_graft_log").resolve("_latest.hint")
    assert(Files.exists(hint), "commit must leave a hint")
    // stale hint (crash between manifest link and hint write): forward
    // probe still finds the true head
    Files.write(hint, "2".getBytes)
    assert(t.version() == 4)
    assert(new String(Files.readAllBytes(hint)) != "2" || t.version() == 4)
    // corrupt hint: falls back to the listing
    Files.write(hint, "not-a-number".getBytes)
    assert(t.version() == 4)
    // wrong-ahead hint (no such manifest): falls back to the listing
    Files.write(hint, "999".getBytes)
    assert(t.version() == 4)
    // missing hint: falls back to the listing
    Files.delete(hint)
    assert(t.version() == 4)
    // and commits keep working (hint rewritten on the next commit)
    t.append(Seq(99L).toDF("id"))
    assert(t.version() == 5)
    assert(new String(Files.readAllBytes(hint)).trim == "5")
    // vacuum retiring old manifests never strands the hint
    t.vacuum(0L)
    assert(t.version() == 5)
    assert(t.read().as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 99L))
  }

  // ------------------------------------------------- manifest scan parity

  private def dataFile(t: TxnTable, e: TxnEntry): String =
    Paths.get(t.root, "data", e.part, e.file).toString

  /** The reader every TxnTable read used before the manifest scan. */
  private def listedRead(t: TxnTable, es: Seq[TxnEntry]): DataFrame =
    spark.read.option("basePath", Paths.get(t.root, "data").toString)
      .option("mergeSchema", "true")
      .parquet(es.map(dataFile(t, _)): _*)

  private def assertSameAsListed(ours: DataFrame, listed: DataFrame): Unit = {
    assert(ours.schema == listed.schema,
      s"schema ${ours.schema.simpleString} != ${listed.schema.simpleString}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(ours) == rows(listed))
  }

  /** `build`'s result and the descriptions of the jobs it launches on this
    * thread. A marker job after it flushes the asynchronous listener bus
    * in order. */
  private def jobsOf[T](build: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"txn-scan-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "")
      val out = try {
        val built = build
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
        built
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      (out, seen.asScala.toSeq.takeWhile(_ != marker))
    } finally sc.removeSparkListener(l)
  }

  private def listingJobs(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("Listing leaf files"))

  test("manifest scan: every read equals the listed mergeSchema read, with no listing job") {
    val t = TxnTable(spark, Files.createTempDirectory("graft_txn").toString,
      statsColumns = Seq("id"))
    // 40 partitions of one file each: past the 32-path parallel-listing threshold
    val base = spark.range(0, 400).select(col("id"),
      (col("id") / 10).cast("int").as("p"), (col("id") * 3).as("v")).coalesce(1)
    val (_, writes) = jobsOf {
      t.overwrite(base, Seq("p"))
      // schema-evolving upsert: `note` is new, ids 5 and 12 match, 1000 inserts
      t.upsert(Seq((5L, 0, 50L, "x"), (12L, 1, 120L, "y"), (1000L, 100, 7L, "z"))
        .toDF("id", "p", "v", "note"), Seq("id"), Seq("p"))
    }
    assert(t.version() == 2 && t.entriesFull(1).size == 40)
    assert(listingJobs(writes).isEmpty, s"writes listed files: $writes")

    val v1 = t.entriesFull(1)
    val v2 = t.entriesFull(2)
    val (_, firstRead) = jobsOf(t.read())
    val (_, repeatRead) = jobsOf(t.read())
    assert(firstRead.size <= 1 && listingJobs(firstRead).isEmpty,
      s"first read of a new file set: $firstRead")
    assert(repeatRead.isEmpty, s"repeat read launched jobs: $repeatRead")
    // the listed form on the same files does list: the check has teeth
    val (_, parentJobs) = jobsOf(listedRead(t, v2))
    assert(listingJobs(parentJobs).nonEmpty, s"listed read: $parentJobs")

    val keep = Set("p=0", "p=3", "p=100")
    val box = col("id").between(15L, 35L)
    val (Seq(cur, old, parts, where, d), reads) = jobsOf(Seq(t.read(), t.readVersion(1),
      t.readParts()(keep), t.readWhere(Seq(("id", 15L, 35L))), t.changes(1, 2)))
    assert(listingJobs(reads).isEmpty, s"reads listed files: $reads")
    val hits = v2.filter(_.statFor("id").forall(st =>
      BigDecimal(st.max) >= 15 && BigDecimal(st.min) <= 35))
    assert(hits.nonEmpty && hits.size < v2.size)
    assertSameAsListed(cur, listedRead(t, v2))
    assert(cur.schema("p").dataType == IntegerType)
    assert(cur.columns.toSeq == Seq("id", "v", "note", "p"))
    assertSameAsListed(old, listedRead(t, v1))
    assertSameAsListed(parts, listedRead(t, v2.filter(e => keep(e.part))))
    assertSameAsListed(where, listedRead(t, hits).filter(box))

    // changes(1, 2) against the multiset difference of the listed full reads
    val cols = d.columns.toSeq.filterNot(_ == "_change_type")
    val listed2 = listedRead(t, v2)
    cols.filter(listed2.columns.contains).foreach(c =>
      assert(d.schema(c).dataType == listed2.schema(c).dataType, c))
    def byName(df: DataFrame): Seq[String] = df.collect().toSeq.map(r =>
      cols.map(c => if (r.schema.fieldNames.contains(c)) String.valueOf(r.getAs[Any](c))
                    else "null").mkString("|"))
    def minus(a: Seq[String], b: Seq[String]): Seq[String] =
      b.foldLeft(a)((acc, x) => acc.diff(Seq(x))).sorted
    val (before, after) = (byName(listedRead(t, v1)), byName(listed2))
    def kind(k: String) = byName(d.filter(col("_change_type") === k)).sorted
    assert(kind("insert") == minus(after, before))
    assert(kind("delete") == minus(before, after))
    assert(kind("insert").size == 3 && kind("delete").size == 2)
  }

  test("manifest scan: a data file removed out of band fails the read, naming it") {
    val t = freshTable()
    t.overwrite(Seq((1L, 1), (2L, 2)).toDF("id", "p"), Seq("p"))
    t.read(): Unit
    val gone = t.entriesFull().head
    Files.delete(Paths.get(dataFile(t, gone)))
    val e = intercept[java.io.FileNotFoundException](t.read())
    assert(e.getMessage.contains(gone.file), e.getMessage)
  }

  test("manifest scan: a root deleted and recreated reads the new rows and schema") {
    val root = Files.createTempDirectory("graft_txn").toString
    TxnTable(spark, root).overwrite(Seq((1L, "a")).toDF("id", "name"))
    assert(TxnTable(spark, root).read().columns.toSeq == Seq("id", "name"))
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete(_)) finally walk.close()
    // same root, same version number, different files and schema
    val t = TxnTable(spark, root)
    t.overwrite(Seq((7L, 3.5, 9)).toDF("key", "score", "n"))
    assert(t.version() == 1)
    assert(t.read().columns.toSeq == Seq("key", "score", "n"))
    assert(t.read().as[(Long, Double, Int)].collect().toSeq == Seq((7L, 3.5, 9)))
  }

  test("manifest scan: a changed parquet schema conf is never served a stale schema") {
    // Spark-written footers carry their own schema, so the conversion
    // settings that show on them are the ones the footer merge reads
    val t = freshTable()
    t.overwrite(Seq((1L, 10)).toDF("id", "a"))
    t.append(Seq((2L, 20)).toDF("id", "A"))
    val key = "spark.sql.caseSensitive"
    val prior = spark.conf.getOption(key)
    // (which spelling a case-insensitive merge keeps follows file order)
    def folded() = t.read().columns.map(_.toLowerCase).toSeq
    try {
      spark.conf.set(key, "false")
      assert(folded() == Seq("id", "a"))
      spark.conf.set(key, "true")
      assert(t.read().columns.toSet == Set("id", "a", "A"))
      assertSameAsListed(t.read(), listedRead(t, t.entriesFull()))
      spark.conf.set(key, "false")
      assert(folded() == Seq("id", "a"))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
