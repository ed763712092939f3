package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.HeavyHitters

/** HeavyHitters.exact == brute-force groupBy + HAVING on every shape that
  * breaks sketch-based implementations: adversarial tails engineered so a
  * naive per-partition top-k WOULD drop a true heavy hitter (the MG
  * superset guarantee is what saves it), heavy skew, k = 1, streams with
  * no qualifying item, and partitioning-independence of the final answer
  * (the MG candidate SET may vary with partitioning; the exact-counted
  * answer must not). */
class HeavyHittersSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def brute(items: Seq[String], k: Int): Seq[(String, Long)] = {
    val n = items.length.toLong
    items.groupBy(identity).view.mapValues(_.length.toLong)
      .filter { case (_, c) => c * (k + 1) > n }
      .toSeq.sortBy { case (t, c) => (-c, t) }
  }

  private def check(items: Seq[String], k: Int, parts: Int = 4): Unit = {
    val df = items.toDF("item").repartition(parts)
    val got = HeavyHitters.exact(df, "item", k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === brute(items, k), s"k=$k parts=$parts n=${items.length}")
  }

  test("exact equality vs brute force on a zipfian-ish stream") {
    val rnd = new scala.util.Random(13)
    val items = Seq.fill(20000)(s"t${(math.pow(rnd.nextDouble(), 3) * 500).toInt}")
    check(items, k = 20)
    check(items, k = 5)
  }

  test("adversarial tail: heavy hitter diluted across partitions") {
    // one true heavy hitter (30% of mass) + a long tail of singletons that
    // constantly evicts counters — per-partition naive top-k by local
    // count can lose the hitter, the MG bound cannot.
    val hitter = Seq.fill(3000)("HH")
    val tail = (1 to 7000).map(i => s"u$i")
    val rnd = new scala.util.Random(99)
    val items = rnd.shuffle(hitter ++ tail)
    check(items, k = 3, parts = 8)
    assert(brute(items, 3).map(_._1) === Seq("HH")) // the test bites
  }

  test("k = 1: strict majority element present and absent") {
    val maj = Seq.fill(600)("M") ++ (1 to 400).map(i => s"x$i")
    check(maj, k = 1)
    val nomaj = Seq.fill(500)("A") ++ Seq.fill(500)("B")
    check(nomaj, k = 1) // neither exceeds n/2 strictly -> empty
    assert(brute(nomaj, 1).isEmpty)
  }

  test("no qualifying item returns empty with the right schema") {
    val items = (1 to 1000).map(i => s"u$i") // all singletons
    val out = HeavyHitters.exact(items.toDF("item"), "item", 10)
    assert(out.columns.toSeq === Seq("item", "frecuencia"))
    assert(out.count() === 0)
  }

  test("answer is partitioning-independent (candidate set need not be)") {
    val rnd = new scala.util.Random(5)
    val items = Seq.fill(5000)(s"w${(math.pow(rnd.nextDouble(), 2) * 80).toInt}")
    val answers = Seq(1, 3, 16).map { p =>
      HeavyHitters.exact(items.toDF("item").repartition(p), "item", 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(answers.distinct.size === 1)
    assert(answers.head === brute(items, 8))
  }

  test("nulls are ignored by the sketch and the count") {
    val df = (Seq.fill(100)(Some("a")) ++ Seq.fill(60)(None) ++
      Seq.fill(10)(Some("b"))).toDF("item")
    val got = HeavyHitters.exact(df, "item", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // n = 110 non-null; a: 100*3 > 110 qualifies, b: 10*3 < 110 not
    assert(got === Seq(("a", 100L)))
  }

  // ---------------------------------------------------------- grouped
  private def bruteGrouped(rows: Seq[(String, String)],
                           k: Int): Seq[(String, String, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      brute(rs.map(_._2), k).map { case (t, c) => (g, t, c) }
    }.sortBy { case (g, t, c) => (g, -c, t) }

  private def checkGrouped(rows: Seq[(String, String)], k: Int,
                           parts: Int = 4): Unit = {
    val df = rows.toDF("grp", "item").repartition(parts)
    val got = HeavyHitters.exactPerGroup(df, "grp", "item", k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got === bruteGrouped(rows, k), s"k=$k parts=$parts")
  }

  test("grouped: equals per-group brute force, independent thresholds") {
    val rnd = new scala.util.Random(17)
    // group A zipf-ish, group B uniform (no hitters), group C majority
    val rows =
      Seq.fill(8000)(("A", s"t${(math.pow(rnd.nextDouble(), 3) * 300).toInt}")) ++
      (1 to 3000).map(i => ("B", s"u${i % 1500}")) ++
      (Seq.fill(900)(("C", "MAJ")) ++ (1 to 600).map(i => ("C", s"c$i")))
    checkGrouped(rows, k = 10)
    checkGrouped(rows, k = 3)
  }

  test("grouped: per-group adversarial tails — each group's hitter diluted") {
    // each group has one 30%-mass hitter drowned in its own singleton
    // tail; candidates must survive per group even though other groups'
    // tails dominate every partition
    val rnd = new scala.util.Random(31)
    val rows = rnd.shuffle(
      (0 until 4).flatMap { gi =>
        Seq.fill(1500)((s"g$gi", s"HH$gi")) ++
          (1 to 3500).map(i => (s"g$gi", s"x${gi}_$i"))
      })
    checkGrouped(rows, k = 3, parts = 8)
    assert(bruteGrouped(rows, 3).map(_._2).sorted ===
      Seq("HH0", "HH1", "HH2", "HH3"))
  }

  test("grouped: answer partitioning-independent even when candidate sets differ") {
    val rnd = new scala.util.Random(8)
    val rows = Seq.fill(6000)(
      (s"s${rnd.nextInt(3)}", s"w${(math.pow(rnd.nextDouble(), 2) * 90).toInt}"))
    val perPart = Seq(1, 4, 16).map { p =>
      val df = rows.toDF("grp", "item").repartition(p)
      // candidate sets (pass 1) genuinely differ across partitionings...
      val cands = df.groupBy(col("grp"))
        .agg(expr("mg_candidates(item, 6)").as("s"))
        .collect().map(r => r.getString(0) ->
          r.getStruct(1).getSeq[String](1).toSet).toMap
      // ...but the thresholded exact answer must not
      val ans = HeavyHitters.exactPerGroup(df, "grp", "item", 6)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
      (cands, ans)
    }
    assert(perPart.map(_._2).distinct.size === 1)
    assert(perPart.head._2 === bruteGrouped(rows, 6))
    assert(perPart.map(_._1).distinct.size > 1,
      "test vacuous: candidate sets identical under all partitionings")
  }

  test("grouped: nulls in group or item ignored; empty candidates schema") {
    val rows: Seq[(Option[String], Option[String])] =
      Seq.fill(50)((Some("a"), Some("hit"))) ++
        Seq.fill(10)((None, Some("hit"))) ++
        Seq.fill(10)((Some("a"), None)) ++ Seq.fill(9)((Some("b"), Some("z")))
    val df = rows.toDF("grp", "item")
    val got = HeavyHitters.exactPerGroup(df, "grp", "item", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    // group a: n=50 non-null, hit=50 qualifies; group b: z=9, 9*3 > 9 ok
    assert(got === Seq(("a", "hit", 50L), ("b", "z", 9L)))
    val empty = HeavyHitters.exactPerGroup(
      Seq.empty[(String, String)].toDF("grp", "item"), "grp", "item", 5)
    assert(empty.columns.toSeq === Seq("grp", "item", "frecuencia"))
    assert(empty.count() === 0)
  }

  test("grouped: maxGroups guard bites") {
    val df = (1 to 20).map(i => (s"g$i", "x")).toDF("grp", "item")
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.exactPerGroup(df, "grp", "item", 2, maxGroups = 5)
    }
    assert(e.getMessage.contains("maxGroups"))
  }

  test("mg_candidates superset guarantee holds under forced merges") {
    // every item with freq > n/(k+1) must be in the candidate array no
    // matter how partial buffers merged.
    val rnd = new scala.util.Random(21)
    val items = rnd.shuffle(Seq.fill(2000)("big") ++ Seq.fill(1200)("mid")
      ++ (1 to 6800).map(i => s"t${i % 900}"))
    val row = items.toDF("item").repartition(16)
      .agg(expr("mg_candidates(item, 10)").as("s")).head()
    val n = row.getStruct(0).getLong(0)
    val cands = row.getStruct(0).getSeq[String](1).toSet
    assert(n === 10000L)
    val must = items.groupBy(identity).collect {
      case (t, occ) if occ.length.toLong * 11 > n => t
    }
    assert(must.forall(cands.contains),
      s"missing guaranteed hitters: ${must.filterNot(cands.contains)}")
  }
}
