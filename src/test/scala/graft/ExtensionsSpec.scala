package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point must make every kernel SQL-callable in a
  * session built with spark.sql.extensions=graft.GraftExtensions, with no
  * manual registration call. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects all graft functions at session build") {
    val prior = TestSpark.spark // ensure the shared session exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions is the same injection surface the static conf
      // spark.sql.extensions=graft.GraftExtensions uses at cluster session
      // build; the conf form is unavailable here only because the test JVM
      // reuses an already-started SparkContext (static conf)
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s.sql(
        "SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))").head().getDouble(0) == 4.0)
      assert(s.sql("SELECT token_count('hello, world')").head().getInt(0) == 3)
      assert(s.sql("SELECT simhash64('a b c') = simhash64('a b c')").head().getBoolean(0))
      assert(s.sql("SELECT size(word_shingles('a b c d', 2))").head().getInt(0) == 3)
      assert(s.sql("SELECT size(minhash_signature('a b c', 2, 16))").head().getInt(0) == 16)
      assert(s.sql(
        "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT)), 4) >= 0").head().getBoolean(0))
      assert(s.sql("SELECT marker_count('the cat and the dog', 'the|and')")
        .head().getInt(0) == 3)
      // injection: every name in GraftFunctions.table resolves in a
      // session that only the extension set up
      val missing = graft.functions.GraftFunctions.Names.filterNot(n =>
        s.catalog.functionExists(n))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("GraftFunctions.register installs the table into a session lacking it") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = graft.functions.GraftFunctions.Names
    assert(names.distinct.size == names.size, "a kernel name is listed twice")
    // a sibling session clones the registry, so dropping there leaves the
    // shared session untouched
    val s = TestSpark.spark.newSession()
    names.foreach(n => s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !s.catalog.functionExists(n)))
    graft.functions.GraftFunctions.register(s)
    val missing = names.filterNot(n => s.catalog.functionExists(n))
    assert(missing.isEmpty, s"not installed by register: $missing")
    assert(s.sql("SELECT token_count('hello, world')").head().getInt(0) == 3)
    assert(TestSpark.spark.catalog.functionExists("token_count"))
  }
}
