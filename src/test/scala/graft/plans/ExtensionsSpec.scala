package graft.plans

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions make the engine's native codegen'd expressions plain
  * SQL functions in every session — no per-session register() call. */
class ExtensionsSpec extends AnyFunSuite {

  test("native functions resolve in a fresh session via the extensions") {
    val fresh = SparkTestSession.spark.newSession()
    val r = fresh.sql(
      """SELECT graft_rolling_hash('abc') AS h,
        |       graft_cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       size(graft_shingles_2(array('a', 'b', 'c'))) AS ns,
        |       graft_simhash(array('x', 'y')) AS sh,
        |       size(graft_minhash(array('a b c'))) AS nm""".stripMargin).head()
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getInt(2) === 2)
    assert(r.getInt(4) === 64)
  }

  test("every engine function resolves in an extensions-only session") {
    val fresh = SparkTestSession.spark.newSession()
    val r = fresh.sql(
      """SELECT graft_dot_product(array(1.0D), array(2.0D)) AS d,
        |       graft_count_in(array('a', 'b', 'a'), array('a')) AS n,
        |       graft_nfkc(graft_nfc('ﬁ')) AS fi,
        |       graft_casefold('ABC') AS f""".stripMargin).head()
    assert(r.getDouble(0) === 2.0)
    assert(r.getInt(1) === 2)
    assert(r.getString(2) === "fi")
    assert(r.getString(3) === "abc")
  }
}
