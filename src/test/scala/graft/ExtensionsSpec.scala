package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** graft expressions reachable from plain SQL via SparkSessionExtensions.
  * Extensions bind at session build time, so this suite builds its own
  * session instance (sharing the JVM's SparkContext) — clearing the
  * default first so getOrCreate cannot hand back the shared session, and
  * restoring it afterwards (never stop(): the context is shared). */
class ExtensionsSpec extends AnyFunSuite {

  test("custom expressions are callable from SQL") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val row = spark.sql(
        """SELECT portable_simhash60('alpha beta gamma') AS sh,
          |  size(minhash_signature('alpha beta gamma delta', 3, 16)) AS mh_k,
          |  distinct_shingles('A b c d', 2) AS sh2,
          |  set_not_nullable('x') AS nn,
          |  vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dp,
          |  vec_l2norm(array(3.0D, 4.0D)) AS nrm,
          |  trigram_entropy('aaaa') AS ent,
          |  size(portable_cosine_lsh_keys(array(1.0D, -2.0D, 0.5D), 8, 4)) AS lshk""".stripMargin)
        .collect().head
      assert(row.getLong(0) ==
        org.apache.spark.sql.graft.PortableSimHash60.simhash("alpha beta gamma"))
      assert(row.getInt(1) == 16)
      assert(row.getSeq[String](2) == Seq("a b", "b c", "c d"))
      assert(row.getString(3) == "x")
      assert(row.getDouble(4) == 32.0)
      assert(row.getDouble(5) == 5.0)
      assert(row.getDouble(6) == 0.0) // "aaaa": two identical trigrams
      assert(row.getInt(7) == 4)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
