package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SharedDerivations

/** The shared-derivation registry: every entry derives with Spark work
  * once, serves the same value from its memo afterwards, and re-derives
  * when the corpus files change under the same dir. */
class SharedDerivationsSpec extends AnyFunSuite {
  import SharedSpark._

  test("entry names are unique") {
    val names = SharedDerivations.all.map(_.name)
    assert(names.nonEmpty && names.distinct == names, names)
  }

  test("after clear() the first read launches jobs; the second launches none and is equal") {
    for (d <- SharedDerivations.all) {
      d.clear()
      var first: Any = null
      var second: Any = null
      val cold = jobsOf { first = d(spark, sf0001) }
      val warm = jobsOf { second = d(spark, sf0001) }
      assert(cold >= 1, s"${d.name}: the cold read launched no Spark job")
      assert(warm == 0, s"${d.name}: the warm read launched $warm Spark jobs")
      assert(first == second, s"${d.name}: the memo returned a different value")
    }
  }

  test("a dir whose documents.parquet is rewritten after warming is re-derived") {
    val dir = Files.createTempDirectory("graft-shared-derivations").toFile
    try {
      FileUtils.copyDirectory(new File(sf0001), dir)
      val path = dir.getAbsolutePath
      SharedDerivations.all.foreach(_(spark, path))
      assert(SharedDerivations.all.forall(d => jobsOf(d(spark, path)) == 0))
      val docs = new File(dir, "documents.parquet")
      val rewritten = new File(dir, "documents.rewritten")
      spark.read.parquet(docs.getAbsolutePath).write.parquet(rewritten.getAbsolutePath)
      FileUtils.forceDelete(docs)
      assert(rewritten.renameTo(docs))
      for (d <- SharedDerivations.all)
        assert(jobsOf(d(spark, path)) >= 1, s"${d.name} served a value of the old files")
    } finally {
      SharedDerivations.all.foreach(_.clear())
      FileUtils.deleteDirectory(dir)
    }
  }
}
