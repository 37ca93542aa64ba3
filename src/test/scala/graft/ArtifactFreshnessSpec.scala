package graft

import org.scalatest.funsuite.AnyFunSuite

/** Artifact-staleness guard WITH TEETH (round-13 verdict #3, sharpened
  * by the round-14 review: an in-JVM assertion inside Bench is a
  * tautology — the failure mode is a COMMITTED artifact generated at an
  * older HEAD). This spec validates the newest committed
  * `BENCH_LOCAL_r*.json`, `BENCH_SF1_r*_FULL.json` and
  * `PLAN_AUDIT_r*.txt` against the LIVE `SparkEntry.queries` set, so
  * `sbt test` goes red the moment a gate lands without the
  * end-of-round artifacts being re-cut. (The sf1 record joined the
  * guard in round 15: the round-14 BENCH_SF1 silently predated
  * t_topic_mix — exactly the staleness class the spec exists for.)
  *
  * Mid-round escape hatch: set `SPARK_GRAFT_WIP=1` to skip while
  * iterating — the final, driver-checked run never sets it.
  */
class ArtifactFreshnessSpec extends AnyFunSuite {

  private def wip = sys.env.get("SPARK_GRAFT_WIP").contains("1")

  private def latest(prefix: String, suffix: String): Option[java.io.File] = {
    val dir = new java.io.File(".")
    val re = (java.util.regex.Pattern.quote(prefix) + "r(\\d+)" +
      java.util.regex.Pattern.quote(suffix)).r
    Option(dir.listFiles()).getOrElse(Array.empty).flatMap { f =>
      f.getName match {
        case re(n) => Some(n.toInt -> f)
        case _ => None
      }
    }.sortBy(_._1).lastOption.map(_._2)
  }

  /** Extract the key set of a bench record's "queries" object without
    * a JSON dependency. Scans to the MATCHING close brace with a depth
    * counter (round-14 advice: taking the first '}' silently truncates
    * the name set the moment a query value becomes a nested object),
    * then keeps only keys whose value starts with a digit — the
    * per-query seconds. A nested-object VALUE would still surface its
    * inner numeric keys (the scrape is depth-blind past the brace
    * match), but the failure is LOUD — the extra/missing diff names
    * the impostor keys — not a silent truncation. */
  private def benchQueryNames(f: java.io.File): Set[String] = {
    val txt = scala.io.Source.fromFile(f).mkString
    val qIdx = txt.indexOf("\"queries\":")
    assert(qIdx >= 0,
      s"${f.getName} has no queries object — the compact summary " +
        "line was committed instead of the full per-query line")
    val qObj = txt.drop(qIdx + 10)
    val start = qObj.indexOf("{")
    assert(start >= 0, s"${f.getName}: malformed queries object")
    var depth = 0
    var end = start
    while (end < qObj.length && {
      qObj.charAt(end) match {
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ =>
      }
      depth > 0 || qObj.charAt(end) != '}'
    }) end += 1
    val body = qObj.substring(start, math.min(end + 1, qObj.length))
    "\"([A-Za-z0-9_]+)\":\\s*\\d".r.findAllMatchIn(body)
      .map(_.group(1)).toSet
  }

  private def assertCoversSuite(f: java.io.File, what: String): Unit = {
    val names = benchQueryNames(f)
    // Bench times every shared derivation as its own line item
    val expected = SparkEntry.queries.keySet ++
      graft.queries.SharedDerivations.all.map(_.name)
    val missing = expected -- names
    val extra = names -- expected
    assert(missing.isEmpty && extra.isEmpty,
      s"${f.getName} is stale vs SparkEntry: missing=${missing.take(5)} " +
        s"extra=${extra.take(5)} — re-cut $what at HEAD")
  }

  /** VALUE-level staleness teeth (round-15 verdict #6: the set-level
    * check above let a re-cut artifact carry one pre-fix line item).
    * Bench stamps `git_head` into every record; this asserts the code
    * tree the artifact was cut against is the code tree it sits beside
    * — `git diff --quiet <stamp> -- src/main build.sbt` against the
    * CURRENT working tree, so an artifact cut before a source change
    * (or from an uncommitted tree) fails sbt test until re-cut. Skips
    * (assume) on pre-stamp artifacts and outside a git checkout. */
  private def assertStampMatchesTree(f: java.io.File): Unit = {
    val txt = scala.io.Source.fromFile(f).mkString
    val sha = "\"git_head\":\"([a-f0-9]{7,40})\"".r
      .findFirstMatchIn(txt).map(_.group(1))
    assume(sha.isDefined,
      s"${f.getName} predates the git_head provenance stamp")
    assume(new java.io.File(".git").exists(), "not a git checkout")
    val probe = new ProcessBuilder("git", "cat-file", "-e", sha.get)
      .start()
    assume(probe.waitFor() == 0,
      s"${f.getName}: stamped commit ${sha.get} not in this clone")
    val p = new ProcessBuilder("git", "diff", "--quiet", sha.get, "--",
      "src/main", "build.sbt").start()
    assert(p.waitFor() == 0,
      s"${f.getName} is value-stale: src/main changed since its cut " +
        s"commit ${sha.get} — re-cut the artifact at HEAD")
  }

  test("committed BENCH_LOCAL covers every registered gate (+ bpe_learn_shared)") {
    assume(!wip, "SPARK_GRAFT_WIP=1: mid-round iteration")
    val f = latest("BENCH_LOCAL_", ".json")
    assume(f.isDefined, "no committed BENCH_LOCAL artifact yet")
    assertCoversSuite(f.get, "the sf0.1 bench")
    assert(scala.io.Source.fromFile(f.get).mkString.contains("\"full_suite\":true"),
      s"${f.get.getName} was produced under SPARK_GRAFT_ONLY — not committable")
    assertStampMatchesTree(f.get)
  }

  test("committed BENCH_SF1 record was cut at the committed code tree") {
    assume(!wip, "SPARK_GRAFT_WIP=1: mid-round iteration")
    val f = latest("BENCH_SF1_", "_FULL.json")
    assume(f.isDefined, "no committed BENCH_SF1 full-suite artifact yet")
    assertStampMatchesTree(f.get)
  }

  test("committed BENCH_SF1 full-suite record covers every registered gate") {
    assume(!wip, "SPARK_GRAFT_WIP=1: mid-round iteration")
    val f = latest("BENCH_SF1_", "_FULL.json")
    assume(f.isDefined, "no committed BENCH_SF1 full-suite artifact yet")
    assertCoversSuite(f.get, "the sf1 bench")
  }

  test("committed PLAN_AUDIT covers every registered gate") {
    assume(!wip, "SPARK_GRAFT_WIP=1: mid-round iteration")
    val f = latest("PLAN_AUDIT_", ".txt")
    assume(f.isDefined, "no committed PLAN_AUDIT artifact yet")
    val lines = scala.io.Source.fromFile(f.get).getLines().toSeq
    val audited = lines.flatMap(
      "^([A-Za-z0-9_]+) +pushdown=".r.findFirstMatchIn(_).map(_.group(1))).toSet
    val missing = SparkEntry.queries.keySet -- audited
    assert(missing.isEmpty,
      s"${f.get.getName} is stale vs SparkEntry: missing=${missing.take(5)} " +
        s"— re-run ExplainAudit at HEAD")
    assert(lines.exists(_.startsWith(
        s"AUDITED ${SparkEntry.queries.size}/${SparkEntry.queries.size}")),
      s"${f.get.getName} lacks the full-suite AUDITED stamp")
  }
}
