package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries to files — the
  * plan-evidence artifact for optimization rounds (plans/r{N}/...,
  * git 9942477).
  *
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]"
  * writes <outDir>/<query>_<suffix>.txt per query (all queries when the
  * list is omitted). Plans are the pre-execution AQE plans (the same
  * thing `df.explain("formatted")` prints); the committed BENCH records
  * carry the runtime metrics that AQE finalizes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        graft.util.IntermediateCaches.releaseAll(blocking = true)
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
