package graft

import java.nio.file.{Files, Paths}

/** Plan-capture tooling for the optimization rounds: writes
  * `.explain("formatted")` of named SparkEntry queries to files, so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.Explain <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries if no list).
  * The session is Bench's ([[HarnessSession]]), so the captured initial
  * plans match what the bench executes.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessSession("graft-explain", defaultCpus = "32")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          System.err.println(s"[explain] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
