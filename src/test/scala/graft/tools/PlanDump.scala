package graft.tools
import graft.SparkTestSession

/** Dump the `.explain("formatted")` physical plan of one or more graded
  * queries to files — the round-deliverable format for before/after
  * plan evidence (`plans/r<N>/<query>_<tag>.txt`).
  *
  * Run: `sbt "Test/runMain graft.tools.PlanDump <op,op,...> <sfDir>
  * <outDir> [tag]"` — writes `<outDir>/<op>_<tag>.txt` (tag defaults to
  * `plan`); the op list `all` means every `Registry.all` name. The
  * single-file legacy form (`<op> <sfDir> <outFile>`) is kept for
  * scripts that pass a `.txt` path. Compare two dump directories with
  * `python3 tools/plan_diff.py DIR_A DIR_B`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    // cleared per op, as Bench and Verify do, so no plan depends on
    // what an earlier op in the list left cached
    def formatted(op: String, sfDir: String): String = {
      spark.sharedState.cacheManager.clearCache()
      graft.Registry.byName(op).build(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    }
    if (args.length >= 3 && args(2).endsWith(".txt")) {
      java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
        formatted(args(0), args(1)).getBytes("UTF-8"))
      println("[plandump] wrote " + args(2))
    } else {
      val tag = if (args.length > 3) args(3) else "plan"
      val outDir = java.nio.file.Paths.get(args(2))
      java.nio.file.Files.createDirectories(outDir)
      val ops =
        if (args(0) == "all") graft.Registry.all.map(_.name)
        else args(0).split(",").filter(_.nonEmpty).toSeq
      ops.foreach { op =>
        val p = outDir.resolve(s"${op}_$tag.txt")
        java.nio.file.Files.write(p, formatted(op, args(1)).getBytes("UTF-8"))
        println("[plandump] wrote " + p)
      }
    }
  }
}
