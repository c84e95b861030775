package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `.explain("formatted")` output for named SparkEntry
  * queries to files — the before/after plan evidence the optimization
  * protocol requires (plans/rNN/<query>_before.txt / _after.txt).
  *
  * Usage: tools/run_class.sh graft.PlanFormat <q1,q2,...|all> <sfDir> <outDir> [suffix]
  *
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "plan"): a
  * header line of operator counts over the executed plan, then the
  * formatted plan. The session is Bench's, so the dumped plan is the one
  * the bench executes.
  */
object PlanFormat {
  // operator → the node name the plan prints. Letter-anchored: a bare
  // "Exchange" would also match every ReusedExchange/BroadcastExchange,
  // inflating the shuffle count.
  private val counted = Seq("Exchange" -> "Exchange",
    "ReusedExchange" -> "ReusedExchange",
    "BroadcastExchange" -> "BroadcastExchange",
    "SortMergeJoin" -> "SortMergeJoin",
    "BroadcastHashJoin" -> "BroadcastHashJoin", "WindowExec" -> "Window")

  private def counts(plan: String): String = counted
    .map { case (op, node) =>
      s"$op=${s"(?<![A-Za-z])$node(?![A-Za-z])".r.findAllIn(plan).size}"
    }
    .mkString("# ", " ", "")

  def main(args: Array[String]): Unit = {
    val names = args(0)
    val sfDir = args(1)
    val outDir = args(2)
    val suffix = if (args.length > 3) args(3) else "plan"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (names == "all") SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").map(_.trim).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val txt = counts(qe.executedPlan.toString) + "\n" +
          qe.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"wrote $name")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
