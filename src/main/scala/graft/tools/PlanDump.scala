package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dump the full `.explain("formatted")` text of named queries to
  * plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence
  * for optimization rounds — and print each plan's scan pushdown, join
  * strategy and exchange markers so shuffle or broadcast regressions
  * are visible at a glance (PlanAuditSpec pins the invariants). Usage:
  *   runMain graft.tools.PlanDump <tag> <suffix> <q1,q2,...> [dataDir]
  * e.g. runMain graft.tools.PlanDump r12 before corpus_curation
  */
object PlanDump {
  private val markers = Seq("PushedFilters", "ReadSchema", "PartitionFilters",
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "windowspecdefinition")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <q1,q2,...> [dataDir]")
    val (tag, suffix) = (args(0), args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = Harness.session()
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      val ex = plan.linesIterator.count(l =>
        l.trim.startsWith("Exchange") || l.contains(" Exchange"))
      println(s"$name: wrote ${plan.length} chars, ~$ex Exchange lines")
      plan.linesIterator.filter(l => markers.exists(l.contains) ||
        (l.contains("Exchange") && !l.contains("Reuse")))
        .foreach(m => println("  " + m.trim.take(170)))
      Harness.clean(spark)
    }
    spark.stop()
  }
}
