package graft.tools

import scala.collection.mutable

/** Per-STAGE time attribution for one query — the §1 drill-down below
  * [[ProfileBench]]'s per-query totals: which stage owns the summed
  * task time, GC, deserialize, shuffle bytes. Stage names carry the
  * call site, so the row maps back to an operator. Usage:
  *   runMain graft.tools.StageProfile <query> [dataDir]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProfile <query> [dataDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    Harness.warm(spark, dir)
    val listener = Harness.listen(spark)

    val df = graft.SparkEntry.queries(name)(spark, dir)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val rows = listener.stages()
    println(f"== $name wall=$wall%.2f s, ${rows.size} stages (by summed task run time) ==")
    println(f"${"stage"}%5s ${"tasks"}%5s ${"run_s"}%8s ${"gc_s"}%6s ${"deser_s"}%7s ${"shW_MB"}%7s ${"shR_MB"}%7s  name")
    for (r <- rows.sortBy(-_.runS))
      println(f"${r.id}%5d ${r.tasks}%5d ${r.runS}%8.2f ${r.gcS}%6.1f ${r.deserS}%7.1f ${r.shWMB}%7.2f ${r.shRMB}%7.2f  ${r.name}")

    // operator-level attribution: the executed (AQE-final) plan with
    // each operator's accumulated SQL metrics — maps the hot stage back
    // to the operator that owns it
    println(s"== executed plan with metrics ==")
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int,
             seen: mutable.Set[Int]): Unit = {
      val ms = p.metrics.collect {
        case (k, m) if m.value > 0 &&
          (k.contains("time") || k == "numOutputRows" || k.contains("spill") ||
            k.contains("dataSize") || k.contains("peak")) =>
          s"$k=${m.value}"
      }.mkString(" ")
      println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seen.add(System.identityHashCode(i.relation)))
            Seq(i.relation.cachedPlan) else Seq.empty
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq.empty
        case o => o.children
      }
      kids.foreach(walk(_, depth + 1, seen))
      p.subqueries.foreach { sq =>
        println(("  " * (depth + 1)) + "SUBQUERY:")
        walk(sq, depth + 2, seen)
      }
    }
    walk(df.queryExecution.executedPlan, 0, mutable.Set.empty)
    spark.stop()
  }
}
