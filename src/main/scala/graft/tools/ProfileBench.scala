package graft.tools

/** Per-query profile: planning time vs execution time, job/stage/task
  * counts, shuffle bytes — the §1 "where is the time going" measurement
  * the bench's single wall number can't answer. Usage:
  *   runMain graft.tools.ProfileBench <q1,q2,...> [dataDir]
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileBench <q1,q2,...> [dataDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    Harness.warm(spark, dir)
    val listener = Harness.listen(spark)

    println(f"${"query"}%-34s ${"plan_s"}%7s ${"run1_s"}%7s ${"run2_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"shW_MB"}%7s ${"shR_MB"}%7s ${"tsk_s"}%7s ${"gc_s"}%6s ${"deser_s"}%7s")
    for (name <- names) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan // force analysis+optimization+physical planning
      val tPlan = (System.nanoTime() - t0) / 1e9
      listener.reset()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tRun = (System.nanoTime() - t1) / 1e9
      val st = listener.stages()
      val j1 = listener.jobs
      Harness.clean(spark)
      // second run: steady-state (codegen cached, JIT warm)
      val df2 = graft.SparkEntry.queries(name)(spark, dir)
      val t2 = System.nanoTime()
      df2.write.format("noop").mode("overwrite").save()
      val tRun2 = (System.nanoTime() - t2) / 1e9
      Harness.clean(spark)
      def tot(f: Harness.Stage => Double) = st.map(f).sum
      println(f"$name%-34s $tPlan%7.2f $tRun%7.2f $tRun2%7.2f $j1%5d ${st.size}%5d ${st.map(_.tasks).sum}%6d " +
        f"${tot(_.shWMB)}%7.1f ${tot(_.shRMB)}%7.1f ${tot(_.runS)}%7.1f ${tot(_.gcS)}%6.1f ${tot(_.deserS)}%7.1f")
    }
    spark.stop()
  }
}
