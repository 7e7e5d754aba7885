package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The one session and run harness every graft `main` shares: session
  * config, `SPARK_GRAFT_ONLY` selection, warm-up, cache cleanup, the
  * min-of-samples timing loop and the per-stage listener.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or the machine's core count when unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The bench session; every tool runs the plan the bench runs. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Comma-separated query names, blanks dropped. */
  def parseOnly(spec: String): Set[String] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** SPARK_GRAFT_ONLY=a,b,c restricts a run to named queries (dev
    * loops); unset means every query. */
  private lazy val only = sys.env.get("SPARK_GRAFT_ONLY").map(parseOnly)

  def wanted(name: String): Boolean = only.forall(_.contains(name))

  /** Warm the session (codegen, parquet footers, FS cache) so the first
    * timed query doesn't absorb ~10s of one-time startup cost. */
  def warm(spark: SparkSession, dir: String): Unit =
    try {
      spark.read.parquet(s"$dir/lineitem.parquet").count()
      graft.core.Tables.metrics(spark, dir).count()
    } catch { case _: Throwable => () }

  /** Drop every cached intermediate: the catalog's caches and the
    * RDD-level persists (localCheckpoint, memoFetch, mergeBatch) that
    * `catalog.clearCache` does not reach. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** SPARK_GRAFT_MAX_SAMPLES caps repeat samples (default 5) — the sf1
    * honesty pass runs the whole surface at 10× data, where the full
    * convergence loop would cost hours for numbers that only feed a
    * ratio table. */
  def maxSamples: Int = sys.env.getOrElse("SPARK_GRAFT_MAX_SAMPLES", "5").toInt

  /** Times `run` repeatedly and returns every sample in seconds; callers
    * report the min. One-shot timings under background load swung >10×
    * per query and made the artifact unusable for regression detection.
    * Sampling continues until two post-warmup samples agree within 10%
    * (the FIRST sample is excluded from the convergence test — it
    * carries the plan's codegen/JIT warmup, and two warmup-slow samples
    * otherwise "converge" on a plateau 2× above the plan's real time).
    * At least 2 samples, at most `cap`, and no new sample once the
    * cumulative time passes `budgetS`. `clean` runs after each sample,
    * outside the timed section, so a repeat re-runs the full plan
    * instead of reading the previous sample's cache. A failing `run`
    * propagates its exception: timing the exception path would report a
    * healthy-looking near-zero sample for a broken query.
    */
  def samples(spark: SparkSession, cap: Int = maxSamples, budgetS: Double = 60.0)(
      run: => Unit): Seq[Double] = {
    val times = mutable.ArrayBuffer[Double]()
    def converged: Boolean = {
      val s = times.drop(1).sorted
      s.size >= 2 && s(1) <= s(0) * 1.10
    }
    while (times.size < cap &&
           (times.size < math.min(2, cap) || (times.sum < budgetS && !converged))) {
      val t0 = System.nanoTime()
      try {
        run
        times += (System.nanoTime() - t0) / 1e9
      } finally clean(spark)
    }
    times.toSeq
  }

  /** One completed stage: task count, summed task run / GC /
    * deserialize seconds, shuffle write/read MB, and the stage name,
    * which carries the call site. */
  final case class Stage(id: Int, tasks: Int, runS: Double, gcS: Double,
                         deserS: Double, shWMB: Double, shRMB: Double, name: String)

  /** Records a row per completed stage and counts jobs. */
  final class StageListener extends SparkListener {
    private val rows = mutable.ArrayBuffer.empty[Stage]
    private val nJobs = new AtomicInteger(0)
    override def onJobStart(j: SparkListenerJobStart): Unit = nJobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      rows.synchronized {
        rows += Stage(s.stageInfo.stageId, s.stageInfo.numTasks,
          m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.executorDeserializeTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          s.stageInfo.name.take(120))
      }
    }
    def reset(): Unit = rows.synchronized { rows.clear(); nJobs.set(0) }
    /** Stages so far, after letting the listener bus drain. */
    def stages(): Seq[Stage] = { Thread.sleep(400); rows.synchronized(rows.toList) }
    def jobs: Int = nJobs.get
  }

  def listen(spark: SparkSession): StageListener = {
    val l = new StageListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
