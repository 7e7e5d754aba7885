package graftbench

import scala.jdk.CollectionConverters._

/** The per-layer metric names, each with the end-to-end metric and
  * workload it should move, and the code that turns spans and Spark
  * counters into them. A layer a workload does not exercise reads 0.
  */
object Layers {

  private val sparkNames = Seq("spark.exec_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.scan_files", "spark.scan_bytes")

  /** The SQL metrics of the operators that have them: a scan's and an
    * aggregate's time and rows, an exchange's write/fetch time and rows,
    * the joins' and generators' rows, a sort's time.
    */
  private val OperatorMetrics = Seq("op.Scan.time_ms", "op.Scan.rows", "op.HashAggregate.time_ms",
    "op.HashAggregate.rows", "op.Exchange.time_ms", "op.Exchange.rows", "op.BroadcastHashJoin.rows",
    "op.SortMergeJoin.rows", "op.Generate.rows", "op.Sort.time_ms")

  /** (metric, unit, better, moves). */
  val All: Seq[(String, String, String, String)] =
    Seq(
      ("cgi.dispatch_ms", "ms", "lower", "render_p50_ms on ingest_live"),
      ("spark.plan_ms", "ms", "lower", "render_p50_ms on ingest_live, mostly function pipelines")) ++
    sparkNames.map(n => (n, unitOf(n), "lower",
      "commit_p50_s on ingest_live (per batch); dedup_*_s on dedup_corpus (per job)")) ++
    OperatorMetrics.map(n => (n, unitOf(n), "lower", "the workload's latency_p50_ms")) ++
    Seq(
      ("find.exec_ms", "ms", "lower", "find_p50_ms on ingest_live"),
      ("find.paths_examined_per_result", "ratio", "lower", "find_p50_ms on ingest_live"),
      ("store.resolve_ms", "ms", "lower", "render_p50_ms on ingest_live"),
      ("fetch.exec_ms", "ms", "lower", "render_p50_ms on ingest_live, mostly -3d windows"),
      ("fetch.rows_scanned_per_row_returned", "ratio", "lower", "render_p50_ms on ingest_live, mostly -3d windows"),
      ("fetch.archive_step", "s", "higher", "render_p50_ms on ingest_live, mostly -3d windows"),
      ("functions.self_ms", "ms", "lower", "render_p50_ms on ingest_live, function pipelines only"),
      ("render.format_ms", "ms", "lower", "render_p50_ms on ingest_live"),
      ("carbon.parse_ms", "ms", "lower", "commit_p50_s on ingest_live"),
      ("carbon.rejected_lines", "count", "lower", "commit_p50_s on ingest_live")) ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").map(p => (s"stream.${p}_ms", "ms", "lower",
      "commit_p50_s and ingest_points_per_s on ingest_live")) ++
    Seq(
      ("stream.jobs_per_batch", "count", "lower", "commit_p50_s and ingest_points_per_s on ingest_live"),
      ("store.write_amp", "ratio", "lower", "ingest_points_per_s and store_bytes_per_point on ingest_live"),
      ("store.hot_files", "count", "lower", "render_p50_ms on ingest_live; commit_p90_s"),
      ("store.cold_files", "count", "lower", "render_p50_ms on ingest_live; commit_p90_s"),
      ("store.hot_days", "count", "lower", "render_p50_ms on ingest_live; commit_p90_s"),
      ("store.late_rows", "count", "lower", "render_p50_ms on ingest_live; commit_p90_s"),
      ("store.compactions", "count", "lower", "commit_p90_s on ingest_live"),
      ("store.late_folds", "count", "lower", "commit_p90_s on ingest_live"),
      ("store.read_retries_per_request", "ratio", "lower", "render_p50_ms on ingest_live"),
      ("dedup.simhash_sig_ms", "ms", "lower", "dedup_simhash_s on dedup_corpus"),
      ("dedup.simhash_pairs_ms", "ms", "lower", "dedup_simhash_s on dedup_corpus"),
      ("dedup.simhash_clusters_ms", "ms", "lower", "dedup_simhash_s on dedup_corpus"),
      ("dedup.minhash_pairs_ms", "ms", "lower", "dedup_minhash_s on dedup_corpus"),
      ("dedup.minhash_clusters_ms", "ms", "lower", "dedup_minhash_s on dedup_corpus"),
      ("dedup.minhash_bucket_max_df", "count", "lower", "dedup_minhash_s on dedup_corpus"),
      ("dedup.candidate_pairs", "count", "lower", "dedup_minhash_s down, dedup_recall unchanged"),
      ("dedup.true_pairs", "count", "higher", "dedup_minhash_s down, dedup_recall unchanged"),
      ("dedup.pair_precision", "ratio", "higher", "dedup_minhash_s down, dedup_recall unchanged"),
      ("dedup.incremental_ms", "ms", "lower", "dedup_incremental_s on dedup_corpus")) ++
    Seq("latency_p50_ms" -> "lower", "throughput_per_s" -> "higher").map { case (m, better) =>
      (s"trace.overhead.$m", unitOf(m), better, s"traced minus untraced operations of the run, $m")
    }

  private def unitOf(n: String): String =
    if (n.endsWith("_ms")) "ms" else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_per_s")) "1/s" else "count"

  /** Fill in every name, 0 where the workload gave no value. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    All.map { case (n, _, _, _) => n -> m.getOrElse(n, 0.0) }.toMap

  /** Whether an operation key (`req:7`, `batch:3`, `job:minhash:1`) ends
    * in an odd number, i.e. belongs to a traced operation.
    */
  def tracedOp(prefix: String)(key: String): Boolean =
    key.startsWith(prefix) && key.split(':').last.toLongOption.exists(_ % 2 == 1)

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Listener counts and plan metrics summed over the operations `keep`
    * selects, divided by `n` operations.
    */
  def sparkLayers(c: SparkCounters, keep: String => Boolean, n: Int): Map[String, Double] = {
    c.drain()
    val d = math.max(1, n).toDouble
    val cs = c.byOp.asScala.collect { case (k, v) if keep(k) => v }
    def sum(f: SparkCounters.Counts => Long) = cs.map(f).sum / d
    val ops = c.operatorsByOp.collect { case (k, v) if keep(k) => v }
      .foldLeft(Map.empty[String, Double])(SparkCounters.addMaps).view.mapValues(_ / d).toMap
    ops ++ Map(
      "spark.jobs" -> sum(_.jobs.get), "spark.stages" -> sum(_.stages.get),
      "spark.tasks" -> sum(_.tasks.get), "spark.task_cpu_ms" -> sum(_.cpuNs.get) / 1e6,
      "spark.gc_ms" -> sum(_.gcMs.get), "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.get),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead.get), "spark.spill_bytes" -> sum(_.spill.get))
  }

  /** Read-path layers of the live reader's requests. */
  def requestLayers(t: Trace, c: SparkCounters, keep: String => Boolean, n: Int,
                    side: Seq[(String, Double)]): Map[String, Double] = {
    val sideMeans = side.groupBy(_._1).view.mapValues(v => mean(v.map(_._2))).toMap
    sparkLayers(c, keep, n) ++ sideMeans ++ Map(
      "cgi.dispatch_ms" -> t.meanSelfMs("cgi.dispatch"),
      "spark.plan_ms" -> t.meanSelfMs("spark.plan"),
      "spark.exec_ms" -> t.meanSelfMs("spark.exec"),
      "store.resolve_ms" -> t.meanSelfMs("store.resolve"),
      "find.exec_ms" -> t.meanSelfMs("find"),
      "fetch.exec_ms" -> t.meanSelfMs("fetch"),
      "functions.self_ms" -> t.meanSelfMs("functions"),
      "render.format_ms" -> t.meanSelfMs("render.format"))
  }
}
