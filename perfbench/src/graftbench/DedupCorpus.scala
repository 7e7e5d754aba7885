package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max}

import graft.dedup.Dedup

/** Batch dedup, one job at a time: MinHash clusters, SimHash clusters
  * and MinHash incremental (every fourth doc is the new crawl) over a
  * corpus with planted near-duplicates. Caches are cleared between jobs,
  * outside the timed region.
  */
final class DedupCorpus extends Workload {
  val Base = 800
  val Copies = 200
  /** The parameters the repo's own dedup queries run with. */
  val MaxDf = 64
  val MaxHamming = 6
  val IncrementalMod = 4
  val Tau = 0.5

  final case class State(dir: Path, corpus: Gen.Corpus, docs: DataFrame)

  def setupRepeats: Int = 3

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val corpus = Gen.corpus(ctx.seed, Base, Copies)
    val file = dir.resolve("documents.parquet").toString
    spark.createDataFrame(corpus.docs).toDF("doc_id", "text").repartition(Main.Cores)
      .write.mode("overwrite").parquet(file)
    val docs = spark.read.parquet(file)
    docs.count()
    State(dir, corpus, docs)
  }

  override def discard(ctx: Ctx, s: State): Unit = Store.deleteTree(s.dir)

  private def jobs(s: State): Seq[(String, () => DataFrame)] = {
    val spark = s.docs.sparkSession
    Seq(
      "minhash" -> (() => Dedup.minhashClusters(spark, s.docs, MaxDf)),
      "simhash" -> (() => Dedup.simhashClusters(spark, s.docs, MaxHamming, MaxDf)),
      "incremental" -> (() => Dedup.minhashIncremental(spark,
        s.docs.filter(col("doc_id") % IncrementalMod =!= 0),
        s.docs.filter(col("doc_id") % IncrementalMod === 0), MaxDf)))
  }

  /** Untraced passes a run holds at least, so that the pass median
    * rests on several warm samples however slow the host is.
    */
  val MinPasses = 3

  def phase(ctx: Ctx, s: State, trace: Trace, counters: Option[SparkCounters]): Phase = {
    val spark = ctx.spark
    // warm-up: one untimed pass over the full corpus
    jobs(s).foreach { case (_, job) => spark.catalog.clearCache(); job().collect() }
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var recall = Double.NaN
    // (pass, seconds, documents) of every pass over the three jobs
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Long)]
    // a traced run traces every other pass and needs two of each
    val minPasses = if (trace.on) 4 else MinPasses
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes.size < minPasses) {
      val pass = passes.size
      val tr = trace.pick(pass)
      var sec, docs = 0.0
      jobs(s).foreach { case (name, job) =>
        spark.catalog.clearCache()
        val op = s"job:$name:$pass"
        val a = System.nanoTime()
        val res = scala.util.Try(SparkCounters.withOp(spark, op) {
          tr.span(s"dedup.$name", op) {
            val df = job()
            if (tr.on) tr.span("spark.plan")(df.queryExecution.executedPlan)
            tr.span("spark.exec")(df.collect())
          }
        })
        val dt = (System.nanoTime() - a) / 1e9
        res.failed.foreach(e => System.err.println(s"[graftbench] $name failed: $e"))
        val ok = res.isSuccess && check(ctx, s, name, res.get)
        if (ok && name == "minhash") recall = plantedRecall(s, res.get)
        ctx.out.op(ok)
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
        sec += dt
        docs += (if (name == "incremental") s.corpus.docs.size / IncrementalMod else s.corpus.docs.size)
      }
      passes += ((pass, sec, docs.toLong))
      // the last job's cached intermediates are still held here
      ctx.heap.sample()
    }
    spark.catalog.clearCache()
    val inputs = ctx.out.inputs
    inputs("documents") = s.corpus.docs.size
    inputs("planted_pairs") = s.corpus.planted.size
    inputs("incoming_documents") = s.corpus.docs.count(_._1 % IncrementalMod == 0)
    inputs("passes") = passes.size
    inputs("pass_s") = passes.map(_._2).toSeq
    inputs("minhash_spread_s") = times.get("minhash").fold(Seq.empty[Double])(_.toSeq)
    val (plain, traced) = passes.toSeq.partition(p => !trace.pick(p._1).on)
    def p50ms(ps: Seq[(Int, Double, Long)]) = Main.median(ps.map(_._2 * 1000))
    def rate(ps: Seq[(Int, Double, Long)]) = ps.map(_._3).sum / ps.map(_._2).sum
    val e2e = Map("latency_p50_ms" -> p50ms(plain), "throughput_per_s" -> rate(plain))
    val named = Seq(
      ("dedup_minhash_s", Main.median(times("minhash").toSeq), "s"),
      ("dedup_simhash_s", Main.median(times("simhash").toSeq), "s"),
      ("dedup_incremental_s", Main.median(times("incremental").toSeq), "s"),
      ("dedup_recall", recall, "ratio"))
    val layers = counters.fold(Map.empty[String, Double]) { c =>
      val l = Layers.sparkLayers(c, Layers.tracedOp("job:"), traced.size * jobs(s).size) ++ Map(
        "spark.plan_ms" -> trace.meanSelfMs("spark.plan"),
        "spark.exec_ms" -> trace.meanSelfMs("spark.exec"))
      l ++ SparkCounters.withOp(spark, "side:dedup")(sideMeasure(ctx, s, trace))
    }
    val overhead = if (!trace.on) Map.empty[String, Double] else Map(
      "latency_p50_ms" -> (p50ms(traced) - p50ms(plain)),
      "throughput_per_s" -> (rate(traced) - rate(plain)))
    Phase(e2e, named, layers, overhead)
  }

  /** Every doc has exactly one cluster (or, for the incremental job,
    * every incoming doc exactly one verdict).
    */
  private def check(ctx: Ctx, s: State, name: String, rows: Array[Row]): Boolean = {
    val want = if (name == "incremental") s.corpus.docs.map(_._1).filter(_ % IncrementalMod == 0)
               else s.corpus.docs.map(_._1)
    val ids = rows.map(_.getLong(0))
    val ok = ids.length == want.size && ids.toSet == want.toSet &&
      (name != "incremental" || rows.forall(r => Set("unique", "near_dup", "exact_dup")(r.getString(1))))
    ctx.out.check(s"$name: one row per document", ok,
      s"${ids.length} rows, ${ids.distinct.length} distinct ids, want ${want.size}")
    ok
  }

  /** Planted pairs whose two documents share a MinHash cluster. */
  private def plantedRecall(s: State, rows: Array[Row]): Double = {
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    s.corpus.planted.count { case (a, b) => cluster.get(a) == cluster.get(b) }.toDouble /
      s.corpus.planted.size
  }

  /** The dedup chain's stages alone, and the MinHash candidate pairs
    * judged by exact shingle Jaccard.
    */
  private def sideMeasure(ctx: Ctx, s: State, trace: Trace): Map[String, Double] = {
    val spark = ctx.spark
    def timed[T](name: String)(body: => T): T = {
      spark.catalog.clearCache()
      trace.span(name, "side:dedup")(body)
    }
    timed("dedup.simhash_sig")(Dedup.simhash(spark, s.docs).collect())
    timed("dedup.simhash_pairs")(Dedup.simhashPairsCapped(spark, s.docs, MaxHamming, MaxDf).count())
    val cand = timed("dedup.minhash_pairs")(Dedup.minhashLshCapped(spark, s.docs, MaxDf).collect())
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val maxDf = timed("dedup.minhash_bucket_stats")(
      Dedup.minhashBucketStats(spark, s.docs, MaxDf).agg(max("max_df")).collect()(0).getLong(0))
    spark.catalog.clearCache()
    val text = s.corpus.docs.toMap
    val truePairs = cand.count { case (x, y) => Reference.jaccard(text(x), text(y)) >= Tau }
    Map(
      "dedup.simhash_sig_ms" -> trace.meanSelfMs("dedup.simhash_sig"),
      "dedup.simhash_pairs_ms" -> trace.meanSelfMs("dedup.simhash_pairs"),
      "dedup.simhash_clusters_ms" -> trace.meanMs("dedup.simhash"),
      "dedup.minhash_pairs_ms" -> trace.meanSelfMs("dedup.minhash_pairs"),
      "dedup.minhash_clusters_ms" -> trace.meanMs("dedup.minhash"),
      "dedup.minhash_bucket_max_df" -> maxDf.toDouble,
      "dedup.candidate_pairs" -> cand.length.toDouble,
      "dedup.true_pairs" -> truePairs.toDouble,
      "dedup.pair_precision" -> truePairs.toDouble / math.max(1, cand.length),
      "dedup.incremental_ms" -> trace.meanMs("dedup.incremental"))
  }

  def finish(ctx: Ctx, s: State): Unit = Store.deleteTree(s.dir)
}
