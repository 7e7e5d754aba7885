package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{count, sum}

import graft.tsdb.{Carbon, Cgi, MetricStore}

/** Live ingest: a closed-loop writer publishes the next batch file when
  * the previous micro-batch commits, while one closed-loop reader issues
  * the dashboard mix (renders, function pipelines, find/expand),
  * resolving the maintained store anew on every request.
  */
final class IngestLive extends Workload {
  val Dcs = 1
  val Hosts = 5
  /** Each batch carries one day of every series, so every tick
    * compacts the day before.
    */
  val SliceS: Long = Gen.Day
  val BatchesPerDay: Int = (Gen.Day / SliceS).toInt
  /** A held-back point arrives one day and one batch after its slot. */
  val LateLag: Int = BatchesPerDay + 1
  val LateShare = 0.02
  val BadShare = 0.005
  val MinDayBoundaries = 3
  val RenderChecks = 3
  /** Times a reader request resolves the store again after a
    * maintenance tick deleted files it had listed.
    */
  val ReadRetries = 3
  val Start: Long = 20000 * Gen.Day

  final class State(val store: Store, val paths: IndexedSeq[String],
                    val pathsDf: org.apache.spark.sql.DataFrame,
                    val reqs: IndexedSeq[Gen.Request]) {
    var nextBatch = 0
    @volatile var head = Start
    var nextReq = 0
    var validPoints = 0L
    var rejected = 0L
    var heldBack = 0L
    var readRetries = 0L
  }

  def setupRepeats: Int = 3

  private def isLate(seed: Long, p: Int, ts: Long) = Gen.unit(seed, p, ts, 21) < LateShare

  /** Batch `i`: slice `i` of every series minus its held-back points,
    * plus the points held back `LateLag` batches earlier, plus a few
    * malformed lines. Returns (lines, valid points, points held back
    * from slice `i`). The flush batch carries only what is still held.
    */
  def batch(seed: Long, i: Int, flushFrom: Option[Int] = None): (Seq[String], Long, Long) = {
    val paths = Gen.seriesTree(Dcs, Hosts)
    def slice(j: Int) = Start + j * SliceS until Start + (j + 1) * SliceS by Gen.Step
    val onTime = if (flushFrom.isDefined) Seq.empty else
      for (ts <- slice(i); k <- paths.indices if !isLate(seed, k, ts);
           v = Gen.point(seed, k, ts)) yield Gen.line(paths(k), v, ts)
    val lateFrom = flushFrom.map(f => f until i).getOrElse(Seq(i - LateLag)).filter(_ >= 0)
    val late = for (j <- lateFrom; ts <- slice(j); k <- paths.indices if isLate(seed, k, ts);
                    v = Gen.point(seed, k, ts)) yield Gen.line(paths(k), v, ts)
    val good = (onTime ++ late).toIndexedSeq
    val nBad = math.round(good.size * BadShare).toInt
    // malformed: an unparsable value, a path alone, an empty line; every
    // line that has a value also has a timestamp
    val bad = (0 until nBad).map { b =>
      val p = paths((Gen.unit(seed, i, b, 22) * paths.size).toInt)
      (b % 3) match {
        case 0 => s"$p 1.2.3 ${Start + i * SliceS}"
        case 1 => p
        case _ => ""
      }
    }
    val stride = if (nBad == 0) Int.MaxValue else good.size / nBad
    val lines = good.indices.flatMap { j =>
      if (j % stride == 0 && j / stride < nBad) Seq(bad(j / stride), good(j)) else Seq(good(j))
    }
    val held = if (flushFrom.isDefined) 0L
      else (for (ts <- slice(i); k <- paths.indices if isLate(seed, k, ts)) yield 1L).sum
    (lines, good.size.toLong, held)
  }

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val paths = Gen.seriesTree(Dcs, Hosts)
    val pathsDf = spark.createDataFrame(paths.map(Tuple1(_))).toDF("path").cache()
    pathsDf.count()
    val s = new State(new Store(spark, dir), paths, pathsDf,
      Gen.requestStream(ctx.seed, 4000, Dcs, Hosts))
    // the first batch absorbs the sink's start-up
    publishNext(ctx, s)
    s
  }

  override def discard(ctx: Ctx, s: State): Unit = {
    s.store.stop()
    s.pathsDf.unpersist()
    Store.deleteTree(s.store.dir)
  }

  /** Generate and publish the next batch, wait for its commit. Returns
    * (valid points, file bytes, file, generation seconds, publish-to-
    * commit seconds).
    */
  private def publishNext(ctx: Ctx, s: State): (Long, Long, Path, Double, Double) = {
    val i = s.nextBatch
    val g = System.nanoTime()
    val (lines, valid, held) = batch(ctx.seed, i)
    val (file, bytes) = s.store.publish(i, lines)
    val published = System.nanoTime()
    s.store.awaitCommit()
    val committed = System.nanoTime()
    s.nextBatch += 1
    s.validPoints += valid
    s.heldBack += held
    s.rejected += lines.size - valid
    s.head = Start + (i + 1) * SliceS - Gen.Step
    (valid, bytes, file, (published - g) / 1e9, (committed - published) / 1e9)
  }

  private def kindOf(r: Gen.Request) = if (r.kind == "expand") "find" else r.kind

  /** The request read a file that a concurrent maintenance tick had
    * deleted after the request listed it.
    */
  private def vanished(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(_.contains("FILE_NOT_EXIST"))
    }

  def phase(ctx: Ctx, s: State, trace: Trace, counters: Option[SparkCounters]): Phase = {
    val spark = ctx.spark
    // (batch, commit seconds, points) and (request index, request, ms)
    val commits = mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val reads = mutable.ArrayBuffer.empty[(Int, Gen.Request, Double)]
    val readSide = mutable.ArrayBuffer.empty[(String, Double)]
    val measured = mutable.Set.empty[String]
    val rejected = mutable.ArrayBuffer.empty[Double]
    val reports = mutable.ArrayBuffer.empty[Map[String, Double]]
    var inBytes, lateFolds = 0L
    var genSec = 0.0
    val firstBatch = s.nextBatch
    val firstReq = s.nextReq
    val retriesBefore = s.readRetries
    val coldBefore = MetricStore.coldDays(spark, s.store.cold).size

    def request(i: Int, r: Gen.Request, now: Long, tr: Trace): Unit = {
      var env: Cgi.Env = null
      val a = System.nanoTime()
      // `lateFoldTick` replaces a cold day and drops its late copy with
      // no grace tick, so a request may lose files it listed; like a
      // dashboard client it then asks again, which counts in its
      // latency and in `reader_retries`
      def attempt(left: Int): Array[org.apache.spark.sql.Row] =
        try {
          env = Cgi.Env(tr.span("store.resolve")(s.store.read()), s.pathsDf, Store.spec)
          Reader.execute(spark, env, r, now, tr)
        } catch {
          case e: Exception if left > 0 && vanished(e) =>
            s.readRetries += 1
            attempt(left - 1)
        }
      val res = scala.util.Try(SparkCounters.withOp(spark, s"req:$i") {
        tr.span("request", s"req:$i")(attempt(ReadRetries))
      })
      val ms = (System.nanoTime() - a) / 1e6
      res.failed.foreach(e => System.err.println(s"[graftbench] live request failed ${r.url}: $e"))
      // find/expand answers depend only on the path tree; renders of a
      // store still receiving late points are checked after the run
      val ok = res.isSuccess && (kindOf(r) != "find" ||
        Reader.check(ctx.out, s.paths, (_, _) => None, r, now, res.get))
      ctx.out.op(ok)
      reads += ((i, r, ms))
      if (tr.on && ok) SparkCounters.withOp(spark, s"side:$i") {
        readSide ++= Reader.sideMeasure(spark, env, r, now, tr)
        measured += kindOf(r)
      }
    }

    @volatile var writing = true
    var writerEnd = 0L
    val reader = new Thread(() => {
      while (writing) {
        val i = s.nextReq
        s.nextReq += 1
        request(i, s.reqs(i % s.reqs.size), s.head, trace.pick(i))
      }
    }, "ingest-reader")
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    reader.start()
    def boundaries = (firstBatch until s.nextBatch).count(i => i > 0 && i % BatchesPerDay == 0)
    // a traced run needs two traced and two untraced batches that carry
    // late points (the first LateLag batches carry none)
    val minBatches = if (trace.on) LateLag + 4 - firstBatch else 1
    try {
      while (System.nanoTime() < deadline || boundaries < MinDayBoundaries ||
             s.nextBatch - firstBatch < minBatches) {
        val i = s.nextBatch
        val tr = trace.pick(i)
        val lateDays = if (trace.on && i >= LateLag) {
          val published = MetricStore.coldDays(spark, s.store.cold).toSet
          val d = Start + (i - LateLag) * SliceS
          if (published.contains(d - d % Gen.Day)) 1 else 0
        } else 0
        val res = scala.util.Try(SparkCounters.withOp(spark, s"writer:$i")(publishNext(ctx, s)))
        ctx.out.op(res.isSuccess)
        res.failed.foreach { e =>
          System.err.println(s"[graftbench] batch $i failed: $e")
          throw e
        }
        val (valid, bytes, file, gen, sec) = res.get
        genSec += gen
        commits += ((i, sec, valid))
        inBytes += bytes
        lateFolds += lateDays
        if (tr.on) SparkCounters.withOp(spark, s"side:batch:$i") {
          val lines = spark.read.text(file.toString).withColumnRenamed("value", "line")
          val n = tr.span("carbon.parse", s"side:batch:$i")(Carbon.parse(lines, 0L).count())
          rejected += (lines.count() - n).toDouble
          val rep = MetricStore.storeReport(spark, s.store.hot, s.store.cold).collect()
            .map(r => r.getString(0) -> r).toMap
          reports += Map(
            "store.hot_files" -> rep("hot").getLong(3).toDouble,
            "store.cold_files" -> rep("cold").getLong(3).toDouble,
            "store.hot_days" -> rep("hot").getLong(1).toDouble,
            "store.late_rows" -> rep("late").getLong(2).toDouble)
        }
      }
    } finally {
      writerEnd = System.nanoTime()
      writing = false
      reader.join()
    }
    // the stream, the store's maintenance state and the reader's last
    // request are still live here
    ctx.heap.sample()
    // ingest time ends with the writer's last commit; the writer's own
    // batch generation is not ingest time
    val wall = (writerEnd - t0) / 1e9 - genSec
    // a traced run gives every read kind at least one traced request
    if (trace.on) {
      Seq("render", "func", "find").filterNot(measured).flatMap(k => s.reqs.find(kindOf(_) == k))
        .foreach { r =>
          val i = s.nextReq | 1
          s.nextReq = i + 1
          request(i, r, s.head, trace)
        }
    }
    val inputs = ctx.out.inputs
    inputs("series") = s.paths.size
    inputs("points_per_batch") = s.paths.size * SliceS / Gen.Step
    inputs("batches") = s.nextBatch
    inputs("day_boundaries_crossed") = boundaries
    inputs("late_share") = s.heldBack.toDouble / (s.nextBatch * s.paths.size * SliceS / Gen.Step)
    inputs("rejected_lines") = s.rejected
    inputs("reader_requests") = s.nextReq - firstReq
    val requests = math.max(1L, s.nextReq - firstReq)
    val retries = s.readRetries - retriesBefore
    val points = commits.map(_._3).sum
    val commitS = commits.map(_._2).toSeq
    // a traced run's batch figures come from traced batches that carry
    // late points, the same set on every side of each division
    def tracedBatch(id: Long) = trace.pick(id).on && id >= LateLag
    val (plain, traced) = commits.toSeq.filter(c => !trace.on || c._1 >= LateLag)
      .partition(c => !tracedBatch(c._1))
    def p50ms(cs: Seq[(Int, Double, Long)]) = Main.median(cs.map(_._2 * 1000))
    def rate(cs: Seq[(Int, Double, Long)]) = cs.map(_._3).sum / cs.map(_._2).sum
    val e2e = Map(
      "latency_p50_ms" -> p50ms(plain),
      "throughput_per_s" -> (if (trace.on) rate(plain) else points / wall))
    val renders = reads.collect { case (_, r, ms) if kindOf(r) != "find" => ms }.toSeq
    val finds = reads.collect { case (_, r, ms) if kindOf(r) == "find" => ms }.toSeq
    val named = Seq(
      ("ingest_points_per_s", points / wall, "1/s"),
      ("commit_p50_s", Main.median(commitS), "s"),
      ("commit_p90_s", Main.percentile(commitS, 0.9), "s"),
      ("render_p50_ms", Main.median(renders), "ms"),
      ("find_p50_ms", Main.median(finds), "ms"),
      ("store_bytes_per_point", s.store.parquetBytes.toDouble / math.max(1L, s.validPoints), "B"),
      ("reader_retries", retries.toDouble, "count"))
    val layers = counters.fold(Map.empty[String, Double]) { c =>
      c.drain()
      val progress = c.progress.asScala.toSeq.filter(p => tracedBatch(p.batchId))
      val stream = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution").map { k =>
        s"stream.${k}_ms" -> (if (progress.isEmpty) 0.0
          else progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / progress.size)
      }.toMap
      // spark.* and op.* describe a batch here; the reader contributes
      // its own layers and its planning time
      val reqLayers = Layers.requestLayers(trace, c, Layers.tracedOp("req:"),
        reads.count(_._1 % 2 == 1), readSide.toSeq)
        .filter { case (k, _) => k == "spark.plan_ms" || !(k.startsWith("spark.") || k.startsWith("op.")) }
      val batchSpark = Layers.sparkLayers(c,
        k => k.startsWith("batch:") && k.split(':').last.toLongOption.exists(tracedBatch), traced.size)
      val reportMeans = reports.flatMap(_.toSeq).groupBy(_._1).view
        .mapValues(v => v.map(_._2).sum / v.size).toMap
      reqLayers ++ batchSpark ++ stream ++ reportMeans ++ Map(
        "spark.exec_ms" -> stream("stream.addBatch_ms"),
        "stream.jobs_per_batch" -> batchSpark("spark.jobs"),
        "carbon.parse_ms" -> trace.meanSelfMs("carbon.parse"),
        "carbon.rejected_lines" -> rejected.sum / math.max(1, rejected.size),
        "store.write_amp" -> c.totalBytesWritten.get.toDouble / math.max(1L, inBytes),
        "store.compactions" -> (MetricStore.coldDays(spark, s.store.cold).size - coldBefore).toDouble,
        "store.late_folds" -> lateFolds.toDouble,
        "store.read_retries_per_request" -> retries.toDouble / requests)
    }
    val overhead = if (!trace.on) Map.empty[String, Double] else Map(
      "latency_p50_ms" -> (p50ms(traced) - p50ms(plain)),
      "throughput_per_s" -> (rate(traced) - rate(plain)))
    Phase(e2e, named, layers, overhead)
  }

  /** After the run: deliver every point still held back, then check the
    * store holds each valid line exactly once, in this session and in a
    * fresh one, and that sampled renders of it match the reference.
    */
  def finish(ctx: Ctx, s: State): Unit = {
    val spark = ctx.spark
    val i = s.nextBatch
    val (lines, valid, _) = batch(ctx.seed, i, flushFrom = Some(math.max(0, i - LateLag)))
    s.store.publish(i, lines)
    s.store.awaitCommit()
    s.validPoints += valid
    s.store.stop()
    // the reference: every point of every slice published, held-back
    // ones included, once
    val want = s.paths.indices.map { k =>
      val ts = Start until Start + i * SliceS by Gen.Step
      val vs = ts.map(t => Gen.point(ctx.seed, k, t))
      s.paths(k) -> (vs.size.toLong, vs.sum)
    }.toMap
    def compare(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.groupBy("path").agg(count("*"), sum("value")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val total = got.values.map(_._1).sum
      ctx.out.check(s"$label: stored points", total == s.validPoints,
        s"stored $total points, published ${s.validPoints} valid")
      val bad = want.filter { case (p, (n, v)) =>
        got.get(p).forall { case (gn, gv) => gn != n || math.abs(gv - v) > 1e-6 * math.max(1.0, math.abs(v)) }
      }
      ctx.out.check(s"$label: per-path count and sum", bad.isEmpty && got.keySet == want.keySet,
        s"${bad.size} paths differ, e.g. ${bad.headOption}; extra paths ${got.keySet -- want.keySet}")
    }
    compare("live session", s.store.read())
    compare("fresh session", MetricStore.readMaintained(spark.newSession(), s.store.hot, s.store.cold))
    // sampled plain csv renders of the settled store against the reference
    val env = Cgi.Env(s.store.read(), s.pathsDf, Store.spec)
    val raw = (k: Int, ts: Long) =>
      if (ts >= Start && ts < Start + i * SliceS) Some(Gen.point(ctx.seed, k, ts)) else None
    s.reqs.filter(_.checked).filter(_.kind == "render").distinct.take(RenderChecks).foreach { r =>
      val rows = scala.util.Try(Reader.execute(spark, env, r, s.head, Trace.Off))
      ctx.out.check(s"render ${r.url}", rows.isSuccess, rows.failed.map(_.toString).getOrElse(""))
      rows.foreach(Reader.check(ctx.out, s.paths, raw, r, s.head, _))
    }
    s.pathsDf.unpersist()
    Store.deleteTree(s.store.dir)
  }
}
