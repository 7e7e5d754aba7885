package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.tsdb.{Api, Cgi, Fetch, Render, TargetExpr}

/** The dashboard read path: one request through `Cgi.dispatch`, its
  * check against the plain-Scala reference, and, in a traced phase, the
  * per-layer side measurements.
  */
object Reader {

  /** Dispatch and execute one request; the spans split it into the
    * dispatch call, forced planning and execution.
    */
  def execute(spark: SparkSession, env: Cgi.Env, r: Gen.Request, now: Long,
              trace: Trace): Array[Row] = {
    val df = trace.span("cgi.dispatch")(Cgi.dispatch(spark, env, r.url, now))
    if (trace.on) trace.span("spark.plan")(df.queryExecution.executedPlan)
    trace.span("spark.exec")(df.collect())
  }

  /** Compare a checked request's answer with the reference: `raw(k, ts)`
    * is series `k`'s stored point. Returns whether it matched.
    */
  def check(out: Outcome, paths: IndexedSeq[String], raw: (Int, Long) => Option[Double],
            r: Gen.Request, now: Long, rows: Array[Row]): Boolean =
    r.kind match {
      case "find" =>
        val got = rows.map(x => (x.getAs[String]("id"), x.getAs[Long]("leaf"))).toSet
        val want = Reference.find(paths, r.target)
        val ok = got == want && rows.length == want.size
        out.check(s"find ${r.target}", ok, s"got ${got.size} nodes, want ${want.size}")
        ok
      case "expand" =>
        val got = rows.map(_.getString(0)).toSet
        val want = Reference.expand(paths, r.target, r.format == "leaves")
        val ok = got == want && rows.length == want.size
        out.check(s"expand ${r.target}", ok, s"got ${got.size} paths, want ${want.size}")
        ok
      case _ =>
        val from = (now - r.windowS * 0.998).toLong
        val want = Reference.matching(paths, r.target).sorted.flatMap { p =>
          val k = paths.indexOf(p)
          Reference.fetchSeries(Store.spec, 0.5, raw(k, _), from, now, now)
            .map { case (t, v) => (p, t, v) }
        }
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        val got = rows.map { x =>
          (x.getString(0), java.time.LocalDateTime.parse(x.getString(1), fmt)
            .toEpochSecond(java.time.ZoneOffset.UTC), Option(x.get(2)).map(_.asInstanceOf[Double]))
        }.toSeq
        val bad = got.size != want.size || got.zip(want).exists { case ((gp, gt, gv), (wp, wt, wv)) =>
          gp != wp || gt != wt || gv.isDefined != wv.isDefined ||
            gv.zip(wv).exists { case (a, b) => math.abs(a - b) > 1.0001e-4 }
        }
        out.check(s"render ${r.url}", !bad, s"got ${got.size} rows, want ${want.size}; " +
          got.zip(want).find(x => x._1 != x._2).fold("")(x => s"first difference ${x._1} vs ${x._2}"))
        !bad
    }

  /** Per-layer side measurements for one request, outside its latency:
    * find alone, each glob's fetch alone, the formatter over a cached
    * fetch, and the pipeline's own time net of its fetches.
    */
  def sideMeasure(spark: SparkSession, env: Cgi.Env, r: Gen.Request, now: Long,
                  trace: Trace): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    r.kind match {
      case "find" | "expand" =>
        val df = Api.find(env.paths, r.target)
        val rows = trace.span("find")(df.collect())
        out += "find.paths_examined_per_result" ->
          SparkCounters.leafRows(df.queryExecution.executedPlan) / math.max(1, rows.length)
      case kind =>
        val from = (now - r.windowS * 0.998).toLong
        val budget = if (kind == "render") r.maxDp else None
        r.globs.foreach { g =>
          val df = Fetch.fetch(spark, env.metrics, g, env.spec, env.method, env.xff, from, now, now, budget)
          val n = trace.span("fetch")(df.collect().length)
          out += "fetch.rows_scanned_per_row_returned" ->
            SparkCounters.leafRows(df.queryExecution.executedPlan) / math.max(1, n)
          Fetch.select(env.spec, from, now, now, budget)
            .foreach(c => out += "fetch.archive_step" -> c.archive.secondsPerPoint.toDouble)
          if (kind == "render") {
            val cached = df.cache()
            cached.count()
            trace.span("render.format") {
              (if (r.format == "csv") Render.csv(cached) else Render.json(cached)).collect()
            }
            cached.unpersist()
          }
        }
        if (kind == "func") {
          val cached = mutable.ArrayBuffer.empty[DataFrame]
          val fetchAt = (g: String, shift: Long) => trace.span("fetch.materialize") {
            val d = Fetch.fetch(spark, env.metrics, g, env.spec, env.method, env.xff,
              from + shift, now + shift, now).cache()
            d.count()
            cached += d
            d
          }
          trace.span("functions") {
            TargetExpr.evalTargetAt(r.target, fetchAt, None,
              Some(TargetExpr.WindowEnv(spark, from, now))).collect()
          }
          cached.foreach(_.unpersist())
        }
    }
    out.toSeq
  }
}
