package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whisper fetch(from, until): clamp the request window, select the
  * highest-precision archive that still covers `from`, quantize the
  * bounds to its grid, and return a **dense** series — one row per grid
  * interval per path, value null where no point exists
  * (/root/reference/L_DataWhisper.lua:356-411,525-552).
  *
  * The dense grid is sequence+explode over the matched paths (no driver
  * loop); the archive join is an equi-join on (path, bucket). At scale
  * the path filter is pushed into the scan before any shuffle.
  */
object Fetch {

  final case class Clamped(from: Long, until: Long, archive: Retention.Archive)

  /** Window clamping + archive selection (L_DataWhisper.lua:525-549).
    * Returns None when the range is entirely in the future or beyond
    * retention.
    */
  def select(spec: Seq[Retention.Archive], fromTime: Long, untilTime0: Long,
             now: Long): Option[Clamped] =
    select(spec, fromTime, untilTime0, now, None)

  /** Budget-aware form: with `maxPoints` (the render's maxDataPoints),
    * selection starts from the finest archive covering `from` (the
    * plain rule) and then walks COARSER while the coarser archive
    * still yields at least `maxPoints` grid points — the client asked
    * for ≤ maxPoints, so any archive with ≥ that many points carries
    * full answer resolution, and the coarsest such level is 6-60×
    * less data per cascade step (the stored-archive scan reads that
    * level directly — [[MetricStore.fetchStored]]). Never coarser
    * than the budget: an archive with FEWER points than the budget
    * would lose resolution the client paid for, so when even the
    * finest covering archive is under budget it is kept unchanged
    * (and render-time consolidation becomes the identity).
    */
  def select(spec: Seq[Retention.Archive], fromTime: Long, untilTime0: Long,
             now: Long, maxPoints: Option[Int]): Option[Clamped] = {
    require(fromTime <= untilTime0, s"Invalid time interval: from $fromTime after until $untilTime0")
    def oldest(a: Retention.Archive): Long =
      (now - now % a.secondsPerPoint) - a.retention + a.secondsPerPoint
    val oldestTime = oldest(spec.last)
    if (fromTime > now || untilTime0 < oldestTime) None
    else {
      val from = math.max(fromTime, oldestTime)
      val until = math.min(untilTime0, now)
      val finest = spec.find(a => oldest(a) <= from).getOrElse(spec.last)
      val archive = maxPoints.filter(_ > 0) match {
        case Some(budget) =>
          val window = until - from
          spec.drop(spec.indexOf(finest)).reverse
            .find(a => a.secondsPerPoint * budget.toLong <= window)
            .getOrElse(finest)
        case None => finest
      }
      Some(Clamped(from, until, archive))
    }
  }

  /** Dense fetch where the grid's path set comes from an explicit paths
    * DataFrame (one `path` column) — a metric *index*, independent of
    * which paths happen to have data inside the window. A Whisper file
    * exists (and fetch returns all-null) even when the range is empty
    * (L_DataWhisper.lua:525-552); deriving the grid from a time-pruned
    * scan would silently drop idle metrics.
    */
  def fetchDensePaths(pathsDf: DataFrame, archive: DataFrame, step: Long,
                      from: Long, until: Long): DataFrame = {
    val fromQ = from - from % step
    val untilQ = until - until % step
    val grid = pathsDf.select(col("path")).distinct()
      .select(col("path"), explode(sequence(lit(fromQ), lit(untilQ), lit(step))).as("t"))
    val arch = archive.select(col("path").as("a_path"), col("bucket"), col("value"))
    grid.join(arch, col("path") === col("a_path") && col("t") === col("bucket"), "left")
      .select(col("path"), col("t"), col("value"))
  }

  /** Missing-value policy implied by the aggregation method
    * (L_DataGraph.lua:172-173): `average` leaves gaps null, `sum` reads
    * a gap as zero, `last`/`max`/`min` hold the previous value. A
    * RENDER-time presentation rule in the reference — L_DataGraph's svg
    * path applies it (L_DataGraph.lua:221-230) while csv/json renders
    * emit the raw fetch nulls (graphite_cgi.lua:316-370) — so `fetch`
    * returns raw nulls and only `Render.svg` fills.
    */
  def gapPolicy(method: String): String = method match {
    case "sum"                  => "zero"
    case "last" | "max" | "min" => "hold"
    case _                      => "null"
  }

  /** Drawing mode implied by the aggregation method (L_DataGraph.lua:172):
    * `average` connects points, everything else is a staircase.
    */
  def drawMode(method: String): String =
    if (method == "average") "connected" else "staircase"

  /** Apply a gap policy to a dense (path, t, value) series. `hold` is a
    * per-path carry-forward window — the partition is one metric's rows
    * inside one fetch window (grid-sized, thousands of rows at most), so
    * the sort never concentrates the dataset on one task.
    */
  def fillGaps(dense: DataFrame, policy: String): DataFrame = policy match {
    case "zero" => dense.withColumn("value", coalesce(col("value"), lit(0.0)))
    case "hold" =>
      val w = Window.partitionBy(col("path")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.withColumn("value", last(col("value"), ignoreNulls = true).over(w))
    case _ => dense
  }

  /** The (path, t, value) schema every fetch returns — also for the
    * out-of-range empty result, so callers (render, unionByName over
    * targets, fetchRouted's projection) never see a schemaless frame.
    */
  val FetchSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("path", StringType), StructField("t", LongType),
      StructField("value", DoubleType)))
  }

  /** Empty series WITH the fetch schema (a stale-but-valid window must
    * return no rows, not crash the plan).
    */
  def emptyFetch(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), FetchSchema)

  /** End-to-end fetch for a glob target over raw metrics: filter paths
    * (scan-pushed rlike), build the archive cascade, select the archive
    * for the window, return the dense series with RAW nulls at gaps —
    * exactly what the reference's whisper fetch returns
    * (L_DataWhisper.lua:525-552); gap fill is svg-render presentation
    * (see gapPolicy).
    */
  def fetch(spark: SparkSession, metrics: DataFrame, target: String,
            spec: Seq[Retention.Archive], method: String, xff: Double,
            fromTime: Long, untilTime: Long, now: Long,
            maxPoints: Option[Int] = None): DataFrame = {
    val regex = Glob.queryToRegex(target, allowDeeper = false)
    val matched = metrics.filter(col("path").rlike(regex))
    select(spec, fromTime, untilTime, now, maxPoints) match {
      case None => emptyFetch(spark)
      case Some(Clamped(from, until, archive)) =>
        val idx = spec.indexOf(archive)
        val arch = Rollup.archives(matched, spec.take(idx + 1), method, xff).last
        // grid paths come from the MATCHED raw scan, not the archive:
        // a path whose every bucket failed xFilesFactor at this level
        // must still return all-null rows (the whisper file exists,
        // L_DataWhisper.lua:525-552). This also leaves the archive plan
        // referenced once — no cache to pin.
        fetchDensePaths(matched.select(col("path")).distinct(), arch,
          archive.secondsPerPoint, from, until)
    }
  }

  /** Fetch for an EXPLICIT path set (one `path` column) instead of a
    * glob — the `seriesByTag` seam: the tag index resolves to a K-row
    * path list (metadata), which broadcast-semi-joins against the scan,
    * so selection cost never touches the datapoint side and the plan
    * is ONE scan regardless of how many series matched (the same
    * single-scan discipline as the brace-glob fetch). The dense grid's
    * path set is the REQUESTED list itself: a known series returns
    * all-null rows when the window is empty, exactly as a whisper file
    * that exists (L_DataWhisper.lua:525-552).
    */
  def fetchByPaths(spark: SparkSession, metrics: DataFrame, paths: DataFrame,
                   spec: Seq[Retention.Archive], method: String, xff: Double,
                   fromTime: Long, untilTime: Long, now: Long,
                   maxPoints: Option[Int] = None): DataFrame = {
    val wanted = paths.select(col("path")).distinct()
    val matched = metrics.join(broadcast(wanted), Seq("path"), "left_semi")
    select(spec, fromTime, untilTime, now, maxPoints) match {
      case None => emptyFetch(spark)
      case Some(Clamped(from, until, archive)) =>
        val idx = spec.indexOf(archive)
        val arch = Rollup.archives(matched, spec.take(idx + 1), method, xff).last
        fetchDensePaths(wanted, arch, archive.secondsPerPoint, from, until)
    }
  }
}
