package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caching._

/** Reader (and fixture writer) for the reference's on-disk Whisper
  * files — the data a migrating DataYours user actually has.
  *
  * The reference re-implements whisper with a TEXT pack, not binary
  * (L_DataWhisper.lua:70-85): every field is fixed-width printf text,
  * comma-separated, with each pack unit newline-terminated —
  * `L`→`%11d`, `f`→`%11.5g`, `d`→`%23.15g`, +1 separator per field. So
  *   metadata  "!2LfL" = 48 bytes  (aggregationType, maxRetention,
  *                                  xFilesFactor, archiveCount)
  *   archive   "!3L"   = 36 bytes  (offset, secondsPerPoint, points)
  *   point     "!Ld"   = 36 bytes  (interval, value)
  * (L_DataWhisper.lua:157-160). Archives are ring buffers: slot =
  * floor(t / spp) % points (calc_offset, L_DataWhisper.lua:339-344);
  * `create` zero-fills every slot with (0,0) (L_DataWhisper.lua:
  * create), so a live slot is exactly ts ≠ 0. Unpack tokenizes on
  * commas/control chars and numbers each token — `nil` fields parse to
  * no value (struct.unpack, L_DataWhisper.lua:123-131).
  *
  * Distributed shape: `read` uses the binaryFile source (one row per
  * file, files spread across partitions) and a typed flatMap for the
  * text-codec parse — the same justified escape hatch as the
  * multimodal decode; whisper files are retention-bounded (KB-MB), so
  * per-row work is bounded no matter how many million files the glob
  * matches.
  */
object Whisper {

  val PointSize = 36
  val MetadataSize = 48
  val ArchiveInfoSize = 36

  /** aggregationTypeToMethod, 1-based (L_DataWhisper.lua:194-200). */
  val aggregationTypeToMethod = Vector("average", "sum", "last", "max", "min")

  final case class ArchiveInfo(offset: Int, secondsPerPoint: Long, points: Int)
  final case class Header(aggregationMethod: String, maxRetention: Long,
                          xFilesFactor: Double, archives: Seq[ArchiveInfo])

  // ---- text-struct pack (writer side; L_DataWhisper.lua struct.pack) ----

  private def fmtL(v: Long): String = f"$v%11d"
  private def fmtF(v: Double): String = formatG(v, 5, 11)
  private def fmtD(v: Double): String = formatG(v, 15, 23)

  /** C-printf `%w.pg` (Lua's string.format) — Java's %g never strips
    * trailing zeros, so render both candidates and mimic C: shortest of
    * %e/%f at the given significant digits, zeros stripped.
    */
  private def formatG(v: Double, sig: Int, width: Int): String = {
    val s =
      if (v.isNaN) "nan"
      else if (v.isInfinite) { if (v > 0) "inf" else "-inf" }
      else {
        val exp = if (v == 0.0) 0 else math.floor(math.log10(math.abs(v))).toInt
        // Locale.ROOT: a comma-decimal default locale would render the
        // value's decimal point as the pack format's FIELD separator,
        // silently corrupting every later field in the file
        if (exp < -4 || exp >= sig) {
          val e = String.format(java.util.Locale.ROOT, s"%.${sig - 1}e", Double.box(v))
          val Array(m, x) = e.split("e")
          val mm = if (m.contains('.')) m.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else m
          s"$mm" + "e" + (if (x.startsWith("-")) "-" else "+") +
            f"${math.abs(x.toInt)}%02d"
        } else {
          val f = String.format(java.util.Locale.ROOT,
            s"%.${math.max(0, sig - 1 - exp)}f", Double.box(v))
          if (f.contains('.')) f.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else f
        }
      }
    (" " * math.max(0, width - s.length)) + s
  }

  // formatG pads to width but cannot truncate: a field rendering WIDER
  // than its slot (ts > 11 digits, extreme value) would silently shift
  // every later ring slot. Fail loudly instead of corrupting the file.
  private def sized(s: String, n: Int, what: String): String = {
    require(s.length == n, s"packed $what is ${s.length} bytes, want $n: '$s'")
    s
  }
  def packPoint(ts: Long, value: Double): String =
    sized(s"${fmtL(ts)},${fmtD(value)}\n", PointSize, "point")
  def packMetadata(aggregationType: Int, maxRetention: Long, xff: Double,
                   archiveCount: Int): String =
    sized(s"${fmtL(aggregationType)},${fmtL(maxRetention)},${fmtF(xff)},${fmtL(archiveCount)}\n",
      MetadataSize, "metadata")
  def packArchiveInfo(offset: Int, spp: Long, points: Int): String =
    sized(s"${fmtL(offset)},${fmtL(spp)},${fmtL(points)}\n", ArchiveInfoSize, "archiveInfo")

  // ---- unpack (reader side; struct.unpack tokenization) ----

  private def tokens(region: String): Array[Option[Double]] =
    region.split("[,\\x00-\\x1f]+").filter(_.trim.nonEmpty).map { t =>
      val s = t.trim
      try Some(s.toDouble) catch { case _: NumberFormatException => None }
    }

  def parseHeader(bytes: Array[Byte]): Header = {
    val meta = tokens(new String(bytes, 0, MetadataSize, US_ASCII)).flatten
    require(meta.length == 4, s"bad whisper metadata (${meta.length} fields)")
    val archiveCount = meta(3).toInt
    val archives = (0 until archiveCount).map { i =>
      val off = MetadataSize + i * ArchiveInfoSize
      val a = tokens(new String(bytes, off, ArchiveInfoSize, US_ASCII)).flatten
      require(a.length == 3, s"bad archiveInfo $i")
      ArchiveInfo(a(0).toInt, a(1).toLong, a(2).toInt)
    }
    // unknown/corrupt aggregationType degrades to 'average' (the
    // reference's `aggregationTypeToMethod[t] or 'average'`) instead of
    // one bad file killing a whole tree read
    Header(aggregationTypeToMethod.lift(meta(0).toInt - 1).getOrElse("average"),
      meta(1).toLong, meta(2), archives)
  }

  /** All live points of one archive: slots whose stored interval ≠ 0
    * (create zero-fills; update always writes the real interval).
    */
  def archivePoints(bytes: Array[Byte], ai: ArchiveInfo): Seq[(Long, Double)] = {
    val region = new String(bytes, ai.offset, ai.points * PointSize, US_ASCII)
    val toks = tokens(region)
    (0 until ai.points).flatMap { i =>
      (toks(2 * i), toks(2 * i + 1)) match {
        case (Some(ts), Some(v)) if ts != 0.0 => Some((ts.toLong, v))
        case _ => None
      }
    }
  }

  /** Every live (archive, ts, value) of one file, highest precision
    * first (archives are created precision-sorted).
    */
  def filePoints(bytes: Array[Byte]): Seq[(Int, Long, Long, Double)] = {
    val h = parseHeader(bytes)
    h.archives.zipWithIndex.flatMap { case (ai, i) =>
      archivePoints(bytes, ai).map { case (ts, v) => (i, ai.secondsPerPoint, ts, v) }
    }
  }

  // ---- local-file writer (migration fixtures / round-trip tests) ----

  /** Assemble one complete .wsp file: the create() layout (header +
    * zero-filled rings) with `pts` = (archiveIdx, interval, value)
    * patched into their ring slots. Intervals must be pre-quantized
    * and inside each archive's retention window (the caller filters),
    * so no two points alias one slot.
    */
  def fileBytes(archives: Seq[(Long, Int)], xff: Double, method: String,
                pts: Iterator[(Int, Long, Double)]): Array[Byte] = {
    val aggType = aggregationTypeToMethod.indexOf(method) + 1
    require(aggType > 0, s"unknown aggregation method $method")
    val maxRetention = archives.map { case (spp, n) => spp * n }.max
    val sb = new StringBuilder
    sb.append(packMetadata(aggType, maxRetention, xff, archives.length))
    var offset = MetadataSize + ArchiveInfoSize * archives.length
    val infos = archives.map { case (spp, n) =>
      val ai = ArchiveInfo(offset, spp, n)
      offset += n * PointSize
      ai
    }
    infos.foreach(ai => sb.append(packArchiveInfo(ai.offset, ai.secondsPerPoint, ai.points)))
    val zero = packPoint(0L, 0.0)
    archives.foreach { case (_, n) => (0 until n).foreach(_ => sb.append(zero)) }
    val bytes = sb.toString.getBytes(US_ASCII)
    pts.foreach { case (a, interval, v) => writeSlot(bytes, infos(a), interval, v) }
    bytes
  }

  /** whisper.create (L_DataWhisper.lua): header + zero-filled slots.
    * Archives must be precision-ascending (validateArchiveList).
    */
  def create(path: String, archives: Seq[(Long, Int)], xff: Double,
             method: String): Unit =
    Files.write(Paths.get(path), fileBytes(archives, xff, method, Iterator.empty))

  /** Overwrite one ring slot in place (calc_offset arithmetic,
    * L_DataWhisper.lua:339-344).
    */
  private def writeSlot(bytes: Array[Byte], ai: ArchiveInfo, interval: Long,
                        value: Double): Unit = {
    val slot = ((interval / ai.secondsPerPoint) % ai.points).toInt
    val packed = packPoint(interval, value).getBytes(US_ASCII)
    System.arraycopy(packed, 0, bytes, ai.offset + slot * PointSize, PointSize)
  }

  /** Read one ring slot; Some(value) only when the stored interval is
    * the requested one (a wrapped ring holds other cycles' points).
    */
  private def readSlot(bytes: Array[Byte], ai: ArchiveInfo, interval: Long): Option[Double] = {
    val slot = ((interval / ai.secondsPerPoint) % ai.points).toInt
    val toks = tokens(new String(bytes, ai.offset + slot * PointSize, PointSize, US_ASCII))
    (toks.lift(0).flatten, toks.lift(1).flatten) match {
      case (Some(ts), Some(v)) if ts.toLong == interval && interval != 0L => Some(v)
      case _ => None
    }
  }

  /** aggregate() over one lower interval's known higher-archive values,
    * in slot order (L_DataWhisper.lua:202-213).
    */
  private def aggregateVals(method: String, vals: Seq[Double]): Double = method match {
    case "average" => vals.sum / vals.size
    case "sum" => vals.sum
    case "last" => vals.last
    case "max" => vals.max
    case "min" => vals.min
    case other => throw new IllegalArgumentException(s"Unrecognized aggregation method $other")
  }

  /** whisper.update with lower-archive propagation (the reference's
    * full update path: L_DataWhisper.lua:493-523, propagate 469-491):
    * write the highest-precision archive whose retention covers `ts`,
    * then for each coarser archive aggregate the covering higher-
    * archive slots and write the lower interval only when
    * known/expected ≥ xff — the chain stops at the first interval that
    * fails, exactly like the reference. (Divergence guard: an interval
    * with ZERO known values never writes, even at xff = 0, where the
    * reference would aggregate an empty list into nan.)
    */
  def updatePropagate(path: String, ts: Long, value: Double, now: Long): Unit = {
    val p = Paths.get(path)
    val bytes = Files.readAllBytes(p)
    val h = parseHeader(bytes)
    val diff = now - ts
    require(diff < h.maxRetention && diff >= 0,
      "Timestamp not covered by any archives in this database.")
    val idx = h.archives.indexWhere(ai => ai.secondsPerPoint * ai.points >= diff)
    val first = h.archives(idx)
    val myInterval = ts - ts % first.secondsPerPoint
    writeSlot(bytes, first, myInterval, value)
    var higher = first
    var ok = true
    for (lower <- h.archives.drop(idx + 1) if ok) {
      val lowerInterval = myInterval - myInterval % lower.secondsPerPoint
      val n = (lower.secondsPerPoint / higher.secondsPerPoint).toInt
      val known = (0 until n).flatMap(i =>
        readSlot(bytes, higher, lowerInterval + i * higher.secondsPerPoint))
      ok = known.nonEmpty && known.size.toDouble / n >= h.xFilesFactor
      if (ok) {
        writeSlot(bytes, lower, lowerInterval, aggregateVals(h.aggregationMethod, known))
        higher = lower
      }
    }
    Files.write(p, bytes)
  }

  // ---- parquet → .wsp export (reverse migration) ----

  /** Materialize raw (path, ts, value) metrics as a tree of
    * reference-format .wsp files — one per metric path, every archive
    * level of `spec` filled with the xff-propagated rollup cascade
    * (the same Rollup.archives pipeline MetricStore materializes as
    * parquet; the reference builds the identical state per-point in
    * update/propagate, L_DataWhisper.lua:469-523). Closes the reverse
    * migration loop: a user can leave for the reference's on-disk
    * format as losslessly as they arrived (modulo the format's own
    * %23.15g 15-significant-digit value pack).
    *
    * Plan shape: the cascade is the shared declarative rollup; each
    * level keeps only buckets inside its retention window from `now`
    * (ring semantics — older buckets would alias live slots); file
    * assembly is ONE groupByKey over path whose per-group volume is
    * bounded by Σ archive points (the retention spec), never by corpus
    * size. Executors write the files, so the export scales out
    * provided `dir` is shared storage. Returns the file count.
    */
  def export(spark: SparkSession, metrics: DataFrame, dir: String,
             spec: Seq[graft.tsdb.Retention.Archive], method: String,
             xff: Double, now: Long): Long = {
    import spark.implicits._
    val levels = graft.tsdb.Rollup.archives(metrics, spec, method, xff)
    val rows = levels.zip(spec).zipWithIndex.map { case ((lvl, a), i) =>
      val oldest = now - now % a.secondsPerPoint - a.retention + a.secondsPerPoint
      lvl.filter(col("bucket") >= oldest && col("bucket") <= lit(now))
        .select(col("path"), lit(i).as("archive"), col("bucket"), col("value"))
    }.reduce(_ unionByName _)
    val archList = spec.map(a => (a.secondsPerPoint, a.points.toInt))
    Files.createDirectories(Paths.get(dir))
    rows
      // a metric path containing the filesystem separator cannot be a
      // flat .wsp file name — and unfiltered it would traverse OUT of
      // `dir` (paths originate from untrusted carbon lines)
      .filter(!col("path").contains("/") && !col("path").contains("\\"))
      .as[(String, Int, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (path, it) =>
        val bytes = fileBytes(archList, xff, method, it.map { case (_, a, t, v) => (a, t, v) })
        Files.write(Paths.get(dir, s"$path.wsp"), bytes)
        path
      }.count()
  }

  /** whisper.update for ONE archive (the highest-precision one, index
    * `archive`): quantize, seek the ring slot, overwrite in place.
    */
  def update(path: String, ts: Long, value: Double, archive: Int = 0): Unit = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val ai = parseHeader(bytes).archives(archive)
    writeSlot(bytes, ai, ts - ts % ai.secondsPerPoint, value)
    Files.write(Paths.get(path), bytes)
  }

  // ---- the Spark source ----

  /** Read every `*.wsp` under `dir` into (path, archive, spp, ts,
    * value) rows; the metric path is the file name minus `.wsp` (the
    * reference stores flat dotted file names, e.g.
    * `Vera-12345678.D.srv.var.wsp`).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wsp")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val metric = file.split('/').last.stripSuffix(".wsp")
        filePoints(bytes).map { case (a, spp, ts, v) => (metric, a, spp, ts, v) }
      }
      .toDF("path", "archive", "spp", "ts", "value")
  }

  /** Whisper fetch straight off a .wsp tree, with PER-FILE archive
    * selection from each file's own header — unlike `Fetch.fetch`'s
    * single shared retention spec, a real whisper dir mixes schemas.
    * Same semantics as Fetch.select/fetchDensePaths (oracle-verified B8):
    * clamp [from, until] to the coarsest archive's oldest slot and
    * `now`, choose the highest-precision archive still covering the
    * clamped `from` (fall back to the coarsest), quantize bounds,
    * return the dense per-grid-slot series with null gaps.
    *
    * Everything after the file scan is declarative: the per-path clamp
    * is one aggregate over the header rows, archive choice is a min_by
    * (eligible archives by precision, else the coarsest), and the grid
    * is sequence+explode — no driver loop, so a million-file tree
    * fetches as one plan.
    *
    * Cache lifecycle: the filtered file scan is cached (headers +
    * points read it twice) and not unpersisted — long-lived callers
    * should `spark.catalog.clearCache()` between invocations (see the
    * note on [[graft.dedup.Dedup]]).
    */
  def fetchFiles(spark: SparkSession, dir: String, target: String,
                 fromTime: Long, untilTime: Long, now: Long): DataFrame = {
    import graft.tsdb.Glob
    // the reference raises 'Invalid time interval' up front
    // (as Fetch.select does); an inverted window would otherwise
    // survive the clamp and explode sequence() mid-job on an executor
    require(fromTime <= untilTime,
      s"invalid time interval: from=$fromTime > until=$untilTime")
    val regex = Glob.queryToRegex(target, allowDeeper = false)
    // headers feed BOTH the clamp aggregate and the archive-selection
    // join — cached so the binaryFile scan (full file contents) runs
    // once, not twice
    val inf = info(spark, dir).filter(col("path").rlike(regex))
      .withColumn("oldest",
        lit(now) - lit(now) % col("spp") - col("retention") + col("spp"))
      .cachedOnce
    // the file is read twice (headers + points): one cached scan
    val pts = read(spark, dir).filter(col("path").rlike(regex)).cachedOnce
    val clamp = inf.groupBy(col("path"))
      .agg(max_by(col("oldest"), col("retention")).as("oldest_last"))
      .filter(lit(fromTime) <= lit(now) && lit(untilTime) >= col("oldest_last"))
      .select(col("path"),
        greatest(lit(fromTime), col("oldest_last")).as("from_c"),
        least(lit(untilTime), lit(now)).as("until_c"))
    // first archive (precision-ascending) whose oldest covers from_c;
    // if none qualifies, the coarsest: rank ineligible rows after all
    // eligible ones and by DESCENDING spp so min_by lands on the last
    val sel = inf.join(clamp, "path")
      .groupBy(col("path"), col("from_c"), col("until_c"))
      .agg(min_by(struct(col("archive"), col("spp")),
        when(col("oldest") <= col("from_c"),
          struct(lit(0).as("e"), col("spp").as("k")))
          .otherwise(struct(lit(1).as("e"), (-col("spp")).as("k")))).as("a"))
      .select(col("path"), col("from_c"), col("until_c"),
        col("a.archive").as("sel_archive"), col("a.spp").as("sel_spp"))
    val grid = sel.select(col("path"), col("sel_archive"), col("sel_spp"),
      explode(sequence(
        col("from_c") - col("from_c") % col("sel_spp"),
        col("until_c") - col("until_c") % col("sel_spp"),
        col("sel_spp"))).as("t"))
    grid.join(
        pts.select(col("path").as("p_path"), col("archive"), col("ts"), col("value")),
        col("path") === col("p_path") && col("sel_archive") === col("archive") &&
          col("t") === col("ts"),
        "left")
      .select(col("path"), col("t"), col("value"))
  }

  /** Header info per file — the `ts_info`-shaped view of a whisper
    * tree (path, method, xff, per-archive retention rows).
    */
  def info(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wsp")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val metric = file.split('/').last.stripSuffix(".wsp")
        val h = parseHeader(bytes)
        h.archives.zipWithIndex.map { case (ai, i) =>
          (metric, h.aggregationMethod, h.xFilesFactor, i, ai.secondsPerPoint,
            ai.points, ai.secondsPerPoint * ai.points)
        }
      }
      .toDF("path", "method", "xff", "archive", "spp", "points", "retention")
  }
}
