package graft.tsdb

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Materialized metric storage — the 100 TB posture (SURVEY.md §6).
  *
  * Raw points and each rollup archive persist as parquet partitioned by
  * day bucket, so a fetch prunes partitions by time range before any IO,
  * and the path predicate reaches the parquet scan: globs compile to an
  * `rlike` PLUS a literal-prefix `startswith` conjunct — parquet can't
  * push regexes, but it pushes StringStartsWith, which covers the
  * common `host.cpu.*`-shaped queries' IO.
  */
object MetricStore {

  val DaySeconds = 86400L

  /** Materialize the whole archive cascade under `root/step=<s>/`,
    * each level day-partitioned and derived from the previous level,
    * plus the metric path index at `root/paths` (the finder tree's
    * backing set — metadata-sized even at 100 TB, and the source of a
    * fetch's grid so idle metrics still return their null rows).
    */
  def writeArchives(metrics: DataFrame, spec: Seq[Retention.Archive],
                    method: String, xff: Double, root: String): Unit = {
    val spark = metrics.sparkSession
    // each level is written once, then the NEXT propagation reads the
    // parquet just written: lazy Rollup.archives plans all chain from
    // the raw scan, so writing them directly would re-execute level j
    // (L - j) times — quadratic repeated shuffle work at 100 TB
    var prev: DataFrame = null
    var prevStep = 0L
    spec.zipWithIndex.foreach { case (a, i) =>
      val level =
        if (i == 0) Rollup.rollup(metrics, a.secondsPerPoint, method)
        else Rollup.propagate(prev, prevStep, a.secondsPerPoint, method, xff)
      level
        .withColumn("day", col("bucket") - col("bucket") % DaySeconds)
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite")
        .parquet(s"$root/step=${a.secondsPerPoint}")
      prev = spark.read.parquet(s"$root/step=${a.secondsPerPoint}")
      prevStep = a.secondsPerPoint
    }
    metrics.select(col("path")).distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"$root/paths")
  }

  /** Glob → scan-pushable predicate: rlike for exactness, plus the
    * glob's literal prefix as a startswith conjunct (pushed as
    * StringStartsWith; EqualTo when the glob has no metacharacters).
    */
  def pathPredicate(target: String): Column = {
    val metaIdx = target.indexWhere(c => "*?{".indexOf(c) >= 0)
    val exact = col("path").rlike(Glob.queryToRegex(target, allowDeeper = false))
    if (metaIdx < 0) col("path") === target
    else if (metaIdx > 0) col("path").startsWith(target.substring(0, metaIdx)) && exact
    else exact
  }

  /** B16: the SCHEMA-DRIVEN store — the reference's carbon daemon
    * creates each whisper file from its FIRST matching storage-schemas
    * and storage-aggregation rules (L_DataCache.lua:55-76 via
    * [[Conf.storageMatch]]; the single-spec [[writeArchives]] is the
    * one-rule special case). The same conf tables drive the parquet
    * store: paths partition into RULE GROUPS — the distinct
    * (retentions, method, xff) combos the rule tables produce, K of
    * them because confs are human-written — each group's cascade
    * materializes under `root/grp=<i>/` by writeArchives with ITS
    * parameters, and the top-level `root/paths` index carries
    * (path, grp, retentions, agg_method, xff), so a fetch resolves a
    * target's groups as K-row METADATA before any datapoint scan.
    * Returns the combo table in group order (grp i = combos(i)).
    */
  def writeArchivesConf(metrics: DataFrame, schemas: Seq[Conf.SchemaEntry],
                        aggs: Seq[Conf.AggEntry],
                        root: String): Seq[(String, String, Double)] = {
    val matched = Conf.storageMatch(col("path"), schemas, aggs)
    val annotated = metrics.select(col("path"), col("ts"), col("value"),
      matched(1), matched(2), matched(3)) // retentions, agg_method, xff
    val combos = annotated.select(col("retentions"), col("agg_method"), col("xff"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(c => (c._1, c._2, c._3)).toSeq
    combos.zipWithIndex.foreach { case ((ret, method, xff), i) =>
      val sub = annotated
        .filter(col("retentions") === ret && col("agg_method") === method &&
          col("xff") === xff)
        .select(col("path"), col("ts"), col("value"))
      writeArchives(sub, Retention.parse(ret), method, xff, s"$root/grp=$i")
    }
    val grpCol = combos.zipWithIndex.map { case ((ret, method, xff), i) =>
      when(col("retentions") === ret && col("agg_method") === method &&
        col("xff") === xff, lit(i))
    }.reduce((a, b) => coalesce(a, b))
    annotated.select(col("path"), col("retentions"), col("agg_method"),
        col("xff")).distinct()
      .withColumn("grp", grpCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/paths")
    combos
  }

  /** Fetch from the schema-driven store: the target's matching paths
    * resolve their rule groups off the K-row index (metadata — the
    * same list graphite derives from its file tree), then each group
    * runs [[fetchStored]] under ITS retention spec (archive selection,
    * pruned scan, dense grid over the group's own path set) and the
    * groups union. Different groups legitimately answer on different
    * grids — per-path retention IS per-path grids, whisper's own
    * semantics (each .wsp carries its own archives).
    */
  def fetchStoredConf(spark: SparkSession, root: String, target: String,
                      fromTime: Long, untilTime: Long, now: Long,
                      maxPoints: Option[Int] = None): DataFrame = {
    val combos = spark.read.parquet(s"$root/paths")
      .filter(pathPredicate(target))
      .select(col("grp"), col("retentions")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    if (combos.isEmpty) Fetch.emptyFetch(spark)
    else combos.map { case (grp, ret) =>
      fetchStored(spark, s"$root/grp=$grp", Retention.parse(ret), target,
        fromTime, untilTime, now, maxPoints)
    }.reduce(_ unionByName _)
  }

  // ---- G26: the MAINTAINED store — hot appends + cold generations
  //
  // Layout: the stream appends to `hot/day=D/…`; every closed or
  // rewritten day lives in `cold/day=D/gen=G/`, one (path, ts)-sorted
  // file per generation. Nothing a reader may have listed is ever
  // rewritten in place: each rewrite of a day is a NEW generation,
  // written under `cold/_staging` and published by one rename
  // ([[compactTick]]), and replaced copies go only in a later tick's
  // [[sweep]]. [[compactTick]] is the only writer of published days:
  // the maintained tick, the G6 upsert store (cold only, no hot half)
  // and B15's compaction of a plain `partitionBy("day")` store (read
  // as the hot half) all publish through it.

  /** The one schema of every maintained-store read, hot or cold. */
  private val PointSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("ts", LongType),
    StructField("value", DoubleType), StructField("day", LongType)))

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The day set of ANY day-partitioned store — K-row metadata read off
    * the directory names (one listing, never a data scan), so no
    * maintenance decision ever pays a data scan of the store it
    * maintains.
    */
  def dayDirs(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = hadoopFs(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("day=") => n.stripPrefix("day=").toLong }
      .sorted
  }

  /** One listing of the maintained store: every published generation
    * of each cold day and every hot day dir. A day is published exactly
    * when it has a generation; `_staging` is never listed.
    */
  private[graft] final case class Layout(hotDir: String, coldDir: String,
                                         gens: Map[Long, Seq[Long]], hot: Seq[Long]) {
    /** Each published day's newest generation — the one a read opens. */
    val cold: Map[Long, Long] = gens.map { case (d, g) => d -> g.max }
    def coldPaths(days: Seq[Long]): Seq[String] =
      days.map(d => s"$coldDir/day=$d/gen=${cold(d)}")
    def hotPaths(days: Seq[Long]): Seq[String] = days.map(d => s"$hotDir/day=$d")
    /** Hot copies of published days and every generation but a day's newest. */
    def superseded: Seq[String] =
      hotPaths(hot.filter(gens.contains)) ++ gens.toSeq.flatMap { case (d, g) =>
        g.filter(_ < g.max).map(x => s"$coldDir/day=$d/gen=$x")
      }
  }

  private def generations(spark: SparkSession, coldDir: String): Map[Long, Seq[Long]] = {
    val (fs, _) = hadoopFs(spark, coldDir)
    Option(fs.globStatus(new Path(s"$coldDir/day=*/gen=*")))
      .getOrElse(Array.empty).toSeq.map(_.getPath)
      .map(p => p.getParent.getName.stripPrefix("day=").toLong -> p.getName.stripPrefix("gen=").toLong)
      .groupMap(_._1)(_._2)
  }

  private[graft] def resolve(spark: SparkSession, hotDir: String, coldDir: String): Layout =
    Layout(hotDir, coldDir, generations(spark, coldDir), dayDirs(spark, hotDir))

  /** The cold store's published day set. */
  def coldDays(spark: SparkSession, coldDir: String): Seq[Long] =
    generations(spark, coldDir).keys.toSeq.sorted

  /** Explicit day or generation dirs under `base`, read with the fixed
    * schema: no footer is read for inference, and the file list is the
    * one Spark takes here, once.
    */
  private def scan(spark: SparkSession, base: String, dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(spark.read.schema(PointSchema).option("basePath", base).parquet(dirs: _*)
      .select(PointSchema.fieldNames.toSeq.map(col): _*))

  private def noPoints(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), PointSchema)

  /** The publish half of a G26 maintenance tick, against `store`, the
    * listing the tick took at its start (plus the days it appended):
    *   - every closed hot day (strictly before `beforeDay`, not yet
    *     cold) becomes generation 0 of its cold day;
    *   - every day in `lateDays` becomes its next generation,
    *     `Rollup.upsert(current generation, late rows)` — the G6
    *     last-write-wins fold, so the late row wins its slot; a day
    *     not yet published takes generation 0, `Rollup.upsert(∅, late
    *     rows)` (the upsert store's first write of a day).
    * One job writes them all under `cold/_staging` (underscore:
    * invisible to every listing), sorted by (path, ts) within one file
    * per day so parquet row-group statistics prune the fetch's pushed
    * path predicates. Each then publishes with ONE rename: generation 0
    * moves its whole `day=D` dir (so a day is published exactly when it
    * has a complete generation), a later one moves its `gen=G` dir into
    * the day. A crash before a rename leaves only a stage no reader
    * sees (the next publish overwrites it); a crash after one replays
    * the batch into one more generation with equal values. Work ∝ the
    * published days' rows, never the store. Returns the days published.
    */
  def compactTick(spark: SparkSession, store: Layout, beforeDay: Long,
                  lateDays: Seq[Long], late: DataFrame): Seq[Long] = {
    val closed = store.hot.filter(d => d < beforeDay && !store.cold.contains(d))
    val merged = Option.when(lateDays.nonEmpty) {
      val current = scan(spark, store.coldDir, store.coldPaths(lateDays.filter(store.cold.contains)))
        .getOrElse(noPoints(spark))
      Rollup.upsert(current.select(col("path"), col("ts"), col("value")),
          late.select(col("path"), col("ts"), col("value")))
        .withColumn("day", col("ts") - col("ts") % DaySeconds)
    }
    val gens = closed.map(_ -> 0L) ++ lateDays.map(d => d -> store.cold.get(d).fold(0L)(_ + 1))
    (scan(spark, store.hotDir, store.hotPaths(closed)) ++ merged).reduceOption(_ unionByName _)
      .foreach { rows =>
        val staging = s"${store.coldDir}/_staging"
        rows.withColumn("gen", element_at(typedLit(gens.toMap), col("day")))
          .repartition(col("day"))
          // led by the partition columns, or the writer re-sorts by
          // (day, gen) alone and the (path, ts) order is lost
          .sortWithinPartitions(col("day"), col("gen"), col("path"), col("ts"))
          .write.partitionBy("day", "gen").mode("overwrite").parquet(staging)
        val (fs, _) = hadoopFs(spark, staging)
        gens.foreach { case (d, g) =>
          val at = if (g == 0L) s"day=$d" else s"day=$d/gen=$g"
          require(fs.rename(new Path(s"$staging/$at"), new Path(s"${store.coldDir}/$at")),
            s"compactTick: publishing $at failed (exists?)")
        }
        fs.delete(new Path(staging), true)
      }
    gens.map(_._1).sorted
  }

  /** The last step of a G26 tick: delete every copy `store` shows
    * superseded — hot copies of published days and every generation
    * but a day's newest. `store` is the listing the tick took at its
    * start, so only copies replaced BEFORE this tick go: a copy replaced
    * during tick N survives until the end of tick N+1, which is what
    * lets a reader that resolved its paths before the replacement finish
    * without a lock (the contract: a read finishes within one tick).
    */
  def sweep(spark: SparkSession, store: Layout): Unit =
    store.superseded.foreach { p =>
      val (fs, path) = hadoopFs(spark, p)
      fs.delete(path, true): Unit
    }

  /** RETENTION ageing for the maintained store — whisper's
    * maxRetention semantics on parquet (L_DataWhisper.lua: the ring
    * buffer OVERWRITES slots older than the archive's horizon, so old
    * points simply cease to exist; a day-partitioned store instead
    * grows forever unless someone drops the old days). Applies the
    * horizon at DAY granularity: every cold day (all its generations)
    * and hot day dir strictly before `beforeDay` deletes — name-level
    * metadata ops off the directory listings, never a data scan,
    * exactly the [[graft.similarity.AnnIndex.vacuum]] shape for the
    * metric side. Readers concurrent with the vacuum follow the same
    * retention contract as every such system: pin + finish within the
    * horizon. Returns the days dropped (deduplicated across stores).
    */
  def retentionVacuum(spark: SparkSession, hotDir: String, coldDir: String,
                      beforeDay: Long): Seq[Long] = {
    // persist the horizon FIRST (before any delete): a vacuum that dies
    // mid-pass must still forbid a very-late point from resurrecting a
    // half-aged day as on-time on the next tick
    writeHorizon(spark, coldDir, beforeDay)
    def dropOld(dir: String): Seq[Long] = {
      val (fs, _) = hadoopFs(spark, dir)
      dayDirs(spark, dir).filter(_ < beforeDay)
        .map { d => fs.delete(new Path(s"$dir/day=$d"), true); d }
    }
    (dropOld(coldDir) ++ dropOld(hotDir)).distinct.sorted
  }

  /** The PERSISTED retention horizon — `_horizon_<day>` markers under
    * the cold root (atomic name-level creation, the `_ready_epoch`
    * discipline). Without it, retention is only as durable as the day
    * dirs it deleted: a very-late point for an aged-out day would be
    * classified ON-TIME by the next tick (its day is in no listing)
    * and resurrect a day older than the horizon until the next vacuum.
    * [[graft.streaming.CarbonStream.maintainTick]] drops sub-horizon
    * points at the door instead — whisper's own rule (a timestamp
    * beyond maxRetention is rejected at update, L_DataWhisper.lua's
    * archive-range check).
    */
  def readHorizon(spark: SparkSession, coldDir: String): Long = {
    val (fs, p) = hadoopFs(spark, coldDir)
    if (!fs.exists(p)) 0L
    else {
      val hs = fs.listStatus(p).map(_.getPath.getName)
        .collect { case n if n.startsWith("_horizon_") =>
          n.stripPrefix("_horizon_").toLong }
      if (hs.isEmpty) 0L else hs.max
    }
  }

  private def writeHorizon(spark: SparkSession, coldDir: String,
                           beforeDay: Long): Unit = {
    val old = readHorizon(spark, coldDir)
    if (beforeDay > old) {
      val (fs, p) = hadoopFs(spark, coldDir)
      fs.mkdirs(p)
      fs.createNewFile(new Path(p, s"_horizon_$beforeDay"))
      if (old > 0L)
        fs.delete(new Path(p, s"_horizon_$old"), false): Unit
    }
  }

  /** Maintained-store OBSERVABILITY (VERDICT r11 #7): one row per
    * section with day count, row count, and file count, so the failure
    * modes the maintenance loop guards against (small-file regrowth, a
    * stuck compactor) are VISIBLE as numbers before they degrade reads.
    * Cold counts what a read opens (each published day's newest
    * generation); hot counts every hot day dir, the grace copies the
    * next sweep deletes included. The `late` row is (0, 0, 0) by
    * construction — late rows become a cold generation inside their
    * tick — and stays for the report's readers. Day and row counts are
    * data-derivable (the `store_report` oracle recomputes them from the
    * source routing); file counts are filesystem facts the spec pins.
    */
  def storeReport(spark: SparkSession, hotDir: String,
                  coldDir: String): DataFrame = {
    import spark.implicits._
    val store = resolve(spark, hotDir, coldDir)
    def section(name: String, base: String, dirs: Seq[String]): (String, Long, Long, Long) = {
      val (fs, _) = hadoopFs(spark, base)
      val nFiles = dirs.map { d =>
        val it = fs.listFiles(new Path(d), true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }.sum
      (name, dirs.size.toLong, scan(spark, base, dirs).fold(0L)(_.count()), nFiles)
    }
    Seq(section("cold", coldDir, store.coldPaths(store.cold.keys.toSeq.sorted)),
      section("hot", hotDir, store.hotPaths(store.hot)), ("late", 0L, 0L, 0L))
      .toDF("section", "n_days", "n_rows", "n_files")
  }

  /** One consistent read of the maintained store: each published day's
    * newest generation, and every hot day the cold store has not
    * published (the live day and any not-yet-compacted closed day). The
    * store resolves ONCE, here, into explicit paths, so the frame this
    * returns reads one copy per day for its whole lifetime; no copy it
    * lists is rewritten, and none is deleted before the end of the tick
    * after the one that replaced it ([[sweep]]).
    */
  def readMaintained(spark: SparkSession, hotDir: String,
                     coldDir: String): DataFrame = {
    val store = resolve(spark, hotDir, coldDir)
    (scan(spark, coldDir, store.coldPaths(store.cold.keys.toSeq.sorted)) ++
      scan(spark, hotDir, store.hotPaths(store.hot.filterNot(store.cold.contains))))
      .reduceOption(_ unionByName _).getOrElse(noPoints(spark))
  }

  /** Fetch from the materialized store: archive selection as in
    * Fetch.select, then a pruned scan of just that archive level and
    * day range, then the dense grid join. The grid's path set comes
    * from the path index (glob pushed as StringStartsWith there too),
    * NOT the day-pruned scan — an idle metric still yields its null
    * rows, matching Fetch.fetch and the reference's Whisper semantics.
    * Gaps stay null, as in Fetch.fetch: gap fill is svg-render
    * presentation (L_DataGraph.lua:221-230), not fetch semantics.
    */
  def fetchStored(spark: SparkSession, root: String, spec: Seq[Retention.Archive],
                  target: String, fromTime: Long, untilTime: Long, now: Long,
                  maxPoints: Option[Int] = None): DataFrame =
    Fetch.select(spec, fromTime, untilTime, now, maxPoints) match {
      case None => Fetch.emptyFetch(spark)
      case Some(Fetch.Clamped(from, until, archive)) =>
        val step = archive.secondsPerPoint
        val fromQ = from - from % step
        val untilQ = until - until % step
        val pathsDf = spark.read.parquet(s"$root/paths").filter(pathPredicate(target))
        val scan = spark.read.parquet(s"$root/step=$step")
          .filter(col("day").between(fromQ - fromQ % DaySeconds, untilQ)) // partition pruning
          .filter(pathPredicate(target))
        Fetch.fetchDensePaths(pathsDf, scan, step, from, until)
    }
}
