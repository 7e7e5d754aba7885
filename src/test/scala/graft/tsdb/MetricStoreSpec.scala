package graft.tsdb

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** MetricStore: day-partitioned persistence must (a) round-trip fetch
  * results identical to the in-memory path, (b) prune partitions by
  * time range, (c) push the glob's literal prefix into the parquet scan.
  */
class MetricStoreSpec extends SparkSpec {
  import spark.implicits._

  val spec = Retention.parse("1m:1d,10m:30d")

  def metrics = Seq(
    ("a.x.v", 0L, 1.0), ("a.x.v", 90000L, 3.0), ("a.x.v", 90060L, 5.0),
    ("a.y.v", 90030L, 10.0), ("b.z.v", 90000L, 2.0)
  ).toDF("path", "ts", "value")

  lazy val root: String = {
    val dir = Files.createTempDirectory("graft-store").toString
    MetricStore.writeArchives(metrics, spec, "average", 0.0, dir)
    dir
  }

  test("stored fetch equals in-memory fetch") {
    val now = 90120L
    val stored = MetricStore.fetchStored(spark, root, spec, "a.*.v", 89940L, now, now)
      .orderBy("path", "t").collect().map(r => (r.getString(0), r.getLong(1)))
    val direct = Fetch.fetch(spark, metrics, "a.*.v", spec, "average", 0.0,
      89940L, now, now)
      .orderBy("path", "t").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(stored.toSeq == direct.toSeq)
    assert(stored.nonEmpty)
  }

  test("day partitions are pruned by the time-range filter") {
    val now = 90120L
    val plan = MetricStore.fetchStored(spark, root, spec, "a.*.v", 89940L, now, now)
      .queryExecution.executedPlan.toString
    // data spans day=0 and day=86400; the window only needs day=86400
    assert(plan.contains("day"), plan.take(400))
    val scanned = MetricStore.fetchStored(spark, root, spec, "a.*.v", 89940L, now, now)
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(!scanned.exists(_.contains("day=0")) || scanned.isEmpty)
  }

  test("schema-driven store: per-rule cascades, group resolution, one-rule ≡ global (B16)") {
    val schemas = Conf.storageSchemas(
      "[fast]\npattern = \\.v$\nretentions = 1m:1d,10m:30d\n" +
        "[rest]\npattern = .*\nretentions = 10m:30d\n")
    val aggs = Conf.storageAggregation(
      "[sums]\npattern = \\.v$\naggregationMethod = sum\nxFilesFactor = 0\n" +
        "[rest]\npattern = .*\naggregationMethod = average\nxFilesFactor = 0\n")
    val pts = Seq(
      // fast+sum rule: two points share the first 1m bucket (sum must
      // fire), a third lands in its own — the 1m grid AND the sum
      // method are both visible (a 10m fetch would fold all three)
      ("a.x.v", 90000L, 2.0), ("a.x.v", 90030L, 4.0), ("a.x.v", 90060L, 10.0),
      ("a.y.w", 90000L, 10.0), ("a.y.w", 90120L, 20.0)) // default avg rule
      .toDF("path", "ts", "value")
    val root = Files.createTempDirectory("graft-conf-store").toString
    val combos = MetricStore.writeArchivesConf(pts, schemas, aggs, root)
    // two rule groups, in sorted combo order
    assert(combos == Seq(("10m:30d", "average", 0.0), ("1m:1d,10m:30d", "sum", 0.0)))
    val now = 90180L
    // a glob spanning both groups: each series answers through ITS
    // rule — .v sums on the 1m grid, .w averages on the 10m grid
    val out = MetricStore.fetchStoredConf(spark, root, "a.*.*", 89940L, now, now)
      .filter(col("value").isNotNull).orderBy("path", "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      ("a.x.v", 90000L, 6.0), ("a.x.v", 90060L, 10.0), // 1m archive, SUM in-bucket
      ("a.y.w", 90000L, 15.0)))                         // 10m archive, avg(10,20)
    // grids differ BY RULE: the .v series answers on the 1m grid
    val grids = MetricStore.fetchStoredConf(spark, root, "a.*.*", 89940L, now, now)
      .groupBy("path").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(grids("a.x.v") > grids("a.y.w")) // 60s steps vs 600s steps
    // one-rule conf ≡ the global-spec store (writeArchives is the
    // special case)
    val oneRoot = Files.createTempDirectory("graft-conf-one").toString
    MetricStore.writeArchivesConf(pts,
      Conf.storageSchemas("[all]\npattern = .*\nretentions = 1m:1d,10m:30d\n"),
      Conf.storageAggregation("[all]\npattern = .*\naggregationMethod = average\nxFilesFactor = 0\n"),
      oneRoot)
    val viaConf = MetricStore.fetchStoredConf(spark, oneRoot, "a.*.*", 89940L, now, now)
      .orderBy("path", "t").collect().map(_.toSeq).toSeq
    val globalRoot = Files.createTempDirectory("graft-conf-global").toString
    MetricStore.writeArchives(pts, Retention.parse("1m:1d,10m:30d"), "average", 0.0, globalRoot)
    val viaGlobal = MetricStore.fetchStored(spark, globalRoot,
        Retention.parse("1m:1d,10m:30d"), "a.*.*", 89940L, now, now)
      .orderBy("path", "t").collect().map(_.toSeq).toSeq
    assert(viaConf == viaGlobal)
    // a target matching nothing: the typed empty fetch
    assert(MetricStore.fetchStoredConf(spark, root, "zz.*", 89940L, now, now).isEmpty)
  }

  test("compactTick: lossless, one file per day, sorted within, closed days only (B15)") {
    // splinter 2 days of points across 3 appends × 4 tasks — the
    // small-file shape a per-micro-batch streaming sink accumulates
    val pts = (0L until 120L).map(i =>
      (s"m.${i % 5}", i * 1200L, i.toDouble)).toDF("path", "ts", "value")
      .withColumn("day", col("ts") - col("ts") % MetricStore.DaySeconds)
    val raw = Files.createTempDirectory("graft-compact-raw").toString
    for (k <- 0 until 3)
      pts.filter((col("ts") / 1200L) % 3 === k).repartition(4)
        .write.partitionBy("day").mode("append").parquet(raw)
    // parquet files per day dir (raw) or per day's generation 0 (cold)
    def files(dir: String, gen: String = "") = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day="))
      .map(d => d.getName -> new java.io.File(d, gen).listFiles()
        .count(_.getName.endsWith(".parquet")))
      .toMap
    assert(files(raw).values.forall(_ >= 3), files(raw).toString) // fragmented
    // the plain day-partitioned store is the hot half of the compaction
    def compact(dst: String, beforeDay: Long) =
      MetricStore.compactTick(spark, MetricStore.resolve(spark, raw, dst), beforeDay,
        Nil, spark.emptyDataFrame)
    val dst = Files.createTempDirectory("graft-compact-dst").toString
    assert(compact(dst, Long.MaxValue) == Seq(0L, MetricStore.DaySeconds))
    // one file per published day
    assert(files(dst, "gen=0").values.forall(_ == 1), files(dst, "gen=0").toString)
    // lossless: the exact point multiset survives
    val before = pts.select("path", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val after = MetricStore.readMaintained(spark, raw, dst).select("path", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(after == before)
    // sorted within files: each file's rows arrive in (path, ts) order
    val day0 = new java.io.File(s"$dst/day=0/gen=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val inFile = spark.read.parquet(day0).select("path", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(inFile == inFile.sorted, inFile.take(10).toString)
    // beforeDay gate: only closed days publish
    val dst2 = Files.createTempDirectory("graft-compact-dst2").toString
    compact(dst2, MetricStore.DaySeconds)
    assert(files(dst2, "gen=0").keySet == Set("day=0"), files(dst2, "gen=0").toString)
  }

  test("G26 maintained store: atomic day publication, reads never mix") {
    val day = MetricStore.DaySeconds
    // 3 days of points, splintered across 3 appends (the stream shape)
    val pts = (0L until 90L).map(i => (s"m.${i % 3}", i * 2880L, i.toDouble))
      .toDF("path", "ts", "value")
      .withColumn("day", col("ts") - col("ts") % day)
    val hot = Files.createTempDirectory("graft-maint-hot").toString
    val cold = Files.createTempDirectory("graft-maint-cold").toString
    for (k <- 0 until 3)
      pts.filter(col("ts") % 3 === k).repartition(4)
        .write.partitionBy("day").mode("append").parquet(hot)
    def dayDirs(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val want = multiset(pts)
    def store = MetricStore.resolve(spark, hot, cold)
    def compact() = MetricStore.compactTick(spark, store, 2 * day, Nil, spark.emptyDataFrame)
    // tick: publish the two closed days as generation 0; the live day
    // stays hot-only
    assert(compact() == Seq(0L, day))
    assert(dayDirs(cold) == Seq("day=0", s"day=$day"))
    assert(store.cold == Map(0L -> 0L, day -> 0L))
    // grace: hot copies survive the publishing tick, so a reader that
    // resolved its plan pre-publication still has its files — and a
    // post-publication read takes the cold copy per day, each point
    // exactly ONCE even while both copies exist (never a mix)
    assert(dayDirs(hot).contains("day=0"))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == want)
    // published days are one sorted file each
    val coldDay0 = new java.io.File(s"$cold/day=0/gen=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(coldDay0.length == 1)
    // a later tick is a no-op for published days; the sweep then
    // reclaims the hot copies and the read is unchanged
    assert(compact().isEmpty)
    MetricStore.sweep(spark, store)
    assert(dayDirs(hot) == Seq(s"day=${2 * day}"))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == want)
    // a mid-write staging dir is invisible to readers (underscore
    // prefix) and to the day pointer
    new java.io.File(s"$cold/_staging/day=${3 * day}").mkdirs()
    assert(MetricStore.coldDays(spark, cold) == Seq(0L, day))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == want)
    // published generations are immutable — a late point for a
    // published day neither kills the tick nor lands twice: the tick
    // publishes the day's NEXT generation, last-write-wins per slot
    // (VERDICT r10 #2). (m.0, 0) OVERWRITES an existing slot; (m.0, 60)
    // fills a NEW slot in the published day.
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m.0", 60L, 9.9), ("m.0", 0L, 7.7)).toDF("path", "ts", "value"),
      hot, cold, batchId = 99L)
    assert(store.cold == Map(0L -> 1L, day -> 0L))
    assert(dayDirs(cold) == Seq("day=0", s"day=$day")) // nothing reopened
    val wantLate = (want.filterNot(p => p._1 == "m.0" && p._2 == 0L) ++
      Seq(("m.0", 60L, 9.9), ("m.0", 0L, 7.7))).sorted
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == wantLate)
    // a REPLAYED late delivery converges (G6 last-write-wins): one more
    // generation, same multiset, no duplicates; this tick's sweep took
    // the generation the previous tick replaced
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m.0", 60L, 9.9), ("m.0", 0L, 7.7)).toDF("path", "ts", "value"),
      hot, cold, batchId = 100L)
    assert(store.gens(0L) == Seq(1L, 2L))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == wantLate)
    // RETENTION ageing (whisper maxRetention): dropping days before a
    // horizon is exact at day granularity — every generation of an aged
    // day goes, days at/after the horizon survive untouched
    assert(MetricStore.retentionVacuum(spark, hot, cold, day) == Seq(0L))
    assert(dayDirs(cold) == Seq(s"day=$day"))
    val wantAged = wantLate.filter(_._2 >= day)
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == wantAged)
    // idempotent: a second vacuum at the same horizon drops nothing
    assert(MetricStore.retentionVacuum(spark, hot, cold, day).isEmpty)
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == wantAged)
    // a hot store with no day dirs (fresh store / every closed day
    // compacted) still answers from cold — never a schema-inference
    // throw; a fully-empty store reads as typed empty
    val hotEmpty = Files.createTempDirectory("graft-maint-hotempty").toString
    assert(multiset(MetricStore.readMaintained(spark, hotEmpty, cold)) ==
      multiset(spark.read.parquet(cold)))
    val coldEmpty = Files.createTempDirectory("graft-maint-coldempty").toString
    assert(MetricStore.readMaintained(spark, hotEmpty, coldEmpty).isEmpty)
  }

  test("late fold: sustained lateness drains into cold, read goes join-free (r11 #1)") {
    val day = MetricStore.DaySeconds
    val hot = Files.createTempDirectory("graft-fold-hot").toString
    val cold = Files.createTempDirectory("graft-fold-cold").toString
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def day0Gens = MetricStore.resolve(spark, hot, cold).gens(0L)
    // tick 0: two days on-time — day 0 publishes, day 1 stays live
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0))
        .toDF("path", "ts", "value"), hot, cold, 0L)
    assert(MetricStore.coldDays(spark, cold) == Seq(0L))
    // SUSTAINED lateness: every subsequent batch carries a late point
    // for published day 0 (one new slot, one overwrite) alongside the
    // advancing live edge — the clock-skewed-source scenario
    var want = Seq(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0))
    for (k <- 1 to 4) {
      val lateTs = 120L + k
      graft.streaming.CarbonStream.maintainTick(
        Seq(("m", lateTs, k.toDouble),         // late: day 0 is published
          ("m", 60L, 10.0 + k),                // late: overwrites slot 60
          ("m", (k + 1) * day, 5.0))           // on-time: new live day
          .toDF("path", "ts", "value"), hot, cold, k.toLong)
      want = want.filterNot(p => p._2 == 60L) ++
        Seq(("m", lateTs, k.toDouble), ("m", 60L, 10.0 + k), ("m", (k + 1) * day, 5.0))
      // the late rows became day 0's next generation IN the tick, and
      // the tick swept the generation the previous tick replaced
      assert(day0Gens == (math.max(0, k - 1) to k).map(_.toLong), s"tick $k")
      assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == want.sorted)
    }
    // the read is a plain union of scans: no overlay, no join
    val plan = MetricStore.readMaintained(spark, hot, cold)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
    // day 0's current generation is ONE file (a rewrite, not an append)
    assert(new java.io.File(s"$cold/day=0/gen=4").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("a resolved read keeps its files while later ticks publish and sweep (D7)") {
    val day = MetricStore.DaySeconds
    val hot = Files.createTempDirectory("graft-snap-hot").toString
    val cold = Files.createTempDirectory("graft-snap-cold").toString
    def tick(id: Long, rows: (String, Long, Double)*): Unit =
      graft.streaming.CarbonStream.maintainTick(rows.toDF("path", "ts", "value"), hot, cold, id)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def exists(dir: String) = new java.io.File(dir).exists
    tick(0, ("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0)) // day 0 publishes
    tick(1, ("m", 2 * day, 4.0))                              // day 1 publishes
    // a reader resolves: cold day 0 and 1 (generation 0), hot day 2
    val frame = MetricStore.readMaintained(spark, hot, cold)
    val snapshot = Seq(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0), ("m", 2 * day, 4.0))
    // late rows rewrite published day 0 while day 2 publishes: the
    // tick replaces two copies the frame lists and deletes neither
    tick(2, ("m", 60L, 9.0), ("m", 3 * day, 5.0))
    assert(multiset(frame) == snapshot)
    // a reader resolved between two ticks survives the next one, whose
    // sweep takes exactly the copies replaced before it began
    val between = MetricStore.readMaintained(spark, hot, cold)
    val snapshot2 = (snapshot.filterNot(_._2 == 60L) ++
      Seq(("m", 60L, 9.0), ("m", 3 * day, 5.0))).sorted
    tick(3, ("m", 120L, 8.0), ("m", 4 * day, 6.0))
    assert(multiset(between) == snapshot2)
    assert(!exists(s"$cold/day=0/gen=0") && !exists(s"$hot/day=${2 * day}"))
    assert(exists(s"$cold/day=0/gen=1") && exists(s"$hot/day=${3 * day}"))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) ==
      (snapshot2 ++ Seq(("m", 120L, 8.0), ("m", 4 * day, 6.0))).sorted)
  }

  test("crash before the publish rename: the stage is invisible, the replay converges (D7)") {
    val day = MetricStore.DaySeconds
    val hot = Files.createTempDirectory("graft-crash-hot").toString
    val cold = Files.createTempDirectory("graft-crash-cold").toString
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0))
        .toDF("path", "ts", "value"), hot, cold, 0L)
    val before = multiset(MetricStore.readMaintained(spark, hot, cold))
    val late = Seq(("m", 60L, 9.0), ("m", 120L, 4.0)).toDF("path", "ts", "value")
    // a tick that died between the staging write and the rename: day
    // 0's generation 1 sits complete under `_staging`
    Rollup.upsert(spark.read.parquet(s"$cold/day=0/gen=0").select("path", "ts", "value"), late)
      .coalesce(1).write.parquet(s"$cold/_staging/day=0/gen=1")
    assert(MetricStore.coldDays(spark, cold) == Seq(0L))
    assert(MetricStore.resolve(spark, hot, cold).cold == Map(0L -> 0L))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == before)
    // the replayed tick publishes the generation; a replay after the
    // rename (marker lost) adds one more with equal values
    val want = (before.filterNot(_._2 == 60L) ++ Seq(("m", 60L, 9.0), ("m", 120L, 4.0))).sorted
    for (g <- 1L to 2L) {
      graft.streaming.CarbonStream.maintainTick(late, hot, cold, 1L)
      assert(MetricStore.resolve(spark, hot, cold).cold == Map(0L -> g))
      assert(multiset(MetricStore.readMaintained(spark, hot, cold)) == want)
    }
    assert(!new java.io.File(s"$cold/_staging").exists)
  }

  test("retention horizon persists: an aged-out day cannot resurrect (ADVICE r11)") {
    val day = MetricStore.DaySeconds
    val hot = Files.createTempDirectory("graft-hor-hot").toString
    val cold = Files.createTempDirectory("graft-hor-cold").toString
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "ts", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 0L, 1.0), ("m", day, 2.0), ("m", 2 * day, 3.0))
        .toDF("path", "ts", "value"), hot, cold, 0L)
    assert(MetricStore.retentionVacuum(spark, hot, cold, day) == Seq(0L))
    assert(MetricStore.readHorizon(spark, cold) == day)
    // a very-late point for the aged-out day 0: its dir is gone from
    // every listing, so without the persisted horizon the tick would
    // classify it ON-TIME and resurrect the day — it must be dropped
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 30L, 9.9), ("m", 2 * day + 60L, 4.0))
        .toDF("path", "ts", "value"), hot, cold, 1L)
    assert(MetricStore.dayDirs(spark, hot).forall(_ >= day))
    assert(multiset(MetricStore.readMaintained(spark, hot, cold)) ==
      Seq(("m", day, 2.0), ("m", 2 * day, 3.0), ("m", 2 * day + 60L, 4.0)).sorted)
    // a later, larger horizon supersedes (marker is monotone max)
    MetricStore.retentionVacuum(spark, hot, cold, 2 * day)
    assert(MetricStore.readHorizon(spark, cold) == 2 * day)
  }

  test("store report: day/row/file counts per section, late drains to zero (r11 #7)") {
    val day = MetricStore.DaySeconds
    val hot = Files.createTempDirectory("graft-rep-hot").toString
    val cold = Files.createTempDirectory("graft-rep-cold").toString
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", day, 3.0))
        .toDF("path", "ts", "value"), hot, cold, 0L)
    graft.streaming.CarbonStream.maintainTick(
      Seq(("m", 30L, 9.0), ("m", 2 * day, 4.0)) // one late, one on-time
        .toDF("path", "ts", "value"), hot, cold, 1L)
    val rep = MetricStore.storeReport(spark, hot, cold)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cold: days 0 and `day` published; day 0's current generation
    // carries the late point → 3 rows
    assert(rep("cold")._1 == 2 && rep("cold")._2 == 4)
    // late rows became a cold generation inside their tick
    assert(rep("late") == ((0L, 0L, 0L)))
    // hot: the live day plus the grace copy of the day tick 1 published
    assert(rep("hot")._1 == 2 && rep("hot")._2 == 2)
    assert(rep("cold")._3 >= 2) // at least one file per published day
  }

  test("glob literal prefix reaches the scan as StringStartsWith") {
    val now = 90120L
    val plan = MetricStore.fetchStored(spark, root, spec, "a.*.v", 89940L, now, now)
      .queryExecution.executedPlan.toString
    assert(plan.contains("StartsWith(path,a.")) // pushed to parquet
  }

  test("literal target pushes as EqualTo") {
    assert(MetricStore.pathPredicate("a.x.v").toString.contains("="))
    val now = 90120L
    val plan = MetricStore.fetchStored(spark, root, spec, "a.x.v", 89940L, now, now)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(path,a.x.v)"))
  }

  test("budget-aware archive selection: coarsest level covering maxDataPoints") {
    val std = Retention.parse("10m:1d,1h:7d,1d:60d")
    val now = 1706659200L
    val from = 1706100000L // 6.5d back: finest covering = 1h
    // no budget, or a budget the 1h archive already beats → 1h
    assert(Fetch.select(std, from, now, now).get.archive.secondsPerPoint == 3600L)
    assert(Fetch.select(std, from, now, now, Some(24)).get.archive.secondsPerPoint == 3600L)
    assert(Fetch.select(std, from, now, now, Some(1000)).get.archive.secondsPerPoint == 3600L)
    // budget 5 over a 6.5d window: the 1d archive still yields ≥5
    // points → read 24× less
    assert(Fetch.select(std, from, now, now, Some(5)).get.archive.secondsPerPoint == 86400L)
    // never coarser than the finest covering archive allows: a window
    // entirely inside the 10m archive's day stays at 10m for a big
    // budget, but drops to 1h for a tiny one
    val recent = now - 6 * 3600
    assert(Fetch.select(std, recent, now, now, Some(100)).get.archive.secondsPerPoint == 600L)
    assert(Fetch.select(std, recent, now, now, Some(3)).get.archive.secondsPerPoint == 3600L)
    // non-positive budgets read as absent (the Cgi forgiveness)
    assert(Fetch.select(std, from, now, now, Some(0)).get.archive.secondsPerPoint == 3600L)
  }

  test("budget-aware stored fetch reads the coarser level's parquet only") {
    val now = 90120L
    val from = 3780L // covered by 1m, window 86340s
    // budget 5: the 10m level yields ~144 points ≥ 5 → scan step=600
    val pruned = MetricStore.fetchStored(spark, root, spec, "a.*.v",
      from, now, now, Some(5))
    val files = pruned.inputFiles.filter(_.contains("step=")).toSeq
    assert(files.nonEmpty && files.forall(_.contains("step=600")),
      files.mkString("\n").take(500))
    // and the budgeted grid is the coarser one
    val ts = pruned.filter(col("path") === "a.x.v").orderBy("t")
      .collect().map(_.getLong(1))
    assert(ts.forall(_ % 600 == 0) && ts.length >= 5)
    // without a budget the same window reads the fine level
    val fine = MetricStore.fetchStored(spark, root, spec, "a.*.v", from, now, now)
      .inputFiles.filter(_.contains("step=")).toSeq
    assert(fine.nonEmpty && fine.forall(_.contains("step=60/")),
      fine.mkString("\n").take(500))
  }
}
