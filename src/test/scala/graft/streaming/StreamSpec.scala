package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** G1/G2: the carbon-cache streaming loop under MemoryStream — the
  * same plans the batch twin verifies against DuckDB, here exercised
  * through an actual incremental streaming execution.
  */
class StreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream rollup aggregates windows incrementally (G1)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val out = CarbonStream.rollupStream(source.toDF().toDF("line"), 600L, "average", 999L)
    val query = out.writeStream
      .format("memory").queryName("g1_rollup").outputMode("complete").start()
    try {
      source.addData("a.b 1.0 100", "a.b 3.0 130")
      query.processAllAvailable()
      source.addData("a.b 5.0 700", "c.d 2.0 100")
      query.processAllAvailable()
      val rows = spark.table("g1_rollup")
        .orderBy("path", "bucket").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        ("a.b", 0L, 2.0, 2L), ("a.b", 600L, 5.0, 1L), ("c.d", 0L, 2.0, 1L)))
    } finally query.stop()
  }

  test("stream dedup drops (path, ts) repeats across batches (G2)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val out = CarbonStream.dedupStream(source.toDF().toDF("line"), 999L)
      .select("path", "ts", "value")
    val query = out.writeStream
      .format("memory").queryName("g2_dedup").outputMode("append").start()
    try {
      source.addData("a.b 1.0 100", "a.b 1.0 100")
      query.processAllAvailable()
      source.addData("a.b 9.9 100", "a.b 2.0 200") // same (path, ts), new value → still a dup
      query.processAllAvailable()
      val rows = spark.table("g2_dedup")
        .orderBy("path", "ts").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("a.b", 100L, 1.0), ("a.b", 200L, 2.0)))
    } finally query.stop()
  }

  test("watch relay emits only value changes, state survives batches (G3)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val out = CarbonStream.watchRelayStream(source.toDF().toDF("line"), 999L)
    val query = out.writeStream
      .format("memory").queryName("g3_watch").outputMode("append").start()
    try {
      source.addData("a.b 1.0 100", "a.b 1.0 110", "a.b 2.0 120")
      query.processAllAvailable()
      // 1.0 repeats ACROSS batches after 2.0? no — state now holds 2.0,
      // so another 2.0 is suppressed and 1.0 is a change again
      source.addData("a.b 2.0 130", "a.b 1.0 140")
      query.processAllAvailable()
      val rows = spark.table("g3_watch")
        .orderBy("ts").collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((100L, 1.0), (120L, 2.0), (140L, 1.0)))
    } finally query.stop()
  }

  test("user hook drops, rewrites, and fans out points over a stream (A7)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val pts = graft.tsdb.Carbon.parse(source.toDF().toDF("line"), 999L)
      .as[CarbonStream.Point]
    val out = CarbonStream.userHook(pts) { p =>
      if (p.value < 0) Nil // reject
      else if (p.path == "fan.out") Seq(p, p.copy(path = p.path + ".shadow"))
      else Seq(p.copy(value = math.min(p.value, 10.0))) // clamp
    }
    val query = out.toDF().writeStream
      .format("memory").queryName("a7_hook").outputMode("append").start()
    try {
      source.addData("a.b 99.0 100", "a.b -1.0 110", "fan.out 1.0 120")
      query.processAllAvailable()
      val rows = spark.table("a7_hook").orderBy("path", "ts").collect()
        .map(r => (r.getString(0), r.getDouble(2)))
      assert(rows.toSeq == Seq(
        ("a.b", 10.0), ("fan.out", 1.0), ("fan.out.shadow", 1.0)))
    } finally query.stop()
  }

  test("watch relay batch twin agrees (G3)") {
    val pts = Seq(
      CarbonStream.Point("a", 10L, 1.0), CarbonStream.Point("a", 20L, 1.0),
      CarbonStream.Point("a", 30L, 2.0), CarbonStream.Point("b", 10L, 5.0)
    ).toDS()
    val out = CarbonStream.changeRelay(pts).collect()
      .map(p => (p.path, p.ts, p.value)).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(("a", 10L, 1.0), ("a", 30L, 2.0), ("b", 10L, 5.0)))
  }

  test("watch relay: one hot path with a large single batch stays bounded (G3)") {
    // the per-group sort buffers ONE path's micro-batch worth of points
    // (CarbonStream.changeRelay memory bound); 200k points on a single
    // path must complete and relay exactly the value changes
    val n = 200000
    val pts = spark.range(n).select(
      org.apache.spark.sql.functions.lit("hot.path").as("path"),
      $"id".as("ts"),
      // value changes every 4th point → n/4 relays
      ($"id" / 4).cast("long").cast("double").as("value"))
      .as[graft.streaming.CarbonStream.Point]
    val out = graft.streaming.CarbonStream.changeRelay(pts).collect()
    assert(out.length == n / 4)
    assert(out.map(_.ts).sorted.take(3).toSeq == Seq(0L, 4L, 8L))
  }

  test("stream upsert: late duplicate timestamp overwrites its slot (G6)") {
    import graft.streaming.CarbonStream.Point
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val source = MemoryStream[Point]
    val query = CarbonStream.upsertSink(source.toDS(), s"$dir/store", s"$dir/ckpt")
    try {
      source.addData(Point("a.b", 100L, 1.0), Point("a.b", 200L, 2.0),
        Point("c.d", 90000L, 5.0))
      query.processAllAvailable()
      // a LATE point for an already-stored slot, in a later micro-batch
      source.addData(Point("a.b", 100L, 9.0))
      query.processAllAvailable()
    } finally query.stop()
    val out = graft.tsdb.MetricStore.readMaintained(spark, s"$dir/store/hot", s"$dir/store/cold")
      .select("path", "ts", "value").orderBy("path", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // slot (a.b, 100) last-write-wins overwritten; untouched slots — and
    // the untouched day 86400 — survive day 0's next generation
    assert(out.toSeq == Seq(
      ("a.b", 100L, 9.0), ("a.b", 200L, 2.0), ("c.d", 90000L, 5.0)))
  }

  test("ingest sink lands day-partitioned parquet") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val source = MemoryStream[String]
    val query = CarbonStream.ingestSink(source.toDF().toDF("line"), 999L,
      s"$dir/data", s"$dir/ckpt")
    try {
      source.addData("a.b 1.0 100", "c.d 2.0 90000")
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.read.parquet(s"$dir/data")
    assert(out.count() == 2)
    // partition directories by day bucket: 0 and 86400
    // partition values come back type-inferred from directory names
    val days = out.selectExpr("cast(day AS bigint)").distinct().collect().map(_.getLong(0)).sorted
    assert(days.toSeq == Seq(0L, 86400L))
  }

  test("exactly-once upsert: a replayed batch id is a file-level no-op (G6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eo").toString
    def df(rows: (String, Long, Double)*) = rows.toDF("path", "ts", "value")
    def snapshot: Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f =>
        (f.getPath, f.length(), f.lastModified())).sortBy(_._1)
    }
    def values = graft.tsdb.MetricStore.readMaintained(spark, s"$dir/hot", s"$dir/cold")
      .select("path", "ts", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(CarbonStream.mergeBatchOnce(
      df(("a.x", 100L, 1.0), ("a.x", 160L, 2.0)), dir, 0L))
    val incoming = df(("a.x", 100L, 9.0))
    assert(CarbonStream.mergeBatchOnce(incoming, dir, 1L))
    val committed = snapshot
    val want = Seq(("a.x", 100L, 9.0), ("a.x", 160L, 2.0))
    assert(values == want)
    // replayed batch id: merge skipped, store BYTES untouched (same
    // files, sizes, mtimes — no new generation)
    assert(!CarbonStream.mergeBatchOnce(incoming, dir, 1L))
    assert(snapshot == committed)
    assert(values == want)
    // the crash window (merge committed, marker lost): the replay
    // publishes one more generation and last-write-wins converges to
    // identical VALUES — observable state is exactly-once
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_txn/1"), false)
    assert(CarbonStream.mergeBatchOnce(incoming, dir, 1L))
    assert(values == want)
  }

  test("upsert store: a resolved read keeps its snapshot across a merge that rewrites its day (G6)") {
    import graft.tsdb.MetricStore
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-snap").toString
    def df(rows: (String, Long, Double)*) = rows.toDF("path", "ts", "value")
    def read = MetricStore.readMaintained(spark, s"$dir/hot", s"$dir/cold")
    def values(frame: org.apache.spark.sql.DataFrame) = frame.select("path", "ts", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(CarbonStream.mergeBatchOnce(
      df(("a.x", 100L, 1.0), ("a.x", 160L, 2.0), ("b.y", 90000L, 5.0)), dir, 0L))
    val frame = read
    // the merge rewrites day 0, which the frame covers
    assert(CarbonStream.mergeBatchOnce(df(("a.x", 100L, 9.0)), dir, 1L))
    // the frame reads its pre-merge snapshot; a fresh read the merge
    assert(values(frame) == Seq(("a.x", 100L, 1.0), ("a.x", 160L, 2.0), ("b.y", 90000L, 5.0)))
    assert(values(read) == Seq(("a.x", 100L, 9.0), ("a.x", 160L, 2.0), ("b.y", 90000L, 5.0)))
  }

  test("maintained tick: replayed committed batch is a file-level no-op; crash window converges (G26)") {
    import graft.tsdb.MetricStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint-eo").toString
    val (hot, cold) = (s"$tmp/hot", s"$tmp/cold")
    def df(rows: (String, Long, Double)*) = rows.toDF("path", "ts", "value")
    def snapshot(dir: String): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f =>
        (f.getPath, f.length(), f.lastModified())).sortBy(_._1)
    }
    def values = MetricStore.readMaintained(spark, hot, cold)
      .select("path", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // batch 0: days 0+1 — day 0 publishes; batch 1: day 2 — day 1
    // publishes, day 0's hot copy reclaims
    assert(CarbonStream.maintainTickOnce(
      df(("a.x", 100L, 1.0), ("a.x", 90000L, 2.0)), hot, cold, 0L))
    val b1 = df(("a.x", 180000L, 3.0))
    assert(CarbonStream.maintainTickOnce(b1, hot, cold, 1L))
    val committed = (snapshot(hot), snapshot(cold))
    val want = values
    // replayed committed batch id: tick skipped, store BYTES untouched
    assert(!CarbonStream.maintainTickOnce(b1, hot, cold, 1L))
    assert((snapshot(hot), snapshot(cold)) == committed)
    assert(values == want)
    // crash window (tick done, marker lost): the replayed tick re-runs
    // — the hot append overwrites ITS OWN ingest_batch partition
    // (file-level idempotent modulo fresh part names), cold is
    // untouched, and observable values converge exactly
    val fs = new org.apache.hadoop.fs.Path(hot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hot/_txn/1"), false)
    assert(CarbonStream.maintainTickOnce(b1, hot, cold, 1L))
    assert(snapshot(cold) == committed._2)
    assert(values == want)
    // crash window where the lost tick had PUBLISHED the batch's days:
    // the replay publishes those points as the day's next generation,
    // last-write-wins per slot — still no duplicates
    fs.delete(new org.apache.hadoop.fs.Path(s"$hot/_txn/1"), false)
    assert(CarbonStream.maintainTickOnce(
      b1.unionByName(df(("a.x", 90060L, 4.0))), hot, cold, 1L))
    assert(values == (want :+ ("a.x", 90060L, 4.0)).sorted)
  }

  test("maintained ingest: closed days compact while the live day appends (G26)") {
    import graft.tsdb.MetricStore
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val (hot, cold) = (s"$tmp/hot", s"$tmp/cold")
    val source = MemoryStream[String]
    val query = CarbonStream.ingestSinkMaintained(source.toDF().toDF("line"),
      999L, hot, cold, s"$tmp/ckpt")
    def dayDirs(dir: String) =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq
    try {
      // batch 1: day 0 only — live, nothing closes
      source.addData("a.x 1.0 100", "a.x 2.0 200")
      query.processAllAvailable()
      assert(dayDirs(cold).isEmpty)
      // batch 2: day 1 appears — day 0 closes and publishes
      source.addData("a.x 3.0 90000")
      query.processAllAvailable()
      assert(dayDirs(cold) == Seq("day=0"))
      assert(dayDirs(hot).contains("day=0")) // grace: hot copy survives
      // batch 3: day 2 — the earlier publication's hot copy reclaims,
      // day 1 publishes
      source.addData("a.y 4.0 180000")
      query.processAllAvailable()
      assert(dayDirs(cold) == Seq("day=0", "day=86400"))
      assert(dayDirs(hot).toSet == Set("day=86400", "day=172800"))
    } finally query.stop()
    // published day: exactly one sorted file in its current generation
    assert(new java.io.File(s"$cold/day=0/gen=0").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // the maintained read is the full point multiset, each point once
    val got = MetricStore.readMaintained(spark, hot, cold)
      .select("path", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == Seq(("a.x", 100L, 1.0), ("a.x", 200L, 2.0),
      ("a.x", 90000L, 3.0), ("a.y", 180000L, 4.0)))
  }

  test("maintained sink with retention: old days age out as the stream advances (G26r)") {
    import graft.tsdb.MetricStore
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint-ret").toString
    val (hot, cold) = (s"$tmp/hot", s"$tmp/cold")
    val day = MetricStore.DaySeconds
    val source = MemoryStream[String]
    val q = CarbonStream.ingestSinkMaintained(source.toDF().toDF("line"),
      999L, hot, cold, s"$tmp/ckpt", retentionDays = 1)
    def dayDirs(dir: String) =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq
    try {
      for (d <- 0 to 3) {
        source.addData(s"a.x ${d + 1}.0 ${d * day + 60}")
        q.processAllAvailable()
      }
    } finally q.stop()
    // live day 3, horizon = live − 1 day: days 0 and 1 aged out of
    // cold; day 2 published and retained; day 3 live in hot
    assert(dayDirs(cold) == Seq(s"day=${2 * day}"))
    val got = MetricStore.readMaintained(spark, hot, cold)
      .select("path", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got == Seq(("a.x", 2 * day + 60, 3.0), ("a.x", 3 * day + 60, 4.0)))
  }

  test("production loop over the MAINTAINED store: ingest+compact -> archives -> fetch (G26)") {
    import java.nio.file.Files
    import graft.tsdb.{Fetch, MetricStore, Retention}
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-e2e-maint").toString
    val source = MemoryStream[String]
    // 1. stream lines through the MAINTAINED sink — day 0 compacts to
    //    cold when day 1 appears; the live day keeps appending in hot
    val q = CarbonStream.ingestSinkMaintained(source.toDF().toDF("line"),
      999L, s"$tmp/hot", s"$tmp/cold", s"$tmp/ckpt")
    try {
      source.addData("a.x 1.0 100", "a.x 3.0 160")
      q.processAllAvailable()
      source.addData("a.y 5.0 90000")
      q.processAllAvailable()
    } finally q.stop()
    assert(MetricStore.coldDays(spark, s"$tmp/cold") == Seq(0L))
    // 2. the archive cascade derives from the MAINTAINED read (cold +
    //    hot in one frame) — same downstream pipeline as the raw loop
    val spec = Retention.parse("1m:1d,1d:30d")
    val raw = MetricStore.readMaintained(spark, s"$tmp/hot", s"$tmp/cold")
      .select("path", "ts", "value")
    MetricStore.writeArchives(raw, spec, "average", 0.0, s"$tmp/store")
    // 3. the pruned stored fetch equals the in-plan fetch over the
    //    maintained read — compaction is invisible to the query layer
    val now = 300L
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("path", "t").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    val got = rows(MetricStore.fetchStored(spark, s"$tmp/store", spec,
      "a.*", 60L, now, now))
    assert(got == rows(Fetch.fetch(spark, raw, "a.*", spec, "average", 0.0,
      60L, now, now)))
    // both compacted (a.x, day 0) and live (a.y, day 1) metrics answer
    assert(got.map(_._1).distinct.sorted == Seq("a.x", "a.y"))
  }

  test("production loop: stream ingest -> archive store -> pruned fetch") {
    import java.nio.file.Files
    import graft.tsdb.{Fetch, MetricStore, Retention}
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-e2e").toString
    val source = MemoryStream[String]
    // 1. stream plaintext lines into the day-partitioned raw store
    val q = CarbonStream.ingestSink(source.toDF().toDF("line"), 999L,
      s"$tmp/raw", s"$tmp/ckpt")
    try {
      source.addData("a.x 1.0 100", "a.x 3.0 160", "a.y 5.0 90000")
      q.processAllAvailable()
    } finally q.stop()
    // 2. materialize the archive cascade from the landed raw points
    val spec = Retention.parse("1m:1d,1d:30d")
    val raw = spark.read.parquet(s"$tmp/raw").select("path", "ts", "value")
    MetricStore.writeArchives(raw, spec, "average", 0.0, s"$tmp/store")
    // 3. fetch through the pruned/pushed-down path; a.y is idle in the
    //    window but indexed, so it returns its null rows
    val now = 300L
    val got = MetricStore.fetchStored(spark, s"$tmp/store", spec, "a.*",
      60L, now, now).orderBy("path", "t").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("a.x", 60L, 1.0), ("a.x", 120L, 3.0), ("a.x", 180L, null),
      ("a.x", 240L, null), ("a.x", 300L, null),
      ("a.y", 60L, null), ("a.y", 120L, null), ("a.y", 180L, null),
      ("a.y", 240L, null), ("a.y", 300L, null)))
    // and the stored fetch agrees with the in-plan fetch over the raw data
    val direct = Fetch.fetch(spark, raw, "a.*", spec, "average", 0.0,
      60L, now, now).orderBy("path", "t").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(direct.toSeq == got.toSeq)
  }

  test("batch and streaming rollup plans agree (G1)") {
    implicit val sqlCtx = spark.sqlContext
    val lines = Seq("a.b 1.0 100", "a.b 3.0 130", "a.b 5.0 700").toDF("line")
    val batch = CarbonStream.rollupStream(lines, 600L, "average", 999L)
      .orderBy("path", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(batch.toSeq == Seq(("a.b", 0L, 2.0, 2L), ("a.b", 600L, 5.0, 1L)))
  }

  test("streaming simhash dedup: set-based signature, state crosses batches (G4)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.simhashDedupStream(
      source.toDF().toDF("doc_id", "text"))
    val query = out.toDF().writeStream
      .format("memory").queryName("g4_sig").outputMode("append").start()
    try {
      // doc 1 = doc 0's tokens reordered + one repeated → SAME signature
      source.addData(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "lazy dog the quick brown fox jumps over the dog"),
        (2L, "completely different words entirely unrelated content here"))
      query.processAllAvailable()
      // batch 2: doc 3 repeats doc 0's signature → dropped by STATE;
      // doc 4 is novel → kept
      source.addData(
        (3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "carbon metrics arrive on a udp socket as plaintext lines"))
      query.processAllAvailable()
      val rows = spark.table("g4_sig").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(2)))
      assert(rows.toSeq == Seq(
        (0L, true), (1L, false), (2L, true), (3L, false), (4L, true)))
      val sigs = spark.table("g4_sig").orderBy("doc_id").collect().map(_.getLong(1))
      assert(sigs(0) == sigs(1) && sigs(0) == sigs(3) && sigs(0) != sigs(2))
    } finally query.stop()
  }

  test("streaming decontamination flags benchmark overlap in-flight (G5)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("eval_id", "text")
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.decontaminateStream(
      source.toDF().toDF("doc_id", "text"), eval, n = 5, minHits = 3)
    val query = out.toDF().writeStream
      .format("memory").queryName("g5_contam").outputMode("append").start()
    try {
      source.addData(
        (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact: 6 hits
        (1L, "unrelated words that share nothing with the benchmark suite"))
      query.processAllAvailable()
      // second micro-batch: partial overlap (6 leading tokens = 2
      // shared 5-grams, below minHits 3) — stateless, no cross-batch
      // interference
      source.addData(
        (2L, "alpha beta gamma delta epsilon zeta different tail entirely here"))
      query.processAllAvailable()
      val rows = spark.table("g5_contam").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((0L, 6L, 1L), (1L, 0L, 0L), (2L, 2L, 0L)))
    } finally query.stop()
  }

  test("streaming PII redaction scrubs in-flight, batch-identical (G7)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "contact bob@example.com from 10.1.2.3 now"),
      (1L, "clean text with no identifiers at all"),
      (2L, "call 555-123-4567 twice: 555-123-4567"))
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.piiRedactStream(source.toDF().toDF("doc_id", "text"))
    val query = out.writeStream
      .format("memory").queryName("g7_pii").outputMode("append").start()
    try {
      // stateless: split across micro-batches, counts per class exact
      source.addData(texts(0), texts(1))
      query.processAllAvailable()
      source.addData(texts(2))
      query.processAllAvailable()
      val rows = spark.table("g7_pii").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
      assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
        Seq((0L, 1L, 0L, 1L), (1L, 0L, 0L, 0L), (2L, 0L, 2L, 0L)))
      // the md5 content witness is bit-equal to the batch twin (F22):
      // same projection object, so stream and batch can never drift
      val batch = graft.text.Analysis.piiRedact(texts.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
      assert(rows.forall { case (id, _, _, _, m) => batch(id) == m })
    } finally query.stop()
  }

  test("streaming quality gate drops in-flight, batch-identical (G8)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    // 20+ token english filler passes both gates; short text fails
    // quality; german stopwords pass quality but fail language
    val en = "the cat sat on a mat of the house and the dog ran to the park in a fine day"
    val de = "der hund lief und die katze sass auf der matte mit der maus von der wand zu der tuer"
    val texts = Seq((0L, en), (1L, "too short"), (2L, de))
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.qualityGateStream(
      source.toDF().toDF("doc_id", "text"), 0.30, 15, "en")
    val query = out.writeStream
      .format("memory").queryName("g8_gate").outputMode("append").start()
    try {
      source.addData(texts(0), texts(1))
      query.processAllAvailable()
      source.addData(texts(2)) // stateless: second batch gated identically
      query.processAllAvailable()
      val rows = spark.table("g8_gate").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getString(5)))
      assert(rows.toSeq == Seq((0L, 1L, "kept"), (1L, 0L, "quality"),
        (2L, 0L, "language")))
      // every signal column bit-equal to the batch twin's projection
      val batch = graft.text.Analysis
        .qualityGateRows(texts.toDF("doc_id", "text"), 0.30, 15, "en")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getString(3))).toMap
      spark.table("g8_gate").collect().foreach { r =>
        assert(batch(r.getLong(0)) ==
          ((r.getLong(1), r.getDouble(2), r.getString(3))))
      }
    } finally query.stop()
  }

  test("streaming IVF assignment routes embeddings in-flight (G9)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val cents: Seq[(Long, Seq[Float])] =
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
    val source = MemoryStream[(Long, Array[Float])]
    val out = CarbonStream.annAssignStream(
      source.toDF().toDF("vec_id", "embedding"), cents)
    val query = out.writeStream
      .format("memory").queryName("g9_assign").outputMode("append").start()
    try {
      source.addData((10L, Array(0.9f, 0.1f)), (11L, Array(0.1f, 0.9f)))
      query.processAllAvailable()
      // second micro-batch: stateless, incl. the exact-tie vector —
      // equal cosine to both centroids breaks to the LOWEST cent_id
      source.addData((12L, Array(1.0f, 1.0f)))
      query.processAllAvailable()
      val rows = spark.table("g9_assign").orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((10L, 0L), (11L, 1L), (12L, 0L)))
    } finally query.stop()
  }

  test("streaming tokenize counts under a frozen merge table (G10)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val merges = Seq(("a", "a"), ("a", "n"))
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.tokenizeStream(
      source.toDF().toDF("doc_id", "text"), merges)
    val query = out.writeStream
      .format("memory").queryName("g10_tok").outputMode("append").start()
    try {
      source.addData((0L, "aaab banana"))
      query.processAllAvailable()
      source.addData((1L, "aaaa"), (2L, "a a")) // stateless across batches
      query.processAllAvailable()
      val rows = spark.table("g10_tok").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // batch/stream bit-equality: the SAME projection on a batch frame
      val batch = CarbonStream.tokenizeStream(
        Seq((0L, "aaab banana"), (1L, "aaaa"), (2L, "a a"))
          .toDF("doc_id", "text"), merges).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == batch.toSeq)
      // aaab→(aa)(a)(b)=3, banana→b(an)(an)a=4 ⇒ 7 tokens, 10 base
      assert(rows.head == ((0L, 7L, 10L, 14285L)))
    } finally query.stop()
  }

  test("session windows: cross-batch merge, watermark close, gap edge (G21)") {
    import graft.streaming.CarbonStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long)]
    val out = CarbonStream.sessionizeStream(
      source.toDF().toDF("user_id", "ts"), 60L, watermark = "0 seconds")
    val query = out.writeStream.format("memory").queryName("g21_sess")
      .outputMode("append").start()
    try {
      // batch 1 opens u1's session; batch 2 EXTENDS it across the
      // batch boundary (170 lands inside [100, 190) — the state-store
      // merge) and u2's far-future event advances the watermark past
      // the session's end; batch 3 pushes the watermark so both close
      source.addData((1L, 100L), (1L, 130L))
      query.processAllAvailable()
      source.addData((1L, 170L), (2L, 1000L))
      query.processAllAvailable()
      source.addData((2L, 5000L))
      query.processAllAvailable()
      val rows = spark.table("g21_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // the cross-batch session closed as ONE window of 3 events with
      // end = last + gap; u2's isolated event closed as a singleton
      assert(rows.contains((1L, 100L, 230L, 3L)), rows)
      assert(rows.contains((2L, 1000L, 1060L, 1L)), rows)
    } finally query.stop()
    // the boundary contract, batch mode (MEASURED, then pinned): an
    // event at EXACTLY last+gap still MERGES (the window is inclusive
    // of its end for merging — the same boundary as E5's `> gap`
    // split); one tick beyond splits
    val edge = CarbonStream.sessionizeStream(
      Seq((9L, 100L), (9L, 160L)).toDF("user_id", "ts"), 60L)
      .orderBy(col("t0")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(edge.toSeq == Seq((100L, 220L, 2L)))
    val split = CarbonStream.sessionizeStream(
      Seq((9L, 100L), (9L, 161L)).toDF("user_id", "ts"), 60L)
      .orderBy(col("t0")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(split.toSeq == Seq((100L, 160L, 1L), (161L, 221L, 1L)))
  }

  test("event-time funnel expiry: watermark-driven, replay-safe (G20d)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String)]
    // journeys expire 100 s of EVENT time after their last activity —
    // the whole test is watermark-driven by data, zero wall-clock
    val out = CarbonStream.funnelStreamEventTime(
      source.toDF().toDF("user_id", "t", "event_type"),
      Seq("view", "click"), expireSec = 100L)
    val query = out.toDF().writeStream
      .format("memory").queryName("g20d_funnel").outputMode("append").start()
    def rows() = spark.table("g20d_funnel").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2),
        r.getLong(3))).toSeq
    try {
      source.addData((1L, 1000L, "view")) // expiry armed at 1100
      query.processAllAvailable()
      // watermark 1000 < 1100: nothing expires even batches later
      source.addData((2L, 1050L, "view"))
      query.processAllAvailable()
      assert(!rows().exists(_._4 == 1L), rows())
      // an event at 2000 advances the watermark past both horizons;
      // the NEXT batch's start watermark fires both expiries
      source.addData((3L, 2000L, "view"))
      query.processAllAvailable()
      source.addData((3L, 2010L, "click"))
      query.processAllAvailable()
      val closed = rows().filter(_._4 == 1L).map(r => (r._1, r._2, r._3))
      assert(closed.toSet == Set(
        (1L, Seq(1000L, -1L), 1L), (2L, Seq(1050L, -1L), 1L)), rows())
      // expired state is gone: a fresh u1 view opens a new journey
      source.addData((1L, 3000L, "view"))
      query.processAllAvailable()
      assert(rows().contains((1L, Seq(3000L, -1L), 1L, 0L)), rows())
    } finally query.stop()
  }

  test("event-time funnel: dense-limit stream == horizon replay (G20d)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // u1: full funnel then a fresh journey past the horizon; u2: a
    // depth-0 journey (click with no view); u3: view+purchase (skipped
    // step) then an order-violating second journey. Timestamps avoid
    // the heartbeat grid and each other (an event at exactly the
    // watermark would be dropped as late under delay 0 — a harness
    // artifact, not semantics).
    val evs = Seq(
      (1L, 100L, "view"), (3L, 110L, "view"), (3L, 130L, "purchase"),
      (2L, 150L, "click"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (3L, 9010L, "click"), (3L, 9110L, "view"), (1L, 10010L, "view"))
    val source = MemoryStream[(Long, Long, String)]
    val out = CarbonStream.funnelStreamEventTime(
      source.toDF().toDF("user_id", "t", "event_type"), steps,
      expireSec = 1000L)
    val query = out.toDF().writeStream
      .format("memory").queryName("g20d_replay").outputMode("append").start()
    try {
      // the DENSE-STREAM limit the replay canonicalizes: heartbeat
      // ticks every 500 s of event time keep the watermark tracking
      // event time (a production firehose does this for free; on a
      // sparse stream the watermark lags and journeys survive longer
      // — correct event-time semantics, covered by the expiry specs
      // above). One batch per event, in event-time order; trailing
      // ticks close every open real journey.
      val heartbeats = (0L to 11000L by 500L).map(t => (99L, t, "noise"))
      val all = (evs ++ heartbeats).sortBy(_._2) :+
        (99L, 999999L, "noise") :+ (99L, 1000999L, "noise")
      all.foreach { e => source.addData(e); query.processAllAvailable() }
      val streamClosed = spark.table("g20d_replay")
        .filter("closed = 1 AND user_id <> 99")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).mkString(","), r.getLong(2)))
        .sorted.toSeq
      val replay = graft.ops.Relational.funnelHorizonReplay(
        evs.toDF("user_id", "t", "event_type"), steps, expireSec = 1000L)
        .collect()
        .map(r => (r.getLong(0),
          s"${r.getLong(2)},${r.getLong(3)},${r.getLong(4)}", r.getLong(5)))
        .sorted.toSeq
      assert(streamClosed == replay, s"stream=$streamClosed replay=$replay")
      // and the replay's journeys are the expected ones
      assert(replay == Seq(
        (1L, "100,200,300", 3L), (1L, "10010,-1,-1", 1L),
        (2L, "-1,-1,-1", 0L),
        (3L, "110,-1,-1", 1L), (3L, "9110,-1,-1", 1L)))
      // the split boundary is STRICT: a gap of exactly expireSec stays
      // one journey, one tick more splits (Spark's "watermark beyond
      // the set timestamp")
      def journeys(gap: Long) = graft.ops.Relational.funnelHorizonReplay(
        Seq((7L, 100L, "view"), (7L, 100L + gap, "click"))
          .toDF("user_id", "t", "event_type"), steps, expireSec = 1000L)
        .count()
      assert(journeys(1000L) == 1L && journeys(1001L) == 2L)
    } finally query.stop()
  }

  test("event-time funnel expiry: late straggler cannot rewind the horizon (G20d)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String)]
    // a 500 s watermark delay lets out-of-order events survive; the
    // journey's horizon must stay anchored at its TRUE last activity
    // (persisted in state), not the straggler batch's max event time
    val out = CarbonStream.funnelStreamEventTime(
      source.toDF().toDF("user_id", "t", "event_type"),
      Seq("view", "click"), expireSec = 100L, watermark = "500 seconds")
    val query = out.toDF().writeStream
      .format("memory").queryName("g20d_straggler").outputMode("append").start()
    def rows() = spark.table("g20d_straggler").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2),
        r.getLong(3))).toSeq
    try {
      source.addData((1L, 1000L, "view")) // horizon = 1100; wm → 500
      query.processAllAvailable()
      // a straggler click at 600 survives the watermark (600 > 500)
      // but is OLDER than u1's last activity: the horizon must remain
      // 1100, not rewind to 700
      source.addData((1L, 600L, "click"))
      query.processAllAvailable()
      // push the watermark to 1050 — past the rewound-to-700 horizon
      // a buggy arm would have set, but short of the true 1100
      source.addData((9L, 1550L, "view"))
      query.processAllAvailable()
      source.addData((9L, 1560L, "click")) // timeout check at wm 1050
      query.processAllAvailable()
      assert(!rows().exists(r => r._1 == 1L && r._4 == 1L), rows())
      // now past 1100: u1 expires exactly where its own activity says
      source.addData((9L, 2200L, "view")) // wm → 1700 next batch
      query.processAllAvailable()
      source.addData((9L, 2210L, "view"))
      query.processAllAvailable()
      val u1closed = rows().filter(r => r._1 == 1L && r._4 == 1L)
      assert(u1closed.map(r => (r._2, r._3)) == Seq((Seq(1000L, -1L), 1L)),
        rows())
    } finally query.stop()
  }

  test("N-step streaming funnel: fold ≡ funnelSteps, cross-batch (G20c)") {
    import graft.streaming.CarbonStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // single-batch fold ≡ the batch window chain at depth ≥ 1, N=4
    val batch = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (1L, 40L, "d"), (2L, 9L, "b")).toDF("user_id", "t", "event_type")
    val viaFold = CarbonStream.funnelStreamSteps(
      batch.as[(Long, Long, String)], Seq("a", "b", "c", "d")).collect()
      .map(u => (u.user_id, u.ts, u.depth)).toSeq
    assert(viaFold == Seq((1L, Seq(10L, 20L, 30L, 40L), 4L)))
    val viaWindows = graft.ops.Relational
      .funnelSteps(batch, Seq("a", "b", "c", "d"))
      .filter(col("depth") >= 1).collect()
      .map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)), r.getLong(5))).toSeq
    assert(viaFold == viaWindows)
    // cross-batch N=2 progression through the state store
    val source = MemoryStream[(Long, Long, String)]
    val out = CarbonStream.funnelStreamSteps(source.toDS(), Seq("a", "b"))
    val query = out.toDF().writeStream
      .format("memory").queryName("g20c_funnel").outputMode("append").start()
    try {
      source.addData((5L, 10L, "a"))
      query.processAllAvailable()
      source.addData((5L, 20L, "b"))
      query.processAllAvailable()
      val rows = spark.table("g20c_funnel").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
        .sortBy(_._3)
      assert(rows == Seq(
        (5L, Seq(10L, -1L), 1L), (5L, Seq(10L, 20L), 2L)))
    } finally query.stop()
  }

  test("seeded funnel corpora: stream fold ≡ window chain ≡ long-horizon replay, N=3 and N=4 (G20c)") {
    import graft.ops.Relational
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(2024)
    def chain(df: org.apache.spark.sql.DataFrame, n: Int) = df.collect()
      .map(r => (r.getLong(0), (1 to n).map(r.getLong), r.getLong(n + 1))).toSeq
    for (steps <- Seq(Seq("view", "click", "purchase"),
                      Seq("view", "click", "cart", "purchase")); trial <- 1 to 3) {
      // a 40-second span over 12 users: same-second ties everywhere,
      // and `scroll` is a non-step decoy every funnel must ignore
      val types = steps :+ "scroll"
      val evs = (1 to 300).map { _ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong, types(rnd.nextInt(types.length)))
      }.toDF("user_id", "t", "event_type")
      val n = steps.length
      val windows = chain(Relational.funnelSteps(evs, steps), n)
      val advanced = windows.filter(_._3 >= 1)
      val fold = CarbonStream.funnelStreamSteps(evs.as[(Long, Long, String)], steps)
        .collect().map(u => (u.user_id, u.ts, u.depth)).sortBy(_._1).toSeq
      assert(fold == advanced, s"N=$n trial $trial: fold diverged")
      if (n == 3) {
        val g20 = CarbonStream.funnelStream(evs.as[(Long, Long, String)])
          .collect().map(u => (u.user_id, Seq(u.t_view, u.t_click, u.t_purchase),
            u.depth)).sortBy(_._1).toSeq
        assert(g20 == advanced, s"trial $trial: funnelStream diverged")
      }
      // a horizon longer than the corpus span: one closed journey per user
      val replay = Relational.funnelHorizonReplay(evs, steps, expireSec = 1000L)
      assert(replay.filter(col("closed") =!= 1L).count() == 0L)
      assert(chain(replay.drop("jstart", "closed"), n) == windows,
        s"N=$n trial $trial: replay diverged")
    }
  }

  test("streaming funnel expiry: timeout emits terminal row, clears state (G20b)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String)]
    val out = CarbonStream.funnelStream(source.toDS(), expireMs = Some(1L))
    val query = out.toDF().writeStream
      .format("memory").queryName("g20b_funnel").outputMode("append").start()
    def rows() = spark.table("g20b_funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSeq
    // With ProcessingTimeTimeout the query RUNS BATCHES CONTINUOUSLY
    // (shouldRunAnotherBatch is unconditionally true), so
    // processAllAvailable never quiesces — poll the sink instead.
    def await(pred: => Boolean): Unit = {
      val t0 = System.currentTimeMillis
      while (!pred && System.currentTimeMillis - t0 < 30000) Thread.sleep(100)
      assert(pred, rows())
    }
    try {
      source.addData((1L, 10L, "view"))
      await(rows().contains((1L, 10L, 1L, 0L))) // the progress row
      // the armed 1 ms horizon passes; a continuous batch fires the
      // timeout: the terminal closed=1 row with the final state
      await(rows().contains((1L, 10L, 1L, 1L)))
      // state was REMOVED: a later u1 click alone starts NOTHING, and
      // a fresh view opens a NEW funnel seeded at the new timestamp
      // (t_view 120, not the expired journey's 10)
      source.addData((1L, 99L, "click"))
      source.addData((1L, 120L, "view"))
      await(rows().contains((1L, 120L, 1L, 0L)))
      assert(!rows().exists(r => r._1 == 1L && r._2 == 10L && r._3 >= 2L),
        rows())
    } finally query.stop()
  }

  test("streaming funnel: cross-batch state, monotone, emit-on-change (G20)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String)]
    val out = CarbonStream.funnelStream(source.toDS())
    val query = out.toDF().writeStream
      .format("memory").queryName("g20_funnel").outputMode("append").start()
    def rows() = spark.table("g20_funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    try {
      // batch 1: u1 starts (view); u2's click without a view is a
      // non-event — no emission at all
      source.addData((1L, 10L, "view"), (2L, 5L, "click"))
      query.processAllAvailable()
      assert(rows() == Seq((1L, 10L, -1L, -1L, 1L)))
      // batch 2: u1 advances (click at-or-after t1) — a SECOND row for
      // the same user, the append-mode progress log
      source.addData((1L, 20L, "click"))
      query.processAllAvailable()
      assert(rows().sortBy(r => (r._1, r._5)) == Seq(
        (1L, 10L, -1L, -1L, 1L), (1L, 10L, 20L, -1L, 2L)))
      // batch 3: a LATE view earlier than the seeded t1 never rewinds
      // (monotone — arrival order, the changeRelay contract), and a
      // purchase BETWEEN t1 and t2 does not complete the funnel
      // (ordered-at-or-after is E8's law): state unchanged → no rows
      source.addData((1L, 5L, "view"), (1L, 15L, "purchase"))
      query.processAllAvailable()
      assert(rows().length == 2)
      // batch 4: the purchase at-or-after t2 completes it
      source.addData((1L, 20L, "purchase"))
      query.processAllAvailable()
      assert(rows().sortBy(r => (r._1, r._5)).last == (1L, 10L, 20L, 20L, 3L))
    } finally query.stop()
    // single-batch fold ≡ E8's window chain on advanced funnels, incl.
    // the same-second tie chain (view+click+purchase at one t)
    val batch = Seq((7L, 10L, "view"), (7L, 10L, "click"),
      (7L, 10L, "purchase"), (8L, 9L, "click"))
      .toDF("user_id", "t", "event_type")
    val viaFold = CarbonStream.funnelStream(
      batch.as[(Long, Long, String)]).toDF().orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val viaWindows = graft.ops.Relational.funnel(batch)
      .filter(org.apache.spark.sql.functions.col("depth") >= 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(viaFold == Seq((7L, 10L, 10L, 10L, 3L)) && viaFold == viaWindows)
  }

  test("streaming as-of enrichment: static index, staleness, zero state (G19)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.CarbonStream
    import graft.ops.Relational
    implicit val sqlCtx = spark.sqlContext
    // standing snapshot: two rows for key 1 (latest survives), an
    // equal-t tie for key 2 (max id — the E6 carry's tie rule)
    val snap = Seq((1L, 100L, 10L), (1L, 200L, 20L),
      (2L, 300L, 30L), (2L, 301L, 30L)).toDF("user_id", "event_id", "t")
    val idx = Relational.latestIndex(snap)
    idx.count() // materialize: the stream consumes a FINISHED artifact
    val source = MemoryStream[(Long, Long, Long)]
    val out = CarbonStream.asofEnrichStream(
      source.toDF().toDF("event_id", "user_id", "t"), idx)
    val query = out.writeStream
      .format("memory").queryName("g19_asof").outputMode("append").start()
    try {
      source.addData((1000L, 1L, 25L), (1001L, 3L, 25L), (1002L, 2L, 25L))
      query.processAllAvailable()
      // the staleness contract: nothing that "arrived" since the sweep
      // is visible — the second micro-batch still sees the boundary
      // snapshot, untouched
      source.addData((1003L, 1L, 99L))
      query.processAllAvailable()
      // zero streaming state: a stream-static join keeps no state store
      assert(query.lastProgress.stateOperators.isEmpty)
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toSeq
      val rows = shape(spark.table("g19_asof").orderBy("event_id").collect())
      assert(rows == Seq(
        (1000L, 200L, 5L),   // enriched from the snapshot's latest
        (1001L, -1L, -1L),   // unknown key
        (1002L, -1L, -1L),   // LATE: index t=30 > event t=25 → no match
        (1003L, 200L, 79L))) // stale by design: still the boundary index
      // batch/stream equality: the same projection on a batch frame
      val batch = shape(CarbonStream.asofEnrichStream(
        Seq((1000L, 1L, 25L), (1001L, 3L, 25L), (1002L, 2L, 25L),
          (1003L, 1L, 99L)).toDF("event_id", "user_id", "t"), idx)
        .orderBy("event_id").collect())
      assert(rows == batch)
      // plan pin: the K-row index broadcasts — no sort-merge join in
      // the batch twin's physical plan
      val plan = CarbonStream.asofEnrichStream(
        Seq((1000L, 1L, 25L)).toDF("event_id", "user_id", "t"), idx)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"))
    } finally query.stop()
  }

  test("streaming mixture gate verdicts under a frozen rate plan (G13)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    // frozen plan artifact: en kept at 50%, de kept fully, zh excluded;
    // a lang missing from the plan falls to defaultBp = 0 (drop)
    val rates = Seq(("en", 5000), ("de", 10000), ("zh", 0))
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.mixGateStream(
      source.toDF().toDF("doc_id", "lang"), rates)
    val query = out.writeStream
      .format("memory").queryName("g13_mix").outputMode("append").start()
    try {
      source.addData((1L, "en"), (2L, "de"), (3L, "zh"))
      query.processAllAvailable()
      source.addData((4L, "fr"), (5L, "en")) // stateless across batches
      query.processAllAvailable()
      val rows = spark.table("g13_mix").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      // batch/stream bit-equality: the SAME projection on a batch frame
      val batch = graft.ops.Sampling.sampleByStratum(
        Seq((1L, "en"), (2L, "de"), (3L, "zh"), (4L, "fr"), (5L, "en"))
          .toDF("doc_id", "lang"), rates, defaultBp = 0).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      assert(rows.toSeq == batch.toSeq)
      // the frozen rules hold: de always kept, zh and unplanned fr
      // always dropped, en decided by its salted hash bucket
      val byId = rows.map(r => r._1 -> r).toMap
      assert(byId(2L)._4 == 1L && byId(3L)._4 == 0L && byId(4L)._4 == 0L)
      assert(rows.forall { case (_, _, rate, keep) =>
        keep == 0L || rate > 0L })
    } finally query.stop()
  }

  test("streaming classifier gate: frozen weights, stream ≡ batch (G16)") {
    import org.apache.spark.sql.functions.{col, when}
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    // the frozen artifact: F44 trained on a tiny separable corpus
    val corpus = (
      (0 until 10).map(i => (i.toLong, "alpha beta alpha")) ++
        (10 until 20).map(i => (i.toLong, "gamma delta gamma"))
      ).toDF("doc_id", "text")
    val label = when(col("text").contains("alpha"), 1.0).otherwise(0.0)
    val m = graft.text.Classifier.train(corpus, label)
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.clsGateStream(
      source.toDF().toDF("doc_id", "text"), m)
    val query = out.writeStream
      .format("memory").queryName("g16_cls").outputMode("append").start()
    try {
      source.addData((100L, "alpha beta alpha"), (101L, "gamma delta gamma"))
      query.processAllAvailable()
      // stateless across batches: verdicts depend only on (doc, model)
      source.addData((102L, "alpha alpha alpha"))
      query.processAllAvailable()
      val rows = spark.table("g16_cls").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // batch/stream bit-equality: the SAME projection on a batch frame
      val batch = CarbonStream.clsGateStream(
        Seq((100L, "alpha beta alpha"), (101L, "gamma delta gamma"),
          (102L, "alpha alpha alpha")).toDF("doc_id", "text"), m)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(rows.toSeq == batch.toSeq)
      val byId = rows.map(r => r._1 -> r).toMap
      assert(byId(100L)._3 == 1L && byId(101L)._3 == 0L && byId(102L)._3 == 1L)
      // probabilities separate in the model's trained direction
      assert(byId(102L)._2 > byId(101L)._2)
    } finally query.stop()
  }

  test("streaming DSIR gate: frozen delta table, stream ≡ batch scorer (G18)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.CarbonStream
    import graft.ops.Sampling
    implicit val sqlCtx = spark.sqlContext
    // frozen artifact: deltas trained on a corpus whose target slice
    // (doc 0) is token-heavy enough to beat the smoothing denominator
    val corpus = (
      Seq((0L, (Seq.fill(100)("good") ++ Seq.fill(100)("nice")).mkString(" "))) ++
        Seq((1L, Seq.fill(200)("spam").mkString(" ")))
      ).toDF("doc_id", "text")
    val deltas = Sampling.dsirDeltaTable(corpus, col("doc_id") === 0)
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.dsirGateStream(
      source.toDF().toDF("doc_id", "text"), deltas, Sampling.DsirBuckets)
    val query = out.writeStream
      .format("memory").queryName("g18_dsir").outputMode("append").start()
    try {
      source.addData((100L, "good nice good"), (101L, "spam spam"))
      query.processAllAvailable()
      // stateless: verdicts are pure functions of (doc, frozen table)
      source.addData((102L, "good unseen_token"))
      query.processAllAvailable()
      val rows = spark.table("g18_dsir").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      // batch/stream bit-equality: the SAME projection on a batch frame
      val batch = CarbonStream.dsirGateStream(
        Seq((100L, "good nice good"), (101L, "spam spam"),
          (102L, "good unseen_token")).toDF("doc_id", "text"),
        deltas, Sampling.DsirBuckets)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(rows.toSeq == batch.toSeq)
      val byId = rows.map(r => r._1 -> r).toMap
      // target-like keeps, spam drops; the unseen token reads a
      // neutral 0 so doc 102 rides on "good" alone
      assert(byId(100L)._4 && !byId(101L)._4 && byId(102L)._4)
      assert(byId(100L)._2 == 3 && byId(102L)._2 == 2)
      // and the batch F53 scorer agrees with the frozen-gate path on
      // the training corpus itself (shared arithmetic, different plan)
      val f53 = Sampling.dsirScore(corpus, col("doc_id") === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      val gate = CarbonStream.dsirGateStream(corpus, deltas, Sampling.DsirBuckets)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(f53.toSeq == gate.toSeq)
    } finally query.stop()
  }

  test("streaming URL frontier gate: canonical forms vs the standing index (G17)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val baseUrls = Seq((1L, "https://h.com/p"), (2L, "https://x.org/q?id=1"))
      .toDF("doc_id", "url")
    val idx = graft.text.Urls.urlDedup(baseUrls).select(col("url_canon"))
    idx.count() // materialize the standing index (a stream cannot build it)
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.urlGateStream(
      source.toDF().toDF("doc_id", "url"), idx)
    val query = out.writeStream
      .format("memory").queryName("g17_url").outputMode("append").start()
    try {
      source.addData(
        (10L, "HTTPS://H.COM:443/p#x"),     // canonicalizes into the index
        (11L, "https://brand.new/r"))        // unseen → fetch
      query.processAllAvailable()
      // stateless across batches: www + trailing-slash variant of a
      // base URL is still seen; a tracked variant of the unseen one is
      // STILL unseen (the index, not batch history, decides)
      source.addData(
        (12L, "https://www.h.com/p/"),
        (13L, "https://brand.new/r?utm_source=x"))
      query.processAllAvailable()
      val rows = spark.table("g17_url").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        (10L, "https://h.com/p", 1L, 0L),
        (11L, "https://brand.new/r", 0L, 1L),
        (12L, "https://h.com/p", 1L, 0L),
        (13L, "https://brand.new/r", 0L, 1L)))
      // batch/stream equality: the SAME projection on a batch frame
      val batch = CarbonStream.urlGateStream(
        Seq((10L, "HTTPS://H.COM:443/p#x"), (11L, "https://brand.new/r"),
          (12L, "https://www.h.com/p/"), (13L, "https://brand.new/r?utm_source=x"))
          .toDF("doc_id", "url"), idx)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("streaming incremental gate: per-batch verdicts vs the base index (G14)") {
    import graft.dedup.Dedup
    implicit val sqlCtx = spark.sqlContext
    // the standing corpus: one doc whose exact copy and whose
    // signature-level twin will arrive on the stream
    val base = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val (sks, keys) = Dedup.incrementalIndex(spark, base, maxDf = 64)
    // eagerly materialize the index (a stream cannot build it)
    sks.count(); keys.count()
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    // verdicts are a pure function of (doc, index): foreachBatch runs
    // the batch gate per micro-batch with ZERO streaming state — the
    // G6 store pattern, not a stateful operator
    val query = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Dedup.incrementalGateRows(batch, sks, keys).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    try {
      source.addData(
        (4L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
        (8L, "totally novel content that matches nothing at all"))
      query.processAllAvailable()
      source.addData((12L, "xx")) // unsignable → unique
      query.processAllAvailable()
      val v = got.map(r => r._1 -> r._2).toMap
      assert(v(4L) == "exact_dup" && v(8L) == "unique" && v(12L) == "unique")
      assert(got.forall(r => (r._3 == 1L) == (r._2 == "unique")))
      // batch/stream agreement: the same rows through the batch twin
      val batchOut = Dedup.incrementalGateRows(
        Seq((4L, "alpha beta gamma delta epsilon zeta eta theta"),
          (8L, "totally novel content that matches nothing at all"),
          (12L, "xx")).toDF("doc_id", "text"), sks, keys)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got.toSet == batchOut)
    } finally query.stop()
  }

  test("streaming phash gate: per-batch image verdicts vs the standing index (G15)") {
    import graft.multimodal.ImageDedup
    import graft.multimodal.BinaryPipeline.MediaRecord
    implicit val sqlCtx = spark.sqlContext
    // planted fixture: images 0/3/6/9; id 0 gains a re-encoded and a
    // resized copy. Standing index = images 0 and 3, built ONCE and
    // eagerly materialized (a stream cannot build it)
    val d = (0L until 12L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val planted = ImageDedup.plantedImages(spark, d).collect()
    val base = planted.filter(r =>
      r.media_id < ImageDedup.ReencOffset && r.media_id <= 3L).toSeq.toDS()
    val (sv, keyed) = ImageDedup.phashIndex(spark, base, 64)
    sv.count(); keyed.count()
    // arrivals: both planted copies of image 0 (re-encode + resize —
    // twins within the band guarantee) and unindexed original 6
    // (~30 hamming from everything in the index)
    val reenc = planted.find(_.media_id == ImageDedup.ReencOffset).get
    val resized = planted.find(_.media_id == ImageDedup.ResizeOffset).get
    val novel = planted.find(_.media_id == 6L).get
    val source = MemoryStream[MediaRecord]
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val query = source.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[MediaRecord], _: Long) =>
        got ++= ImageDedup.phashGateRows(spark, batch, sv, keyed, 6).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    try {
      source.addData(reenc, novel)
      query.processAllAvailable()
      source.addData(resized) // cross-batch: the index is unchanged
      query.processAllAvailable()
      val v = got.map(r => r._1 -> r._2).toMap
      // a re-encode/resize may hash identically (exact) or within the
      // band guarantee (near) — either way a dup, never unique
      assert(v(ImageDedup.ReencOffset) != "unique")
      assert(v(ImageDedup.ResizeOffset) != "unique")
      assert(v(6L) == "unique")
      assert(got.forall(r => (r._3 == 1L) == (r._2 == "unique")))
      // batch/stream agreement
      val batchOut = ImageDedup.phashGateRows(spark,
        Seq(reenc, novel, resized).toDS(), sv, keyed, 6)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got.toSet == batchOut)
    } finally query.stop()
  }

  test("streaming keywords tag in-flight under a frozen df table (G11)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    // frozen artifact: "common" seen in 9 of 10 training docs, "rare"
    // in 1; "novel" is OOV (df 0 → the idf ceiling ln(N+1))
    val dfTable = Seq(("common", 9L), ("rare", 1L), ("the", 10L))
    val n = 10L
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.keywordsStream(
      source.toDF().toDF("doc_id", "text"), dfTable, n, 2)
    val query = out.writeStream
      .format("memory").queryName("g11_kw").outputMode("append").start()
    try {
      source.addData((0L, "the common common rare"))
      query.processAllAvailable()
      source.addData((1L, "novel the")) // stateless across batches
      query.processAllAvailable()
      val rows = spark.table("g11_kw").orderBy("doc_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      // doc 0: rare tf1·ln(11/2)=1.70 > common tf2·ln(11/10)=0.19 > the
      // doc 1: OOV novel tf1·ln(11/1)=2.40 outranks the
      assert(rows.toSeq == Seq(
        (0L, 1L, "rare", 1L), (0L, 2L, "common", 2L),
        (1L, 1L, "novel", 1L), (1L, 2L, "the", 1L)))
      // batch/stream bit-equality: same projection on a batch frame
      val batch = CarbonStream.keywordsStream(
        Seq((0L, "the common common rare"), (1L, "novel the"))
          .toDF("doc_id", "text"), dfTable, n, 2)
        .orderBy("doc_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      val streamed = spark.table("g11_kw").orderBy("doc_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      assert(streamed.toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("streaming gopher gate verdicts match batch bit-for-bit (G12)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val good = (Seq.fill(28)("table") ++ Seq("the", "and")).mkString(" ")
    val texts = Seq((0L, good), (1L, "too short the a"),
      (2L, Seq.fill(30)("xx#|xx").mkString(" ")))
    val source = MemoryStream[(Long, String)]
    val out = CarbonStream.gopherGateStream(source.toDF().toDF("doc_id", "text"))
    val query = out.writeStream
      .format("memory").queryName("g12_gate").outputMode("append").start()
    try {
      source.addData(texts(0), texts(1))
      query.processAllAvailable()
      source.addData(texts(2)) // stateless across batches
      query.processAllAvailable()
      val rows = spark.table("g12_gate").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(6)))
      assert(rows.toSeq == Seq((0L, 1L), (1L, 0L), (2L, 0L)))
      // every audit column bit-equal to the batch twin
      val batch = graft.text.Analysis.gopherRules(texts.toDF("doc_id", "text"))
        .collect().map(r => r.toSeq).toSeq
      val streamed = spark.table("g12_gate").orderBy("doc_id")
        .collect().map(r => r.toSeq).toSeq
      assert(streamed == batch)
    } finally query.stop()
  }

  test("funnel expiry REMOVES state rows across a micro-batch (G20d state size)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String)]
    val out = CarbonStream.funnelStreamEventTime(
      source.toDF().toDF("user_id", "t", "event_type"),
      Seq("view", "click"), expireSec = 100L)
    val query = out.toDF().writeStream
      .format("memory").queryName("g20d_state").outputMode("append").start()
    def stateRows(): Long =
      query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      source.addData((1L to 5L).map(u => (u, 1000L, "view")): _*)
      query.processAllAvailable()
      assert(stateRows() == 5L) // five open journeys held
      // one event at 2000 pushes the watermark past every horizon
      // (1100): the expiry batch must REMOVE the five journeys, not
      // just emit their terminal rows — the state store shrinks to
      // the single live journey
      source.addData((99L, 2000L, "view"))
      query.processAllAvailable()
      assert(stateRows() == 1L, s"state not evicted: ${stateRows()} rows")
      // the eviction emitted the five closed rows (state left THROUGH
      // the documented terminal emission, not silently)
      assert(spark.table("g20d_state").filter($"closed" === 1L).count() == 5L)
    } finally query.stop()
  }

  test("session close evicts state rows (G21 state size)") {
    import graft.streaming.CarbonStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long)]
    val out = CarbonStream.sessionizeStream(
      source.toDF().toDF("user_id", "ts"), gapSec = 100L,
      watermark = "0 seconds")
    val query = out.writeStream
      .format("memory").queryName("g21_state").outputMode("append").start()
    def stateRows(): Long =
      query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      source.addData((1L, 1000L), (2L, 1010L), (1L, 1050L))
      query.processAllAvailable()
      val openRows = stateRows() // two open sessions held
      assert(openRows == 2L, s"open sessions: $openRows")
      // watermark far past both session ends + gap: both close, emit,
      // and LEAVE the store; only the new session remains
      source.addData((3L, 5000L))
      query.processAllAvailable()
      assert(stateRows() == 1L, s"state not evicted: ${stateRows()} rows")
      assert(spark.table("g21_state").count() == 2L) // the closed pair emitted
    } finally query.stop()
  }

  test("quantile register state stays at the register bound while values grow (G22 state size)") {
    import graft.streaming.CarbonStream
    import graft.ops.Sketch
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, Long)]
    val query = CarbonStream.qsketchStream(source.toDF().toDF("lang", "v"), "lang")
      .writeStream.format("noop").outputMode("update").start()
    def stateRows(): Long =
      query.lastProgress.stateOperators.map(_.numRowsTotal).sum
    // a value's register, derived from its bits: octave e = floor(log2 v)
    // split into QSub equal-width sub-buckets; v <= 0 shares register -1
    def register(v: Long): Long =
      if (v <= 0) -1L
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
        val p = 1L << e
        e * Sketch.QSub + (v - p) * Sketch.QSub / p
      }
    try {
      var registers = Set.empty[Long]
      // 1k small values, then 20k and 40k values over [1, 100000]: the
      // stream grows 60×, the state only by the registers values first hit
      val rows = for ((n, mult) <- Seq(1000L -> 1L, 20000L -> 37L, 40000L -> 41L)) yield {
        val batch = (0L until n).map(i => ("en", i * mult % 100000 + 1))
        source.addData(batch: _*)
        query.processAllAvailable()
        registers ++= batch.map(b => register(b._2))
        assert(stateRows() == registers.size.toLong,
          s"state ${stateRows()} rows vs ${registers.size} registers after $n values")
        stateRows()
      }
      // the last 40k values land in registers already held: no new rows
      assert(rows(2) == rows(1), rows)
      // values < 2^17 span octaves 0..16: at most 17·QSub registers
      assert(registers.size <= 17 * Sketch.QSub)
    } finally query.stop()
  }

  test("streaming byte-CDC ingest gate: frozen chunk index, stream ≡ batch (G25)") {
    import graft.streaming.CarbonStream
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 30L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    val stored = Dedup.cdcBytePayloads(spark, docs)
      .filter(col("media_id") < Dedup.CdcBytesVariantOffset)
    val index = Dedup.cdcChunkIndex(stored).cache()
    val incoming = Dedup.cdcByteIncoming(spark, docs)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val source = MemoryStream[(Long, Array[Byte])]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // the G6/upsertSink shape: the shared batch projection applied per
    // micro-batch against the frozen index
    val query = source.toDF().toDF("media_id", "payload").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= CarbonStream.cdcGateStream(batch, index)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    try {
      source.addData(incoming.take(2): _*)
      query.processAllAvailable()
      source.addData(incoming.drop(2): _*) // verdicts are per-batch —
      query.processAllAvailable()          // no cross-batch state
      val batchTwin = Dedup.cdcGateRows(
          Dedup.cdcByteIncoming(spark, docs), index)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got.sorted.toSeq == batchTwin)
      // the planted law: variants refused, novels admitted
      assert(got.toMap == Map(40000000L -> 0L, 40000015L -> 0L,
        80000000L -> 1L, 80000015L -> 1L))
    } finally query.stop()
  }

  test("streaming quantile registers: batches sum into the batch sketch (G22)") {
    import graft.streaming.CarbonStream
    import graft.ops.Sketch
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(("en", 3L), ("en", 17L), ("de", 100L), ("en", 0L))
    val b2 = Seq(("en", 17L), ("de", 5L), ("en", 1024L))
    val source = MemoryStream[(String, Long)]
    val out = CarbonStream.qsketchStream(source.toDF().toDF("lang", "v"), "lang")
    val query = out.writeStream
      .format("memory").queryName("g22_regs").outputMode("complete").start()
    try {
      source.addData(b1: _*)
      query.processAllAvailable()
      source.addData(b2: _*)
      query.processAllAvailable()
      val streamed = spark.table("g22_regs").orderBy("lang", "qb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // the state store carried batch 1's registers into batch 2's
      // sums: streamed == a from-scratch batch sketch of ALL rows
      val batch = Sketch.qRegisters((b1 ++ b2).toDF("lang", "v"), "lang", $"v")
        .orderBy("lang", "qb").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed == batch)
      // the state IS the sketch: rows ≤ distinct (slice, qb), never
      // stream length — here 7 values collapse to ≤ 6 registers
      assert(streamed.size <= 6)
      // duplicate values share a register (two 17s → one cnt=2 row)
      assert(streamed.exists { case (l, _, c) => l == "en" && c == 2L })
      // live estimates read straight off the sink registers
      val est = Sketch.qEstimate(spark.table("g22_regs"), "lang", Seq(5000))
        .filter($"lang" === "de").collect().map(_.getLong(2)).toSeq
      assert(est == Seq(5L)) // p50 of {5, 100} ranks to 5's bucket (2^2+..)
    } finally query.stop()
  }

  test("streaming CMS counters: batches sum into the batch table (G23)") {
    import graft.streaming.CarbonStream
    import graft.ops.Sketch
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(("en", "the"), ("en", "the"), ("en", "fox"), ("de", "der"))
    val b2 = Seq(("en", "the"), ("de", "der"), ("de", "die"))
    val source = MemoryStream[(String, String)]
    val out = CarbonStream.cmsSketchStream(source.toDF().toDF("slice", "token"))
    val query = out.writeStream
      .format("memory").queryName("g23_regs").outputMode("complete").start()
    try {
      source.addData(b1: _*)
      query.processAllAvailable()
      source.addData(b2: _*)
      query.processAllAvailable()
      val streamed = spark.table("g23_regs").orderBy("slice", "row", "bucket")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      val batch = Sketch.cmsRegisters((b1 ++ b2).toDF("slice", "token"),
          "slice", $"token")
        .orderBy("slice", "row", "bucket")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      assert(streamed == batch)
      // estimates off the streamed table keep the never-undercount law
      val cand = Seq(("en", "the"), ("en", "fox"), ("de", "der"))
        .toDF("slice", "token")
      val estMap = Sketch.cmsEstimate(spark.table("g23_regs"), cand, "token")
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      assert(estMap(("en", "the")) >= 3L)
      assert(estMap(("en", "fox")) >= 1L)
      assert(estMap(("de", "der")) >= 2L)
    } finally query.stop()
  }

  test("streaming simhash dedup batch twin agrees on keepers (G4)") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "lazy dog the quick brown fox jumps over the dog"),
      (2L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val out = CarbonStream.simhashDedupStream(docs).collect()
      .map(d => (d.doc_id, d.keep)).sortBy(_._1)
    assert(out.toSeq == Seq((0L, true), (1L, false), (2L, true)))
  }
}
