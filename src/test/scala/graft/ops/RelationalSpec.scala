package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** E6 as-of join and E7 bucketed interval join: the tie/boundary law
  * on hand fixtures, then equivalence against the brute-force
  * theta-join definition on the real corpus (the oracle states the
  * same semantics in SQL; these pin the Scala seam directly).
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def asofRows(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)]) =
    Relational.asofJoin(
      left.toDF("user_id", "t", "event_id"),
      right.toDF("user_id", "t", "event_id"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))

  test("as-of join: <= contract, ties, no-match, key isolation (E6)") {
    val out = asofRows(
      // (user, t, id) left rows
      Seq((1L, 100L, 10L), // after two clicks at 40,60 -> latest 60 wins
        (1L, 60L, 11L),    // SAME instant as a click -> matches it (<=)
        (1L, 30L, 12L),    // before every click -> no match
        (2L, 100L, 13L),   // user 2's clicks are invisible to user 1
        (3L, 100L, 14L)),  // user with no clicks at all -> no match
      // (user, t, id) right rows; user 2 has two clicks at the SAME t
      Seq((1L, 40L, 20L), (1L, 60L, 21L),
        (2L, 50L, 22L), (2L, 50L, 23L)))
    assert(out.toSeq == Seq(
      (10L, 1L, 100L, Some(21L), Some(60L)),
      (11L, 1L, 60L, Some(21L), Some(60L)), // same-instant click matches
      (12L, 1L, 30L, None, None),
      (13L, 2L, 100L, Some(23L), Some(50L)), // equal-t tie -> max id wins
      (14L, 3L, 100L, None, None)))
  }

  test("as-of join equals the brute theta-join definition on the corpus (E6)") {
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"),
        col("event_type"))
    val l = e.filter(col("event_type") === "purchase").drop("event_type")
    val r = e.filter(col("event_type") === "click").drop("event_type")
    val fast = Relational.asofJoin(l, r).collect()
      .map(x => (x.getLong(0), Option(x.get(3)).map(_.asInstanceOf[Long]))).toMap
    // brute: join all t_r <= t_l candidates, keep max (t, id)
    val brute = l.as("l").join(r.as("r"),
        col("l.user_id") === col("r.user_id") && col("r.t") <= col("l.t"), "left")
      .groupBy(col("l.event_id").as("eid"))
      .agg(max_by(col("r.event_id"),
        struct(col("r.t"), col("r.event_id"))).as("asof_id"))
      .collect().map(x => (x.getLong(0), Option(x.get(1)).map(_.asInstanceOf[Long]))).toMap
    assert(fast.size == brute.size)
    assert(fast == brute)
  }

  test("funnel: ordered steps, same-second ties, out-of-order events (E8)") {
    // u1: full ordered funnel; u2: purchase BEFORE its click — the
    // order matters, depth stops at 2; u3: view only; u4: view+click
    // in the SAME second (>= ties count) but no purchase; u5: no view
    // at all — clicks without a first view never start the funnel
    val e = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 10L, "view"), (2L, 40L, "click"), (2L, 20L, "purchase"),
      (3L, 10L, "view"),
      (4L, 10L, "view"), (4L, 10L, "click"),
      (5L, 10L, "click"), (5L, 20L, "purchase"))
      .toDF("user_id", "t", "event_type")
    val out = Relational.funnel(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 10L, 20L, 30L, 3L),
      (2L, 10L, 40L, -1L, 2L),
      (3L, 10L, -1L, -1L, 1L),
      (4L, 10L, 10L, -1L, 2L),
      (5L, -1L, -1L, -1L, 0L)))
    // one shuffle: the three sequential windows share the user key
    val plan = Relational.funnel(e).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan.take(2000))
  }

  test("funnelSteps: N-step generalization, one exchange at any depth (E8b)") {
    val e = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (1L, 40L, "d"),
      (2L, 10L, "a"), (2L, 5L, "b"), // b BEFORE a: order matters
      (3L, 10L, "b")).toDF("user_id", "t", "event_type")
    // N=2
    val two = Relational.funnelSteps(e, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(two.toSeq == Seq(
      (1L, 10L, 20L, 2L), (2L, 10L, -1L, 1L), (3L, -1L, -1L, 0L)))
    // N=4 with the generic t_<step> naming
    val four = Relational.funnelSteps(e, Seq("a", "b", "c", "d"))
    assert(four.columns.toSeq ==
      Seq("user_id", "t_a", "t_b", "t_c", "t_d", "depth"))
    val r1 = four.collect().head
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4),
      r1.getLong(5)) == ((10L, 20L, 30L, 40L, 4L)))
    // the 3-step driver shape IS the generalization (same columns)
    assert(Relational.funnel(
      Seq((1L, 1L, "view")).toDF("user_id", "t", "event_type"))
      .columns.toSeq ==
      Seq("user_id", "t_view", "t_click", "t_purchase", "depth"))
    // the one-exchange pin holds at N=4, not just 3 (fresh frame: an
    // executed AQE plan prints Final+Initial and double-counts)
    val plan = Relational.funnelSteps(e, Seq("a", "b", "c", "d"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      plan.take(2000))
  }

  test("every funnel entry point rejects an empty or repeated step list") {
    import graft.streaming.CarbonStream
    val e = Seq((1L, 10L, "view")).toDF("user_id", "t", "event_type")
    val entries: Seq[(String, Seq[String] => Any)] = Seq(
      "funnelSteps" -> (s => Relational.funnelSteps(e, s)),
      "funnelPresplit" -> (s => Relational.funnelPresplit(e, s)),
      "funnelHorizonReplay" -> (s => Relational.funnelHorizonReplay(e, s, 100L)),
      "funnelStreamSteps" ->
        (s => CarbonStream.funnelStreamSteps(e.as[(Long, Long, String)], s)),
      "funnelStreamEventTime" -> (s => CarbonStream.funnelStreamEventTime(e, s, 100L)))
    for ((name, f) <- entries;
         bad <- Seq(Seq.empty[String], Seq("view", "click", "view"))) {
      val err = intercept[IllegalArgumentException](f(bad))
      assert(err.getMessage.contains("non-empty and distinct"),
        s"$name($bad): ${err.getMessage}")
    }
  }

  test("presplit sessionize == plain per-user rule, incl. midnight seams (E5-presplit)") {
    val day = 86400L
    // user 1: one session across a midnight + an isolated later one;
    // user 2: boundary gap JUST over the limit (1801 s) splits;
    // user 3: exact 1800 s boundary gap merges (the <= contract);
    // user 4: the chain arithmetic — 4 in-day starts, 2 boundary
    // merges (both midnights), an in-day split inside the middle day
    // → 2 sessions
    val e = Seq(
      (1L, day - 300L, 100L), (1L, day + 300L, 101L),
      (1L, day + 50000L, 102L),
      (2L, 3 * day - 1L, 200L), (2L, 3 * day + 1800L, 201L),
      (3L, 4 * day - 900L, 300L), (3L, 4 * day + 900L, 301L),
      (4L, 5 * day - 100L, 400L), (4L, 5 * day + 100L, 401L),
      (4L, 6 * day - 100L, 402L), (4L, 6 * day + 100L, 403L)
    ).toDF("user_id", "t", "event_id")
    val got = Relational.sessionCountsPresplit(e).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 2L, 2L), (3L, 1L, 2L),
      (4L, 2L, 4L)))
    // the theorem on the real corpus: presplit ≡ the plain rule
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val plain = ev
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .withColumn("ns", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("ns")).as("n_sessions"), count(lit(1)).as("n_events"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(Relational.sessionCountsPresplit(ev)) == rows(plain))
  }

  test("presplit ≡ plain on seeded random corpora clustered at midnights (E5p)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    def plainCounts(ev: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      ev.withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .withColumn("ns",
          when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("ns")).as("n_sessions"), count(lit(1)).as("n_events"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (trial <- 1 to 3) {
      // timestamps cluster within ±1 h of day boundaries, so boundary
      // merges, near-boundary splits, and multi-day stretches all occur
      val evs = (1 to 400).map { i =>
        val u = rnd.nextInt(8).toLong
        val t = rnd.nextInt(4) * 86400L + rnd.nextInt(7201).toLong
        (u, t + 82800L, (trial * 1000 + i).toLong)
      }.toDF("user_id", "t", "event_id")
      assert(rows(Relational.sessionCountsPresplit(evs)) == rows(plainCounts(evs)),
        s"trial $trial diverged")
    }
  }

  test("presplit funnel == plain conditional-min chain, incl. cross-day seams (E8p)") {
    val day = 86400L
    // user 1: view day0, click day1, purchase day2 (every step crosses
    //   a seam — the suffix-splice path at j=0,1,2);
    // user 2: click BEFORE the first view (earlier day — must not
    //   count), then view+click+purchase same later day;
    // user 3: view only (depth 1 across the fold);
    // user 4: same-second view+click+purchase in one day (tie
    //   contract) after a decoy purchase the day before;
    // user 5: no view at all, clicks+purchases everywhere (depth 0)
    val e = Seq(
      (1L, 100L, "view"), (1L, day + 100L, "click"), (1L, 2 * day + 100L, "purchase"),
      (2L, 100L, "click"), (2L, day + 50L, "view"), (2L, day + 60L, "click"),
      (2L, day + 60L, "purchase"),
      (3L, 2 * day, "view"),
      (4L, 100L, "purchase"), (4L, day + 7L, "view"), (4L, day + 7L, "click"),
      (4L, day + 7L, "purchase"),
      (5L, 100L, "click"), (5L, day + 100L, "purchase")
    ).toDF("user_id", "t", "event_type")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val got = rows(Relational.funnelPresplit(e, Seq("view", "click", "purchase")))
    assert(got == rows(Relational.funnel(e)))
    assert(got == Seq(
      (1L, 100L, day + 100L, 2 * day + 100L, 3L),
      (2L, day + 50L, day + 60L, day + 60L, 3L),
      (3L, 2 * day, -1L, -1L, 1L),
      (4L, day + 7L, day + 7L, day + 7L, 3L),
      (5L, -1L, -1L, -1L, 0L)))
    // the theorem on the real corpus
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts").cast("long").as("t"), col("event_type"))
    assert(rows(Relational.funnelPresplit(ev, Seq("view", "click", "purchase")))
      == rows(Relational.funnel(ev)))
  }

  test("presplit funnel ≡ plain on seeded random corpora at midnights (E8p)") {
    val rnd = new scala.util.Random(1234)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val types = Array("view", "click", "purchase", "scroll")
    for (trial <- 1 to 3) {
      // cluster near day boundaries so step chains straddle seams;
      // `scroll` is a non-step decoy the funnel must ignore
      val evs = (1 to 400).map { _ =>
        val u = rnd.nextInt(8).toLong
        val t = rnd.nextInt(4) * 86400L + 82800L + rnd.nextInt(7201).toLong
        (u, t, types(rnd.nextInt(4)))
      }.toDF("user_id", "t", "event_type")
      assert(rows(Relational.funnelPresplit(evs, Seq("view", "click", "purchase")))
        == rows(Relational.funnel(evs)), s"trial $trial diverged")
    }
  }

  test("attribution: equal integer shares, window edges, accumulation (E10)") {
    // purchase 100 at t=100 has two in-window clicks (10 and 100 —
    // the <= boundary counts, the > t-W boundary excludes t=40 at
    // W=60); purchase 200 at t=130 touches click 21 only, so click 21
    // accumulates from both purchases; user 2's click is isolated
    val p = Seq((1L, 100L, 100L), (1L, 200L, 130L), (2L, 300L, 50L))
      .toDF("user_id", "event_id", "t")
    val c = Seq((1L, 20L, 40L), (1L, 21L, 100L), (1L, 22L, 10L),
      (2L, 23L, 100L)).toDF("user_id", "event_id", "t")
    // W=60: purchase 100 window (40, 100] → clicks 21 (t=100); click
    // 22 (t=10) and 20 (t=40) are out; purchase 200 window (70, 130]
    // → click 21 again; purchase 300 window (-10, 50] → click 23 is
    // at t=100 > 50 → unattributed purchase, no row
    val out = Relational.attribution(p, c, 60L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((21L, 1L, 2L, 20000L)))
    // W=100: purchase 100's window (0, 100] holds clicks 20/21/22 →
    // 3333 bp each (remainder dropped — integer shares); purchase
    // 200's window (30, 130] holds 20/21 → 5000 each; accumulation
    val rows = Relational.attribution(p, c, 100L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (20L, 2L, 8333L), (21L, 2L, 8333L), (22L, 1L, 3333L)))
  }

  test("transitions: per-user consecutive pairs, id tie-break, no cross-user pair (E11)") {
    import org.apache.spark.sql.expressions.Window
    // u1: view→click→click; u2: purchase only (no pair); the t=100 tie
    // between id 1 and 2 orders by event_id
    val e = Seq(
      (1L, 1L, 100L, "view"), (1L, 2L, 100L, "click"), (1L, 3L, 200L, "click"),
      (2L, 4L, 50L, "purchase"))
      .toDF("user_id", "event_id", "t", "event_type")
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val out = e.withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(("click", "click", 1L), ("view", "click", 1L)))
  }

  test("retention: cohorts by first week, comeback cells, dedup (E9)") {
    // cohort 100: u1 active weeks 100,101,103 (plus a duplicate event
    // in week 100 that must not double-count); u2 only week 100.
    // cohort 101: u3 active 101 and 103.
    val e = Seq((1L, 100L), (1L, 100L), (1L, 101L), (1L, 103L),
      (2L, 100L), (3L, 101L), (3L, 103L)).toDF("user_id", "wk")
    val out = Relational.retention(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (100L, 0L, 2L), (100L, 1L, 1L), (100L, 3L, 1L),
      (101L, 0L, 1L), (101L, 2L, 1L)))
  }

  test("latestIndex: tie rule, merge ≡ rebuild, enrich ≡ as-of on the split (G19)") {
    // the index keeps ONE row per key: max (t, id) — the E6 tie rule
    val a = Seq((1L, 100L, 10L), (1L, 200L, 20L), (2L, 300L, 30L),
      (2L, 301L, 30L)).toDF("user_id", "event_id", "t")
    assert(Relational.latestIndex(a).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 200L, 20L), (2L, 301L, 30L)))
    // merge of two batch indexes ≡ the index rebuilt from the union
    // (max associativity — work ∝ |index|+|delta|, never ∝ corpus)
    val b = Seq((1L, 150L, 15L), (3L, 500L, 50L))
      .toDF("user_id", "event_id", "t")
    val merged = Relational.latestIndexMerge(
      Relational.latestIndex(a), Relational.latestIndex(b))
    val rebuilt = Relational.latestIndex(a.unionByName(b))
    assert(merged.orderBy("user_id").collect().toSeq ==
      rebuilt.orderBy("user_id").collect().toSeq)
    // the driver oracle's theorem on the real corpus: under the
    // snapshot/arrival split, enrich-from-index ≡ E6's union-and-carry
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"),
        col("event_type"))
    val t0 = Relational.SnapshotT0
    val snap = e.filter(col("event_type") === "click" && col("t") < t0)
      .drop("event_type")
    val arr = e.filter(col("event_type") === "purchase" && col("t") >= t0)
      .drop("event_type")
    val enrich = graft.streaming.CarbonStream
      .asofEnrichStream(arr, Relational.latestIndex(snap))
      .collect().map(x => (x.getLong(0),
        Option(x.get(3)).map(_.asInstanceOf[Long]))).toMap
    val asof = Relational.asofJoin(arr, snap)
      .collect().map(x => (x.getLong(0),
        Option(x.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(enrich.nonEmpty && enrich == asof)
  }

  test("interval join: boundaries closed, multi-bucket spans, W-invariance (E7)") {
    val intervals = Seq((100L, 10L, 30L), (200L, 25L, 26L), (300L, 50L, 50L))
      .toDF("interval_id", "t0", "t1")
    val points = Seq((1L, 9L), (2L, 10L), (3L, 25L), (4L, 30L), (5L, 31L),
      (6L, 50L), (7L, 26L)).toDF("point_id", "t")
    def pairs(w: Long) =
      Relational.intervalJoinBucketed(points, intervals, w)
        .select("interval_id", "point_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set(
      (100L, 2L), (100L, 3L), (100L, 4L), (100L, 7L), // [10,30] closed ends
      (200L, 3L), (200L, 7L),                          // nested interval
      (300L, 6L))                                      // degenerate [50,50]
    // the bucket width moves candidate volume, never the result
    Seq(1L, 7L, 1800L, 1000000L).foreach(w => assert(pairs(w) == expect, s"W=$w"))
  }

  test("interval count equals the brute BETWEEN join on the corpus (E7)") {
    val out = Relational.eventsIntervalCount(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // brute theta-join over the same session intervals
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val sessions = e
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .withColumn("ns", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("seq", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seq"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .select((col("user_id") * 100000L + col("seq")).as("interval_id"),
        col("t0"), col("t1"))
    val brute = sessions.join(e, e("t") >= sessions("t0") && e("t") <= sessions("t1"))
      .groupBy("interval_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == brute)
    // every session contains at least its own events
    assert(out.values.forall(_ >= 1L))
  }

  test("as-of with tolerance: stale carried matches null out (E6b)") {
    val left = Seq((1L, 100L, 10L), (1L, 50L, 11L)).toDF("user_id", "t", "event_id")
    val right = Seq((1L, 40L, 20L)).toDF("user_id", "t", "event_id")
    def rows(tol: Long) = Relational.asofJoinTol(left, right, tol)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
    // lag 60 for id 10, lag 10 for id 11
    assert(rows(100L).toSeq == Seq((10L, Some(20L)), (11L, Some(20L))))
    assert(rows(30L).toSeq == Seq((10L, None), (11L, Some(20L))))
    assert(rows(10L).toSeq == Seq((10L, None), (11L, Some(20L)))) // <= boundary
    assert(rows(9L).toSeq == Seq((10L, None), (11L, None)))
    // on the corpus: every tolerance match IS the plain as-of match
    // (the carry never changes, it only gets filtered)
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"),
        col("event_type"))
    val l = e.filter(col("event_type") === "purchase").drop("event_type")
    val r = e.filter(col("event_type") === "click").drop("event_type")
    val plain = Relational.asofJoin(l, r).collect()
      .map(x => x.getLong(0) -> Option(x.get(3)).map(_.asInstanceOf[Long])).toMap
    val tol = Relational.asofJoinTol(l, r, 3600L).collect()
      .map(x => (x.getLong(0), Option(x.get(3)).map(_.asInstanceOf[Long]),
        Option(x.get(5)).map(_.asInstanceOf[Long])))
    tol.foreach { case (eid, m, lag) =>
      m match {
        case Some(_) => assert(m == plain(eid) && lag.exists(_ <= 3600L))
        case None    => () // either no match at all or a stale one
      }
    }
    assert(tol.exists(_._2.isEmpty) && tol.exists(_._2.nonEmpty))
  }

  test("as-of join plan: ONE hash exchange carries both sides (E6)") {
    val e = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"),
        col("event_type"))
    val plan = Relational.asofJoin(
        e.filter(col("event_type") === "purchase").drop("event_type"),
        e.filter(col("event_type") === "click").drop("event_type"))
      .queryExecution.executedPlan.toString
    // the union is narrow; the single window shuffle on the key is the
    // ENTIRE data movement — no join operator exists in this plan
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"$hashEx hash exchanges\n" +
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!plan.contains("Join"), "as-of must not plan a join")
  }

  test("interval join plan: bucketed equi-join, no nested-loop product (E7)") {
    val plan = Relational.eventsIntervalCount(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(5).mkString("\n"))
  }
}
