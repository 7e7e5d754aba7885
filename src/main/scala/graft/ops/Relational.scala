package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational engine core (SURVEY.md §2.E): the declarative Spark
  * fundamentals every higher-level DataYours operator composes from.
  * All plans are DataFrame-API so Catalyst handles pushdown/pruning;
  * small dimension tables are broadcast explicitly.
  */
object Relational {

  /** E1: TPC-H Q1-style aggregate over lineitem. One shuffle
    * (partial agg map-side), filter pushed to the parquet scan.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** E2: customer ⋈ orders ⋈ lineitem revenue query. customer is the
    * small side at any SF ratio — broadcast; orders⋈lineitem shuffles
    * on orderkey.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** E3: 5-way join region⋈nation⋈customer⋈orders⋈lineitem with all
    * dimensions broadcast; only the orders⋈lineitem join shuffles.
    */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("r_name"), col("n_name"))
  }

  /** E4: top TWO orders per customer by totalprice — row_number window
    * (deterministic via the orderkey tie-break), single shuffle on the
    * partition key.
    */
  def topkWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(
        col("o_custkey"), col("rk").cast("long").as("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** E6: AS-OF join — for every left row, the single most recent right
    * row with the same key and `t_r <= t_l` (the canonical time-series
    * lookup Spark has no native operator for; kdb's `aj`, DuckDB's
    * ASOF JOIN, Flink's temporal join). Tie contract, fully
    * deterministic: a same-instant right row DOES match (`<=`), and
    * among right rows sharing the winning timestamp the one with the
    * greatest id wins.
    *
    * Implementation is the union-and-carry shape, NOT a range join:
    * tag both sides, union into ONE stream, shuffle ONCE by key, sort
    * within partitions by (t, side, id) — right-before-left at equal t
    * encodes the `<=` — and carry the last-seen right row forward with
    * `last(ignoreNulls)`. A naive `t_r <= t_l` theta-join shuffles
    * O(|L|·avg-candidates) rows and then pays a per-left max; this
    * plan moves O(|L|+|R|) narrow rows through exactly one exchange,
    * which is what an as-of against a 100 TB event store needs. Skew
    * is bounded by the largest single key's row count — the same bound
    * the application's own per-key semantics already impose.
    *
    * `left`/`right` both expose (`key`, `t`, `id`); left rows keep
    * their id under its own name, the matched right row arrives as
    * (asof_id, asof_t, lag_s), NULL when no right row precedes (left
    * as-of). Payload columns re-join narrowly on id downstream — the
    * carried stream stays 4 columns wide on purpose.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               key: String = "user_id", t: String = "t",
               id: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col(key), col(t), col(id), lit(1L).as("is_l"))
    val r = right.select(col(key), col(t), col(id), lit(0L).as("is_l"))
    val w = Window.partitionBy(col(key))
      .orderBy(col(t), col("is_l"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof_id",
        last(when(col("is_l") === 0L, col(id)), ignoreNulls = true).over(w))
      .withColumn("asof_t",
        last(when(col("is_l") === 0L, col(t)), ignoreNulls = true).over(w))
      .filter(col("is_l") === 1L)
      .select(col(id), col(key), col(t),
        col("asof_id"), col("asof_t"), (col(t) - col("asof_t")).as("lag_s"))
  }

  /** E6b: as-of join WITH TOLERANCE — the production variant (kdb's
    * windowed `aj`, pandas merge_asof(tolerance=...)): a right row
    * older than `tol` seconds must NOT match (a quote that stale is no
    * quote). Pure post-filter on [[asofJoin]]'s carry: the carried row
    * is the LATEST candidate, so if IT is out of tolerance every other
    * candidate is older still — nulling the carried match is exactly
    * "no match within tolerance". Same single-exchange plan.
    */
  def asofJoinTol(left: DataFrame, right: DataFrame, tol: Long,
                  key: String = "user_id", t: String = "t",
                  id: String = "event_id"): DataFrame =
    asofJoin(left, right, key, t, id)
      .select(col(id), col(key), col(t),
        when(col("lag_s") <= tol, col("asof_id")).as("asof_id"),
        when(col("lag_s") <= tol, col("asof_t")).as("asof_t"),
        when(col("lag_s") <= tol, col("lag_s")).as("lag_s"))

  /** E6b driver shape: purchases attributed to clicks inside a 1-hour
    * window only (−1 sentinels as in [[eventsAsof]]).
    */
  def eventsAsofTol(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("t"), col("event_type"))
    asofJoinTol(
      e.filter(col("event_type") === "purchase").drop("event_type"),
      e.filter(col("event_type") === "click").drop("event_type"), 3600L)
      .select(col("event_id"), col("user_id"), col("t"),
        coalesce(col("asof_id"), lit(-1L)).as("asof_id"),
        coalesce(col("asof_t"), lit(-1L)).as("asof_t"),
        coalesce(col("lag_s"), lit(-1L)).as("lag_s"))
      .orderBy(col("event_id"))
  }

  /** E8: conversion FUNNEL — the ordered-step query every product
    * analytics stack runs (view → click → purchase, each step at or
    * after the previous): t1 = first view, t2 = first click at-or-
    * after t1, t3 = first purchase at-or-after t2, depth = completed
    * steps. Three conditional-min windows over ONE user partitioning —
    * the sequential dependency (t2 needs t1) is a second window pass
    * over the SAME key, so the whole funnel costs one shuffle, not a
    * self-join per step (the naive 3-way join shuffles the event
    * table three times and explodes on active users). −1 sentinels as
    * in [[eventsAsof]]; at-or-after is `>=` — a same-second
    * view+click pair counts, the tie contract the spec pins.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_type")))

  /** The E8 core over a (user_id, t, event_type) frame — the 3-step
    * specialization of [[funnelSteps]] (output columns t_view /
    * t_click / t_purchase; the driver oracle is unchanged by
    * construction).
    */
  def funnel(e: DataFrame): DataFrame =
    funnelSteps(e, Seq("view", "click", "purchase"))

  /** E8 generalized to an ARBITRARY ordered step list: step i's
    * timestamp = the first `steps(i)` event at-or-after step i−1's
    * (step 0 unconditioned). N sequential conditional-min windows
    * still share ONE user partitioning — Spark plans them as one
    * shuffle regardless of N (the E8 one-exchange pin holds at any
    * depth, re-pinned for N=4 in the spec). Output columns
    * `t_<step>` with −1 sentinels, plus depth.
    */
  def funnelSteps(e: DataFrame, steps: Seq[String]): DataFrame = {
    requireSteps(steps)
    stepChain(e, steps, Seq("user_id")).orderBy(col("user_id"))
  }

  /** Every funnel entry point's step-list guard: a step list must be
    * non-empty and name each step once.
    */
  private[graft] def requireSteps(steps: Seq[String]): Unit =
    require(steps.nonEmpty && steps.distinct == steps,
      s"funnel steps must be non-empty and distinct ($steps)")

  /** The batch step rule, shared by [[funnelSteps]] and
    * [[funnelHorizonReplay]]: a chain of conditional-min windows over
    * ONE `keys` partitioning — step i's timestamp is the first
    * `steps(i)` event at or after step i−1's — then one row per key
    * group: the keys, the `extraAggs`, `t_<step>` with −1
    * sentinels, and depth.
    */
  private def stepChain(e: DataFrame, steps: Seq[String], keys: Seq[String],
                        extraAggs: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
    val chained = steps.zipWithIndex.foldLeft(e) { case (df, (st, i)) =>
      val cond =
        if (i == 0) col("event_type") === st
        else col("event_type") === st && col("t") >= col(s"s${i - 1}")
      df.withColumn(s"s$i", min(when(cond, col("t"))).over(w))
    }
    val aggs = extraAggs ++ steps.indices.map(i => first(col(s"s$i")).as(s"v$i"))
    val depth = steps.indices
      .map(i => when(col(s"v$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    val g = chained.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    g.select(g.columns.take(keys.length + extraAggs.length).map(col) ++
      steps.zipWithIndex.map { case (st, i) =>
        coalesce(col(s"v$i"), lit(-1L)).as(s"t_$st")
      } :+ depth.as("depth"): _*)
  }

  /** E10: LINEAR multi-touch ATTRIBUTION — the credit model E6's
    * last-touch as-of can't express: every click in the hour BEFORE a
    * purchase (same user, `p.t−3600 < c.t ≤ p.t`) shares that
    * purchase's credit EQUALLY (credit_bp = 10000 div n per
    * contributing click, the remainder deliberately dropped — integer
    * basis points, no float splits); a click touched by several
    * purchases accumulates. Purchases with no in-window click are
    * unattributed (they appear in no row — the report is per CLICK).
    *
    * Scale shape: ONE user-keyed equi-join with the window as a
    * residual range filter — candidates are bounded per user exactly
    * as E6's carry is (a user's own activity), never corpus×corpus;
    * then two narrow aggregates (per-purchase n, per-click credit
    * sum).
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("t"), col("event_type"))
    attribution(
      e.filter(col("event_type") === "purchase").drop("event_type"),
      e.filter(col("event_type") === "click").drop("event_type"), 3600L)
  }

  /** The E10 core: (purchases, clicks) with (user_id, event_id, t). */
  def attribution(purchases: DataFrame, clicks: DataFrame,
                  windowSec: Long): DataFrame = {
    val cand = purchases.as("p")
      .join(clicks.as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c.t") <= col("p.t") &&
          col("c.t") > col("p.t") - windowSec)
      .select(col("p.event_id").as("p_id"), col("c.event_id").as("c_id"),
        col("p.user_id").as("user_id"))
    val perPurchase = cand.groupBy(col("p_id"))
      .agg(count(lit(1)).as("n"))
    cand.join(perPurchase, "p_id")
      .groupBy(col("c_id").as("event_id"))
      .agg(first(col("user_id")).as("user_id"),
        count(lit(1)).as("n_purchases"),
        sum(expr("10000 div n")).as("credit_bp"))
      .orderBy(col("event_id"))
  }

  /** G21 batch twin: native session_window sessionization over the
    * event corpus at the E5 gap (1800 s) — same plan batch or stream.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.CarbonStream
      .sessionizeStream(Tables.events(spark, dir), 1800L)
      .orderBy(col("user_id"), col("t0"))

  /** G20 batch twin: [[graft.streaming.CarbonStream.funnelStream]] on
    * a batch Dataset (state starts empty per user, one "micro-batch" =
    * the whole corpus), which is provably E8's window chain restricted
    * to users whose funnel advanced at all (depth ≥ 1) — the oracle
    * replays E8's SQL with that filter, so the hash match verifies the
    * fold ≡ windows theorem cross-engine.
    */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_type")).as[(Long, Long, String)]
    graft.streaming.CarbonStream.funnelStream(e).toDF()
      .orderBy(col("user_id"))
  }

  /** G20d batch twin (r10): the EVENT-TIME funnel expiry replayed
    * DETERMINISTICALLY — the horizon rule as a batch fold in
    * event-time order. In the stream, a journey expires when the
    * GLOBAL watermark passes lastActivity + expireSec. The watermark
    * only advances with traffic, so the canonical replay is the
    * DENSE-STREAM LIMIT — watermark ≡ event time, the regime a
    * production firehose actually operates in (and the one a sparse
    * fixture can emulate with heartbeat ticks, as the StreamSpec
    * theorem does): there the global condition reduces to the
    * per-user gap rule — a journey whose next event arrives at
    * t > lastActivity + expireSec (strictly; Spark fires a timeout
    * when the watermark moves BEYOND the set timestamp) has expired
    * before that event, and end-of-stream closes every open journey.
    * On a SPARSE stream the watermark lags and journeys legitimately
    * survive longer (event time stood still — expiring them would be
    * wrong); that regime stays spec-covered, not oracled. So the
    * replay = session-split each user's events at gaps > expireSec
    * (ALL event types advance last-activity, as the stream fold's
    * lastT does), run E8's conditional-min window chain WITHIN each
    * journey, and emit one terminal closed=1 row per journey —
    * depth-0 journeys included (the stream materializes state for
    * every touched user and its expiry emits whatever state holds).
    * Same plan class as E8: the split windows and the step chain all
    * share ONE user shuffle.
    */
  def funnelHorizonReplay(e: DataFrame, steps: Seq[String],
                          expireSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireSteps(steps)
    require(expireSec >= 1, s"expireSec must be >= 1 (got $expireSec)")
    val rank = steps.zipWithIndex.tail
      .foldLeft(when(col("event_type") === steps.head, 0)) {
        case (acc, (st, i)) => acc.when(col("event_type") === st, i)
      }.otherwise(steps.length)
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), rank)
    val withJ = e
      .withColumn("prev_t", lag(col("t"), 1).over(wOrd))
      .withColumn("nj", when(col("prev_t").isNull ||
        col("t") - col("prev_t") > expireSec, 1L).otherwise(0L))
      .withColumn("jid", sum(col("nj"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    stepChain(withJ, steps, Seq("user_id", "jid"), min(col("t")).as("jstart"))
      .drop("jid").withColumn("closed", lit(1L))
      .orderBy(col("user_id"), col("jstart"))
  }

  /** G20d driver query: the horizon replay over the event corpus at a
    * 1-day horizon (≈1k journey splits at sf0.01, ~8 events per journey so the within-journey step chain is exercised) — the oracle
    * replays the identical gap-split + per-journey window chain in
    * SQL, giving the event-time expiry semantics the fold ≡ windows
    * treatment G20 got (the stream ≡ replay side is pinned in
    * StreamSpec over a one-event-per-batch MemoryStream drive).
    */
  def streamFunnelHorizon(spark: SparkSession, dir: String): DataFrame =
    funnelHorizonReplay(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts").cast("long").as("t"),
          col("event_type")),
      Seq("view", "click", "purchase"), expireSec = 86400L)

  /** E11 (r10): user-journey TRANSITIONS — the next-step matrix every
    * Sankey/flow visualization aggregates: for each consecutive event
    * pair within a user's (t, event_id)-ordered stream (the id
    * tie-break makes same-second ordering deterministic cross-engine),
    * count (from_type, to_type). ONE lag window over the user shuffle
    * + one narrow aggregate; output O(#types²).
    */
  def eventsTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("t"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** E9: cohort RETENTION — the week-over-week comeback matrix: each
    * user's cohort is the epoch-week of their FIRST event; for every
    * (cohort, week-offset) cell, how many of the cohort's users were
    * active that week. Two aggregates (first-event per user, distinct
    * (user, week) activity) joined on user — both shuffles on the
    * user key, co-partitionable; the output is a
    * O(#cohorts × #offsets) matrix. Epoch-week = t div 604800 (pure
    * integer; no calendar library to disagree cross-engine).
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame =
    retention(Tables.events(spark, dir)
      .select(col("user_id"),
        expr("cast(ts as long) div 604800").as("wk")))

  /** The E9 core over a (user_id, wk) frame. */
  def retention(e: DataFrame): DataFrame = {
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    e.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("offset"))
  }

  /** G19 support: the latest-right-row-per-key INDEX an
    * enrich-at-ingest join consumes (Flink's temporal-join build side
    * as a refreshable artifact). ONE max aggregate over the standing
    * corpus — K rows out, K = #keys, the broadcastable side of the
    * stream-static join. Ties at equal t resolve to the max id, the
    * SAME tie rule [[asofJoin]]'s (t, is_l, id) sort encodes — which
    * is what makes the enrich ≡ as-of theorem below exact, not
    * approximate. Lexicographic struct max = (max t, then max id).
    */
  def latestIndex(right: DataFrame, key: String = "user_id",
                  t: String = "t", id: String = "event_id"): DataFrame =
    right.groupBy(col(key))
      .agg(max(struct(col(t).as("t"), col(id).as("id"))).as("m"))
      .select(col(key), col("m.id").as("asof_id"), col("m.t").as("asof_t"))

  /** Refresh the standing index with a new batch's index WITHOUT a
    * corpus rebuild: max is associative and commutative, so
    * merge(latestIndex(A), latestIndex(B)) ≡ latestIndex(A ∪ B) — the
    * same merge≡rebuild closure F37/F41 prove for the dedup indexes.
    * Work ∝ |index| + |delta|, never ∝ |corpus|.
    */
  def latestIndexMerge(a: DataFrame, b: DataFrame,
                       key: String = "user_id"): DataFrame =
    a.unionByName(b).groupBy(col(key))
      .agg(max(struct(col("asof_t").as("t"), col("asof_id").as("id"))).as("m"))
      .select(col(key), col("m.id").as("asof_id"), col("m.t").as("asof_t"))

  /** G19 driver shape (batch twin of
    * [[graft.streaming.CarbonStream.asofEnrichStream]]): the standing
    * snapshot = clicks BEFORE the batch boundary, the arriving stream
    * = purchases AT-OR-AFTER it. Under exactly that split — every
    * arriving t ≥ boundary > every snapshot t — the latest-per-key
    * join IS [[asofJoin]]'s carry on the union, so the DuckDB oracle
    * replays E6's OWN window SQL with the split filters and the hash
    * match proves the theorem cross-engine. −1 sentinels as in
    * [[eventsAsof]].
    */
  val SnapshotT0 = 1705363200L // 2024-01-16, mid-corpus batch boundary
  def streamAsofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("t"), col("event_type"))
    val snapshot = e.filter(col("event_type") === "click" &&
      col("t") < SnapshotT0).drop("event_type")
    val arriving = e.filter(col("event_type") === "purchase" &&
      col("t") >= SnapshotT0).drop("event_type")
    graft.streaming.CarbonStream
      .asofEnrichStream(arriving, latestIndex(snapshot))
      .select(col("event_id"), col("user_id"), col("t"),
        coalesce(col("asof_id"), lit(-1L)).as("asof_id"),
        coalesce(col("asof_t"), lit(-1L)).as("asof_t"),
        coalesce(col("lag_s"), lit(-1L)).as("lag_s"))
      .orderBy(col("event_id"))
  }

  /** E6 driver shape: attribute every purchase to the user's most
    * recent click at-or-before it (the ad-attribution query). A
    * purchase with no prior click carries the −1 sentinel (the
    * operator itself returns NULLs — the driver compare's sort-based
    * hash cannot order NULL against BIGINT, so the QUERY pins a
    * sentinel; timestamps and ids are nonnegative, −1 is unambiguous).
    */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("t"), col("event_type"))
    asofJoin(
      e.filter(col("event_type") === "purchase").drop("event_type"),
      e.filter(col("event_type") === "click").drop("event_type"))
      .select(col("event_id"), col("user_id"), col("t"),
        coalesce(col("asof_id"), lit(-1L)).as("asof_id"),
        coalesce(col("asof_t"), lit(-1L)).as("asof_t"),
        coalesce(col("lag_s"), lit(-1L)).as("lag_s"))
      .orderBy(col("event_id"))
  }

  /** E7: point-in-interval RANGE join with NO equi key — the second
    * classic operator Spark lacks natively (DuckDB/Postgres express it
    * as `t BETWEEN t0 AND t1`; Spark's only native plan for it is a
    * broadcast-nested-loop or cartesian product, O(|P|·|I|) compares).
    * The scale path is time-BUCKETING: each interval explodes to the
    * coarse buckets it covers (`sequence(t0 div W, t1 div W)`), each
    * point maps to its single bucket, the two sides meet in an
    * EQUI-join on the bucket, and the exact containment predicate
    * filters the candidates. Shuffle volume O(|P| + Σ spans/W) instead
    * of the all-pairs compare; (interval, point) pairs are unique by
    * construction (one bucket per point, each bucket once per
    * interval), so no dedup shuffle. Pick W near the typical interval
    * span: W too small explodes long intervals, W too large widens
    * candidate lists — either way correctness holds, only the
    * candidate volume moves.
    *
    * `points` = (point_id, t); `intervals` = (interval_id, t0, t1),
    * closed on both ends. Output carries (interval_id, t0, t1,
    * point_id, t) so downstream aggregates need no join back.
    */
  def intervalJoinBucketed(points: DataFrame, intervals: DataFrame,
                           bucketW: Long): DataFrame = {
    val iv = intervals.select(col("interval_id"), col("t0"), col("t1"),
      explode(expr(s"sequence(t0 div $bucketW, t1 div $bucketW)")).as("bucket"))
    val pt = points.select(col("point_id"), col("t"),
      expr(s"t div $bucketW").as("bucket"))
    iv.join(pt, Seq("bucket"))
      .filter(col("t") >= col("t0") && col("t") <= col("t1"))
      .select(col("interval_id"), col("t0"), col("t1"), col("point_id"), col("t"))
  }

  /** E7 driver shape: per-user sessions (the E5 gap rule) become the
    * interval table; every event corpus-wide (ANY user — deliberately
    * no equi key, this is the range join's regime) is counted into the
    * sessions whose span covers its timestamp. W = 1800 s, the gap
    * bound, so a session of n events explodes to at most n+1 buckets.
    */
  def eventsIntervalCount(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val sw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = e
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .withColumn("ns", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("seq", sum(col("ns")).over(sw))
      .groupBy(col("user_id"), col("seq"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .select((col("user_id") * 100000L + col("seq")).as("interval_id"),
        col("t0"), col("t1"))
    intervalJoinBucketed(
      e.select(col("event_id").as("point_id"), col("t")), sessions, 1800L)
      .groupBy(col("interval_id"), col("t0"), col("t1"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("interval_id"))
  }

  /** E5-presplit: the HOT-KEY mitigation for the per-user window
    * family as a real operator (SURVEY §6's documented contract, now
    * code): sessionize with the sort partitioned by (user, DAY)
    * instead of user alone — a bot user owning 20% of a 100 TB stream
    * is no longer one task's sort; each of its days is. The
    * cross-midnight seam is repaired by a SECOND pass over the
    * per-day SESSION rows (bounded: ≤ active days per user, never
    * events): a day's first session CONTINUES the previous day-row's
    * last when the boundary gap is within `gapSec`, and
    * n_sessions = Σ in-day starts − Σ boundary merges — a 3-day
    * spanning session counts 3 starts and 2 merges, one session.
    * Provably ≡ the plain per-user rule (the driver oracle is E5's,
    * shared verbatim): an in-day break is the same gap test, and a
    * boundary break compares exactly the two events the plain sort
    * would have made adjacent.
    */
  def sessionCountsPresplit(e: DataFrame, gapSec: Long = 1800): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withDay = e.withColumn("day", col("t") - col("t") % 86400L)
    val wd = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("t"), col("event_id"))
    val daily = withDay
      .withColumn("gap", col("t") - lag(col("t"), 1).over(wd))
      .withColumn("ns",
        when(col("gap").isNull || col("gap") > gapSec, 1L).otherwise(0L))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("ns")).as("n_start"), min(col("t")).as("t0"),
        max(col("t")).as("t1"), count(lit(1)).as("n_events"))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
    daily
      .withColumn("prev_t1", lag(col("t1"), 1).over(wu))
      .withColumn("merged", when(col("prev_t1").isNotNull &&
        col("t0") - col("prev_t1") <= gapSec, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg((sum(col("n_start")) - sum(col("merged"))).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
  }

  /** E8-presplit: the hot-key mitigation for the FUNNEL family
    * (VERDICT r11 #4 — §6's steepest hot-user row was the funnel's).
    * The plain [[funnelSteps]] sorts ALL of a user's events in one
    * task; here the conditional-min chain runs per (user, DAY), and a
    * SECOND bounded pass (≤ active days per user, never events) stitches
    * days in order.
    *
    * Why a per-day summary suffices: days partition time, so when the
    * cross-day fold reaches day d with steps 0..j−1 already filled from
    * EARLIER days, every event in d is at-or-after those timestamps —
    * the day's contribution is exactly the in-day funnel over the step
    * SUFFIX starting at j, from scratch. Each day therefore carries the
    * N(N+1)/2 suffix-funnel values s(j,i) = "first steps(i) at-or-after
    * s(j,i−1), chain seeded at steps(j)" (all over ONE (user, day)
    * window partitioning — one shuffle), and the per-user fold walks
    * day rows in day order applying the suffix whose index is the
    * first unfilled step. The chain property (s(j,i) is set only if
    * s(j,i−1) is) makes each branch a whole-array splice. In-day
    * behavior is [[funnelSteps]] restricted to the day, and a step
    * filled in an earlier day conditions later days by `t >= prev`
    * trivially (strict day ordering) — so presplit ≡ plain for every
    * input, and the driver oracle is E8's, shared verbatim.
    */
  def funnelPresplit(e: DataFrame, steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireSteps(steps)
    val n = steps.length
    val withDay = e.withColumn("day", col("t") - col("t") % 86400L)
    val wd = Window.partitionBy(col("user_id"), col("day"))
    var df = withDay
    for (j <- 0 until n; i <- j until n) {
      val cond =
        if (i == j) col("event_type") === steps(i)
        else col("event_type") === steps(i) && col("t") >= col(s"s${j}_${i - 1}")
      df = df.withColumn(s"s${j}_$i", min(when(cond, col("t"))).over(wd))
    }
    val sCols = for (j <- 0 until n; i <- j until n) yield s"s${j}_$i"
    val aggs = sCols.map(c => first(coalesce(col(c), lit(-1L))).as(c))
    val daily = df.groupBy(col("user_id"), col("day"))
      .agg(aggs.head, aggs.tail: _*)
    // the stitch: day rows sorted by day (struct sort — day leads),
    // folded with the suffix-splice rule; per-user state is N longs
    val dayStruct = struct(col("day") +: sCols.map(col): _*)
    val perUser = daily.groupBy(col("user_id"))
      .agg(array_sort(collect_list(dayStruct)).as("days"))
    val init = array((0 until n).map(_ => lit(-1L)): _*)
    val folded = aggregate(col("days"), init, (acc, d) => {
      val filled = size(filter(acc, x => x >= 0L))
      // branch j: steps 0..j−1 keep acc, steps j..N−1 splice the day's
      // suffix-j funnel (chain property keeps unreachable slots −1)
      val branches = (0 until n).map { j =>
        array((0 until n).map { i =>
          if (i < j) element_at(acc, i + 1) else d(s"s${j}_$i")
        }: _*)
      }
      branches.zipWithIndex
        .foldLeft(when(filled === n, acc)) { case (w, (b, j)) =>
          w.when(filled === j, b)
        }.otherwise(acc)
    })
    perUser.withColumn("folded", folded)
      .select(col("user_id") +:
        steps.zipWithIndex.map { case (st, i) =>
          element_at(col("folded"), i + 1).as(s"t_$st")
        } :+ size(filter(col("folded"), x => x >= 0L)).cast("long").as("depth"): _*)
      .orderBy(col("user_id"))
  }

  /** The E8 query through [[funnelPresplit]] — same answer, hot-key-
    * safe plan; the oracle is E8's, shared verbatim.
    */
  def eventsFunnelPresplit(spark: SparkSession, dir: String): DataFrame =
    funnelPresplit(Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_type")), Seq("view", "click", "purchase"))
  def eventSessionizePresplit(spark: SparkSession, dir: String): DataFrame =
    sessionCountsPresplit(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("t")))
      .orderBy(col("user_id"))

  /** E5: sessionize the event stream — lag window per user, session
    * break at >30 min gaps, one session count row per user.
    */
  def eventSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("t"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .withColumn("new_session", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }
}
