package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.tsdb.{Carbon, MetricStore, Rollup}

/** Structured-Streaming re-expression of the carbon-cache ingest loop
  * (/root/reference/L_DataCache.lua:161-200): plaintext lines → parse →
  * event-time watermark → windowed rollup aggregation.
  *
  * The same plan builds from a batch OR streaming source (`lines` from
  * `readStream` vs `read`): in streaming mode the watermark bounds
  * state for the windowed agg (map-side partial agg + state store
  * keyed by (path, window) — exactly the cache's per-metric buffer,
  * but distributed and fault-tolerant).
  */
object CarbonStream {

  /** Missing-timestamp stamping per execution mode: a STREAMING source
    * stamps arrival time per micro-batch (Carbon.parseArrival — a
    * frozen job-start `now` would fall behind the watermark and
    * silently drop every later timestamp-less line); batch keeps the
    * pinned `now` (deterministic twins/oracles).
    */
  private def parseLines(lines: DataFrame, now: Long): DataFrame =
    if (lines.isStreaming) Carbon.parseArrival(lines) else Carbon.parse(lines, now)

  /** Rollup of a line stream at `step`-second windows. `window()` start
    * is epoch-aligned, so batch output equals `Rollup.rollup` buckets.
    */
  def rollupStream(lines: DataFrame, step: Long, method: String, now: Long,
                   watermark: String = "1 hour"): DataFrame = {
    val parsed = parseLines(lines, now)
      .withColumn("event_time", timestamp_seconds(col("ts")))
    val withWm =
      if (parsed.isStreaming) parsed.withWatermark("event_time", watermark)
      else parsed
    withWm
      .groupBy(col("path"), window(col("event_time"), s"$step seconds"))
      .agg(
        Rollup.aggExpr(method, col("ts"), col("value")).as("value"),
        count(lit(1)).as("npoints"))
      .select(col("path"),
        col("window.start").cast("long").as("bucket"),
        col("value"), col("npoints"))
  }

  /** Ingest sink: parsed datapoints land as day-partitioned parquet —
    * the same layout `graft.tsdb.MetricStore` fetches with partition
    * pruning. Returns the started query (caller awaits/stops).
    */
  def ingestSink(lines: DataFrame, now: Long, dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val parsed = parseLines(lines, now)
      .withColumn("day",
        col("ts") - col("ts") % graft.tsdb.MetricStore.DaySeconds)
    parsed.writeStream
      .partitionBy("day")
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", dir)
      .start()
  }

  /** G26: [[ingestSink]] WITH store maintenance — every micro-batch
    * runs [[maintainTick]] once: append to the HOT day-partitioned
    * store, publish the days the stream has moved past (and any late
    * rows) as immutable COLD generations by one rename each, then sweep
    * the copies replaced before the tick began. A reader
    * (MetricStore.readMaintained) resolves one copy per day into
    * explicit paths, and no copy it lists is rewritten, or deleted
    * before the end of the tick after its replacement. This is the
    * piece whisper never needed: its ring files are update-in-place
    * (L_DataWhisper.lua:331-354); parquet cannot update in place, and
    * a parquet stream sink accretes one file per micro-batch per day
    * (B15).
    */
  def ingestSinkMaintained(lines: DataFrame, now: Long, hotDir: String,
                           coldDir: String, checkpoint: String,
                           retentionDays: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val parsed = parseLines(lines, now)
      .withColumn("day",
        col("ts") - col("ts") % graft.tsdb.MetricStore.DaySeconds)
    parsed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainTickOnce(batch, hotDir, coldDir, batchId, retentionDays): Unit
      }
      .start()
  }

  /** The exactly-once discipline of both txn-marked sinks (VERDICT r9
    * #3, r10 #1): foreachBatch is at-least-once, so `dir` carries one
    * `_txn/<batchId>` marker per committed batch (an underscore dir
    * parquet discovery ignores; one atomic file-create, written strictly
    * AFTER `tick` completes). A committed batch id replays as a full
    * no-op — the store's bytes stay exactly those of the single
    * successful run. The one remaining window — tick done, marker lost —
    * replays into a tick that converges by itself: last-write-wins
    * merges reproduce identical values. Returns whether `tick` ran.
    */
  private def once(spark: org.apache.spark.sql.SparkSession, dir: String,
                   batchId: Long)(tick: => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_txn/$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) false
    else {
      tick
      fs.mkdirs(marker.getParent)
      fs.createNewFile(marker)
      true
    }
  }

  /** Exactly-once [[maintainTick]] ([[once]]). Without the marker a
    * crash after the hot append but before the checkpoint commit would
    * replay the batch and append every point AGAIN — duplicate raw
    * points that compact into cold and corrupt every sum/avg rollup. In
    * the crash window the replayed tick is idempotent: the hot append
    * lands under the batch's own `ingest_batch=<id>` partition with
    * dynamic overwrite (a replayed write replaces its own files), and
    * days the lost tick already published take the replayed rows as one
    * more generation with equal values.
    */
  private[graft] def maintainTickOnce(batch: DataFrame, hotDir: String,
                                      coldDir: String, batchId: Long,
                                      retentionDays: Int = 0): Boolean =
    once(batch.sparkSession, hotDir, batchId)(
      maintainTick(batch, hotDir, coldDir, batchId, retentionDays))

  /** One maintenance micro-batch, shared verbatim by the
    * `store_maintained_fetch` batch twin. One Spark job learns the
    * batch's day set; one listing of the store (MetricStore.resolve),
    * taken before anything is written, then decides the whole tick:
    *   - rows of days the cold store has not published append to hot
    *     under this batch's own `ingest_batch` partition (dynamic
    *     overwrite — a replayed write is file-level idempotent);
    *   - MetricStore.compactTick publishes every hot day strictly
    *     before the store's max day as generation 0, and the LATE rows
    *     (days already published) as their day's next generation,
    *     last-write-wins per (path, ts) — one job, one rename per day;
    *   - with `retentionDays` set, days that old age out;
    *   - MetricStore.sweep deletes what that listing shows superseded.
    * The live-day watermark is the store-wide max (monotone — a late
    * batch carrying only old points can never reopen a published day).
    * NOTE: the maintained sink owns `hotDir` from birth — the
    * (day, ingest_batch) layout must not mix with a plain
    * day-partitioned append store.
    */
  private[graft] def maintainTick(batch: DataFrame, hotDir: String,
                                  coldDir: String, batchId: Long,
                                  retentionDays: Int = 0): Unit = {
    val spark = batch.sparkSession
    val withDay =
      if (batch.columns.contains("day")) batch
      else batch.withColumn("day", col("ts") - col("ts") % MetricStore.DaySeconds)
    // whisper's archive-range rule at the door: a point older than the
    // PERSISTED retention horizon is rejected, never stored — without
    // this, a very-late point for an aged-out day (whose dir the
    // vacuum deleted, so no listing remembers it) would be classified
    // on-time and resurrect a day older than the horizon
    val horizon = MetricStore.readHorizon(spark, coldDir)
    val inRange =
      if (horizon == 0L) withDay
      else withDay.filter(col("day") >= horizon)
    val b = inRange.select(col("path"), col("ts"), col("value"), col("day"))
      .cache()
    val days = b.select(col("day")).distinct().collect().map(_.getLong(0)).toSeq.sorted
    if (days.nonEmpty) {
      val start = MetricStore.resolve(spark, hotDir, coldDir)
      val (lateDays, onTime) = days.partition(start.cold.contains)
      def ofDays(ds: Seq[Long]) = b.filter(col("day").isin(ds.map(d => d: Any): _*))
      if (onTime.nonEmpty)
        ofDays(onTime).withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day", "ingest_batch").parquet(hotDir)
      // the live-day watermark is a directory-name fact plus this
      // batch's days — never a data scan of the hot tail, which at
      // 100 TB is the live day of the whole fleet re-read per batch
      val store = start.copy(hot = (start.hot ++ onTime).distinct.sorted)
      val liveDay = store.hot.lastOption
      MetricStore.compactTick(spark, store, liveDay.getOrElse(Long.MinValue),
        lateDays, ofDays(lateDays))
      // whisper's maxRetention, live: with a horizon configured the
      // tick ages out days the store has moved past — the full ring
      // behavior (append at the head, compact the middle, drop the
      // tail) in ONE maintenance loop. Idempotent, monotone in liveDay.
      if (retentionDays > 0) liveDay.foreach { d =>
        MetricStore.retentionVacuum(spark, hotDir, coldDir,
          d - retentionDays.toLong * MetricStore.DaySeconds)
      }
      MetricStore.sweep(spark, start)
    }
    b.unpersist()
  }

  final case class Point(path: String, ts: Long, value: Double)

  /** G6: streaming slot upsert into the day-partitioned MetricStore —
    * Whisper's unconditional slot overwrite (L_DataWhisper.lua:331-354)
    * under streaming arrival: every micro-batch merges last-write-wins
    * into the store, so a LATE point carrying an already-stored
    * timestamp lands exactly as `ts_upsert` (B11) does in batch. No
    * watermark and no state store: the STORE ITSELF is the state, and
    * slot overwrite is arbitrarily-late-tolerant by construction
    * (contrast G1, where a watermark must bound open aggregation
    * windows). The store is the maintained layout with no hot half —
    * every touched day is a new cold generation `dir/cold/day=D/gen=G`
    * — read with `MetricStore.readMaintained(spark, s"$dir/hot",
    * s"$dir/cold")`; `_txn` markers live under `dir`.
    */
  def upsertSink(points: Dataset[Point], dir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    points.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Point], batchId: Long) =>
        mergeBatchOnce(batch.toDF(), dir, batchId): Unit
      }
      .start()

  /** Exactly-once [[mergeBatch]] ([[once]]). Without the marker a
    * replayed batch id would re-run the whole merge: value-idempotent
    * (last-write-wins), but one more generation of every touched day,
    * i.e. new files for nothing. In the crash window (merge published,
    * marker lost) the replay publishes that one generation with equal
    * values.
    */
  private[graft] def mergeBatchOnce(batch: DataFrame, dir: String,
                                    batchId: Long): Boolean =
    once(batch.sparkSession, dir, batchId)(mergeBatch(batch, dir))

  /** One micro-batch's merge, shared verbatim by the `stream_upsert`
    * batch twin: ONE publish of every day the batch touches — each
    * becomes its next cold generation, `Rollup.upsert(current
    * generation, batch rows)`, or generation 0 when the day is new
    * (MetricStore.compactTick with every day late) — then the sweep of
    * what the tick's start listing shows superseded. Nothing a reader
    * listed is rewritten: a frame resolved before the merge keeps
    * reading its generation until the next tick's sweep.
    */
  private[graft] def mergeBatch(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    // two references: the distinct-day probe and the merge input
    val b = batch.select(col("path"), col("ts"), col("value")).cache()
    val days = b.select(col("ts") - col("ts") % MetricStore.DaySeconds).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val store = MetricStore.resolve(spark, s"$dir/hot", s"$dir/cold")
    MetricStore.compactTick(spark, store, Long.MinValue, days, b)
    MetricStore.sweep(spark, store)
    b.unpersist()
  }

  /** The DataUser hook (/root/reference/L_DataUser.lua:24-36): a
    * user-defined stage run for EVERY incoming metric before storage —
    * it may drop the point, rewrite metric/value/time, or fan out into
    * several points (the reference's iterator protocol: yield until
    * nil). Spark shape: a typed flatMap — the deliberate escape hatch
    * for arbitrary user logic, accepting the codegen break because the
    * whole point of the hook is code the engine can't see. Hooks
    * expressible as Column expressions (the reference's own
    * bounds-check example) should instead stay declarative in the plan
    * that feeds this, e.g. `withColumn("value", clamp(...))`.
    * Works identically over batch and streaming Datasets.
    */
  def userHook(points: Dataset[Point])(f: Point => IterableOnce[Point]): Dataset[Point] = {
    import points.sparkSession.implicits._
    points.flatMap(f)
  }

  /** G3: the Luup variable-watch relay as custom streaming state
    * (L_DataWatcher.lua:92-156): `luup.variable_watch` fires its
    * callback only when the watched variable's VALUE CHANGES, and the
    * watcher relays just those points to carbon. Per-path state = the
    * last relayed value (exactly the per-variable memory Luup keeps),
    * held in `flatMapGroupsWithState`; a point is emitted iff its value
    * differs from the state. Works identically over a batch Dataset
    * (state starts empty per group) and a stream (state persists across
    * micro-batches in the state store, keyed by path).
    *
    * MEMORY BOUND: the per-group sort materializes ONE path's points
    * from ONE micro-batch in the task (persistent state stays a single
    * Double). A hot path emitting v points/sec with trigger interval t
    * holds v*t points — at carbon-realistic rates (≤ a few k/sec/path)
    * that is a few MB; size the trigger interval accordingly. Points
    * for different paths never share a buffer (they're different
    * groups), so corpus-wide volume does not concentrate in one task.
    */
  def changeRelay(points: Dataset[Point]): Dataset[Point] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.path)
      .flatMapGroupsWithState[Double, Point](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[Double]) =>
          // WITHIN a micro-batch, points process in ts order (retry
          // determinism); ACROSS batches, arrival order — matching the
          // reference's live relay, which compares each datagram as it
          // arrives with no event-time reordering (L_DataWatcher.lua):
          // a point arriving after a newer value was already relayed is
          // compared against that newest state, exactly as the daemon
          // would
          val sorted = it.toArray.sortBy(p => (p.ts, p.value))
          val out = Array.newBuilder[Point]
          var last: Option[Double] = if (state.exists) Some(state.get) else None
          for (p <- sorted) if (!last.contains(p.value)) {
            out += p
            last = Some(p.value)
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Line-level wrapper for changeRelay: parse plaintext, relay only
    * value changes per path.
    */
  def watchRelayStream(lines: DataFrame, now: Long): Dataset[Point] = {
    import lines.sparkSession.implicits._
    changeRelay(parseLines(lines, now).select("path", "ts", "value").as[Point])
  }

  /** Streaming dedup of parsed datapoints: drop (path, ts) repeats
    * within the watermark horizon (G2). The watermarked event_time
    * column is PART of the dedup key — Spark only evicts dedup state
    * for keys that include the event-time column, and event_time is a
    * function of ts, so the key is semantically unchanged while state
    * stays bounded by the horizon instead of growing forever.
    */
  def dedupStream(lines: DataFrame, now: Long, watermark: String = "1 hour"): DataFrame = {
    val parsed = parseLines(lines, now)
      .withColumn("event_time", timestamp_seconds(col("ts")))
    val withWm =
      if (parsed.isStreaming) parsed.withWatermark("event_time", watermark)
      else parsed
    withWm.dropDuplicates("path", "ts", "event_time")
  }

  final case class SigDecision(doc_id: Long, simhash: Long, keep: Boolean)

  /** G4: streaming near-duplicate dedup of DOCUMENTS — the signature is
    * the per-row scalar simhash (TextFns.simhashRow, shuffle-free), so
    * docs that differ only in token order/repeats collapse to one
    * signature; state keyed by signature keeps the first-seen doc
    * across micro-batches (min doc_id inside a batch, the deterministic
    * twin of the batch rule). State per distinct signature is one Long
    * — bounded by content diversity, not stream length.
    */
  final case class ContamDecision(doc_id: Long, hits: Long, contaminated: Long)

  /** G5: in-flight decontamination — flag each INCOMING document that
    * shares ≥ `minHits` distinct n-gram shingles with the benchmark
    * set, before it ever lands in the training corpus (the streaming
    * complement of the batch F15 sweep: F15 audits a corpus you
    * already have; this keeps a live crawl clean).
    *
    * Scale shape: the eval side is benchmark-sized BY DEFINITION, so
    * its hashed shingle set (8-byte h60 longs) ships to every executor
    * as ONE broadcast variable; the check is then a per-row
    * set-membership count — completely STATELESS: no state store, no
    * watermark, no shuffle, identical plan over batch and streaming
    * Datasets (the batch twin IS the oracle). The JVM-side
    * h60/shingle twins are bit-equal to the Column forms
    * (FunctionsSpec-pinned), so flags agree with the F15 batch
    * operator's arithmetic.
    */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame,
                          n: Int, minHits: Int,
                          normalized: Boolean = false): Dataset[ContamDecision] = {
    import docs.sparkSession.implicits._
    import graft.text.TextFns
    // normalized mode: the F15n leak-check normalization, shared with
    // the batch family — eval side through the ONE Column source,
    // stream side through its spec-pinned JVM twin
    val evalIn =
      if (normalized) evalDocs.select(col("eval_id"),
        TextFns.normalizeForMatch(col("text")).as("text"))
      else evalDocs
    // benchmark-sized by contract: collect + broadcast (a benchmark
    // too large to broadcast is a corpus, and belongs in batch F15)
    val evalSet = graft.dedup.Dedup
      .docShingles(evalIn, n, "eval_id")
      .select(TextFns.h60(col("shingle")).as("h")).distinct()
      .as[Long].collect().toSet
    val bc = docs.sparkSession.sparkContext.broadcast(evalSet)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val t = if (normalized) TextFns.normalizeForMatchJvm(text) else text
        val hits = TextFns.shinglesJvm(t, n)
          .count(s => bc.value.contains(TextFns.h60Jvm(s)))
        ContamDecision(id, hits.toLong, if (hits >= minHits) 1L else 0L)
      }
  }

  /** G7: in-flight PII redaction — the F22 scrub applied BEFORE a
    * document ever lands in the corpus store (scrubbing at ingest
    * means raw PII is never at rest; batch F22 remains the audit pass
    * over data that already landed). Stateless and map-only: the
    * projection is pure codegen'd regex Columns
    * ([[graft.text.Analysis.piiRedactRows]]), mode-agnostic by
    * construction — no state store, no watermark, no shuffle, and the
    * batch twin (the driver oracle) IS this function on a batch
    * Dataset.
    */
  def piiRedactStream(docs: DataFrame): DataFrame =
    graft.text.Analysis.piiRedactRows(docs)

  /** G8: in-flight quality gating — F14's per-document stages
    * (quality score + language) applied BEFORE a document lands in
    * the corpus, so the bulk of a crawl is dropped at ingest instead
    * of stored and re-read by the batch curation pass. Stateless and
    * map-only ([[graft.text.Analysis.qualityGateRows]] is pure
    * per-row Columns), mode-agnostic by construction; the corpus-wide
    * curation stages (exact/near dedup) stay with G4's signature
    * state and the batch pass — they need cross-document context a
    * row-local gate cannot have.
    */
  def qualityGateStream(docs: DataFrame, minScore: Double, minTokens: Int,
                        keepLang: String): DataFrame =
    graft.text.Analysis.qualityGateRows(docs, minScore, minTokens, keepLang)

  /** G9: streaming IVF list assignment — continuous index building:
    * each incoming embedding routes to its inverted list AT INGEST, so
    * the ANN index grows with the stream instead of being rebuilt by
    * batch sweeps (the codebook itself stays a batch artifact — F6c
    * refines it offline, exactly how production IVF deployments roll
    * codebooks). Stateless map-only: the bounded codebook ships as
    * expression literals ([[graft.similarity.Ann.assignRowwise]]), no
    * state store, no shuffle; the batch twin is the same projection.
    */
  def annAssignStream(vecs: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame =
    graft.similarity.Ann.assignRowwise(vecs, cents)

  /** G10: in-flight tokenization — each incoming document is counted
    * under a FROZEN BPE merge table at ingest (the shape every
    * training pipeline ships: the tokenizer is a batch-trained
    * artifact, F21, and token accounting — shard budgets, billing,
    * pack planning — happens as data arrives, not in a later sweep).
    * Stateless map-only: the merge table is N rows by construction and
    * ships as expression literals inside ONE narrow projection
    * ([[graft.text.Bpe.applyTokens]]); no state store, no watermark,
    * no shuffle, mode-agnostic — the batch twin (the driver oracle) IS
    * this function on a batch Dataset.
    */
  def tokenizeStream(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.text.Bpe.applyTokens(docs, merges)

  /** G12: in-flight Gopher-rule gating — the F33 filter bundle applied
    * AT INGEST (the earliest place a crawl pipeline can refuse junk):
    * stateless map-only, the one shared projection
    * ([[graft.text.Analysis.gopherRulesRows]]) so stream and batch
    * verdicts cannot drift; spec-only BY DESIGN like G7 — a separate
    * oracle would duplicate F33's char-for-char.
    */
  def gopherGateStream(docs: DataFrame): DataFrame =
    graft.text.Analysis.gopherRulesRows(docs)

  /** G22: LIVE quantile registers at ingest — F54's log-bucket sketch
    * maintained by Structured Streaming's stateful aggregation (the
    * VERDICT r8 #7 round-trip): the same integer bucket projection
    * ([[graft.ops.Sketch.qRegisters]], shared so stream and batch
    * registers cannot drift) runs map-side per micro-batch, and the
    * state store holds exactly the register table — one row per
    * (slice, qb), ≤ ~64·QSub rows per slice FOREVER: the state IS the
    * sketch, so it never grows with stream length, which is the whole
    * point of sketching at ingest. Each micro-batch's partial counts
    * SUM into the standing registers — a [[graft.ops.Sketch.qMerge]]
    * per batch — so streamed registers equal a from-scratch batch
    * sketch exactly (count-sum associativity, the F54b theorem
    * streamed; spec-pinned cross-batch). complete/update output emits
    * the refreshed registers; [[graft.ops.Sketch.qEstimate]] over the
    * sink gives live p50/p99s between batches.
    */
  def qsketchStream(vals: DataFrame, slice: String): DataFrame =
    graft.ops.Sketch.qRegisters(vals, slice, col("v"))

  /** G23: LIVE heavy-hitter counters at ingest — F58's Count-Min table
    * as the stream state: ≤ CmsD·CmsW rows per slice forever, each
    * micro-batch elementwise-summing into the standing table
    * ([[graft.ops.Sketch.cmsMerge]] streamed — addition
    * associativity, so streamed counters equal the batch table
    * exactly and the never-undercount guarantee carries over
    * unchanged). The same register projection
    * ([[graft.ops.Sketch.cmsRegisters]]) is the single source;
    * candidates probe the sink with [[graft.ops.Sketch.cmsEstimate]].
    */
  def cmsSketchStream(tok: DataFrame): DataFrame =
    graft.ops.Sketch.cmsRegisters(tok, "slice", col("token"))

  /** G25: byte-CDC ingest dedup gate — F59 at the door (the G15
    * image-phash discipline applied to raw payloads, and what extends
    * the gate family to the binary side of the multimodal store):
    * incoming payloads chunk map-only (the compiled
    * [[graft.functions.CdcChunks]] kernel riding the scan), every
    * chunk occurrence probes the FROZEN (chunk_md5, len) index the
    * batch sweep maintains ([[graft.dedup.Dedup.cdcChunkIndex]] — the
    * G14/G17 refreshable-artifact shape; a content-addressed store
    * keeps this index anyway), and the verdict is the shared-byte
    * fraction: ≥ tau of the payload already stored → refuse. The ONE
    * shared projection ([[graft.dedup.Dedup.cdcGateRows]]) serves
    * batch and stream, so verdicts cannot drift; per-payload
    * aggregation only — work ∝ incoming chunks, never the store.
    */
  def cdcGateStream(incoming: DataFrame, index: DataFrame,
                    tau: Double = 0.5): DataFrame =
    graft.dedup.Dedup.cdcGateRows(incoming, index, tau = tau)

  /** G13: in-flight mixture gating — the FROZEN F35 rate plan applied
    * AT INGEST: each arriving document gets its keep/drop verdict
    * under the batch-planned basis-point rates (the mixture plan is an
    * offline artifact a human signed off on — K rows by construction —
    * exactly how G10 freezes the BPE merge table and G11 the df
    * artifact; re-planning belongs to the next batch sweep, not the
    * hot path). Stateless map-only: the rate CASE ships as expression
    * literals inside ONE narrow projection
    * ([[graft.ops.Sampling.sampleByStratumRows]], shared with the F24
    * batch sampler so stream and batch keep verdicts cannot drift); no
    * state store, no shuffle.
    */
  def mixGateStream(docs: DataFrame, ratesBp: Seq[(String, Int)]): DataFrame =
    graft.ops.Sampling.sampleByStratumRows(docs, ratesBp, defaultBp = 0)

  /** G16: in-flight MODEL-based quality gating — the FROZEN F44
    * classifier applied at ingest, downstream of G12's rule bundle
    * (rules refuse structural junk; the model scores what remains —
    * the two-stage filter every production crawl pipeline runs). The
    * weights are a batch-trained artifact (65 doubles by construction
    * — the G9-codebook bounded-broadcast argument) shipping as
    * expression literals inside ONE narrow projection
    * ([[graft.text.Classifier.scoreRows]], the in-row z fold shared
    * with the F44 batch scorer so stream and batch verdicts cannot
    * drift); stateless, map-only, mode-agnostic.
    */
  def clsGateStream(docs: DataFrame,
                    m: graft.text.Classifier.Model): DataFrame =
    graft.text.Classifier.scoreRows(docs, m)

  /** G18: in-flight DSIR gate — the FROZEN F53 log-ratio table
    * applied at ingest (train the distributions in the nightly batch
    * sweep, gate the crawl all day — the G10/G11/G16 frozen-artifact
    * shape): the B-row fixed-point delta table ships as ONE map
    * literal inside a single narrow projection, each document's
    * importance log-weight summed IN-ROW by the `aggregate`
    * higher-order function (integer adds — whole-stage codegen, no
    * UDF), keep = sum > 0. Stateless, map-only, mode-agnostic; a
    * token hashing to a bucket the training corpus never populated
    * reads delta 0 (neutral — no evidence either way).
    */
  def dsirGateStream(docs: DataFrame, deltas: Seq[(Long, Long)],
                     nBuckets: Int): DataFrame = {
    require(deltas.nonEmpty, "frozen delta table must be non-empty")
    require(deltas.size <= nBuckets,
      s"delta table larger than the bucket space (${deltas.size} > $nBuckets)")
    val dmap = map(deltas.flatMap { case (b, d) => Seq(lit(b), lit(d)) }: _*)
    val toks = graft.text.TextFns.tokens(col("text"))
    val wfp = aggregate(toks, lit(0L), (acc, t) =>
      acc + coalesce(element_at(dmap, graft.text.TextFns.h60(t) % nBuckets),
        lit(0L)))
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
      round(wfp.cast("double") / lit(1e6), 6).as("logw"),
      (wfp > 0).as("keep"))
  }

  /** G17: in-flight URL frontier gate — the G14 refreshable-index
    * discipline at the FETCH frontier (the earliest gate a crawl has:
    * a URL whose canonical form the corpus already owns never costs a
    * fetch): each arriving URL canonicalizes map-only (the F46 chain)
    * and left-joins the standing corpus's canonical-URL set; `fetch` =
    * 1 only for unseen canonical forms. Zero streaming state — the
    * index is a static DataFrame rebuilt/merged by the batch sweep
    * (itself one F46 aggregate), exactly how G14 holds the signature
    * index and G15 the hamming index.
    */
  def urlGateStream(urls: DataFrame, baseCanon: DataFrame): DataFrame =
    urls.select(col("doc_id"),
      graft.text.Urls.canonicalize(col("url")).as("url_canon"))
      .join(baseCanon.select(col("url_canon"), lit(1L).as("seen0")),
        Seq("url_canon"), "left")
      .select(col("doc_id"), col("url_canon"),
        coalesce(col("seen0"), lit(0L)).as("seen"),
        when(col("seen0").isNull, 1L).otherwise(0L).as("fetch"))

  /** G21: SESSION-WINDOW sessionization — E5's gap rule as Spark's
    * native `session_window` (the one stateful-aggregation primitive
    * the G family hadn't exercised): per-user sessions grow while
    * events arrive within `gapSec` of the session's end, the window
    * end extends to last-event + gap, and in STREAMING mode the
    * watermark both merges cross-batch partial sessions in the state
    * store and finalizes a session once the watermark passes its end
    * (append mode emits only CLOSED sessions — the semantics a
    * sessionized export wants).
    *
    * Boundary contract (Spark's, measured and pinned by spec + the
    * oracle): a session's window is inclusive of its end for merging
    * — an event arriving at EXACTLY last+gap still merges; the split
    * needs `diff > gap`, the same boundary as E5's `gap > 1800` rule.
    * Timestamps truncate to whole epoch seconds first so both engines
    * share the grid.
    */
  def sessionizeStream(events: DataFrame, gapSec: Long,
                       watermark: String = "1 hour"): DataFrame = {
    val base = events.select(col("user_id"),
      timestamp_seconds(col("ts").cast("long")).as("event_time"))
    val withWm =
      if (base.isStreaming) base.withWatermark("event_time", watermark)
      else base
    withWm
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$gapSec seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("t0"),
        col("session_window.end").cast("long").as("t1"),
        col("n_events"))
  }

  /** One G20 progress row: [[FunnelUpdateN]] at the 3-step query shape
    * (view → click → purchase), one column per step timestamp.
    * `closed` = 1 only on a processing-time EXPIRY row (the terminal
    * emission of an abandoned journey); every progress row and every
    * batch-mode row carries 0 — batch has no clock, so expiry is a
    * streaming-only concept and the batch twin's oracle pins the
    * constant.
    */
  final case class FunnelUpdate(user_id: Long, t_view: Long, t_click: Long,
                                t_purchase: Long, depth: Long, closed: Long)

  /** One stream-funnel row: the step timestamps in step order (−1 =
    * not reached), the completed-step count, and `closed` (1 only on
    * the terminal row of an expired journey).
    */
  final case class FunnelUpdateN(user_id: Long, ts: Seq[Long],
                                 depth: Long, closed: Long)

  /** The stream step rule, shared by every stream funnel: one call of
    * the `flatMapGroupsWithState` function over the step slots
    * s(0 until n) of the per-user state (−1 = not reached; a caller
    * may persist more slots after them, sized by `slots`). A timed-out
    * group emits its terminal closed = 1 row and REMOVES its state.
    * Otherwise the group's events fold in (t, step rank) order, with
    * non-step types ranked last, so same-second chains complete (the
    * E8 `>=` tie contract): step i fires on the first `steps(i)` event
    * at or after step i−1. `arm` sees the folded state before it is
    * saved (the caller's timeout), and a row is emitted only when a
    * step advanced.
    */
  private def foldSteps(steps: Seq[String], slots: Int, uid: Long,
                        events: Array[(Long, String)],
                        state: GroupState[Array[Long]])
                       (arm: Array[Long] => Unit): Iterator[FunnelUpdateN] = {
    val n = steps.length
    def row(s: Array[Long], closed: Long) = {
      val ts = s.take(n).toSeq
      FunnelUpdateN(uid, ts, ts.count(_ >= 0).toLong, closed)
    }
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(row(s, 1L))
    } else {
      val s = if (state.exists) state.get.clone() else Array.fill(slots)(-1L)
      val before = s.take(n).toSeq
      val rank = steps.zipWithIndex.toMap
      for ((t, tp) <- events.sortBy(x => (x._1, rank.getOrElse(x._2, n))))
        rank.get(tp).foreach { i =>
          if (s(i) < 0 && (i == 0 || (s(i - 1) >= 0 && t >= s(i - 1))))
            s(i) = t
        }
      arm(s)
      state.update(s)
      if (s.take(n).toSeq != before) Iterator.single(row(s, 0L))
      else Iterator.empty
    }
  }

  /** The streaming conversion funnel over an arbitrary ordered step
    * list (the [[graft.ops.Relational.funnelSteps]] twin): per-user
    * state is an N-long array folded by [[foldSteps]]. With `expireMs`
    * set, each update re-arms a processing-time timeout whose firing
    * emits the terminal closed = 1 row and removes the state, so the
    * store holds only journeys touched within the horizon. Batch mode
    * never times out (one invocation, no clock). Single-batch ≡
    * funnelSteps at depth ≥ 1 (the spec pins N=2, 3 and 4).
    */
  def funnelStreamSteps(events: Dataset[(Long, Long, String)],
                        steps: Seq[String],
                        expireMs: Option[Long] = None): Dataset[FunnelUpdateN] = {
    import events.sparkSession.implicits._
    graft.ops.Relational.requireSteps(steps)
    val timeoutConf =
      if (expireMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], FunnelUpdateN](
        OutputMode.Append, timeoutConf) {
        (uid, it, state: GroupState[Array[Long]]) =>
          foldSteps(steps, steps.length, uid,
            it.map(e => (e._2, e._3)).toArray, state)(
            _ => expireMs.foreach(state.setTimeoutDuration))
      }
  }

  /** EVENT-TIME expiry for the N-step funnel — the replay/backfill-
    * safe twin of G20b's processing-time horizon: a journey expires
    * `expireSec` after its OWN last activity (by event time), so a
    * backfill replayed at 100× speed expires journeys exactly where
    * live processing would have, and a stalled consumer expires
    * nothing spuriously. Requires the event-time watermark (the
    * timeout fires when the watermark passes last-activity + horizon);
    * the arm is guarded against the watermark having already passed
    * (very-late stragglers re-arm at the watermark edge instead of
    * throwing). STREAM-ONLY by nature — batch has no watermark; the
    * batch twin is [[funnelStreamSteps]] without expiry (spec-only
    * coverage, the G2 convention).
    *
    * The state array carries ONE extra slot: the journey's
    * last-activity event time (so 8 B/user over the step slots).
    * Without it, a late straggler that survives the watermark but is
    * OLDER than the journey's prior activity would re-arm the horizon
    * from the current batch's max alone and expire the journey
    * early — the horizon must be monotone in the journey's true last
    * activity, which only persisted state can witness across batches.
    */
  def funnelStreamEventTime(events: DataFrame, steps: Seq[String],
                            expireSec: Long,
                            watermark: String = "0 seconds"): Dataset[FunnelUpdateN] = {
    import events.sparkSession.implicits._
    graft.ops.Relational.requireSteps(steps)
    require(expireSec >= 1, s"expireSec must be >= 1 (got $expireSec)")
    // the watermarked column must SURVIVE into the stateful operator —
    // a projection (or object map) that drops it strips the watermark
    // and the analyzer rejects the event-time timeout, so the
    // timestamp rides the grouped tuple itself
    val wm = events
      .select(col("user_id").cast("long").as("user_id"),
        col("t").cast("long").as("t"), col("event_type"),
        timestamp_seconds(col("t")).as("event_time"))
      .withWatermark("event_time", watermark)
      .as[(Long, Long, String, java.sql.Timestamp)]
    val n = steps.length
    wm.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], FunnelUpdateN](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state: GroupState[Array[Long]]) =>
          val evs = it.map(e => (e._2, e._3)).toArray
          foldSteps(steps, n + 1, uid, evs, state) { s =>
            s(n) = evs.foldLeft(s(n))((m, e) => math.max(m, e._1))
            state.setTimeoutTimestamp(math.max((s(n) + expireSec) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
          }
      }
  }

  /** G20: streaming conversion FUNNEL — E8's ordered-step law
    * (view → click-at-or-after → purchase-at-or-after) held as
    * per-user STATE: [[funnelStreamSteps]] at N=3, each row mapped to
    * a [[FunnelUpdate]]. Each micro-batch folds its user's events
    * through the step rule (views sort before clicks before purchases
    * at equal t, so same-second chains complete), emits one row
    * whenever the user's funnel ADVANCED, and persists the three
    * timestamps as an `array<bigint>` in the state store.
    *
    * MONOTONE by construction — the changeRelay arrival-order
    * contract: a late-arriving view EARLIER than the seeded t_view
    * never rewinds the funnel (the live pipeline answered conversion
    * questions with what it had seen; the nightly E8 batch run is the
    * corrector). On a single batch with empty state the fold is
    * EXACTLY E8's window chain restricted to depth ≥ 1 users — the
    * oracle's theorem. With `expireMs` set, journeys expire as
    * in funnelStreamSteps (G20b).
    */
  def funnelStream(events: Dataset[(Long, Long, String)],
                   expireMs: Option[Long] = None): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    funnelStreamSteps(events, Seq("view", "click", "purchase"), expireMs)
      .map(u => FunnelUpdate(u.user_id, u.ts(0), u.ts(1), u.ts(2),
        u.depth, u.closed))
  }

  /** G19: streaming as-of ENRICHMENT — E6's union-and-carry is batch;
    * the production twin enriches AT INGEST: each arriving event
    * left-joins the latest right-side row for its key from the
    * standing [[graft.ops.Relational.latestIndex]] snapshot (Flink's
    * processing-time temporal join). Zero streaming state — the index
    * is a static K-row DataFrame rebuilt or
    * [[graft.ops.Relational.latestIndexMerge]]-merged by batch sweeps
    * (the G14/G15/G17 refreshable-index discipline), and Spark
    * broadcasts it into a map-only stream-static join.
    *
    * STALENESS CONTRACT: an arriving event sees the index AS-OF the
    * last batch boundary — right rows arriving after the sweep are
    * invisible until the next refresh, and the index holds only the
    * LATEST row per key, so a late event older than the index entry
    * gets NULL (the `asof_t <= t` guard) even where batch E6 would
    * find an older right row. Under the production split (every
    * arriving t ≥ boundary > every snapshot t) the guard never fires
    * and enrich ≡ as-of exactly — the oracle's theorem.
    */
  def asofEnrichStream(events: DataFrame, index: DataFrame,
                       key: String = "user_id", t: String = "t",
                       id: String = "event_id"): DataFrame =
    events.select(col(id), col(key), col(t))
      .join(index, Seq(key), "left")
      .select(col(id), col(key), col(t),
        when(col("asof_t") <= col(t), col("asof_id")).as("asof_id"),
        when(col("asof_t") <= col(t), col("asof_t")).as("asof_t"),
        when(col("asof_t") <= col(t), col(t) - col("asof_t")).as("lag_s"))

  /** G11: in-flight keyword tagging — each incoming document gets its
    * top-k TF-IDF keywords AT INGEST against the FROZEN df artifact
    * the last batch sweep trained (F30 recomputes df from the corpus
    * it scores — two corpus passes, inherently batch; the stream
    * variant freezes (token → df, N) the way G10 freezes the BPE merge
    * table). Stateless map-only — the whole rank happens inside the
    * row ([[graft.text.Analysis.keywordsRowwise]]); no state store, no
    * shuffle, mode-agnostic: the batch twin (the driver oracle) IS
    * this function on a batch Dataset.
    */
  def keywordsStream(docs: DataFrame, dfTable: Seq[(String, Long)],
                     nDocs: Long, k: Int): DataFrame =
    graft.text.Analysis.keywordsRowwise(docs, dfTable, nDocs, k)

  def simhashDedupStream(docs: DataFrame): Dataset[SigDecision] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").cast("long"),
        graft.text.TextFns.simhashRow(col("text")).as("simhash"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, SigDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sig, it, state: GroupState[Long]) =>
          val ids = it.map(_._1).toArray.sorted
          val keeper =
            if (state.exists) None
            else { state.update(ids.head); Some(ids.head) } // sorted: head == min
          ids.iterator.map(id => SigDecision(id, sig, keeper.contains(id)))
      }
  }
}
