package graft.tools

import graft.SparkSpec
import graft.core.Caching._

/** The ExplainAudit invariants pinned as tests, so a plan regression
  * (lost pushdown, a dimension falling out of broadcast, an extra
  * shuffle, an unbounded cartesian) fails `sbt test` instead of waiting
  * for a manual audit. Asserts over `queryExecution.executedPlan` of
  * the driver queries at sf0.001. The ASSERTIONS are plan-shape only;
  * note that BUILDING a few whisper queries eagerly runs their fixture
  * export/write (Queries.whisperExportFetch and the .wsp fixture), so
  * the all-query sweep does execute those setup jobs.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // cachedOnce registrations from previously-built queries would be
    // plan-substituted into this query's executedPlan (InMemoryRelation
    // prints its cached plan, double-counting exchanges) — pin each
    // query's shape as a fresh session would plan it, the way
    // Bench/Verify run them (clearCache between queries)
    spark.catalog.clearCache()
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("ts_fetch_stored: path prefix pushed to scan, day partitions pruned") {
    val p = plan("ts_fetch_stored")
    // the 100 TB fetch shape: the glob's literal prefix reaches the
    // parquet reader as a pushed filter...
    assert(p.contains("StringStartsWith(path,vera.u1)"), p.take(2000))
    // ...and the time range prunes day partitions before any IO
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("day#")), p.take(2000))
  }

  test("q3/q5: every dimension broadcasts; only lineitem shuffles") {
    val q3 = plan("q3_join")
    val q5 = plan("q5_multijoin")
    assert(countOf(q3, "BroadcastHashJoin") == 2 && !q3.contains("SortMergeJoin")
      && !q3.contains("ShuffledHashJoin"), q3.take(2000))
    assert(countOf(q5, "BroadcastHashJoin") == 4 && !q5.contains("SortMergeJoin")
      && !q5.contains("ShuffledHashJoin"), q5.take(2000))
  }

  test("rollups: one hash exchange per archive level, no more") {
    // single-level rollup = 1 aggregation shuffle (+ the output sort's
    // range exchange); the 3-level cascade = exactly 3
    val one = plan("ts_rollup_avg")
    assert(countOf(one, "Exchange hashpartitioning") == 1, one.take(2000))
    val cascade = plan("ts_multi_archive")
    assert(countOf(cascade, "Exchange hashpartitioning") == 3, cascade.take(2000))
  }

  test("stream_cls_gate scoring is map-only: frozen weights as literals") {
    // the F44/G16 scoring projection: the in-row z fold with the model
    // as a 64-slot literal array — no join, no aggregation shuffle
    // (training runs eagerly while BUILDING the frame; the asserted
    // plan is the scoring query a stream executes per event)
    val p = plan("stream_cls_gate")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("store_conf_fetch: every rule group's scan keeps the pushed path prefix") {
    // the schema-driven store must not lose the B8s pushdown: each
    // group's archive scan carries the glob's literal prefix as a
    // pushed StringStartsWith, and day partitions prune per group
    val p = plan("store_conf_fetch")
    assert(countOf(p, "StartsWith(path,vera.u1") >= 2, p.take(3000))
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("day#")), p.take(3000))
  }

  test("gfn_group_by_tags: one aggregation exchange on the extracted key, no join") {
    // the C16 tagged rollup: the group key is a string extraction on
    // the path column, so the plan is groupByNodes' — the fetch
    // cascade's exchanges plus exactly ONE for the (key, t) aggregate,
    // and the tag expressions never add a join (they filter the K-row
    // path list before the scan)
    val p = plan("gfn_group_by_tags")
    val base = plan("gfn_series_by_tag")
    assert(countOf(p, "Exchange hashpartitioning") ==
      countOf(base, "Exchange hashpartitioning") + 1, p.take(3000))
  }

  test("gfn_divide_lists: K-row broadcast pairing, never a cartesian") {
    // the *SeriesLists positional pairing: rank tables are K-row
    // metadata broadcast against the frames — no SortMergeJoin of the
    // datapoint sides, no CartesianProduct anywhere
    val p = plan("gfn_divide_lists")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(countOf(p, "BroadcastHashJoin") >= 2, p.take(3000))
  }

  test("text_repetition is map-only: no aggregation shuffle, no join") {
    val p = plan("text_repetition")
    // the per-row shingle arithmetic must never grow a shuffle (the
    // only exchange is the output sort's range partitioning)
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("text_pii_redact is map-only: regex scrubbing rides the scan") {
    val p = plan("text_pii_redact")
    // three regexp_replace + three counts per row; the only exchange is
    // the output sort's range partitioning
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("corpus_report: md5 group + slice rollup, no pairwise work") {
    val p = plan("corpus_report")
    // the only joins are the dup-flag join on content_md5 (broadcast at
    // test scale; co-partitioned SMJ at corpus scale) — never a
    // cartesian; shuffles: md5 group, (possibly) the flag join, and the
    // low-cardinality slice rollup
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    assert(countOf(p, "Exchange hashpartitioning") <= 3, p.take(2000))
  }

  test("stream_ann_assign is map-only: the codebook rides as literals") {
    val p = plan("stream_ann_assign")
    // K scored structs + greatest() per row — no join against a
    // centroid table, no aggregation; only the output sort exchanges
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("stream_quality_gate is map-only: both gates ride the scan") {
    val p = plan("stream_quality_gate")
    // score + argmax language + reason are all per-row arithmetic; the
    // only exchange is the output sort's range partitioning
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("ann_pq: map-only encode, one window shuffle, codes vs broadcast queries") {
    val p = plan("ann_pq")
    // the encode is a pure scan-projection (codebook as literals, the
    // G9 pattern); the only join is the code stream against the
    // broadcast query table; the only hash exchange is topK's window
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2000))
    assert(countOf(p, "Exchange hashpartitioning") == 1, p.take(2000))
  }

  test("dedup_semantic: broadcast codebook, equi-join candidates") {
    val p = plan("dedup_semantic")
    // the K-row codebook reaches the assignment as a broadcast (the
    // crossJoin must stay a BroadcastNestedLoopJoin, never a shuffle),
    // and every corpus-side join is a hash equi-join (cent_id cell
    // join + id-pair rejoins) — the global no-CartesianProduct sweep
    // plus this pin keep the pair stage cluster-bounded
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") || countOf(p, "SortMergeJoin") <= 4,
      p.take(2000))
  }

  test("corpus_pack: bucketed prefix sum, no global-sort funnel") {
    val p = plan("corpus_pack")
    // within-bucket windows + bounded offsets join — the corpus never
    // funnels through a single window partition; the offsets join
    // broadcasts and the only corpus shuffles are the bucket window's
    // partitioning and the bucket-totals aggregation
    assert(countOf(p, "Exchange hashpartitioning") <= 3, p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("corpus_sample is map-only: keep streams out of the scan") {
    val p = plan("corpus_sample")
    // salted-hash bucket + rate CASE + keep are all per-row arithmetic;
    // the only exchange is the output sort's range partitioning
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("text_lm_score: bounded model broadcasts; one corpus shuffle") {
    val p = plan("text_lm_score")
    // top-V vocab and the 1-row total both join broadcast (their
    // corpus-side size ESTIMATES would block auto-broadcast — pinned)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2000))
    // the token stream shuffles once: the per-doc aggregation (vocab's
    // own tf aggregate + countDistinct expand account for the rest —
    // they run over the BOUNDED vocab pipeline, not per corpus row)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("decontaminate: the eval side joins broadcast") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("dedup_substring family: hashed-gram equi-joins, no nested loops") {
    for (name <- Seq("dedup_substring", "dedup_substring_spans")) {
      val p = plan(name)
      // the pair source must stay a hash equi-join on the 8-byte gram
      // key; a nested-loop join here means the gram equality was lost
      // to an expression rewrite and the corpus goes all-pairs
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name:\n${p.take(2000)}")
      assert(p.contains("Join"), s"$name:\n${p.take(2000)}")
    }
  }

  test("dedup_minhash_capped: sig-key hash equi-joins only, no nested loops") {
    for (name <- Seq("dedup_minhash_capped", "dedup_minhash_clusters")) {
      val p = plan(name)
      // the band self-join and the doc expansions must stay hash
      // equi-joins on the 32-byte sig/band keys; a nested-loop join
      // means the key equality was lost and the corpus goes all-pairs
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name:\n${p.take(2000)}")
      assert(p.contains("Join"), s"$name:\n${p.take(2000)}")
    }
  }

  test("dedup_cc_clusters: a steady-state iteration is one groupBy shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the loop's own shapes: edges pre-partitioned on v (once, outside
    // the loop), labels = a prior round's checkpointed aggregation
    // output (partitioned on u)
    // at corpus scale neither join side fits a broadcast and AQE does
    // not coalesce same-sized shuffles — pin the plan under those
    // conditions (the tiny fixture would otherwise auto-broadcast)
    val conf = spark.conf
    val prevBcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val ids = (0L to 9L).toDF("doc_id")
      val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("x", "y")
      val edges = pairs.select(col("x").as("u"), col("y").as("v"))
        .unionByName(pairs.select(col("y").as("u"), col("x").as("v")))
        .unionByName(ids.select(col("doc_id").as("u"), col("doc_id").as("v")))
        .repartition(col("v")).cachedOnce
      val labels0 = ids.select(col("doc_id").as("u"), col("doc_id").as("lbl"))
      val round1 = graft.dedup.Dedup.ccStep(labels0, edges).cachedOnce
      round1.count()
      val labels1 = round1.select(col("u"), col("lbl"))
      val step = graft.dedup.Dedup.ccStep(labels1, edges).queryExecution.executedPlan
      // the label side arrives partitioned on the join key through the
      // previous round's cache and the edge side reuses the pre-loop
      // repartition — the round's only NEW exchange is the groupBy; a
      // second one means every iteration re-shuffles the full label or
      // edge table (tree collect stays outside cached-plan internals)
      val exchanges = step.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1, step.toString.take(3000))
      edges.unpersist(); round1.unpersist()
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("ann_ivf_refined: codebook stays broadcast through every lloyd iteration") {
    val p = plan("ann_ivf_refined")
    // the assignment joins (2 lloyd iterations + final assignment +
    // query probe) must ALL be broadcasts of the K-row codebook; a
    // SortMergeJoin means a codebook stage lost its broadcast and the
    // full corpus is being sorted against 32 rows
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("ivf candidate stream carries no dedup shuffle (VERDICT r6 #2)") {
    // (q_id, vec_id) is unique by construction — one coarse assignment
    // per vector × distinct probe lists per query — so the float/SQ8
    // IVF paths must not pay a dropDuplicates exchange on the candidate
    // stream (at 100 TB the largest intermediate in the query). Hash
    // exchanges = assignment argmax + probe-rank window + topK window:
    // exactly 3 (the r6 dedup made it 4).
    for (name <- Seq("ann_ivf", "ann_ivf_quantized")) {
      val p = plan(name)
      assert(countOf(p, "Exchange hashpartitioning") == 3,
        s"$name:\n${p.take(3000)}")
    }
  }

  test("ann_filtered: label predicate reaches the parquet scan; ivf shape intact") {
    val p = plan("ann_filtered")
    // the pre-filter shape's whole point: the predicate lands on the
    // candidate-side SCAN (PushedFilters), so excluded rows never enter
    // the assignment aggregate, let alone the cent_id shuffle
    assert(p.contains("PushedFilters: [IsNotNull(label)"), p.take(3000))
    // and the plan stays ann_ivf's: 3 hash exchanges, no extra dedup
    assert(countOf(p, "Exchange hashpartitioning") == 3, p.take(3000))
  }

  test("ann_mips: corpus streams one stage; lsh variant joins on buckets only") {
    val brute = plan("ann_mips")
    // exact MIPS = bruteTopK's shape: broadcast query side, zero hash
    // exchanges before the topK window
    assert(countOf(brute, "Exchange hashpartitioning") == 1, brute.take(3000))
    assert(countOf(brute, "BroadcastNestedLoopJoin") == 1, brute.take(3000))
    val lsh = plan("ann_mips_lsh")
    // the reduction rides the existing bucket machinery: the M²
    // aggregate is a 1-row broadcast, candidates come from a broadcast
    // bucket join, never a full cross join of corpus × corpus
    assert(countOf(lsh, "BroadcastHashJoin") >= 1, lsh.take(3000))
    assert(!lsh.contains("SortMergeJoin"), lsh.take(3000))
  }

  test("capped minhash consumers share the session-cached keyed table") {
    // the 40-rows/sig keyed table (CappedIndex.keys) and the signature
    // table are cachedOnce at ONE plan shape — so in a session that
    // runs several minhash consumers (capped pairs, then clusters), the
    // second consumer's plan must READ the in-memory tables instead of
    // re-running the corpus signature + keying pipeline (VERDICT r6 #4:
    // the rebuild only happens across cache-clearing query boundaries,
    // which is Verify/Bench hygiene, not operator cost)
    spark.catalog.clearCache()
    try {
      graft.ops.LlmQueries.dedupMinhashCapped(spark, dir).count()
      val p = plan("dedup_minhash_clusters")
      // the keyed table (sk, band, lvl, bkey) reads from cache...
      assert("InMemoryTableScan \\[sk#\\d+, band#".r.findFirstIn(p).isDefined,
        p.take(3000))
      // ...and so does the signature table (doc_id, [mh,] sk) — the
      // corpus tokenize+minhash pipeline runs zero times in this query
      // (FileScan lines in the printout are the cached relations'
      // PRINTED lineage plus the doc_id-only population scan)
      assert("InMemoryTableScan \\[doc_id#\\d+L?, (mh#\\d+, )?sk#".r
        .findFirstIn(p).isDefined, p.take(3000))
    } finally spark.catalog.clearCache()
  }

  test("ann_quantized: query codes broadcast, corpus streams one stage") {
    val p = plan("ann_quantized")
    // the code-space rerank must keep bruteTopK's shape: bounded query
    // side broadcast against the streaming corpus scan — a
    // SortMergeJoin means the 4×-smaller stream gained a full sort
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("ann_ivf_quantized: codebook + probes broadcast, codes in the lists") {
    val p = plan("ann_ivf_quantized")
    // same invariant as ann_ivf: every codebook/probe join broadcasts;
    // a SortMergeJoin means the K-row side lost its broadcast
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("ann_ivf_pq: codebook + probes broadcast, m-byte codes in the lists") {
    val p = plan("ann_ivf_pq")
    // the IVFPQ composition must keep ann_ivf's join shape (codebook
    // and probe sides broadcast, candidate join a broadcast hash join)
    // with no safety-dedup shuffle: one assignment per vector makes
    // (q_id, vec_id) unique by construction
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // the encode kernel runs in exactly ONE map-only projection (the
    // codes side of the index join) — NEVER inside the assignment
    // aggregate, where a computed max_by payload is re-evaluated per
    // compared row and the kernel runs ~K times per vector (measured
    // 10× wall before the r7 index-join shape)
    assert(countOf(p, "pqencodeexpr") == 1, p.take(3000))
  }

  test("text_lm_bigram: bounded history broadcasts; transition join hashes") {
    val p = plan("text_lm_bigram")
    // the V+1-row history table must broadcast (a SortMergeJoin there
    // means the bounded side lost its size estimate); the corpus-sized
    // bigram-count join may hash or sort-merge but never nested-loop
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("text_keywords: one corpus count, df joins by token, per-doc window") {
    val p = plan("text_keywords")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the 1-row N table rides a broadcast nested loop (bounded); the
    // per-doc ranking must be a window over doc_id, not a global sort
    assert(p.contains("windowspecdefinition(doc_id"), p.take(3000))
  }

  test("multimodal decode chain: no shuffle before the summary aggregation") {
    val p = plan("multimodal_pipeline")
    // resize → decode are partition-preserving mapPartitions; the only
    // hash exchanges are the two final per-kind aggregations (feats +
    // frames), each with a map-side partial
    assert(countOf(p, "Exchange hashpartitioning") <= 3, p.take(3000))
  }

  test("ann_image_phash: equi-join probe, q_id-ranked window, no frame sort-merge") {
    val p = plan("ann_image_phash")
    // candidate generation is a (band, lvl, bkey) hash equi-join against
    // the standing index — the only nested-loop joins in the plan are
    // the bounded 4-row band-index crosses (swept separately for
    // CartesianProduct); the rank window partitions by q_id (high
    // cardinality — no hot partition), ordered (hamming, match_id)
    assert(p.contains("windowspecdefinition(q_id"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("gfn combiners aggregate map-side; selection broadcasts, never sorts the frame") {
    val p = plan("gfn_sum_series")
    // sumSeries = one map-side-combined groupBy(t) on the fetch frame
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val top = plan("gfn_moving_top")
    // highestCurrent: the ≤n ranked list returns as a broadcast
    // left-semi — the frame itself is never globally sorted or
    // sort-merge-joined
    assert(top.contains("BroadcastHashJoin") && top.contains("LeftSemi"),
      top.take(3000))
    assert(!top.contains("SortMergeJoin"), top.take(3000))
    val pf = plan("gfn_percent_filter")
    assert(!pf.contains("SortMergeJoin"), pf.take(3000))
  }

  test("gfn percentile/sort/divide family: K-row tables broadcast, frame never sorted") {
    // nPercentile: the per-series percentile table joins back broadcast
    // — the frame itself is never globally sorted
    val np = plan("gfn_npercentile")
    assert(np.contains("BroadcastHashJoin"), np.take(3000))
    assert(!np.contains("SortMergeJoin"), np.take(3000))
    // sortByMaxima+limit: the ordering lives in a ≤K-row rank table; the
    // kept set returns as a broadcast left-semi, no frame-wide sort
    val sm = plan("gfn_sort_maxima")
    assert(sm.contains("LeftSemi") && sm.contains("BroadcastHashJoin"), sm.take(3000))
    assert(!sm.contains("SortMergeJoin"), sm.take(3000))
    // per-dividend divideSeries: the collapsed divisor (one row per
    // grid point) broadcasts; the dividend stream is never shuffled
    // into a sort-merge join
    val dl = plan("gfn_divide_list")
    assert(dl.contains("BroadcastHashJoin"), dl.take(3000))
    assert(!dl.contains("SortMergeJoin"), dl.take(3000))
    // asPercent(const) is pure map work over the fetch frame: exactly
    // the fetch's own 3 hash exchanges (two rollup aggregations + the
    // grid build), nothing added by the percent stage — single-fetch
    // targets keep their exact pre-memoFetch plan (r13: the memo only
    // materializes a fetch on its SECOND reference)
    val pc = plan("gfn_percent_const")
    assert(!pc.contains("SortMergeJoin"), pc.take(3000))
    assert(countOf(pc, "Exchange hashpartitioning") == 3, pc.take(3000))
    // the percentile stage adds 2 exchanges over the fetch baseline
    // (the non-null value window's path partitioning + the rank
    // filter), never a frame-wide sort
    assert(countOf(np, "Exchange hashpartitioning") == 5, np.take(3000))
  }

  test("stream_mix_gate is map-only: frozen rate plan as literals, no join") {
    // the plan derivation is a bounded driver-side collect at build
    // time; the gate itself must be one narrow projection — the only
    // exchange is the output sort's range partitioning
    val p = plan("stream_mix_gate")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("stream_keywords is map-only: frozen artifact as literals, no join, no shuffle") {
    val p = plan("stream_keywords")
    // the in-row rank: the only exchange is the output sort's range
    // partitioning — this is what makes the operator stream-safe
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("stream_dsir_gate is map-only: frozen delta map as a literal, no join") {
    // the in-row fold over the map literal — zero hash exchanges is
    // what makes the gate stream-safe (the only exchange is the
    // output sort's range partitioning)
    val p = plan("stream_dsir_gate")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("dedup_cdc: in-row chunking, one chunk-hash shuffle, no join") {
    // boundary detection + span slicing happen inside the row; the
    // ONLY hash exchange is the per-chunk-md5 window electing
    // (df, keeper) — the F1 scaling class
    val p = plan("dedup_cdc")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p.take(3000))
    assert(p.contains("hashpartitioning(chunk_md5"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("audio_frames: batched codec stage is shuffle-free") {
    // decode + frame features ride mapPartitions on the scan; the
    // only exchange is the output sort's range partitioning
    val p = plan("audio_frames")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("r8 family plan shapes: broadcasts everywhere, bounded exchanges") {
    // C10: two fetch pipelines (3 exchanges each) + ONE consolidation
    // aggregate — the budget costs one exchange, never one per series
    // (each glob fetches once, so the r13 memoFetch leaves both inline)
    val co = plan("gfn_consolidate")
    assert(countOf(co, "Exchange hashpartitioning") == 7, co.take(3000))
    assert(!co.contains("SortMergeJoin"), co.take(3000))
    // the URL form: one fetch pipeline + the same single extra exchange
    val cm = plan("cgi_render_maxdp")
    assert(countOf(cm, "Exchange hashpartitioning") == 4, cm.take(3000))
    // G19: ONE exchange total (the index max aggregate); the
    // stream-static join itself broadcasts the K-row index
    val ae = plan("stream_asof_enrich")
    assert(countOf(ae, "Exchange hashpartitioning") == 1, ae.take(3000))
    assert(ae.contains("BroadcastHashJoin") && !ae.contains("SortMergeJoin"),
      ae.take(3000))
    // F55b: counts + normalizer aggregates only; the plan table then
    // BROADCASTS into the map-only sampler projection
    val mt = plan("corpus_mix_temperature_apply")
    assert(countOf(mt, "Exchange hashpartitioning") == 2, mt.take(3000))
    assert(mt.contains("BroadcastHashJoin") && !mt.contains("SortMergeJoin"),
      mt.take(3000))
    // F54b: two half-sketches + the merge — three register-sized
    // aggregates, NO join and no corpus-sized window (the estimate's
    // windows run over the K-row register table)
    val qi = plan("corpus_quantile_incremental")
    assert(countOf(qi, "Exchange hashpartitioning") == 3, qi.take(3000))
    assert(!qi.contains("Join"), qi.take(3000))
  }

  test("r10 artifact surfaces: persisted-index search, maintained read, indexed autocomplete") {
    // F60: search through the persisted epoch — the inverted-list
    // parquet scan equi-joins the BROADCAST probe table (never a
    // sort-merge/shuffled join against the corpus-sized lists), the
    // ann_pq plan class over artifacts
    val ai = plan("ann_index_search")
    assert(ai.contains("BroadcastHashJoin"), ai.take(3000))
    assert(!ai.contains("SortMergeJoin") && !ai.contains("ShuffledHashJoin"),
      ai.take(3000))
    // G26: the maintained read is a union of the two stores' scans
    // (the day split resolves as plan-time metadata) and — since the
    // r12 lateFoldTick drains `_late` into cold inside the tick — the
    // late overlay short-circuits away entirely at steady state: the
    // read plan is JOIN-FREE again (the r11 verdict's #1 done
    // criterion). The transient non-empty-late case (at most one
    // broadcast anti-join, never shuffled) is pinned in
    // MetricStoreSpec's sustained-lateness test.
    val sm = plan("store_maintained_fetch")
    assert(!sm.contains("Join"), sm.take(3000))
    // C15f: autocomplete off the persisted index is ONE K-row scan +
    // map-only selection predicate + one distinct exchange — no join,
    // no re-derivation of the index
    val tv = plan("tags_values_indexed")
    assert(!tv.contains("Join"), tv.take(3000))
    assert(countOf(tv, "Exchange hashpartitioning") == 1, tv.take(3000))
    // r11 F60d: the delete cycle's search — tombstones applied as
    // broadcast joins only, never a shuffled join against the lists
    val ad = plan("ann_index_deleted")
    assert(!ad.contains("SortMergeJoin") && !ad.contains("ShuffledHashJoin"),
      ad.take(3000))
    // r11 G26r: after retention ageing (late store vacuumed too) the
    // maintained read is back to the join-free union of scans
    val sr = plan("store_retention_fetch")
    assert(!sr.contains("Join"), sr.take(3000))
    // r11 A8: the aggregator plan is join-free (rename + fold only),
    // and the rule's literal-prefix conjunct is present — here path is
    // DERIVED (concat over events), so it evaluates as a cheap filter;
    // over a stored path table the same conjunct pushes to parquet as
    // StringStartsWith (the pathPredicate pin covers that case)
    val ca = plan("carbon_aggregate")
    assert(ca.toLowerCase.contains("startswith"), ca.take(3000))
    assert(!ca.contains("Join"), ca.take(3000))
  }

  test("no unbounded cartesian product in any driver query") {
    // broadcast nested-loop joins over bounded broadcasts (band index,
    // centroid codebook, query subset, 1-row bounds) are fine; a
    // CartesianProduct node — both sides shuffled all-pairs — never is
    for (name <- graft.SparkEntry.queries.keys.toSeq.sorted) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    }
  }
}
