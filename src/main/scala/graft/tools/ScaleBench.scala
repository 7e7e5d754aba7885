package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LlmQueries

/** Wall-time twin of [[ScaleProbe]] (VERDICT r4 #1): times the capped
  * dedup / curation / decontamination families on the SAME ×1/×4/×10
  * (plus an ×20 point, VERDICT r5 #6 — the spans family's diagonal
  * multiplicity is the likeliest superlinear term and only shows at
  * the densest replication) near-duplicate-replicated corpus whose
  * candidate VOLUMES ScaleProbe measures, converting the last
  * arithmetic-only piece of the 100 TB argument ("bounded candidate
  * volume ⇒ bounded wall-time growth") into measurement.
  *
  * Protocol (mirrors Bench.scala): each scaled corpus is MATERIALIZED
  * to parquet first — so the timed plans start from a real pruned scan
  * and the replication transform is never inside the timed section —
  * then each family runs as a noop write (full plan, no count-pruning),
  * timed by Bench's min-of-samples loop (`Harness.samples`). The
  * decontamination eval side stays FIXED at the base-corpus sample (a
  * benchmark does not grow with the crawl); only the corpus side scales.
  *
  * Output: one JSON line per (family, copies) and a final compact
  * per-family summary line {"family":{"x1":s,"x4":s,"x10":s}, ...}.
  */
object ScaleBench {

  /** Synthetic dense fetch frame for the C9 rows: 500·copies series ×
    * 157 hourly points, deterministic values with every 13th point a
    * gap (null) so the safe-aggregate paths are exercised at scale.
    */
  private def gfnFrame(spark: SparkSession, copies: Int): DataFrame = {
    val nSeries = 500L * copies
    spark.range(nSeries * 157)
      .select(
        concat(lit("s."), (col("id") / 157).cast("long").cast("string")).as("path"),
        (lit(1706097600L) + (col("id") % 157) * 3600L).as("t"),
        when((col("id") % 13) =!= 0,
          ((col("id") * 37 % 1000).cast("double") / 10.0)).as("value"))
  }

  /** Synthetic event stream for the E6/E7 rows: 250k·copies events
    * over a fixed 31-day span, 1000·copies users, type by id mod 5 —
    * deterministic, so the as-of/interval candidate structure is
    * identical across runs, and big enough (5M rows at ×20) that the
    * per-row term dominates job overhead.
    */
  private def eventsFrame(spark: SparkSession, copies: Int): DataFrame =
    spark.range(250000L * copies).select(
      col("id").as("event_id"),
      (col("id") % (1000L * copies)).as("user_id"),
      (lit(1704067200L) + (col("id") * 267L) % 2678400L).as("t"),
      (col("id") % 5L).as("typ"))

  /** ADVERSARIAL skew twin of [[eventsFrame]] (VERDICT r10 #5): one
    * bot user owns 20% of ALL events (every 5th event re-keys to user
    * 0), so the hot user's event count grows linearly with the corpus
    * — at ×20 that is one MILLION events inside a single window/state
    * partition. The per-user window family (E5/E8/G20e session and
    * funnel chains) partitions by user_id; this corpus measures what
    * that costs when the key distribution is the one a 100 TB crawl
    * actually has.
    */
  private def hotUserEvents(spark: SparkSession, copies: Int): DataFrame =
    spark.range(250000L * copies).select(
      col("id").as("event_id"),
      when(col("id") % 5L === 0L, 0L)
        .otherwise(col("id") % (1000L * copies)).as("user_id"),
      (lit(1704067200L) + (col("id") * 267L) % 2678400L).as("t"),
      (col("id") % 5L).as("typ"))

  private def eventTypeCol = when(col("typ") === 0L, "view")
    .when(col("typ") === 1L, "click")
    .when(col("typ") === 2L, "purchase").otherwise("other").as("event_type")

  /** Synthetic tagged namespace for the C15 rows: 50k·copies canonical
    * `name;dc=…;host=…` paths, 20 dc values, unique hosts.
    */
  private def tagPaths(spark: SparkSession, copies: Int): DataFrame =
    spark.range(50000L * copies).select(
      concat(lit("cpu;dc=dc"), (col("id") % 20).cast("string"),
        lit(";host=h"), col("id").cast("string")).as("path"))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = graft.core.Tables.documents(spark, dir)
    val ebase = graft.core.Tables.embeddings(spark, dir)
    // eval side: fixed benchmark-sized sample of the BASE corpus
    val evalDf = base.filter(col("doc_id") % LlmQueries.DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))

    val out = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[Int, Double]]()
    for (copies <- Seq(1, 4, 10, 20)) {
      val path = s"target/scalebench/x$copies/documents.parquet"
      ScaleProbe.scaled(base, copies).select("doc_id", "text")
        .write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val nDocs = docs.count()
      // scaled embeddings for the semantic family: replica k shifts the
      // first component by k·1e-3 — still a near-copy of its source
      // (the adversarial dup-mass case) but not float-identical
      val epath = s"target/scalebench/x$copies/embeddings.parquet"
      (0 until copies).map { k =>
        if (k == 0) ebase.select(col("vec_id"), col("embedding"))
        else ebase.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x + when(i === lit(0), lit(k * 1e-3)).otherwise(lit(0.0)))
              .cast("float")).as("embedding"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(epath)
      val vecs = spark.read.parquet(epath)
      // F60: the standing index artifact the lifecycle rows consume —
      // built once per scale point (it IS the offline artifact; the
      // timed rows measure serving and delta-encode, never the build);
      // a leftover epoch from a previous run is reused (deterministic
      // build over the same scaled corpus)
      val annRoot = s"target/scalebench/x$copies/annidx"
      if (graft.similarity.AnnIndex.readyEpochs(spark, annRoot).isEmpty)
        graft.similarity.AnnIndex.build(spark, vecs,
          graft.similarity.AnnIndex.Params(LlmQueries.IvfCentroids,
            LlmQueries.IvfProbe, LlmQueries.PqSubspaces,
            LlmQueries.PqCodes, LlmQueries.PqTrainIters,
            math.max(1, LlmQueries.PqTrainBp / copies)), annRoot)
      // F60 long-chain fixture (VERDICT r10 #4): the SAME standing
      // index driven through 12 streaming extend ticks with composed
      // maintenance (compact every 4 segments, keep 2 epochs) — built
      // once per scale point; the timed row below serves through it.
      // Fixed-size deltas (the ebase corpus under shifted ids), so the
      // chain itself is delta-proportional work
      val chainRoot = s"target/scalebench/x$copies/annchain"
      if (graft.similarity.AnnIndex.readyEpochs(spark, chainRoot).isEmpty) {
        graft.similarity.AnnIndex.build(spark, vecs,
          graft.similarity.AnnIndex.Params(LlmQueries.IvfCentroids,
            LlmQueries.IvfProbe, LlmQueries.PqSubspaces,
            LlmQueries.PqCodes, LlmQueries.PqTrainIters,
            math.max(1, LlmQueries.PqTrainBp / copies)), chainRoot)
        for (k <- 1 to 12)
          graft.similarity.AnnIndex.extendOnce(
            ebase.select((col("vec_id") + lit(900000000L + k * 1000000L))
              .as("vec_id"), col("embedding")),
            chainRoot, k.toLong, compactEvery = 4, vacuumKeep = 2)
        val segs = new java.io.File(chainRoot).listFiles()
          .count(_.getName.startsWith("seg="))
        val eps = graft.similarity.AnnIndex.readyEpochs(spark, chainRoot).size
        println(s"""{"family":"ann_index_chain_build","copies":$copies,""" +
          s""""segments":$segs,"epochs":$eps}""")
      }
      // image-family corpus: replica offset 1e9 so scaled doc ids can
      // never collide with the planted-twin media offsets (2e7/3e7)
      val ipath = s"target/scalebench/x$copies/imgdocs.parquet"
      (0 until copies).map { k =>
        if (k == 0) base.select(col("doc_id"), col("text"))
        else base.select((col("doc_id") + lit(k * 1000000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(ipath)
      val imgDocs = spark.read.parquet(ipath)

      // G26 read-side evidence (r10): the same point set in the
      // splintered streaming-sink layout (8 appends × 8 tasks per day
      // = ~64 files/day) and in the maintained layout (closed days one
      // sorted file each in cold + the live day in hot) — built once
      // per scale point, outside the timed section; the timed families
      // below scan each layout through the same aggregate, so the
      // delta IS the small-file listing/open overhead compaction buys
      // back
      val mroot = s"target/scalebench/x$copies/maintstore"
      if (!new java.io.File(s"$mroot/_OK").exists) {
        // split the appends on id (ts = id*26 is always even, so a ts%8
        // split would leave the odd appends empty and halve the
        // documented ~64 files/day small-file pressure)
        val pts = spark.range(100000L * copies).select(
            col("id"),
            concat(lit("m."), (col("id") % 50).cast("string")).as("path"),
            (col("id") * 26L % (30L * 86400L)).as("ts"),
            col("id").cast("double").as("value"))
          .withColumn("day", col("ts") - col("ts") % 86400L)
        for (k <- 0 until 8; dst <- Seq("splintered", "hot"))
          pts.filter(col("id") % 8 === k).drop("id").repartition(8)
            .write.partitionBy("day").mode("append").parquet(s"$mroot/$dst")
        graft.tsdb.MetricStore.compactTick(spark, s"$mroot/hot",
          s"$mroot/cold", 29L * 86400L)
        graft.tsdb.MetricStore.cleanupHot(spark, s"$mroot/hot", s"$mroot/cold")
        new java.io.File(s"$mroot/_OK").createNewFile()
      }

      val families: Seq[(String, () => DataFrame)] = Seq(
        "store_read_splintered" -> (() =>
          spark.read.parquet(s"$mroot/splintered")
            .groupBy(col("path")).agg(count(lit(1)).as("n"),
              sum(col("value")).as("s"))),
        "store_read_maintained" -> (() =>
          graft.tsdb.MetricStore.readMaintained(spark, s"$mroot/hot",
            s"$mroot/cold")
            .groupBy(col("path")).agg(count(lit(1)).as("n"),
              sum(col("value")).as("s"))),
        "dedup_ngram_jaccard_capped" -> (() =>
          graft.dedup.Dedup.ngramJaccardCapped(docs,
            LlmQueries.JaccardTau, LlmQueries.JaccardMaxDf)),
        "dedup_substring" -> (() =>
          graft.dedup.Dedup.substringPairs(docs,
            LlmQueries.SubstrW, LlmQueries.SubstrMaxDf)),
        "dedup_substring_spans" -> (() =>
          graft.dedup.Dedup.substringSpans(docs,
            LlmQueries.SubstrW, LlmQueries.SubstrMaxDf)),
        "dedup_simhash_capped" -> (() =>
          graft.dedup.Dedup.simhashPairsCapped(spark, docs,
            LlmQueries.SimhashMaxHamming, LlmQueries.SimhashMaxDf)),
        "dedup_simhash_clusters" -> (() =>
          graft.dedup.Dedup.simhashClusters(spark, docs,
            LlmQueries.SimhashMaxHamming, LlmQueries.SimhashMaxDf)),
        "dedup_minhash_capped" -> (() =>
          graft.dedup.Dedup.minhashLshCapped(spark, docs, LlmQueries.MinhashMaxDf)),
        "dedup_minhash_clusters" -> (() =>
          graft.dedup.Dedup.minhashClusters(spark, docs, LlmQueries.MinhashMaxDf)),
        "dedup_minhash_est" -> (() =>
          graft.dedup.Dedup.minhashJaccardEst(spark, docs, LlmQueries.MinhashMaxDf)),
        "corpus_vocab" -> (() =>
          graft.text.Analysis.vocab(docs, LlmQueries.VocabTopN)),
        "decontaminate" -> (() =>
          graft.dedup.Dedup.decontaminate(docs, evalDf,
            LlmQueries.DecontamN, LlmQueries.DecontamMinHits,
            LlmQueries.DecontamMaxDf)),
        "stream_sig_dedup" -> (() => {
          val sigs = docs.select(col("doc_id"),
            graft.text.TextFns.simhashRow(col("text")).as("simhash"))
          val keep = sigs.groupBy(col("simhash"))
            .agg(min(col("doc_id")).as("keep_id"))
          sigs.join(keep, "simhash")
            .select(col("doc_id"), col("simhash"),
              when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
        }),
        "corpus_curation" -> (() =>
          graft.ops.Curation.curate(spark, docs,
            LlmQueries.CurationMinScore, LlmQueries.CurationMinTokens,
            LlmQueries.CurationLang,
            LlmQueries.SimhashMaxHamming, LlmQueries.SimhashMaxDf)),
        // r7 families (VERDICT r6 #5)
        "decontaminate_overlap" -> (() =>
          graft.dedup.Dedup.decontaminateOverlap(docs, evalDf,
            LlmQueries.DecontamN)),
        "decontaminate_fuzzy" -> (() =>
          graft.dedup.Dedup.decontaminateFuzzy(docs, evalDf,
            LlmQueries.FuzzyMinMatches)),
        "corpus_pack" -> (() =>
          graft.ops.Packing.pack(docs, LlmQueries.PackBudget)),
        // F36: the incremental-ingest claim measured — the BASE grows
        // ×copies while the incoming batch stays FIXED (every 37th doc
        // of the unscaled corpus, ids shifted to a disjoint range).
        // Pair work is left-bounded by incoming signatures, so wall
        // time must grow only with the base's one signature/keying
        // scan, never with base×base pairing.
        "dedup_incremental" -> (() =>
          graft.dedup.Dedup.minhashIncremental(spark, docs,
            base.filter(col("doc_id") % LlmQueries.DecontamEvalMod === 0)
              .select((col("doc_id") + lit(8000000000000L)).as("doc_id"),
                col("text")),
            LlmQueries.MinhashMaxDf)),
        // F37 wall-time evidence (VERDICT r9 #4): the standing index
        // grows ×copies while the folded batch stays FIXED — merge
        // work is one linear signature scan plus the touched cohort's
        // re-key, so wall time must track the base's linear index
        // build, never base×batch pairing (the one incremental family
        // without a ScaleBench row until now)
        "dedup_index_merge" -> (() => {
          val (bSigs, bKeyed) = graft.dedup.Dedup.incrementalIndex(
            spark, docs, LlmQueries.MinhashMaxDf)
          graft.dedup.Dedup.indexMerge(spark, bSigs, bKeyed,
            graft.dedup.Dedup.distinctSigs(
              base.filter(col("doc_id") % LlmQueries.DecontamEvalMod === 0)
                .select((col("doc_id") + lit(8000000000000L)).as("doc_id"),
                  col("text"))),
            LlmQueries.MinhashMaxDf)._2
        }),
        "corpus_quality_buckets" -> (() =>
          graft.ops.Sampling.qualityBuckets(docs, LlmQueries.QualityBucketN)),
        // SemDeDup under the paper's discipline: K scales WITH the
        // corpus (cluster size ~fixed), codebook Lloyd-refined as in
        // the driver entry — per-cell pair work stays bounded while
        // replica dup-mass grows 20×
        "dedup_semantic" -> (() =>
          graft.dedup.Dedup.semanticClusters(vecs, LlmQueries.EmbedCosineTau,
            graft.similarity.Ann.refinedCentroids(vecs,
              LlmQueries.IvfCentroids * copies, LlmQueries.IvfLloydIters))),
        // the K∝corpus assignment A/B: flat O(n·K) vs two-level O(n·√K)
        // routing (F6d) over the same growing codebook — isolates the
        // quadratic term §6 root-causes in dedup_semantic and its
        // remedy, with no Lloyd/pair-join noise
        // the composed end-to-end twin: same prune, the F6d O(√K)
        // router supplying the coarse partition
        "dedup_semantic_2level" -> (() =>
          graft.dedup.Dedup.semanticClustersAssigned(vecs,
            LlmQueries.EmbedCosineTau,
            graft.similarity.Ann.coarseAssignTwoLevel(vecs,
              graft.similarity.Ann.refinedCentroids(vecs,
                LlmQueries.IvfCentroids * copies, LlmQueries.IvfLloydIters),
              math.ceil(math.sqrt(LlmQueries.IvfCentroids * copies)).toInt))),
        // the fully-composed production shape (F6d + F6e): Lloyd
        // trains on a sample held at ~2 vectors per centroid as K
        // grows (rate ∝ K/n — vocabulary-sized training), final
        // assignment through the O(√K) router; isolates whether the
        // sampled trainer removes the training-side O(n·K) growth the
        // _2level twin's honest negative named
        "dedup_semantic_sampled2" -> (() => {
          val k = LlmQueries.IvfCentroids * copies
          val n = vecs.count()
          val rateBp = math.min(10000L, math.max(1L, 10000L * 2 * k / n)).toInt
          graft.dedup.Dedup.semanticClustersAssigned(vecs,
            LlmQueries.EmbedCosineTau,
            graft.similarity.Ann.coarseAssignTwoLevel(vecs,
              graft.similarity.Ann.refinedCentroidsSampled(vecs, k,
                LlmQueries.IvfLloydIters, rateBp),
              math.ceil(math.sqrt(k)).toInt))
        }),
        // the PQ family's wall-time evidence (r7 survey ranked #2):
        // FIXED codebooks (the FAISS deployment regime — codebooks are
        // an offline artifact; the K∝corpus routing regime is the
        // assign rows' story), fixed query set, corpus growing under
        // them: encode is one map-only pass, lists lengthen linearly,
        // and the probed candidate stream carries m-byte codes — the
        // r7 payload-free-argmax ⋈ codes-table shape is what scales
        "ann_ivf_pq" -> (() =>
          graft.similarity.Ann.ivfTopKPq(
            vecs.filter(col("vec_id") < LlmQueries.AnnQueryMax),
            vecs, LlmQueries.AnnK, LlmQueries.IvfCentroids,
            LlmQueries.IvfProbe, LlmQueries.PqSubspaces,
            LlmQueries.PqCodes)),
        // metric-side scale evidence for the C9 render-function family
        // (r7): a dense fetch frame of 500·copies series × 157 hourly
        // points, driven through the three plan classes — groupBy(t)
        // combine, window+broadcast-semi selection, groupBy(path,
        // bucket) summarize; all linear-shuffle shapes that must stay
        // flat-ish as the series count grows
        "gfn_combine" -> (() =>
          graft.tsdb.SeriesFunctions.sumSeries(gfnFrame(spark, copies), "s")),
        "gfn_select" -> (() =>
          graft.tsdb.SeriesFunctions.highestCurrent(
            graft.tsdb.SeriesFunctions.movingAverage(gfnFrame(spark, copies), 3), 5)),
        "gfn_summarize" -> (() =>
          graft.tsdb.SeriesFunctions.summarize(
            gfnFrame(spark, copies), 14400L, "avg", "4hour")),
        "ann_assign_flat" -> (() =>
          graft.similarity.Ann.coarseAssign(vecs,
            graft.similarity.Ann.initialCentroids(vecs,
              LlmQueries.IvfCentroids * copies))),
        "ann_assign_2level" -> (() =>
          graft.similarity.Ann.coarseAssignTwoLevel(vecs,
            graft.similarity.Ann.initialCentroids(vecs,
              LlmQueries.IvfCentroids * copies),
            math.ceil(math.sqrt(LlmQueries.IvfCentroids * copies)).toInt)),
        // F25g/h: trained-PQ wall time under the FAISS deployment
        // regime — sub-quantizers train on a FIXED-SIZE sample (rate ∝
        // 1/copies, the dedup_semantic_sampled2 discipline: codebooks
        // are an offline artifact sized by kc, not by the corpus), so
        // training cost must stay flat while the map-only encode and
        // the probed ADC candidate stream grow linearly. The timed
        // section INCLUDES the training collect (it runs during plan
        // build inside mk()).
        "ann_ivf_pq_trained" -> (() =>
          graft.similarity.Ann.ivfTopKPqTrained(
            vecs.filter(col("vec_id") < LlmQueries.AnnQueryMax),
            vecs, LlmQueries.AnnK, LlmQueries.IvfCentroids,
            LlmQueries.IvfProbe, LlmQueries.PqSubspaces,
            LlmQueries.PqCodes, LlmQueries.PqTrainIters,
            math.max(1, LlmQueries.PqTrainBp / copies))),
        // F60 lifecycle rows (r10): the index is built ONCE per scale
        // point (outside the timed section — it is the standing
        // artifact); timed are (a) search through the persisted epoch
        // as the corpus grows under fixed codebooks — the resident-
        // index serving cost, must track list length linearly like
        // ann_ivf_pq — and (b) the delta ENCODE that dominates
        // extend(): a FIXED batch against the frozen books, which must
        // stay FLAT as the standing corpus grows (work ∝ delta, the
        // F37 claim for the vector side)
        "ann_index_search" -> (() => {
          val root = s"target/scalebench/x$copies/annidx"
          val idx = graft.similarity.AnnIndex.load(spark, root)
          graft.similarity.AnnIndex.search(
            vecs.filter(col("vec_id") < LlmQueries.AnnQueryMax),
            idx, LlmQueries.AnnK)
        }),
        // serving through the 12-tick maintained chain must cost the
        // same as through the 1-extend index (bounded segments ⇒ the
        // maintenance history is invisible to a reader)
        "ann_index_chain_search" -> (() => {
          val root = s"target/scalebench/x$copies/annchain"
          val idx = graft.similarity.AnnIndex.load(spark, root)
          graft.similarity.AnnIndex.search(
            vecs.filter(col("vec_id") < LlmQueries.AnnQueryMax),
            idx, LlmQueries.AnnK)
        }),
        "ann_index_encode_delta" -> (() => {
          val root = s"target/scalebench/x$copies/annidx"
          val idx = graft.similarity.AnnIndex.load(spark, root)
          graft.similarity.AnnIndex.encodeLists(
            ebase.select((col("vec_id") + lit(900000000L)).as("vec_id"),
              col("embedding")),
            idx.centroids, idx.book)
        }),
        // C9 additions: the percentile flat-line (per-series value
        // window + K-row broadcast-back) and the variance selector
        // (K-row stat + broadcast semi) — both must stay flat-ish as
        // the series count grows
        "gfn_npercentile" -> (() =>
          graft.tsdb.SeriesFunctions.nPercentile(gfnFrame(spark, copies), 90)),
        "gfn_most_deviant" -> (() =>
          graft.tsdb.SeriesFunctions.mostDeviant(gfnFrame(spark, copies), 5)),
        // F34/G15 machinery in isolation: the standing hamming index
        // grows ×copies under a FIXED 500-query batch. Signatures are
        // synthesized directly (h60 of the id) so the row measures the
        // index build + all-level probe + rank — the codec cost the
        // image rows already own is kept out. Queries are one-bit
        // twins of base sigs 0..99, so the probe join has real hits.
        "hamming_search" -> (() => {
          val nb = 50000L * copies
          val mask = (1L << 60) - 1
          val baseSigs = spark.range(nb).select(col("id").as("match_id"),
            graft.text.TextFns.h60(col("id").cast("string"))
              .bitwiseAND(lit(mask)).as("simhash"))
          val qs = spark.range(500).select(
            (col("id") + lit(9000000000L)).as("q_id"),
            graft.text.TextFns.h60((col("id") % 100).cast("string"))
              .bitwiseAND(lit(mask)).bitwiseXOR(lit(1L)).as("simhash"))
          graft.dedup.Dedup.hammingSearch(spark, baseSigs, qs, 3,
            LlmQueries.PhashMaxHamming, LlmQueries.PhashMaxDf)
        }),
        // F38: global line dedup over the multi-line fixture — one
        // 8-byte-key line shuffle + per-doc witness rebuild; dup-line
        // df grows ×copies but the per-line stat is one aggregate row
        "text_line_dedup" -> (() =>
          graft.text.Analysis.lineDedupScrub(
            graft.text.Analysis.boilerPlanted(docs), 2)),
        // F25j: the refine tail on top of the fixed-book IVFPQ row —
        // the exact re-rank touches |queries|·k·refine point lookups,
        // so the delta vs ann_ivf_pq must stay ~constant as the
        // corpus grows
        "ann_ivf_pq_refine" -> (() =>
          graft.similarity.Ann.ivfTopKPqRefined(
            vecs.filter(col("vec_id") < LlmQueries.AnnQueryMax),
            vecs, LlmQueries.AnnK, LlmQueries.IvfCentroids,
            LlmQueries.IvfProbe, LlmQueries.PqSubspaces,
            LlmQueries.PqCodes, LlmQueries.PqRefine)),
        // C9 additions: the Holt-Winters fold (per-series in-row
        // recurrence — K series fold in parallel, one collect_list
        // shuffle) and the across-series percentile (one groupBy(t))
        "gfn_hw_bands" -> (() =>
          graft.tsdb.SeriesFunctions.holtWintersConfidenceBands(
            gfnFrame(spark, copies), 24, 3.0)),
        "gfn_percentile_series" -> (() =>
          graft.tsdb.SeriesFunctions.percentileOfSeries(
            gfnFrame(spark, copies), 90.0, "pos")),
        // F44: classifier GD at scale — each of the 3 iterations is one
        // map-only z/err pass over the cached base + one explode into a
        // ≤65-key map-side-combined aggregate; wall time must grow
        // ~linearly with the corpus while the collected artifact stays
        // 65 rows (training runs inside mk() like the trained-PQ row)
        "quality_classifier" -> (() => {
          val (_, score) = graft.text.Analysis.scoreSignals
          val label = when(score >= graft.text.Classifier.LabelMin, 1.0)
            .otherwise(0.0)
          val m = graft.text.Classifier.train(docs, label)
          graft.text.Classifier.score(docs, label, m)
        }),
        // F46: the map-only canonicalization regexp chain + one
        // count/min aggregate keyed by the canonical string — the F1
        // shape; must stay linear
        "dedup_url" -> (() =>
          graft.text.Urls.urlDedup(graft.text.Urls.urlVariantsPlanted(docs))),
        // F45 over F19 at scale: replica cliques deepen ×copies but
        // min-label propagation converges in O(log diameter) rounds on
        // clique-ish components; the weights pass itself is one count +
        // same-key join
        "dedup_soft" -> (() =>
          graft.dedup.Dedup.softDedupWeights(
            graft.dedup.Dedup.ccClusters(docs.select(col("doc_id")),
              graft.dedup.Dedup.ngramJaccardCapped(docs,
                LlmQueries.JaccardTau, LlmQueries.JaccardMaxDf)
                .select(col("x"), col("y")),
              LlmQueries.CcMaxIter))),
        // C9 batch-5 scale rows: interpolate = two null-skipping
        // windows per series (flat per series, linear total);
        // removeBetweenPercentile = one groupBy(t) whose in-row sorted
        // list grows with the series count (the linear-in-K across-
        // series term percentileOfSeries already owns)
        "gfn_interpolate" -> (() =>
          graft.tsdb.SeriesFunctions.interpolate(gfnFrame(spark, copies))),
        "gfn_band_select" -> (() =>
          graft.tsdb.SeriesFunctions.removeBetweenPercentile(
            gfnFrame(spark, copies), 80)),
        // E6 at scale: both sides of the as-of grow ×copies; the one
        // key shuffle moves O(|L|+|R|) narrow rows — must stay linear
        "events_asof" -> (() => {
          val ev = eventsFrame(spark, copies)
          graft.ops.Relational.asofJoin(
            ev.filter(col("typ") === 2L).drop("typ"),
            ev.filter(col("typ") === 0L).drop("typ"))
        }),
        // E7 at scale: the production framing — a FIXED window set (the
        // report intervals) against a growing point stream; candidates
        // grow with the in-window point density, i.e. linearly
        "interval_join" -> (() => {
          val iv = spark.range(1000).select(col("id").as("interval_id"),
            (lit(1704067200L) + col("id") * 2678L).as("t0"),
            (lit(1704067200L) + col("id") * 2678L + 1800L).as("t1"))
          graft.ops.Relational.intervalJoinBucketed(
            eventsFrame(spark, copies)
              .select(col("event_id").as("point_id"), col("t")), iv, 1800L)
        }),
        // F49 at scale: the sketch path alone (registers + estimate) —
        // one map-side-combined max whose survivor set stays 256 rows
        // per slice at ANY corpus size; wall time is the token scan
        "hll_sketch" -> (() => {
          val tok = docs.select(
            (col("doc_id") % 5L).cast("string").as("slice"),
            explode(graft.text.TextFns.tokens(col("text"))).as("token"))
          graft.ops.Sketch.hllEstimate(
            graft.ops.Sketch.hllRegisters(tok, "slice", "token"), "slice")
        }),
        // r8 additions: applyByNode must hold its plan as GROUPS grow
        // (500·copies series = 500·copies divide groups — the
        // once-per-prefix graphite evaluation would be linear in K
        // plans; ours is one plan); window chunking is the map-only
        // explode; enrich/attribution ride the bounded-per-user
        // event-join shapes; novelty is the F1 class on shingles;
        // the temperature-mix apply is a broadcast into a scan
        "gfn_apply_by_node" -> (() => {
          val fr = gfnFrame(spark, copies)
            .select(concat(lit("h."), split(col("path"), "\\.")(1),
              when(col("t") % 7200 === 0, lit(".err")).otherwise(lit(".total")))
              .as("path"), col("t"), col("value"))
          def fetchAt(glob: String, shift: Long) = {
            val re = "^" + glob.replace(".", "\\.").replace("*", "[^.]+") + "$"
            fr.filter(col("path").rlike(re))
          }
          graft.tsdb.TargetExpr.evalTargetAt(
            """applyByNode(h.*.err,1,"divideSeries(%.err,%.total)")""",
            fetchAt)
        }),
        "corpus_window_chunks" -> (() =>
          graft.ops.Packing.windowChunks(docs, LlmQueries.ChunkWindow,
            LlmQueries.ChunkOverlap)),
        "stream_asof_enrich" -> (() => {
          val ev = eventsFrame(spark, copies)
          graft.streaming.CarbonStream.asofEnrichStream(
            ev.filter(col("typ") === 2L).drop("typ"),
            graft.ops.Relational.latestIndex(
              ev.filter(col("typ") === 0L).drop("typ")))
        }),
        "events_attribution" -> (() => {
          val ev = eventsFrame(spark, copies)
          graft.ops.Relational.attribution(
            ev.filter(col("typ") === 2L).drop("typ"),
            ev.filter(col("typ") === 0L).drop("typ"), 3600L)
        }),
        "text_novelty" -> (() => graft.text.Analysis.novelty(docs)),
        "corpus_mix_temperature" -> (() =>
          graft.ops.Sampling.sampleWithPlan(docs.withColumn("lang",
              (col("doc_id") % 5L).cast("string")),
            graft.ops.Sampling.mixPlanTemperature(docs.withColumn("lang",
              (col("doc_id") % 5L).cast("string")), 1000L))),
        // G21 at scale: native session_window over a growing event
        // stream — one stateful-agg shuffle on the user key, session
        // count bounded by events; must stay linear
        "stream_sessionize" -> (() =>
          graft.streaming.CarbonStream.sessionizeStream(
            eventsFrame(spark, copies)
              .select(col("user_id"), col("t").as("ts")), 1800L)),
        // C13 at scale: reduceSeries is one (prefix, t) equi-join over
        // the frame — prefix count grows with the series count but the
        // plan is fixed
        "gfn_reduce_series" -> (() => {
          val fr = gfnFrame(spark, copies)
            .select(concat(lit("h."), split(col("path"), "\\.")(1),
              when(col("t") % 7200 === 0, lit(".used"))
                .otherwise(lit(".total"))).as("path"),
              col("t"), col("value"))
          graft.tsdb.SeriesFunctions.reduceSeries(fr, "asPercent", 2,
            Seq("used", "total"))
        }),
        // E8/E9 at scale: the funnel is three windows over ONE user
        // shuffle (state per user is 3 numbers), retention two
        // user-keyed aggregates — both must stay linear in the event
        // count with no per-step re-shuffle
        "events_funnel" -> (() => {
          val ev = eventsFrame(spark, copies).select(col("user_id"),
            col("t"),
            when(col("typ") === 0L, "view").when(col("typ") === 1L, "click")
              .when(col("typ") === 2L, "purchase").otherwise("other")
              .as("event_type"))
          graft.ops.Relational.funnel(ev)
        }),
        "events_retention" -> (() =>
          graft.ops.Relational.retention(
            eventsFrame(spark, copies).select(col("user_id"),
              expr("t div 604800").as("wk")))),
        // VERDICT r10 #5: the per-user window/state family under the
        // ADVERSARIAL key distribution — one user owning 20% of the
        // stream. Each row's uniform twin exists above
        // (stream_sessionize / events_funnel), so the delta at each
        // scale point IS the hot-key cost: the hot user's events land
        // in ONE task's partition, so the per-user sort term grows
        // linearly with the corpus inside that task. The measured
        // contract (SURVEY §6): acceptable while the hot user fits a
        // task comfortably (n·log n on millions of narrow rows);
        // the mitigation when it doesn't is journey PRE-SPLIT — the
        // funnelHorizonReplay row already carries it structurally
        // (gap-split by expiry horizon), and a calendar-day pre-split
        // (partition by (user, day), merge day boundaries after) is
        // the documented escape hatch for a pathological bot
        "hotuser_sessionize" -> (() => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("t"), col("event_id"))
          hotUserEvents(spark, copies)
            .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
            .withColumn("ns",
              when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
            .groupBy(col("user_id"))
            .agg(sum(col("ns")).as("n_sessions"), count(lit(1)).as("n_events"))
        }),
        "hotuser_session_window" -> (() =>
          graft.streaming.CarbonStream.sessionizeStream(
            hotUserEvents(spark, copies)
              .select(col("user_id"), col("t").as("ts")), 1800L)),
        // the mitigation A/B: the SAME hot corpus through the (user,
        // day) pre-split operator — the bot's events spread over 31
        // day-partitions, the seam repair is a window over per-day
        // SESSION rows (bounded), and the answer is provably the
        // plain rule's (oracle shared)
        "hotuser_sessionize_presplit" -> (() =>
          graft.ops.Relational.sessionCountsPresplit(
            hotUserEvents(spark, copies))),
        "hotuser_funnel" -> (() =>
          graft.ops.Relational.funnel(hotUserEvents(spark, copies)
            .select(col("user_id"), col("t"), eventTypeCol))),
        // the funnel mitigation A/B (VERDICT r11 #4): the SAME hot
        // corpus through the (user, day) pre-split + suffix-splice
        // stitch — the bot's conditional-min chains run per day, the
        // stitch folds per-day AGGREGATE rows (bounded), answer
        // provably the plain chain's (oracle shared)
        "hotuser_funnel_presplit" -> (() =>
          graft.ops.Relational.funnelPresplit(hotUserEvents(spark, copies)
            .select(col("user_id"), col("t"), eventTypeCol),
            Seq("view", "click", "purchase"))),
        "hotuser_funnel_horizon" -> (() =>
          graft.ops.Relational.funnelHorizonReplay(hotUserEvents(spark, copies)
            .select(col("user_id"), col("t"), eventTypeCol),
            Seq("view", "click", "purchase"), 3600L)),
        // A8 at scale: two aggregation rules over a growing metric
        // stream — per rule one pushed filter + map-only rename + one
        // (path, bucket) groupBy; must stay linear like the rollups
        "carbon_aggregate" -> (() => {
          val ev = eventsFrame(spark, copies)
          graft.tsdb.Aggregator.aggregate(
            ev.select(concat(lit("vera.u"), col("user_id"),
                lit(".k"), col("typ").cast("string")).as("path"),
              col("t").as("ts"), col("event_id").cast("double").as("value")),
            graft.tsdb.Conf.aggregationRules(
              """vera.all.<kind> (600) = sum vera.*.<kind>
                |stats.<kind>.mean (3600) = avg vera.*.<kind>
                |""".stripMargin))
        }),
        // F58 at scale: the CMS table — one map-side-combined count
        // whose survivor set is ≤ 4·1024 rows per slice at any corpus
        // size; wall time is the token explode (the hll/quantile shape)
        "cms_sketch" -> (() => {
          val tok = docs.select(
            (col("doc_id") % 5L).cast("string").as("slice"),
            explode(graft.text.TextFns.tokens(col("text"))).as("token"))
          graft.ops.Sketch.cmsRegisters(tok, "slice", col("token"))
        }),
        // F54 at scale: log-bucket quantile registers + estimate — one
        // map-side-combined count whose survivor set is ≤ ~64·16 rows
        // per slice at ANY corpus size (no global sort, no exact audit
        // column here); wall time is the token-count scan, same shape
        // as hll_sketch
        "quantile_sketch" -> (() => {
          val vals = docs.select(
            (col("doc_id") % 5L).cast("string").as("slice"),
            size(graft.text.TextFns.tokens(col("text"))).cast("long").as("v"))
          graft.ops.Sketch.qEstimate(
            graft.ops.Sketch.qRegisters(vals, "slice", col("v")),
            "slice", LlmQueries.QuantileQs)
        }),
        // C15 at scale (r9): the tag layer over a 50k·copies-path
        // tagged namespace — resolution, index build, and autocomplete
        // are all one map-only pass over the path METADATA table (the
        // datapoint side never appears), so wall time must track the
        // path count linearly with no shuffle growth
        "tags_resolve" -> (() =>
          graft.tsdb.Tags.matchingPaths(tagPaths(spark, copies),
            Seq("name=cpu", "dc=~dc1", "host!="))),
        "tags_index_build" -> (() =>
          graft.tsdb.Tags.tagIndex(tagPaths(spark, copies))),
        "tags_autocomplete" -> (() =>
          graft.tsdb.Tags.autoCompleteValues(tagPaths(spark, copies),
            Seq("name=cpu"), "host", Some("h1"), 100)),
        // F59 at scale (r9): byte-CDC chunk dedup — payload synthesis
        // (map-side md5 keystreams, ~4 KB per %3 doc) + the compiled
        // one-pass chunker ride the scan; only (id, md5, len) rows
        // shuffle and the df cap bounds per-key fan-out, so wall time
        // must track the payload-byte volume (linear), never pairs.
        // Replica ids shift by k·3e14 — a multiple of 15, so the
        // fixture's %3/%15 classes are preserved per replica, every
        // replica's keystreams are DISTINCT (ids differ → no
        // cross-replica dup-mass), and the shift can never collide
        // with the 4e7 variant offset (which the docs table's own
        // ×-copies 1e7 shift would).
        "dedup_cdc_bytes" -> (() => {
          val cdcDocs = (0 until copies).map { k =>
            if (k == 0) base.select(col("doc_id"))
            else base.select(
              (col("doc_id") + lit(k * 300000000000000L)).as("doc_id"))
          }.reduce(_ unionByName _)
          graft.dedup.Dedup.dedupCdcBytes(spark,
            graft.dedup.Dedup.cdcBytePayloads(spark, cdcDocs))
        })
      ) ++ (if (copies <= 10) Seq[(String, () => DataFrame)](
        // codec cost alone (decode + twin re-encode/resize), then the
        // full pipeline — the difference is the hash+band-join cost the
        // dedup machinery adds on top of unavoidable image IO; capped
        // at ×10 because the codec stage is minutes at ×20 and scales
        // exactly linearly anyway
        "image_decode" -> (() =>
          graft.multimodal.ImageDedup.plantedImages(spark, imgDocs).toDF()),
        "dedup_image_phash" -> (() =>
          graft.multimodal.ImageDedup.phashPairs(spark,
            graft.multimodal.ImageDedup.plantedImages(spark, imgDocs),
            LlmQueries.PhashMaxHamming, LlmQueries.PhashMaxDf))
      ) else Nil)
      // args(1..): optional family-name filter for targeted re-runs
      val only = args.drop(1).toSet
      def f2(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      for ((name, mk) <- families if only.isEmpty || only(name)) {
        val sec = Harness.samples(spark) {
          mk().write.format("noop").mode("overwrite").save()
        }.min
        out.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap[Int, Double]())(copies) = sec
        println(s"""{"family":"$name","copies":$copies,"docs":$nDocs,"sec":${f2(sec)}}""")
      }
    }
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val summary = out.map { case (name, m) =>
      s"\"" + name + "\":" +
        m.map { case (c, s) => s"\"x$c\":${f2(s)}" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    println(summary)
    spark.stop()
  }
}
