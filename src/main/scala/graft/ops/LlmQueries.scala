package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.Analysis

/** Driver-verifiable entry points for the LLM-pipeline operator family
  * (SURVEY.md §2.F) over the `documents` / `embeddings` tables.
  */
object LlmQueries {

  val JaccardTau = 0.8
  // drops the top-percentile stop-shingles on the synthetic corpus (max
  // df there is 7-9) — the knob that kills Σdf² join fan-out at 100 TB
  val JaccardMaxDf = 5
  val SimhashMaxHamming = 6
  // band buckets holding more distinct sigs than this are re-keyed with
  // 5 more simhash bits (CappedIndex.SimHash): bounds per-bucket join
  // work at maxDf²/2 pairs regardless of corpus size. 64 exercises the
  // widening at sf0.01 (max raw bucket 97) while keeping sf0.01 pair
  // recall at 0.85 vs exact F4.
  val SimhashMaxDf = 64
  val AnnK = 5
  val AnnQueryMax = 10 // query subset: vec_id < 10
  val IvfCentroids = 32
  val IvfProbe = 8
  val LshPlanes = 8
  val EmbedDim = 64

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir))

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(spark, dir), JaccardTau)

  /** F52: content-defined chunking dedup — storage-layer chunk store
    * (in-row boundary rule, one chunk-hash shuffle).
    */
  def dedupCdc(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCdc(spark, Tables.documents(spark, dir))

  /** F59: byte-level CDC near-dup pairs over the planted binary-payload
    * fixture — each % 15 == 0 document's payload meets its insert
    * variant (every byte offset past the splice shifted) at ≥ 50%
    * shared chunk bytes; distinct payloads are md5 keystreams sharing
    * nothing, so the expected pairs are pure id arithmetic.
    */
  def dedupCdcBytes(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCdcBytes(spark,
      Dedup.cdcBytePayloads(spark, Tables.documents(spark, dir)))

  /** G25 driver twin: the byte-CDC ingest gate on the planted fixture
    * — the standing store is the %3==0 originals' chunk index; each
    * %15==0 doc sends its insert VARIANT (shares all but a bounded
    * prefix of its stored original → refused) and a NOVEL keystream
    * (shares nothing → admitted); expected verdicts are pure id
    * arithmetic, the F59 oracle discipline.
    */
  def streamCdcGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stored = Dedup.cdcBytePayloads(spark, docs)
      .filter(col("media_id") < Dedup.CdcBytesVariantOffset)
    graft.streaming.CarbonStream.cdcGateStream(
        Dedup.cdcByteIncoming(spark, docs), Dedup.cdcChunkIndex(stored))
      .orderBy(col("media_id"))
  }

  /** F53: DSIR importance scoring — the target distribution is the
    * F18 'val' split (hash-stable trusted slice), raw = the whole
    * corpus; the split-rule arithmetic is derived from SplitWeights so
    * the two operators can never disagree about what 'val' means.
    */
  def corpusDsir(spark: SparkSession, dir: String): DataFrame = {
    val b = graft.text.TextFns.h60(col("doc_id").cast("string")) %
      SplitWeights.map(_._2).sum.toLong
    Sampling.dsirScore(Tables.documents(spark, dir),
      b >= dsirValLower && b < dsirValUpper)
  }

  /** The 'val' split's [lower, upper) bucket range under
    * [[SplitWeights]] — shared by the F53 driver entry and its oracle.
    */
  lazy val dsirValLower: Long =
    SplitWeights.takeWhile(_._1 != "val").map(_._2).sum.toLong
  lazy val dsirValUpper: Long =
    dsirValLower + SplitWeights.find(_._1 == "val").get._2

  /** G18 batch twin: the frozen-artifact DSIR ingest gate — the F53
    * B-row delta table collects once (bounded by construction), then
    * ONE map-only in-row projection scores every document. Output ≡
    * F53 by construction (shared [[Sampling.dsirDeltas]] arithmetic),
    * so the two entries share one oracle — the same cross-check
    * discipline as F21c/G10.
    */
  def streamDsirGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val b = graft.text.TextFns.h60(col("doc_id").cast("string")) %
      SplitWeights.map(_._2).sum.toLong
    val deltas = Sampling.dsirDeltaTable(docs,
      b >= dsirValLower && b < dsirValUpper)
    graft.streaming.CarbonStream
      .dsirGateStream(docs, deltas, Sampling.DsirBuckets)
      .orderBy(col("doc_id"))
  }

  /** The 100 TB-shaped variant: stop-shingles with df > JaccardMaxDf
    * are dropped before the pair join (Dedup.ngramJaccardCapped).
    */
  def dedupNgramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardCapped(Tables.documents(spark, dir), JaccardTau, JaccardMaxDf)

  // decontamination: 5-gram overlap, ≥3 shared shingles = contaminated
  // pair; eval set = every 37th document (benchmark-sized, guarantees
  // exact hits via the sampled docs and partial hits via their
  // near-dups)
  val DecontamN = 5
  val DecontamMinHits = 3
  val DecontamMaxDf = 64
  val DecontamEvalMod = 37

  /** F15: n-gram train/eval decontamination (Dedup.decontaminate) —
    * the eval side is a deterministic corpus sample re-keyed as
    * eval_id.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    Dedup.decontaminate(docs, eval, DecontamN, DecontamMinHits, DecontamMaxDf)
  }

  /** F15n: the normalized-mode leak check — same eval slice and
    * thresholds as F15, text case-folded/punct-stripped on BOTH sides
    * through the one shared normalization Column.
    */
  def decontaminateNormalized(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    Dedup.decontaminateNormalized(docs, eval, DecontamN, DecontamMinHits,
      DecontamMaxDf)
  }

  // F15d: the eval docs partition into 3 synthetic benchmark suites
  val DecontamBenches = 3

  /** F15d: per-benchmark contamination report — one pair pass over
    * the union of eval slices, rolled up per suite.
    */
  def decontaminateMulti(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"),
        (expr(s"doc_id div $DecontamEvalMod") % DecontamBenches)
          .cast("long").as("bench_id"),
        col("text"))
    Dedup.decontaminateMulti(docs, eval, DecontamN, DecontamMinHits,
      DecontamMaxDf)
  }

  /** F15b: per-eval-doc contamination fraction (basis points) — the
    * eval-direction metric a suite owner thresholds on; self-leaks
    * excluded (the eval set is drawn from the corpus here).
    */
  def decontaminateOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    Dedup.decontaminateOverlap(docs, eval, DecontamN)
  }

  // F15c: fuzzy-decontamination slot threshold — ≥4 of 12 agreeing
  // signature slots ≈ estimated Jaccard ≥ 1/3, low enough to catch a
  // paraphrased benchmark copy whose exact 5-grams are all broken but
  // above the noise floor of unrelated-doc slot coincidence
  val FuzzyMinMatches = 4

  /** F15c: paraphrase-robust decontamination through the MinHash band
    * machinery (Dedup.decontaminateFuzzy) — same eval sample as F15;
    * catches the perturbed-copy leaks the exact 5-gram check misses.
    */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    Dedup.decontaminateFuzzy(docs, eval, FuzzyMinMatches)
  }

  // F16 exact-substring dedup: the Lee et al. 50-token window; a
  // 50-gram in more than 5 docs is boilerplate (cap binds rarely — the
  // synthetic corpus's max 50-gram df is well under it; it exists for
  // the 100 TB crawl where repeated headers dominate)
  val SubstrW = 50
  val SubstrMaxDf = 5

  /** F16: verbatim ≥50-token-span duplicate pairs. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringPairs(Tables.documents(spark, dir), SubstrW, SubstrMaxDf)

  /** F16k: O(n) keep/drop from the substring-overlap pair graph. */
  def dedupSubstringClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringClusters(Tables.documents(spark, dir), SubstrW, SubstrMaxDf)

  /** F16x: scrub duplicated spans from every non-keeper doc — per-doc
    * cut counts + scrubbed-text md5 (min doc per gram keeps its copy).
    */
  def dedupSubstringScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringScrub(Tables.documents(spark, dir), SubstrW, SubstrMaxDf)

  /** F16s: longest verbatim shared span per overlapping pair. */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir), SubstrW, SubstrMaxDf)

  // max pairwise cosine on the synthetic embeddings is ~0.51; 0.4
  // yields a non-trivial pair set with >=1e-4 threshold margin
  val EmbedCosineTau = 0.4

  def dedupEmbedCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.embedCosinePairs(Tables.embeddings(spark, dir), EmbedCosineTau)

  def dedupEmbedCosineLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embedCosineLshPairs(Tables.embeddings(spark, dir), EmbedCosineTau,
      LshPlanes, EmbedDim)

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(spark, Tables.documents(spark, dir))

  // band buckets holding more distinct SIGNATURES than this are re-keyed
  // with extra signature slots (CappedIndex.MinHash) — the MinHash
  // twin of SimhashMaxDf, same per-bucket maxDf²/2 work bound
  val MinhashMaxDf = 64

  /** The 100 TB-shaped pairs variant: distinct-signature collapse +
    * df-capped band buckets (drop-only ⊆ dedupMinhash).
    */
  def dedupMinhashCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshCapped(spark, Tables.documents(spark, dir), MinhashMaxDf)

  /** O(n)-output keep/drop decisions from the CAPPED MinHash candidate
    * graph (star clustering at signature-group level).
    */
  def dedupMinhashClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashClusters(spark, Tables.documents(spark, dir), MinhashMaxDf)

  // F36: every 4th doc arrives as the "new crawl"; the rest are the
  // standing corpus
  val IncrementalMod = 4

  /** F36: incremental ingest dedup — the new-crawl batch deduped
    * against the standing corpus without re-pairing the base.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.minhashIncremental(spark,
      docs.filter(col("doc_id") % IncrementalMod =!= 0),
      docs.filter(col("doc_id") % IncrementalMod === 0),
      MinhashMaxDf)
  }

  /** G14 batch twin: the in-flight gate against the standing corpus's
    * signature index — base-only priors (incoming-vs-incoming is the
    * nightly F36 job's business), verdicts a pure function of (doc,
    * index) so per-micro-batch evaluation needs zero streaming state.
    */
  def streamIncrementalGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (sks, keys) = Dedup.incrementalIndex(spark,
      docs.filter(col("doc_id") % IncrementalMod =!= 0), MinhashMaxDf)
    Dedup.incrementalGateRows(
      docs.filter(col("doc_id") % IncrementalMod === 0), sks, keys)
      .orderBy(col("doc_id"))
  }

  /** F3e: slot-agreement Jaccard estimate over the capped MinHash
    * candidate graph — ranks candidates without re-reading shingles.
    */
  def dedupMinhashEst(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashJaccardEst(spark, Tables.documents(spark, dir), MinhashMaxDf)

  /** O(n) keep/drop from the df-capped Jaccard candidate graph. */
  def dedupJaccardClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardClusters(Tables.documents(spark, dir), JaccardTau, JaccardMaxDf)

  // convergence bound for the connected-components fixpoint: near-dup
  // components are shallow (diameter ≪ 20); the guard throws if not
  val CcMaxIter = 20

  /** F19: TRUE connected components (fixpoint labels, canonical cluster
    * ids) over the df-capped Jaccard candidate graph.
    */
  def dedupCcClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.ccClusters(docs.select(col("doc_id")),
      Dedup.ngramJaccardCapped(docs, JaccardTau, JaccardMaxDf)
        .select(col("x"), col("y")),
      CcMaxIter)
  }

  /** F19b: duplicate-cluster size report over the F19 FIXPOINT labels
    * (Dedup.ccSizes) — one row per multi-member component; the numbers
    * a production dedup run is judged by. Needs the canonical labels:
    * one-step star labels split chains and report wrong sizes.
    */
  def dedupCcSizes(spark: SparkSession, dir: String): DataFrame =
    Dedup.ccSizes(dedupCcClusters(spark, dir))

  /** F45: soft dedup — 1/|cluster| training weights over the F19
    * fixpoint labels (Dedup.softDedupWeights); every doc kept, each
    * duplicate cluster's total mass = one document.
    */
  def dedupSoft(spark: SparkSession, dir: String): DataFrame =
    Dedup.softDedupWeights(dedupCcClusters(spark, dir))

  /** F46: URL canonicalization dedup over the planted variant table —
    * case/port/fragment/www/utm forms collapse per id-arithmetic
    * class, the real-query form stays distinct.
    */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    graft.text.Urls.urlDedup(
      graft.text.Urls.urlVariantsPlanted(Tables.documents(spark, dir)))

  /** O(n) keep/drop from the exact embed-cosine pair graph; swap in
    * `Dedup.embedCosineLshPairs` for the LSH-bucketed 100 TB path.
    */
  def dedupEmbedCosineClusters(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Dedup.embedCosineClusters(e, Dedup.embedCosinePairs(e, EmbedCosineTau))
  }

  /** F28: SemDeDup cluster-then-prune at the SAME τ as F13, so the
    * candidate subset is directly comparable to the exact graph —
    * over the F6c Lloyd-REFINED codebook (the paper k-means-clusters
    * first; VERDICT r6 #4): tighter cells, fewer cross-cell misses.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Dedup.semanticClusters(e, EmbedCosineTau,
      Ann.refinedCentroids(e, IvfCentroids, IvfLloydIters))
  }

  /** F28b: the PRODUCTION SemDeDup composition — codebook trained by
    * the hierarchical sampled trainer (F6f: sample rows × routed
    * assignment, O(s·√K)/iter), corpus assigned through the F6d
    * router (O(n·√K)), prune unchanged. This is the pipeline §6's
    * scale rows measure; here it sits under the full correctness gate.
    */
  def dedupSemanticRouted(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val book = Ann.refinedCentroidsSampled2Level(e, IvfCentroids,
      IvfLloydIters, CbSampleBp, SuperCells)
    Dedup.semanticClustersAssigned(e, EmbedCosineTau,
      Ann.coarseAssignTwoLevel(e, book, SuperCells))
  }

  // image near-dup thresholds: twins measured at hamming ≤ 2 (re-encode
  // ≤ 1, slight resize ≤ 2 with the interior-sampled hash) — inside the
  // 4-band pigeonhole guarantee of ≤ 3, so every planted pair is FOUND
  // deterministically; closest DISTINCT image pair measured at 15
  val PhashMaxHamming = 6
  val PhashMaxDf = 64

  /** F20: image perceptual-hash near-dup pairs over the planted-twin
    * media fixture — expected pairs are pure id arithmetic (the oracle
    * never hashes a pixel).
    */
  def dedupImagePhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.multimodal.ImageDedup.phashPairs(spark,
      graft.multimodal.ImageDedup.plantedImages(spark, docs),
      PhashMaxHamming, PhashMaxDf)
      .select(col("x"), col("y"))
  }

  /** F34: image near-dup SEARCH over the planted-twin fixture — the
    * copies (re-encodes + resizes) arrive as the "new crawl" and are
    * looked up against the ORIGINALS' standing phash index; each
    * copy's top-1 at hamming ≤ τ must be its own source (nearest
    * DISTINCT image measured at hamming ≥ 15, far past τ), so the
    * expected result is pure id arithmetic — the oracle never hashes
    * a pixel.
    */
  def annImagePhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val planted = ImageDedup.plantedImages(spark, Tables.documents(spark, dir))
    ImageDedup.phashSearch(spark,
      planted.filter(_.media_id < ImageDedup.ReencOffset),
      planted.filter(_.media_id >= ImageDedup.ReencOffset),
      1, PhashMaxHamming, PhashMaxDf)
      .select(col("q_id"), col("match_id"))
  }

  /** G15 batch twin: the in-flight image gate — originals with
    * media_id % 4 != 0 form the standing index; the arriving side is
    * every planted copy plus the % 4 == 0 originals. A copy whose
    * source is indexed is a dup (twins ≤ 2 hamming, τ=6); a copy of
    * an unindexed original, and every % 4 == 0 original itself, is
    * unique (nearest distinct image ≥ 15) — all pure id arithmetic.
    * The exact/near distinction is NOT id-derivable for images (a
    * lossless re-encode hashes identically, a lossy one may flip a
    * bit), so the driver projection collapses verdicts to dup/unique;
    * the three-way split is pinned by the literal-signature ScalaTest.
    */
  def streamPhashGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val planted = ImageDedup.plantedImages(spark, Tables.documents(spark, dir))
    val base = planted.filter(r =>
      r.media_id < ImageDedup.ReencOffset && r.media_id % IncrementalMod != 0)
    val queries = planted.filter(r =>
      r.media_id >= ImageDedup.ReencOffset || r.media_id % IncrementalMod == 0)
    val (sigs, keyed) = ImageDedup.phashIndex(spark, base, PhashMaxDf)
    ImageDedup.phashGateRows(spark, queries, sigs, keyed, PhashMaxHamming)
      .select(col("q_id"),
        when(col("verdict") === "unique", "unique").otherwise("dup").as("verdict"),
        col("keep"))
      .orderBy(col("q_id"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(spark, Tables.documents(spark, dir), SimhashMaxHamming)

  /** The 100 TB-shaped pairs variant: hot band buckets re-keyed with
    * extra simhash bits until every bucket holds ≤ SimhashMaxDf sigs.
    */
  def dedupSimhashCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsCapped(spark, Tables.documents(spark, dir),
      SimhashMaxHamming, SimhashMaxDf)

  /** F3s: the df-cap bound as data — per-(band, level) bucket stats of
    * the capped MinHash keying; max_df ≤ MinhashMaxDf by construction.
    */
  def dedupMinhashBucketStats(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashBucketStats(spark, Tables.documents(spark, dir), MinhashMaxDf)

  /** O(n)-output keep/drop decisions from the capped candidate graph. */
  def dedupSimhashClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashClusters(spark, Tables.documents(spark, dir),
      SimhashMaxHamming, SimhashMaxDf)

  def annCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.bruteTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK)
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.lshTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK, LshPlanes, EmbedDim)
  }

  /** The IVF scale path: probe the nearest inverted lists only. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK, IvfCentroids, IvfProbe)
  }

  // F48: range radius — the F13 τ (the two operators answer the same
  // "all near-copies" question from opposite ends: F13 corpus×corpus,
  // F48 per-query against the standing index)
  /** F48: exact range search — all neighbours with cos ≥ τ. */
  def annRange(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.bruteRange(e.filter(col("vec_id") < AnnQueryMax), e, EmbedCosineTau)
  }

  /** F48 scale path: the radius filter served from the IVF probes. */
  def annRangeIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfRange(e.filter(col("vec_id") < AnnQueryMax), e, EmbedCosineTau,
      IvfCentroids, IvfProbe)
  }

  /** F43: exact maximum-inner-product top-k — the recommendation-model
    * objective (user·item), where normalizing away magnitude is wrong.
    */
  def annMips(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.mipsBruteTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK)
  }

  /** F43s: bucketed MIPS — candidates from hyperplane LSH over the
    * norm-AUGMENTED vectors (the Bachrach/Neyshabur reduction), raw
    * inner-product exact scoring.
    */
  def annMipsLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.mipsTopKLsh(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      LshPlanes, EmbedDim)
  }

  // F42: the filtered-search predicate — even labels (~half the
  // corpus: selective enough that post-filtering an unfiltered
  // k-shortlist would starve, the case pre-filtering exists for)
  val FilterLabelMod = 2

  /** F42: metadata-filtered vector search — top-k among even-label
    * vectors only, served from the STANDING full-corpus IVF codebook
    * with the predicate applied to the lists before ranking.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKFiltered(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, col("label") % FilterLabelMod === 0)
  }

  val IvfLloydIters = 2

  /** F6c: IVF with a Lloyd-refined codebook (2 iterations). */
  def annIvfRefined(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKRefined(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, IvfLloydIters)
  }

  /** Codebook training-sample rate (basis points): 50% at test scale —
    * large enough that K=32 seeds exist in every SF's sample, small
    * enough that the sampled codebook measurably differs from F6c's
    * (the spec pins both properties). Production: rate chosen so the
    * SAMPLE is vocabulary-sized (e.g. 10-100× K vectors), making Lloyd
    * training corpus-size-independent.
    */
  val CbSampleBp = 5000

  /** F6e: IVF over the SAMPLE-trained codebook — Lloyd runs on the
    * hash-stable 50% training sample; search is corpus-wide.
    */
  def annIvfSampled(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKSampled(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, IvfLloydIters, CbSampleBp)
  }

  /** F6f: IVF over the hierarchically-sample-trained codebook — the
    * production trainer: Lloyd on the sample with each iteration's
    * assignment routed through the F6d super-cells (O(s·√K)/iter).
    */
  def annIvfSampled2(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKSampled2Level(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, IvfLloydIters, CbSampleBp, SuperCells)
  }

  /** F25: top-k over int8-quantized codes — 4× smaller index and
    * rerank shuffle; per-vector scale cancels in code-space cosine.
    */
  def annQuantized(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.quantizedTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK)
  }

  /** F25b: IVF probe with code-space rerank — float coarse assignment,
    * int8 inverted lists (the FAISS IVF+SQ8 shape).
    */
  def annIvfQuantized(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKQuantized(e.filter(col("vec_id") < AnnQueryMax), e,
      AnnK, IvfCentroids, IvfProbe)
  }

  val PqSubspaces = 8
  val PqCodes = 32

  /** F25c: product-quantized top-k — 8×8-dim subspaces, 16 codewords
    * each: 8 bytes per vector (32× vs float32), map-only encode, ADC
    * lookup-table scoring.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.pqTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      PqSubspaces, PqCodes)
  }

  // F25g: PQ training — 2 Lloyd iterations per subspace over the
  // 50% '#pqtrain' hash sample
  val PqTrainIters = 2
  val PqTrainBp = 5000

  /** F25g: top-k over the TRAINED product codebook — per-subspace
    * Lloyd k-means on the hash-stable sample (the FAISS
    * ProductQuantizer.train step); encode/ADC tail unchanged.
    */
  def annPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.pqTopKTrained(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      PqSubspaces, PqCodes, PqTrainIters, PqTrainBp)
  }

  /** F25d: IVF probe + PQ/ADC rerank — the FAISS IVFPQ composition:
    * float coarse routing, m-byte codes in the inverted lists,
    * table-lookup scoring inside probed lists.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKPq(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, PqSubspaces, PqCodes)
  }

  // exact-refine shortlist width: the ADC index returns k·PqRefine
  // candidates; the stored floats re-rank them to k
  val PqRefine = 4

  /** F40: hybrid dense+sparse retrieval — exact-cosine top-k over the
    * embeddings fused with the keyword-overlap top-k over the SAME
    * ids' documents (vec_id ≡ doc_id in the synthetic corpus) by
    * Reciprocal Rank Fusion at k0=60. Rank-only fusion: neither
    * scorer's scale is calibrated, absence from a list contributes 0.
    */
  def annHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dense = Ann.bruteTopK(e.filter(col("vec_id") < AnnQueryMax), e, AnnK)
      .select(col("q_id"), col("vec_id").as("id"), col("rk"))
    val sparse = graft.text.Analysis.keywordOverlapTopK(
      Tables.documents(spark, dir), AnnQueryMax, KeywordsTopK, AnnK)
      .select(col("q_id"), col("doc_id").as("id"), col("rk"))
    Ann.rrfFuse(dense, sparse, AnnK)
  }

  /** F50: Okapi BM25 ranked retrieval — the calibrated sparse-leg
    * scorer over the inverted index (query = top-keyword terms of the
    * query docs, candidates = term-posting fan-out, integer-exact
    * fixed-point term sums).
    */
  def annBm25(spark: SparkSession, dir: String): DataFrame =
    graft.text.Analysis.bm25TopK(
      Tables.documents(spark, dir), AnnQueryMax, KeywordsTopK, AnnK)

  /** F25j: IVFPQ + exact refine — the FAISS IndexRefineFlat tail:
    * ADC shortlist of k·PqRefine, stored-float exact re-rank to k.
    */
  def annIvfPqRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKPqRefined(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, PqSubspaces, PqCodes, PqRefine)
  }

  /** F25h: IVF + TRAINED PQ — the full production composition (float
    * coarse routing over m-byte codes from the Lloyd-trained
    * sub-quantizers).
    */
  def annIvfPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKPqTrained(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, PqSubspaces, PqCodes, PqTrainIters, PqTrainBp)
  }

  private def annIndexParams = graft.similarity.AnnIndex.Params(
    IvfCentroids, IvfProbe, PqSubspaces, PqCodes, PqTrainIters, PqTrainBp)

  /** Write-once-per-process artifact root (the store/fixture-query
    * convention): the index builds on first use and later invocations
    * in the same JVM — bench repeat samples — reuse it, so the bench
    * measures the steady-state SEARCH (the production serving metric;
    * the build is an offline artifact). Deterministic, so reuse ≡
    * rebuild.
    */
  private def annIndexRootOnce(tag: String, dir: String)
                              (build: String => Unit): String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${ProcessHandle.current().pid()}",
      dir.stripPrefix("/").replaceAll("[^A-Za-z0-9.]", "_")).toString
    val marker = java.nio.file.Paths.get(root, "_GRAFT_ANNIDX_OK")
    if (!java.nio.file.Files.exists(marker)) {
      build(root)
      java.nio.file.Files.writeString(marker, "ok")
    }
    root
  }

  /** F60: epoch-pinned search through the PERSISTED IVFPQ index — the
    * full lifecycle in one query: build (train + encode + publish
    * epoch 1), load via the ready-marker pointer, search through the
    * parquet artifacts. Results are bit-equal to the in-session
    * [[annIvfPqTrained]] (shared Ann.ivfTopKPqOnIndex tail + lossless
    * float/byte parquet round-trip), so the F25h oracle is shared
    * verbatim — the hash match IS the save/load round-trip theorem
    * cross-engine.
    */
  def annIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val root = annIndexRootOnce("annidx", dir)(r =>
      AnnIndex.build(spark, e, annIndexParams, r): Unit)
    val idx = AnnIndex.load(spark, root) // pins currentEpoch = 1
    AnnIndex.search(e.filter(col("vec_id") < AnnQueryMax), idx, AnnK)
  }

  /** F60b: incremental REFRESH — build on the vec_id % 3 != 0 base
    * (codebooks train on the base only), extend with the % 3 == 0
    * delta (one assign+encode pass under the FROZEN epoch-1 books into
    * a new segment), search through the published epoch 2. The oracle
    * replays exactly that: centroids/book CTEs over the base, the
    * encode/probe/ADC chain over the whole corpus — so the hash match
    * proves extend ≡ rebuild-encode over the persisted form.
    */
  def annIndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val root = annIndexRootOnce("annidx_refresh", dir) { r =>
      AnnIndex.build(spark, e.filter(col("vec_id") % 3 =!= 0),
        annIndexParams, r)
      AnnIndex.extend(spark, r, e.filter(col("vec_id") % 3 === 0)): Unit
    }
    val idx = AnnIndex.load(spark, root) // pins currentEpoch = 2
    AnnIndex.search(e.filter(col("vec_id") < AnnQueryMax), idx, AnnK)
  }

  /** F60c: the FULL maintenance cycle under the gate — build on the
    * base, extend with the delta, compact the two segments into one,
    * vacuum everything but the live epoch — then search. Compaction
    * and vacuum are lossless/non-semantic by construction, so the
    * answer IS ann_index_refresh's: the oracle is shared verbatim,
    * and the hash match proves the whole
    * publish→extend→compact→vacuum chain preserves search results
    * cross-engine.
    */
  def annIndexCompacted(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val root = annIndexRootOnce("annidx_compact", dir) { r =>
      AnnIndex.build(spark, e.filter(col("vec_id") % 3 =!= 0),
        annIndexParams, r)
      AnnIndex.extend(spark, r, e.filter(col("vec_id") % 3 === 0))
      AnnIndex.compactSegments(spark, r)
      AnnIndex.vacuum(spark, r, keep = 1): Unit
    }
    val idx = AnnIndex.load(spark, root) // the compacted+vacuumed epoch 3
    AnnIndex.search(e.filter(col("vec_id") < AnnQueryMax), idx, AnnK)
  }

  /** F60d: the DELETE cycle under the gate — build on the full corpus,
    * tombstone every vec_id % 17 == 0 (the delete epoch: same segments
    * + codebooks + a tombstone table; readers pinned at epoch 1 keep
    * the full index), compact (physical purge, empty tombstones) —
    * then search. The oracle is the F25h chain with the deleted ids
    * excluded from the CANDIDATE side only (codebooks still trained on
    * the full corpus — deletes never retrain, the frozen-book law;
    * queries stay the full set: searching WITH a deleted vector's
    * embedding is legal, finding it is not).
    */
  def annIndexDeleted(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val root = annIndexRootOnce("annidx_delete", dir) { r =>
      AnnIndex.build(spark, e, annIndexParams, r)
      AnnIndex.delete(spark, r,
        e.filter(col("vec_id") % 17 === 0).select(col("vec_id")))
      AnnIndex.compactSegments(spark, r): Unit
    }
    val idx = AnnIndex.load(spark, root) // the purged epoch 3
    AnnIndex.search(e.filter(col("vec_id") < AnnQueryMax), idx, AnnK)
  }

  /** F60e: REBUILD CUTOVER — the lifecycle verb extend() deliberately
    * lacks (retraining under a live root would re-key every segment):
    * generation 1 builds on the % 3 != 0 base and publishes through the
    * alias; the corpus then shifts (the full set), so a REBUILD trains
    * fresh codebooks under a NEW root and cuts over — one atomic
    * marker creation; readers pinned to gen 1 keep their root
    * untouched. loadCurrent follows the alias to the rebuilt index,
    * whose search over the full corpus is exactly the fresh full-build
    * (build is deterministic), so the F25h/ann_index_search oracle is
    * shared verbatim — the hash match proves the alias followed the
    * cutover (gen 1's base-trained books would mis-rank).
    */
  def annIndexCutover(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val alias = annIndexRootOnce("annidx_cutover", dir) { a =>
      AnnIndex.build(spark, e.filter(col("vec_id") % 3 =!= 0),
        annIndexParams, s"$a/roots/r1")
      AnnIndex.cutover(spark, a, s"$a/roots/r1")
      // the rebuild: fresh root, retrained codebooks, full corpus
      AnnIndex.build(spark, e, annIndexParams, s"$a/roots/r2")
      AnnIndex.cutover(spark, a, s"$a/roots/r2"): Unit
    }
    val idx = AnnIndex.loadCurrent(spark, alias) // follows gen 2
    AnnIndex.search(e.filter(col("vec_id") < AnnQueryMax), idx, AnnK)
  }

  /** F25i: residual IVFPQ — the sub-quantizers encode x − centroid
    * (FAISS's IndexIVFPQ), trained by the same sampled Lloyd chain.
    */
  def annIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.ivfTopKPqResidual(e.filter(col("vec_id") < AnnQueryMax), e, AnnK,
      IvfCentroids, IvfProbe, PqSubspaces, PqCodes, PqTrainIters, PqTrainBp)
  }

  // F6d: G = ceil(sqrt(IvfCentroids)) super-cells — the O(sqrt K)
  // routing work point
  val SuperCells = 6

  /** F6d: two-level (hierarchical) coarse assignment — the K∝corpus
    * routing shape (score G supers, then only the super-cell's member
    * centroids: O(√K) per row instead of O(K)).
    */
  def annAssign2Level(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Ann.coarseAssignTwoLevel(e, Ann.initialCentroids(e, IvfCentroids), SuperCells)
      .orderBy(col("vec_id"))
  }

  def textLangid(spark: SparkSession, dir: String): DataFrame =
    Analysis.langId(spark, Tables.documents(spark, dir))

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Analysis.quality(Tables.documents(spark, dir))

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Analysis.repetition(Tables.documents(spark, dir))

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Analysis.tokenCounts(Tables.documents(spark, dir))

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Analysis.fingerprint(Tables.documents(spark, dir))

  /** F22: PII redaction over the deterministically-planted corpus (the
    * synthetic text carries no organic PII; the plant makes every
    * pattern class exercised and the expected counts id-arithmetic).
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame =
    Analysis.piiRedact(Analysis.piiPlanted(Tables.documents(spark, dir)))

  /** F23: unigram-LM log-probability + OOV-ratio quality scoring. The
    * LM's reference vocabulary is the F17 top-N artifact ([[VocabTopN]]
    * — referenced at call time; a `val` alias here would read the
    * not-yet-initialized field).
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    Analysis.lmScore(Tables.documents(spark, dir), VocabTopN)

  /** F42 weak-label column shared by both classifier queries: F8 4-dp
    * quality score ≥ [[graft.text.Classifier.LabelMin]] (the
    * "looks-like-the-reference-corpus" bit a production pipeline gets
    * from a curated corpus; here derived one-source from the F8 rule
    * so the oracle renders the identical CASE).
    */
  private def classifierLabel: org.apache.spark.sql.Column = {
    val (_, score) = Analysis.scoreSignals
    when(score >= graft.text.Classifier.LabelMin, 1.0).otherwise(0.0)
  }

  /** F42: train the hashed-unigram logistic quality classifier
    * (full-batch GD, [[graft.text.Classifier.Iters]] iterations) and
    * emit the frozen model: (bucket, weight), bias at bucket −1.
    */
  def qualityClassifierTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = graft.text.Classifier.train(docs, classifierLabel)
    graft.text.Classifier.weightsDf(spark, m)
  }

  /** F42: train, then score the corpus map-only under the frozen
    * weights — (doc_id, label, prob, pred).
    */
  def qualityClassifierScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = graft.text.Classifier.train(docs, classifierLabel)
    graft.text.Classifier.score(docs, classifierLabel, m)
  }

  // F30: keywords per doc — enough to see real separation, small
  // enough that the per-doc window output stays readable
  val KeywordsTopK = 5

  /** F30: per-document TF-IDF top-k keyword extraction. */
  def textKeywords(spark: SparkSession, dir: String): DataFrame =
    Analysis.keywords(Tables.documents(spark, dir), KeywordsTopK)

  /** F31: line-level boilerplate removal over the planted multi-line
    * fixture — nav/footer lines stripped, sentential chunks kept.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame =
    Analysis.boilerplateStrip(
      Analysis.boilerPlanted(Tables.documents(spark, dir)))

  /** F38: global line dedup over the SAME multi-line fixture as F31 —
    * the planted nav/footer lines are cross-document duplicates by
    * construction (every even / %3 doc carries the identical string),
    * and the corpus's own exact-dup documents duplicate whole chunk
    * sets; each repeated line survives only in its minimum doc.
    */
  /** F57: per-doc corpus-relative novelty over 3-word shingles. */
  def textNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.text.Analysis.novelty(Tables.documents(spark, dir))

  def textLineDedup(spark: SparkSession, dir: String): DataFrame =
    Analysis.lineDedupScrub(
      Analysis.boilerPlanted(Tables.documents(spark, dir)), 2)

  /** F32: per-domain URL statistics over the planted-URL fixture. */
  def textDomains(spark: SparkSession, dir: String): DataFrame =
    Analysis.domainStats(Analysis.urlPlanted(Tables.documents(spark, dir)))

  /** F33: the Gopher quality-rule bundle with per-rule audit columns. */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame =
    Analysis.gopherRules(Tables.documents(spark, dir))

  /** F34: per-document unigram token entropy (fixed-point sum). */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    Analysis.tokenEntropy(Tables.documents(spark, dir))

  /** F23b: add-one bigram LM transition scoring (same top-V reference
    * vocabulary as F23, OOV collapsed to UNK before counting).
    */
  def textLmBigram(spark: SparkSession, dir: String): DataFrame =
    Analysis.lmScoreBigram(Tables.documents(spark, dir), VocabTopN)

  def embedNormStats(spark: SparkSession, dir: String): DataFrame =
    Ann.normStats(Tables.embeddings(spark, dir))

  /** G4 batch twin: the streaming signature-dedup decisions computed
    * batch-side — same per-row simhashRow signature, keep = min doc_id
    * per signature group (what the stream's first-seen rule converges
    * to on a single batch).
    */
  def streamSigDedup(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.text.TextFns.simhashRow(col("text")).as("simhash"))
    val keep = sigs.groupBy(col("simhash")).agg(min(col("doc_id")).as("keep_id"))
    sigs.join(keep, "simhash")
      .select(col("doc_id"), col("simhash"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** G5 batch twin: the streaming in-flight contamination flag computed
    * batch-side — same broadcast-set membership arithmetic
    * (CarbonStream.decontaminateStream is mode-agnostic).
    */
  def streamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    graft.streaming.CarbonStream
      .decontaminateStream(docs, eval, DecontamN, DecontamMinHits)
      .toDF().orderBy(col("doc_id"))
  }

  // curation gates: the score threshold sits BETWEEN 4-dp grid points
  // (scores are round(x,4)) so the cross-engine comparison can never
  // land on the boundary; ≥ 0.38-at-4dp drops ~15% of the corpus
  val CurationMinScore = 0.37995
  val CurationMinTokens = 15
  val CurationLang = "en"

  val VocabTopN = 200
  val SplitWeights = Seq(("train", 8), ("val", 1), ("test", 1))

  /** F17: tokenizer-corpus vocabulary statistics (tf/df, top-N). */
  def corpusVocab(spark: SparkSession, dir: String): DataFrame =
    Analysis.vocab(Tables.documents(spark, dir), VocabTopN)

  // enough BPE iterations to exercise merged-symbol pairs (merges of
  // merges) while keeping the oracle's rendered CTE chain readable
  val BpeMerges = 8

  /** F21: BPE merge-table training (N greedy top-pair merges). */
  def corpusBpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.merges(spark, Tables.documents(spark, dir), BpeMerges)

  // F21s: train-on-sample BPE — a production 30k-merge tokenizer
  // cannot run 30k sequential jobs over the full corpus (the F21 loop
  // is one job per merge); the standard shape trains the merge table
  // on a hash-stable sample and applies corpus-wide via the frozen
  // F21c projection. 50% at sf0.01 keeps the sampled word table rich
  // enough to exercise real merge divergence from full training.
  val BpeSampleBp = 5000
  val BpeSampleSalt = "#bpe"

  /** The deterministic salted-hash sample the BPE trainer reads: keep
    * is a pure function of doc_id (the F24 rule with a '#bpe' salt, so
    * it is decorrelated from both the F18 split and the F24 mixture
    * sample) — the trained table never changes under corpus
    * repartitioning or growth of the non-sampled remainder.
    */
  def bpeSampleDocs(docs: DataFrame): DataFrame =
    docs.filter(graft.text.TextFns.h60(
      concat(col("doc_id").cast("string"), lit(BpeSampleSalt))) % 10000L < BpeSampleBp)

  /** F21s: the BPE merge table trained on the sampled sub-corpus only
    * — same greedy loop, vocabulary-sized iterations over a fraction
    * of the corpus scan cost.
    */
  def corpusBpeSampled(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.merges(spark,
      bpeSampleDocs(Tables.documents(spark, dir)), BpeMerges)

  /** The trained merge table is a deterministic pure function of
    * (corpus, N) — memoized driver-side so the two consumers (F21c
    * batch apply, G10 streaming twin) train once and ship the same
    * frozen artifact, which is exactly the production shape (the
    * cachedSigTable argument: shared derived artifact, not shared
    * Spark state — survives catalog cache clears).
    */
  private val mergeMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(String, String)]]
  private def trainedMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    mergeMemo.getOrElseUpdate((dir, BpeMerges),
      graft.text.Bpe.mergeRows(spark, Tables.documents(spark, dir), BpeMerges)
        .map(t => (t._2, t._3)))

  /** F21c: tokenize the corpus under the F21-trained merge table —
    * train (bounded N-row artifact), then ONE map-only projection over
    * the corpus: per-doc BPE token count + basis-point compression.
    */
  def corpusBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.text.Bpe.applyTokens(docs, trainedMerges(spark, dir)).orderBy(col("doc_id"))
  }

  /** G10 batch twin: in-flight token accounting under a frozen merge
    * table — CarbonStream.tokenizeStream is mode-agnostic, so this IS
    * the streaming projection on a batch Dataset (same trained
    * artifact as F21c; the shared oracle is the point).
    */
  def streamTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.streaming.CarbonStream.tokenizeStream(docs, trainedMerges(spark, dir))
      .orderBy(col("doc_id"))
  }

  /** G11 batch twin: in-flight keyword tagging under the frozen
    * (token → df, N) artifact — df table = the F17 top-V vocabulary's
    * df column (bounded by contract: V rows ship as expression
    * literals), N = the training corpus size. OOV tokens score at the
    * df = 0 idf ceiling.
    */
  def streamKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dfTable = Analysis.vocab(docs, VocabTopN)
      .select(col("token"), col("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.streaming.CarbonStream.keywordsStream(docs, dfTable,
      docs.count(), KeywordsTopK)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** F18: deterministic hash-stable train/val/test split. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.split(Tables.documents(spark, dir), SplitWeights)

  // F39: epoch-order constants — 64 read shards, epoch 1 in the driver
  // query (epoch 0's decorrelation is spec-pinned)
  val EpochBuckets = 64
  val EpochN = 1

  /** F39: the epoch-salted hash-bucketed training order. */
  def corpusEpochOrder(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochOrder(Tables.documents(spark, dir), EpochN, EpochBuckets)

  // F24 mixture rates (basis points): downsample the bulk language,
  // keep the curated slices whole; es/zh are deliberately UNLISTED so
  // the driver query exercises the default-rate fallback path too
  val SampleRatesBp = Seq(("en", 5000), ("de", 10000), ("fr", 10000))
  val SampleDefaultBp = 2500

  // F29 bucket count: deciles — the granularity quality-threshold
  // decisions are usually phrased in ("drop the worst decile")
  val QualityBucketN = 10

  /** F29: exact global quality-decile assignment via the bounded
    * per-score prefix sum (no single-task global sort).
    */
  def corpusQualityBuckets(spark: SparkSession, dir: String): DataFrame =
    Sampling.qualityBuckets(Tables.documents(spark, dir), QualityBucketN)

  // F35 token budgets: en under-supplied (real downsample rate), de
  // OVER budget (rate caps at 10000 — keep everything), zh excluded
  // (rate 0), es/fr fall to the default
  val MixTargets: Seq[(String, Long)] = Seq(("en", 6000L), ("de", 9000L), ("zh", 0L))
  val MixDefaultTarget = 1500L

  /** F35: mixture planning — per-stratum token budgets → the
    * basis-point keep rates the F24 sampler consumes.
    */
  def corpusMixPlan(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixPlan(Tables.documents(spark, dir), MixTargets, MixDefaultTarget)

  /** F35b: plan-then-apply — the planner's rates (a bounded K-row
    * collect: one row per stratum BY CONSTRUCTION) feed the F24
    * sampler, and the report shows kept docs / token mass per lang —
    * the full budget→sample loop a pipeline actually runs.
    */
  /** F56: sliding-window context chunking — 32-token windows, 8-token
    * overlap (step 24): the training-example generator; map-only, one
    * in-row explode, md5 content witness per chunk.
    */
  val ChunkWindow = 32
  val ChunkOverlap = 8
  def corpusWindowChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.windowChunks(Tables.documents(spark, dir),
      ChunkWindow, ChunkOverlap)

  /** F55: temperature-scaled mixture plan — α=1/2 exponentiated
    * sampling over the per-lang doc counts at a 3000-doc budget; the
    * published low-resource-upweighting recipe as a K-row plan.
    */
  val TemperatureBudget = 3000L
  def corpusMixTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixPlanTemperature(Tables.documents(spark, dir), TemperatureBudget)

  /** F55b: the plan applied WITHOUT a driver collect — the K-row plan
    * broadcast-joins into the one F24 sampler projection.
    */
  def corpusMixTemperatureApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Sampling.sampleWithPlan(docs,
      Sampling.mixPlanTemperature(docs, TemperatureBudget))
  }

  def corpusMixApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rates = Sampling.mixPlan(docs, MixTargets, MixDefaultTarget)
      .select(col("lang"), col("rate_bp")).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toSeq
    val keep = Sampling.sampleByStratum(docs, rates, defaultBp = 0)
      .select(col("doc_id"), col("keep"))
    docs.join(keep, "doc_id")
      .filter(col("keep") === 1L)
      .select(col("lang"),
        size(graft.text.TextFns.tokens(col("text"))).cast("long").as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** G13 batch twin: the frozen mixture-rate plan applied per document
    * at ingest — rates come from the F35 planner (a bounded K-row
    * collect), the verdict projection is the shared stream/batch
    * sampler; output ordered for the oracle compare only.
    */
  def streamMixGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rates = Sampling.mixPlan(docs, MixTargets, MixDefaultTarget)
      .select(col("lang"), col("rate_bp")).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toSeq
    graft.streaming.CarbonStream.mixGateStream(docs, rates)
      .orderBy(col("doc_id"))
  }

  /** F37: standing-index refresh — the day-2 batch folded into the
    * day-1 index by re-keying only the touched level-0 buckets; the
    * ORACLE REBUILDS FROM SCRATCH over the union, so a hash match IS
    * the merge ≡ rebuild theorem checked cross-engine.
    */
  def dedupIndexMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (bSigs, bKeyed) = Dedup.incrementalIndex(spark,
      docs.filter(col("doc_id") % IncrementalMod =!= 0), MinhashMaxDf)
    val incSigs = Dedup.distinctSigs(
      docs.filter(col("doc_id") % IncrementalMod === 0))
    val (_, mergedKeyed) = Dedup.indexMerge(spark, bSigs, bKeyed,
      incSigs, MinhashMaxDf)
    mergedKeyed
      .select(col("sk"), col("band").cast("long").as("band"),
        col("lvl"), col("bkey"))
      .orderBy(col("sk"), col("band"))
  }

  /** F41: hamming-index refresh — the F37 merge≡rebuild theorem in
    * 60-bit signature space (the F34/G15 standing index): base = the
    * %4≠0 docs' simhash values, batch = the %4==0 docs'; Spark MERGES
    * (re-keying only the touched level-0 buckets' cohort), the oracle
    * REBUILDS from scratch over the union — a hash match verifies the
    * closure argument cross-engine.
    */
  def dedupSimhashIndexMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sim = Dedup.simhash(spark, docs)
    val (bSigs, bKeyed) = Dedup.hammingIndex(spark,
      sim.filter(col("doc_id") % IncrementalMod =!= 0).select(col("simhash")),
      SimhashMaxDf)
    val (_, mergedKeyed) = Dedup.hammingIndexMerge(spark, bSigs, bKeyed,
      sim.filter(col("doc_id") % IncrementalMod === 0).select(col("simhash")),
      SimhashMaxDf)
    mergedKeyed
      .select(col("simhash"), col("band").cast("long").as("band"),
        col("lvl"), col("bkey"))
      .orderBy(col("simhash"), col("band"))
  }

  /** F24: deterministic stratified mixture sampling over `lang`. */
  def corpusSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.sampleByStratum(Tables.documents(spark, dir),
      SampleRatesBp, SampleDefaultBp)

  /** F47: duplicate-aware weighted sampling — the F24 rates scaled per
    * doc by the F45 soft-dedup weight (eff_bp = rate_bp div size), so
    * each dup cluster's expected kept mass is one document's.
    */
  def corpusSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Sampling.sampleWeighted(Tables.documents(spark, dir),
      dedupSoft(spark, dir), SampleRatesBp, SampleDefaultBp)

  /** F49: deterministic HLL cardinality report — per-lang distinct
    * token counts, exact AND sketched, plus the '*' row whose estimate
    * comes from MERGING the per-lang sketches (register max), not from
    * rescanning: the associativity that makes the sketch the 100 TB
    * answer to `count(DISTINCT)`. The exact column rides along to
    * REPORT accuracy — production uses the registers alone.
    */
  def corpusCardinalityHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caching._
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), explode(graft.text.TextFns.tokens(col("text"))).as("token"))
    // ONE distinct (lang, token) pass feeds the registers AND both
    // exact counts (count over distinct rows ≡ countDistinct): the
    // corpus is tokenized once, not three times, and the two register
    // md5 derivations run once per DISTINCT token instead of once per
    // occurrence (guide §2.3 — the cmsRegistersBatch trade; max is
    // duplicate-blind, so the registers are bit-identical)
    val dTok = tok.distinct().cachedOnce
    // ≤ 5 langs × 256 registers — the bounded sketch artifact, cached
    // because both the per-lang estimates and the merged '*' row read it
    val regs = Sketch.hllRegistersDistinct(dTok, "lang", "token").cachedOnce
    val perLang = dTok
      .groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
      .join(Sketch.hllEstimate(regs, "lang"), Seq("lang"))
    val star = dTok.select(col("token")).distinct()
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("lang", lit("*"))
      .join(Sketch.hllEstimate(
        Sketch.hllMergeAll(regs, "*", "lang"), "lang"), Seq("lang"))
    perLang.unionByName(star)
      .select(col("lang"), col("n_exact"), col("hll_est"))
      .orderBy(col("lang"))
  }

  /** F54: deterministic log-bucket quantile sketch — p50/p90/p99
    * whitespace-token length per lang, plus the '*' row whose
    * registers come from SUMMING the per-lang registers (count
    * associativity), not from rescanning. The exact rank-selected
    * percentile rides along as the accuracy audit (the F49 n_exact
    * pattern — production consumes the registers alone; at 100 TB the
    * exact column is the thing this sketch exists to avoid).
    */
  val QuantileQs = Seq(5000, 9000, 9900)
  def corpusQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caching._
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.documents(spark, dir).select(col("lang"),
      size(graft.text.TextFns.tokens(col("text"))).cast("long").as("v"))
    // ≤ langs × ~64·QSub rows — the bounded sketch artifact, cached
    // because the per-lang estimates and the '*' row both read it
    val regs = Sketch.qRegisters(vals, "lang", col("v")).cachedOnce
    val est = Sketch.qEstimate(
      regs.unionByName(Sketch.qMergeAll(regs, "*", "lang")),
      "lang", QuantileQs)
    val withStar = vals.unionByName(vals.withColumn("lang", lit("*")))
    val ranked = withStar
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("lang")).orderBy(col("v")))
          .cast("long") - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val exact = ranked
      .select(col("lang"), col("rn"), col("n"), col("v"),
        explode(array(QuantileQs.map(q => lit(q.toLong)): _*)).as("q_bp"))
      .filter(col("rn") === expr("q_bp * (n - 1) div 10000"))
      .select(col("lang"), col("q_bp"), col("v").as("q_exact"))
    est.join(exact, Seq("lang", "q_bp"))
      .orderBy(col("lang"), col("q_bp"))
  }

  /** F54b: INCREMENTAL quantile maintenance — the arriving batch's
    * registers SUM into the standing corpus's (the F49b shape): the
    * Spark side estimates only from the merged halves, the oracle
    * re-sketches everything from scratch, and the hash match proves
    * merge ≡ rebuild for the count registers cross-engine.
    */
  def corpusQuantileIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def valsOf(df: DataFrame) = df.select(col("lang"),
      size(graft.text.TextFns.tokens(col("text"))).cast("long").as("v"))
    val merged = Sketch.qMerge(
      Sketch.qRegisters(valsOf(docs.filter(col("doc_id") % 2 === 0)), "lang", col("v")),
      Sketch.qRegisters(valsOf(docs.filter(col("doc_id") % 2 =!= 0)), "lang", col("v")),
      "lang")
    Sketch.qEstimate(merged, "lang", QuantileQs)
      .orderBy(col("lang"), col("q_bp"))
  }

  /** F58: deterministic Count-Min heavy hitters — per-lang top-10
    * tokens with their CMS estimates next to exact counts (the
    * toy-scale accuracy audit; at 100 TB the candidate list comes
    * from a hash sample and the EXACT column is the thing the sketch
    * exists to avoid). est ≥ exact always — the one absolute CMS
    * guarantee.
    */
  val CmsTopK = 10
  def corpusHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caching._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("lang").as("slice"),
        explode(graft.text.TextFns.tokens(col("text"))).as("token"))
      .cachedOnce
    val exact = tok.groupBy(col("slice"), col("token"))
      .agg(count(lit(1)).as("n_exact"))
    val cand = exact.withColumn("rk", row_number().over(
        Window.partitionBy(col("slice"))
          .orderBy(col("n_exact").desc, col("token"))))
      .filter(col("rk") <= CmsTopK).drop("rk")
    Sketch.cmsEstimate(Sketch.cmsRegistersBatch(tok, "slice", col("token")),
        cand, "token")
      .join(cand, Seq("slice", "token"))
      .select(col("slice").as("lang"), col("token"),
        col("cms_est"), col("n_exact"))
      .orderBy(col("lang"), col("token"))
  }

  /** G22 driver twin: quantile estimates computed THROUGH the
    * streaming gate's code path ([[graft.streaming.CarbonStream
    * .qsketchStream]] — the shared qRegisters projection) on the batch
    * table; shares F54b's whole-corpus oracle (the G18 convention), so
    * the hash match proves the stream projection obeys the register
    * law cross-engine, and the StreamSpec twin proves batches sum into
    * the same registers.
    */
  def streamQsketchGate(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.documents(spark, dir).select(col("lang"),
      size(graft.text.TextFns.tokens(col("text"))).cast("long").as("v"))
    Sketch.qEstimate(
      graft.streaming.CarbonStream.qsketchStream(vals, "lang"),
      "lang", QuantileQs)
      .orderBy(col("lang"), col("q_bp"))
  }

  /** G23 driver twin: CMS estimates through the streaming gate's code
    * path on the batch table — shares F58b's whole-corpus oracle.
    */
  def streamCmsGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caching._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("lang").as("slice"),
        explode(graft.text.TextFns.tokens(col("text"))).as("token"))
      .cachedOnce
    val cand = tok.groupBy(col("slice"), col("token"))
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("slice"))
          .orderBy(col("n_exact").desc, col("token"))))
      .filter(col("rk") <= CmsTopK).select(col("slice"), col("token"))
    Sketch.cmsEstimate(
        graft.streaming.CarbonStream.cmsSketchStream(tok), cand, "token")
      .select(col("slice").as("lang"), col("token"), col("cms_est"))
      .orderBy(col("lang"), col("token"))
  }

  /** F58b: CMS merge ≡ rebuild — the Spark side estimates ONLY from
    * the two halves' elementwise-summed tables; the oracle re-sketches
    * from scratch (the F49b/F54b theorem's third instance).
    */
  def corpusHeavyHittersIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Caching._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    def tokOf(df: DataFrame) = df.select(col("lang").as("slice"),
      explode(graft.text.TextFns.tokens(col("text"))).as("token"))
    val tok = tokOf(docs).cachedOnce
    val cand = tok.groupBy(col("slice"), col("token"))
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("slice"))
          .orderBy(col("n_exact").desc, col("token"))))
      .filter(col("rk") <= CmsTopK).select(col("slice"), col("token"))
    val merged = Sketch.cmsMerge(
      Sketch.cmsRegistersBatch(tokOf(docs.filter(col("doc_id") % 2 === 0)),
        "slice", col("token")),
      Sketch.cmsRegistersBatch(tokOf(docs.filter(col("doc_id") % 2 =!= 0)),
        "slice", col("token")))
    Sketch.cmsEstimate(merged, cand, "token")
      .select(col("slice").as("lang"), col("token"), col("cms_est"))
      .orderBy(col("lang"), col("token"))
  }

  /** F49b: INCREMENTAL cardinality maintenance — the property that
    * makes the sketch an operations win, as an oracle-checked row:
    * merging the standing corpus's registers with an arriving batch's
    * registers (max per bucket) yields the IDENTICAL estimate to
    * re-sketching everything — no rescan of the base, ever. The
    * output carries both estimates; they are equal by the merge
    * theorem (registers are maxes; max is associative), and the
    * oracle recomputes both sides independently.
    */
  def corpusCardinalityIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def tokOf(df: DataFrame) = df.select(col("lang"),
      explode(graft.text.TextFns.tokens(col("text"))).as("token"))
    // distinct-first batch variant (guide §2.3): each sketch hashes
    // distinct (lang, token) pairs, not occurrences — registers are
    // bit-identical (max is duplicate-blind)
    val merged = Sketch
      .hllRegistersBatch(tokOf(docs.filter(col("doc_id") % 2 === 0)), "lang", "token")
      .unionByName(Sketch
        .hllRegistersBatch(tokOf(docs.filter(col("doc_id") % 2 =!= 0)), "lang", "token"))
      .groupBy(col("lang"), col("bucket")).agg(max(col("register")).as("register"))
    val full = Sketch.hllRegistersBatch(tokOf(docs), "lang", "token")
    Sketch.hllEstimate(merged, "lang").withColumnRenamed("hll_est", "est_merged")
      .join(Sketch.hllEstimate(full, "lang")
        .withColumnRenamed("hll_est", "est_full"), Seq("lang"))
      .orderBy(col("lang"))
  }

  /** G17 batch twin: the URL frontier gate — the even-doc half's
    * canonical URL set is the standing index; every planted variant
    * arrives (ids shifted to a disjoint range) and gets its
    * seen/fetch verdict against it.
    */
  def streamUrlGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = graft.text.Urls.urlDedup(
      graft.text.Urls.urlVariantsPlanted(docs.filter(col("doc_id") % 2 === 0)))
      .select(col("url_canon"))
    val incoming = graft.text.Urls.urlVariantsPlanted(docs)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("url"))
    graft.streaming.CarbonStream.urlGateStream(incoming, idx)
      .orderBy(col("doc_id"))
  }

  /** G8 batch twin: the in-flight quality/language gate computed
    * batch-side — CarbonStream.qualityGateStream is mode-agnostic, so
    * this IS the streaming projection on a batch Dataset (F14's
    * thresholds; reason = first failing per-document stage).
    */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.CarbonStream
      .qualityGateStream(Tables.documents(spark, dir),
        CurationMinScore, CurationMinTokens, CurationLang)
      .orderBy(col("doc_id"))

  /** G16 batch twin: the frozen-classifier ingest gate — train F44 on
    * the corpus (the offline artifact), then the one shared map-only
    * scoring projection.
    */
  def streamClsGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = graft.text.Classifier.train(docs, classifierLabel)
    graft.streaming.CarbonStream.clsGateStream(docs, m)
      .orderBy(col("doc_id"))
  }

  /** G9 batch twin: row-wise streaming IVF assignment computed
    * batch-side — the codebook (K rows by construction) collects once
    * and ships as expression literals, the G5 bounded-broadcast
    * argument.
    */
  def streamAnnAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = Ann.initialCentroids(e, IvfCentroids)
      .select(col("cent_id"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    graft.streaming.CarbonStream.annAssignStream(e, cents)
      .orderBy(col("vec_id"))
  }

  // F27 shard size: small enough that sf0.01 yields many shards (and
  // every boundary case: docs straddling, shards of 1 long doc)
  val PackBudget = 2048L

  /** F27: token-budget packing — hash-ordered layout cut into ~2k-token
    * shards by a distributed prefix sum.
    */
  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    Packing.pack(Tables.documents(spark, dir), PackBudget)

  /** F26: per-(source, lang) corpus report — doc/token counts,
    * fixed-point mean quality score, slice-attributed exact-dup count.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    Report.corpusReport(Tables.documents(spark, dir))

  /** F14: staged corpus curation (quality → language → exact dedup →
    * simhash near-dedup), one keep/drop + reason row per document.
    */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame =
    Curation.curate(spark, Tables.documents(spark, dir),
      CurationMinScore, CurationMinTokens, CurationLang,
      SimhashMaxHamming, SimhashMaxDf)

  /** F14b: the full pipeline with the stage-5 decontamination gate —
    * survivors sharing ≥ DecontamMinHits 5-gram shingles with the
    * benchmark sample flip to (0, 'contaminated').
    */
  def corpusCurationDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    Curation.curateWithDecontam(spark, docs, eval,
      CurationMinScore, CurationMinTokens, CurationLang,
      SimhashMaxHamming, SimhashMaxDf,
      DecontamN, DecontamMinHits, DecontamMaxDf)
  }
}
