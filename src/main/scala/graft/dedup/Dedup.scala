package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caching._
import graft.functions.FloatDot.dot

import graft.text.TextFns._

/** Document deduplication operators (SURVEY.md §2.F1-F4).
  *
  * Every candidate-generation step goes through a bucketing key
  * (content hash, shingle, band signature) so the pairwise work is an
  * equi-join shuffled by bucket — never an O(n²) cross join. That is
  * the property that holds at 100 TB: the only all-pairs computation
  * happens *within* buckets that true near-duplicates must share.
  *
  * Cache lifecycle: operators here `.cachedOnce` narrow intermediates that
  * their plans consume twice (shingle sets, signature maps, band keys).
  * The handles are plan-internal, so they are NOT unpersisted when the
  * returned DataFrame is consumed — a long-lived session invoking these
  * repeatedly should `spark.catalog.clearCache()` between invocations
  * (Verify/Bench already do), or the cached blocks accumulate in
  * executor storage until LRU eviction.
  */
object Dedup {

  /** F1: exact dedup by md5(text); keeper = min doc_id per group. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .orderBy(col("keep_id"))

  /** Distinct (id, shingle) pairs for docs with ≥n tokens (the shingle
    * build is the compiled ShingleArray pass — the declarative HOF
    * chain is interpreted). The n-gram family uses the 3-gram default;
    * decontamination widens to 5.
    */
  def docShingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol),
        explode(graft.functions.ShingleArray.shingles(col("toks"), n)).as("shingle"))

  /** F2: pairwise Jaccard over 3-word shingles via shingle equi-join.
    * intersection counts come from the join; union = |A|+|B|−∩.
    */
  def ngramJaccard(docs: DataFrame, tau: Double): DataFrame = {
    // cached: the plan references the shingle set three times (both
    // join sides + sizes); without the cache each reference re-runs
    // tokenize+explode over the corpus
    val sh = docShingles(docs).cachedOnce
    jaccardPairs(sh, sh, tau)
  }

  /** The Jaccard body of the n-gram family: intersections from the
    * shingle self-join over `postings` (all of `sh`, or its df-capped
    * part), sizes from the full shingle sets `sh`, union = |A|+|B|−∩.
    */
  private def jaccardPairs(sh: DataFrame, postings: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    selfPairs(postings, Seq("shingle"), "doc_id")
      .groupBy(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("sa"), col("x") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("y") === col("sb.doc_id"))
      .withColumn("jaccard", col("i") / (col("sa.n") + col("sb.n") - col("i")))
      .filter(col("jaccard") >= tau)
      // -1e-9 before round: integer-ratio values can sit exactly on
      // .xxxx5 boundaries (graft.tsdb.Queries.Eps rationale)
      .select(col("x"), col("y"), round(col("jaccard") - 1e-9, 4).as("jaccard"))
      .orderBy(col("x"), col("y"))
  }

  /** The posting self-join every plain family pairs through: each
    * (a, b) of `rows` agreeing on all `keys` with a.`id` < b.`id`, one
    * row per shared key (columns stay reachable as a.* and b.*).
    */
  private def selfPairs(rows: DataFrame, keys: Seq[String], id: String): DataFrame =
    rows.as("a").join(rows.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id"))

  /** The df cap of the plain families (no widening): the `keys` held
    * by at most `maxDf` rows of the per-id-distinct `rows`, so a row
    * count is the key's doc frequency.
    */
  private def rareKeys(rows: DataFrame, keys: Seq[String], maxDf: Int): DataFrame = {
    CappedIndex.checkCap(maxDf)
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(keys.map(col): _*)
  }

  /** Scale-path variant of ngramJaccard: shingles appearing in more
    * than `maxDf` documents are dropped before the pair join. At 100 TB
    * stop-shingles dominate join fan-out (a shingle in d docs yields
    * d²/2 candidate pairs) while contributing nothing discriminative;
    * a pair at Jaccard ≥ τ shares many shingles, so it survives unless
    * ALL its shared shingles are high-frequency. Documented
    * approximation — the exact operator stays `ngramJaccard`.
    */
  def ngramJaccardCapped(docs: DataFrame, tau: Double, maxDf: Int): DataFrame = {
    // four plan references (df counts, both capped sides, sizes)
    val sh = docShingles(docs).cachedOnce
    jaccardPairs(sh, sh.join(rareKeys(sh, Seq("shingle"), maxDf), "shingle"), tau)
  }

  /** F15: train/eval decontamination — (corpus doc, eval doc) pairs
    * sharing ≥ `minHits` distinct n-word shingles, the overlap check a
    * pretraining pipeline runs against its benchmark suites before
    * training. The reference has no eval concept; this extends the §2.F
    * family with the standard n-gram contamination method.
    *
    * Scale shape: both sides reduce to distinct (id, shingle), and the
    * benchmark-sized eval shingle set is BROADCAST as the very first
    * join — corpus rows on non-eval shingles die map-side, so the one
    * corpus-side pass shuffles only the eval-matched subset. The df cap
    * (a stop-shingle carries no contamination signal but dominates
    * fan-out — the [[ngramJaccardCapped]] cap argument) is computed on
    * that subset, where it equals full-corpus df for exactly the
    * shingles that can pair. Output is one row per overlapping pair:
    * O(contamination), not O(corpus).
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int,
                    minHits: Int, maxDf: Int): DataFrame = {
    // cached: the eval shingle pipeline is consumed twice (the distinct
    // shingle-set broadcast and the final pair join) and is
    // benchmark-sized by construction
    val ev = docShingles(evalDocs.select(col("eval_id"), col("text")), n, "eval_id").cachedOnce
    // eval-matched corpus rows only; consumed twice (df + pair join)
    // but already contamination-sized, the only cacheable shape here
    val hit = docShingles(corpus, n)
      .join(broadcast(ev.select(col("shingle")).distinct()), "shingle")
      .cachedOnce
    // per-shingle doc counts over `hit` == full-corpus df for these
    // shingles (the semijoin dropped no corpus row of an eval shingle)
    hit.join(broadcast(rareKeys(hit, Seq("shingle"), maxDf)), "shingle")
      .join(broadcast(ev), "shingle")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** F15n: NORMALIZATION-AWARE decontamination — [[decontaminate]]
    * over [[graft.text.TextFns.normalizeForMatch]]ed text on both
    * sides: real leak checks (Dolma, CCNet) case-fold and strip
    * punctuation before shingling, because a benchmark answer pasted
    * into a crawl rarely survives verbatim — exact space-token
    * shingles provably miss a copy that merely changed case or
    * punctuation (the planted spec). The exact mode stays the F15
    * default; this is the mode a suite owner actually signs off on.
    * Same scale shape (the normalization is one extra map-only Column
    * before the shared shingle chain).
    */
  def decontaminateNormalized(corpus: DataFrame, evalDocs: DataFrame,
                              n: Int, minHits: Int, maxDf: Int): DataFrame =
    decontaminate(
      corpus.select(col("doc_id"),
        graft.text.TextFns.normalizeForMatch(col("text")).as("text")),
      evalDocs.select(col("eval_id"),
        graft.text.TextFns.normalizeForMatch(col("text")).as("text")),
      n, minHits, maxDf)

  /** F15d: PER-BENCHMARK contamination report — a suite owner runs
    * decontamination against MANY benchmarks at once and signs off
    * per benchmark, not per pair: the F15 pair machinery runs once
    * over the union of all eval slices (one shingle pass, one
    * broadcast — K benchmarks cost what one does), then pairs roll up
    * by the eval docs' benchmark id into the per-suite verdict row
    * (how many corpus docs are contaminated against THIS benchmark,
    * how many leaking pairs, the worst overlap). Output is
    * O(#benchmarks).
    */
  def decontaminateMulti(corpus: DataFrame, evalDocs: DataFrame, n: Int,
                         minHits: Int, maxDf: Int): DataFrame = {
    val pairs = decontaminate(corpus,
      evalDocs.select(col("eval_id"), col("text")), n, minHits, maxDf)
    pairs.join(broadcast(evalDocs.select(col("eval_id"), col("bench_id"))),
        Seq("eval_id"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_contaminated"),
        count(lit(1)).as("n_pairs"), max(col("hits")).as("max_hits"))
      .orderBy(col("bench_id"))
  }

  /** F15b: eval-direction contamination FRACTION — for each eval doc,
    * the share of its distinct n-gram shingles that appear in some
    * OTHER corpus document, in basis points. This is the direction the
    * F15 pair report doesn't give: a benchmark task is compromised when
    * most of ITS grams leak into training, regardless of how large the
    * leaking train doc is (the GPT-3/Lee-et-al contamination metric a
    * suite owner thresholds on before trusting an eval number).
    *
    * Self-exclusion matters because the eval suite is drawn from the
    * corpus here: a gram whose only corpus occurrence is the eval doc
    * itself is no leak. Per-gram corpus evidence reduces to
    * (occurrence count, min doc_id) — ≥2 occurrences always include a
    * non-self doc; exactly one occurrence leaks iff it is someone else.
    *
    * Scale shape: the eval gram set is benchmark-sized and BROADCAST;
    * corpus rows on non-eval shingles die map-side, so the only
    * shuffle over corpus-derived data is a map-side-combinable
    * count/min aggregate on the contamination-sized hit subset (rows
    * are already per-doc-distinct, so count(*) IS the doc count — no
    * count-distinct expansion). Output is O(|eval|); all-integer
    * columns (basis points by integer division), no float boundary.
    */
  def decontaminateOverlap(corpus: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    val ev = docShingles(evalDocs.select(col("eval_id"), col("text")), n, "eval_id").cachedOnce
    val hits = docShingles(corpus, n)
      .join(broadcast(ev.select(col("shingle")).distinct()), "shingle")
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("d0"))
    ev.join(hits, Seq("shingle"), "left")
      .select(col("eval_id"),
        when(col("n_docs").isNull, 0L)
          .when(col("n_docs") >= 2 || col("d0") =!= col("eval_id"), 1L)
          .otherwise(0L).as("hit"))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("hit")).as("hit_grams"))
      .withColumn("contamination_bp",
        expr("coalesce((hit_grams * 10000) div nullif(n_grams, 0), 0)").cast("long"))
      .orderBy(col("eval_id"))
  }

  /** F15c: FUZZY decontamination — eval leakage detection through the
    * MinHash band machinery instead of exact n-gram overlap: a
    * paraphrased / lightly-perturbed copy of a benchmark item shares
    * few exact 5-grams with its source (the F15 check misses it) but
    * still collides with it in MinHash LSH space. Candidates are
    * (corpus doc, eval doc) pairs agreeing on ≥1 of the 4 band hashes;
    * each candidate is scored by the F3e slot-agreement Jaccard
    * estimate (matches/12 — each slot agrees with probability exactly
    * J) and kept at ≥ `minMatches` agreeing slots.
    *
    * Scale shape: the eval side is benchmark-sized by contract, so its
    * band rows (WITH the 12-slot signature attached — 4 rows/doc) are
    * one BROADCAST; corpus band rows join map-side and die immediately
    * unless they hit an eval bucket, the slot estimate is computed
    * per collision row from the two in-row signatures (no second join
    * anywhere), and sub-threshold rows are filtered BEFORE the only
    * shuffle — a map-side-combinable first-value aggregate on the
    * O(contamination) hit set. The corpus is touched exactly once,
    * map-only; contrast [[minhashLsh]], whose self-join this
    * cross-table shape never performs.
    */
  def decontaminateFuzzy(corpus: DataFrame, evalDocs: DataFrame,
                         minMatches: Int): DataFrame = {
    val k = minhashParams.size
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches in [1, $k] (got $minMatches)")
    val cb = minhashBandRowsWithSig(corpus)
    val eb = minhashBandRowsWithSig(
      evalDocs.select(col("eval_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("eval_id"), col("band"), col("bh"),
        col("mh").as("emh"))
    val matches = (1 to k).map(i =>
      when(element_at(col("mh"), i) === element_at(col("emh"), i), 1)
        .otherwise(0)).reduce(_ + _)
    cb.join(broadcast(eb), Seq("band", "bh"))
      .filter(col("doc_id") =!= col("eval_id"))
      .withColumn("matches", matches)
      .filter(col("matches") >= minMatches)
      .groupBy(col("doc_id"), col("eval_id"))
      // matches is pair-constant (both sigs are functions of the ids):
      // max() is just the shuffle-free way to collapse band duplicates
      .agg(max(col("matches")).as("m"))
      .select(col("doc_id"), col("eval_id"),
        round(col("m") / lit(k.toDouble), 4).as("est_jaccard"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  /** Per-doc (doc_id, band, bh, mh) — [[minhashBands]] keeping the full
    * signature on the row, so a cross-table band collision can score
    * the pair without any signature re-join.
    */
  private def minhashBandRowsWithSig(docs: DataFrame): DataFrame =
    minhashSigRows(docs).select(col("doc_id"), col("mh"), minhashLevel0Bands)

  /** F16: exact-substring dedup — the 50-token-overlap rule of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), the mode the reference's n-gram Jaccard family only
    * approximates: two documents are duplicates iff they share a
    * VERBATIM `w`-token span, regardless of how different the rest of
    * the text is (a boilerplate header, a quoted paragraph). Sharing a
    * span of length ≥ w ⟺ sharing at least one w-gram, so the w-gram
    * equi-join detects exactly the Lee-et-al pairs — no suffix array
    * needed for pair DETECTION (only for span extraction, out of
    * scope). `n_grams` counts the distinct shared w-grams (= span_len −
    * w + 1 for a single contiguous overlap).
    *
    * Scale shape: grams are h60-hashed BEFORE the join — the shuffle
    * carries 8-byte keys, not ~300-byte 50-token strings (md5-derived,
    * so the DuckDB oracle computes identical keys; a 60-bit collision
    * needs ~2^30 distinct grams per bucket to matter). The df cap drops
    * boilerplate grams shared by more than `maxDf` docs before the
    * pair join — the same Σdf² fan-out bound as [[ngramJaccardCapped]],
    * and at w=50 a gram above any small cap IS boilerplate.
    */
  def substringPairs(docs: DataFrame, w: Int, maxDf: Int): DataFrame = {
    // three plan references (df counts + both join sides). The
    // re-distinct AFTER hashing mirrors the oracle's `SELECT DISTINCT
    // doc_id, g` exactly: without it a within-doc 60-bit collision
    // would make n_grams disagree between engines (ADVICE r5 —
    // astronomically unlikely, but an avoidable asymmetry)
    val sh = docShingles(docs, w)
      .select(col("doc_id"), graft.text.TextFns.h60(col("shingle")).as("g"))
      .distinct()
      .cachedOnce
    selfPairs(sh.join(rareKeys(sh, Seq("g"), maxDf), "g"), Seq("g"), "doc_id")
      .groupBy(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .agg(count(lit(1)).as("n_grams"))
      .orderBy(col("x"), col("y"))
  }

  /** F16k: O(n)-output keep/drop over the substring-overlap pair graph
    * (same one-step min-propagation rule as every cluster consumer).
    */
  def substringClusters(docs: DataFrame, w: Int, maxDf: Int): DataFrame =
    clusterize(docs.select(col("doc_id")),
      substringPairs(docs, w, maxDf).select(col("x"), col("y")))

  /** Positioned w-grams: one row per OCCURRENCE (doc_id, p, g) — not
    * per-doc-distinct like [[docShingles]] — so span geometry survives.
    * p is the 0-based token offset of the gram's first token.
    */
  private def positionedGrams(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), graft.text.TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - w),
          i => graft.text.TextFns.h60(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))))
          .as(Seq("p", "g")))

  /** F16s: span EXTRACTION — for each pair found by the w-gram join,
    * the LONGEST verbatim shared token span (what Lee et al. actually
    * report; [[substringPairs]] only detects). Exact, no suffix array:
    * a shared span of length L ≥ w is L−w+1 shared grams at CONSECUTIVE
    * positions along one (pa − pb) diagonal, so the longest span is the
    * longest consecutive-pa run per (x, y, diagonal) — the classic
    * gaps-and-islands `p − row_number()` trick, identical in both
    * engines (integer arithmetic only). max_span = longest run + w − 1.
    *
    * Scale shape: the same capped gram equi-join as substringPairs
    * (positions ride along as two ints); the islands window partitions
    * by (x, y, diag) — high-cardinality keys, no hot partition. Within-
    * doc gram repeats multiply occurrences across diagonals, but each
    * diagonal stays bounded by the doc length.
    */
  def substringSpans(docs: DataFrame, w: Int, maxDf: Int): DataFrame = {
    // df cap on per-doc-DISTINCT grams (same stop-gram rule as
    // substringPairs); positions of surviving grams join after
    val pg = positionedGrams(docs, w).cachedOnce
    val rare = rareKeys(pg.select(col("doc_id"), col("g")).distinct(), Seq("g"), maxDf)
    val hits = selfPairs(pg.join(rare, "g"), Seq("g"), "doc_id")
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diag"))
      .distinct()
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x"), col("y"), col("diag")).orderBy(col("pa"))
    hits
      .withColumn("isl", col("pa") - row_number().over(iw))
      .groupBy(col("x"), col("y"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("x"), col("y"))
      .agg((max(col("run")) + (w - 1)).as("max_span"))
      .orderBy(col("x"), col("y"))
  }

  /** F16x: span SCRUB — the step a Lee-et-al pipeline actually ships:
    * remove each duplicated span from every doc except the one that
    * keeps it, emitting per-doc cut counts and the md5 of the scrubbed
    * text. The keeper rule needs NO pair join: a token is cut iff it
    * is covered by a w-gram occurrence whose gram's MINIMUM doc over
    * the (df-capped) corpus is a LOWER doc — "min doc keeps its copy",
    * the same keep_id convention as every cluster consumer, computed
    * as one per-gram min aggregate over the O(occurrences) gram table
    * instead of the O(pairs) join (strictly better scale shape than
    * the detection operator it complements).
    *
    * Coverage is exact without exploding w rows per gram: cut(t) ⇔
    * ∃ dup start pb ≤ t with pb + w − 1 ≥ t ⇔ running-max of span
    * ends at-or-before t reaches t — one per-doc ordered window
    * (null-skipping max, identical in both engines). Intra-doc
    * repeats are untouched (the family is inter-doc; F8b owns
    * within-doc repetition), and grams past the df cap are boilerplate
    * by the family's definition — under-cutting them is the documented
    * capped-family contract.
    */
  def substringScrub(docs: DataFrame, w: Int, maxDf: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(graft.text.TextFns.tokens(col("text"))).as(Seq("p", "tok")))
    val pg = positionedGrams(docs, w).cachedOnce
    val shw = pg.select(col("doc_id"), col("g")).distinct()
    val gmin = shw.join(rareKeys(shw, Seq("g"), maxDf), "g")
      .groupBy(col("g")).agg(min(col("doc_id")).as("gm"))
    val dst = pg.join(gmin, "g")
      .filter(col("gm") < col("doc_id"))
      .select(col("doc_id"), col("p"), (col("p") + (w - 1)).as("pe"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    toks.join(dst, Seq("doc_id", "p"), "left")
      .withColumn("run_pe", max(col("pe")).over(wr))
      .withColumn("cut",
        when(col("run_pe").isNotNull && col("run_pe") >= col("p"), 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cut")).as("n_cut"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("cut") === 0L,
            struct(col("p").as("p"), col("tok").as("tok"))))),
          s => s.getField("tok")))).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  /** Fixed, engine-portable MinHash parameters: k=12 permutations
    * h_i(x) = (a_i·x + b_i) mod P31, banded 4×3 for LSH (canonical
    * schedule lives in the compiled expression; single source).
    */
  val minhashParams: Seq[(Int, Long, Long)] = graft.functions.MinHash12.params
  val bandRows = 3
  val minhashNBands: Int = minhashParams.size / bandRows

  /** Per-doc 12-slot MinHash signature rows (doc_id, mh) — one compiled
    * per-row pass (graft.functions.MinHash12), no explode/groupBy
    * shuffle for the signature stage at all.
    */
  private[graft] def minhashSigRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.MinHash12.minhash(shingles3(col("toks"))).as("mh"))

  /** F3: MinHash signature + LSH banding → candidate pairs. Docs agree
    * on a band iff all `bandRows` signature slots match; the band
    * signature join is the scale path (shuffle keyed by band hash).
    */
  def minhashLsh(spark: SparkSession, docs: DataFrame): DataFrame = {
    // cache the per-doc band rows (nBands rows/doc — tiny): the self-join
    // otherwise evaluates the whole signature aggregation twice, because
    // the broadcast side's Exchange can't be reused against the shuffle side
    selfPairs(minhashBands(docs).cachedOnce, Seq("band", "bh"), "doc_id")
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .distinct()
      .orderBy(col("x"), col("y"))
  }

  /** Per-doc (doc_id, band, bh) band rows — the uncapped F3 shuffle key
    * (each band hash is the band's level-0 widening key; ScaleProbe
    * measures this table's bucket density against the capped keying).
    */
  private[graft] def minhashBands(docs: DataFrame): DataFrame =
    minhashSigRows(docs).select(col("doc_id"), minhashLevel0Bands)

  /** (band, bh) rows of an `mh` row: every band's level-0 key. */
  private def minhashLevel0Bands: Column =
    posexplode(array((0 until minhashNBands).map(b => minhashKey(b, 0)): _*))
      .as(Seq("band", "bh"))

  /** Widening schedule for the df-capped MinHash variants (the exact
    * analogue of [[simhashKeyExpr]], with signature SLOTS playing the
    * role of simhash bit chunks): band `b`'s level-`j` key is the md5
    * of its own `bandRows` slots plus `j` extension slots drawn
    * round-robin from the OTHER bands. At j = 9 the slot list covers
    * all 12 slots (for band 0 in natural order — the full-signature
    * key), so level 9 is a bijection of the signature and df = 1 over
    * DISTINCT signatures. Slot lists are nested prefixes, so two sigs
    * sharing a level-k key share every coarser key and agree on the
    * level itself — the drop-only-approximation argument of
    * [[CappedIndex]]. Shared by the Spark plan and the DuckDB oracle
    * (SparkEntry renders the same slot schedule as SQL).
    */
  val minhashWidenLevels = 9

  /** 0-based signature slot indices for band `b`'s level-`j` key. */
  def minhashKeySlots(b: Int, j: Int): Seq[Int] =
    (0 until bandRows).map(r => b * bandRows + r) ++
      (0 until j).map(c =>
        ((b + 1 + c / bandRows) % minhashNBands) * bandRows + (c % bandRows))

  /** Band `b`'s level-`j` key of the `mh` column
    * ([[graft.functions.MinHashKeys]]: md5 of the comma-joined decimal
    * slot values, the same string the DuckDB oracle aggregates).
    */
  private def minhashKey(b: Int, j: Int): Column =
    element_at(graft.functions.MinHashKeys.keys(col("mh"), lit(b)), j + 1)

  /** Full-signature identity key: md5 over all 12 slots in natural
    * order (= band 0's level-9 key). Two docs share `sk` iff their
    * signatures are identical.
    */
  private[graft] def minhashSigKey: Column = minhashKey(0, minhashWidenLevels)

  /** F3c: MinHash LSH pairs with distinct-signature collapse + df-capped
    * band buckets — the 100 TB twin of [[minhashLsh]] (VERDICT r5 #1).
    * Same (x, y) schema; output ⊆ minhashLsh (level-0 keys ARE the
    * uncapped band hashes, widening only refines — drop-only). Each doc
    * carries exactly one signature, so the cross/intra expansions emit
    * no duplicate pairs and need no distinct.
    */
  def minhashLshCapped(spark: SparkSession, docs: DataFrame, maxDf: Int): DataFrame =
    CappedIndex.pairs(CappedIndex.MinHash, cachedSigTable(docs), "doc_id", maxDf)
      .orderBy(col("x"), col("y"))

  /** The cached (doc_id, mh, sk) signature table — ONE plan shape, so
    * every consumer in a session (capped pairs, clusters, the F3e
    * estimate's slot joins) hits the same cache entry instead of
    * re-running the signature aggregation over the corpus.
    */
  private def cachedSigTable(docs: DataFrame): DataFrame =
    minhashSigRows(docs)
      .select(col("doc_id"), col("mh"), minhashSigKey.as("sk")).cachedOnce

  /** F3s: per-(band, widening-level) bucket statistics of the capped
    * keying — the df-cap guarantee turned into a VERIFIED artifact
    * instead of a docstring claim: for every band, how many distinct
    * signatures landed at each widening level, across how many
    * buckets, and the LARGEST bucket (which must be ≤ maxDf — the
    * hard bound the whole 100 TB candidate-join story rests on; an
    * operator change that silently broke the cap would flip this
    * query's rows before any wall-clock regression showed). Shares
    * the session-cached signature table and the keyed build with the
    * F3c family; one extra bounded aggregate.
    */
  def minhashBucketStats(spark: SparkSession, docs: DataFrame,
                         maxDf: Int): DataFrame = {
    val sig = cachedSigTable(docs)
    val keyed = CappedIndex.keys(CappedIndex.MinHash, sig.select("sk", "mh").distinct(), maxDf)
    keyed.groupBy(col("band"), col("lvl"), col("bkey"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("band"), col("lvl"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("df")).as("n_sigs"),
        max(col("df")).as("max_df"))
      .select(col("band").cast("long").as("band"), col("lvl"),
        col("n_buckets"), col("n_sigs"), col("max_df"))
      .orderBy(col("band"), col("lvl"))
  }

  /** F3e: per-pair Jaccard ESTIMATE from signature slot agreement —
    * the MinHash deliverable beyond candidate generation: the fraction
    * of the 12 signature slots on which x and y agree estimates
    * J(x, y) (each slot matches with probability exactly J). Pairs
    * come from the CAPPED candidate graph ([[minhashLshCapped]]), so
    * the estimate stage adds two hash equi-joins on doc_id against the
    * O(n) signature table — no new pairwise work at any scale. At
    * 100 TB this is the cheap re-score that ranks/thresholds
    * candidates without ever touching shingle sets again; estimates
    * land on the k/12 grid, so round(,4) is boundary-safe in both
    * engines.
    */
  def minhashJaccardEst(spark: SparkSession, docs: DataFrame, maxDf: Int): DataFrame = {
    val k = minhashParams.size
    // the SAME cached table feeds the pair pipeline and both slot
    // joins — the signature aggregation runs once per session, not
    // three times per query
    val sig = cachedSigTable(docs)
    val matches = (0 until k).map(i =>
      when(element_at(col("mx"), i + 1) === element_at(col("my"), i + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    CappedIndex.pairs(CappedIndex.MinHash, sig, "doc_id", maxDf)
      .join(sig.select(col("doc_id").as("x"), col("mh").as("mx")), "x")
      .join(sig.select(col("doc_id").as("y"), col("mh").as("my")), "y")
      .select(col("x"), col("y"),
        round(matches.cast("double") / k, 4).as("est_jaccard"))
      .orderBy(col("x"), col("y"))
  }

  /** F3k: O(n)-output keep/drop decisions over the CAPPED MinHash
    * candidate graph (re-pointed off the uncapped band join, VERDICT r5
    * #1) — [[CappedIndex.clusters]]' star clustering at signature-group
    * level, read as bucket minima with no pair step. Docs with no
    * signature (< 3 tokens) are their own singleton cluster. Output: (doc_id, cluster_id, keep) for every doc.
    */
  def minhashClusters(spark: SparkSession, docs: DataFrame, maxDf: Int): DataFrame = {
    val sig = cachedSigTable(docs)
    // LEFT join: a short doc has no signature row — it must surface as
    // its own singleton cluster, not vanish from the output
    CappedIndex.clusters(CappedIndex.MinHash,
      docs.select(col("doc_id"))
        .join(sig.select(col("doc_id"), col("sk")), Seq("doc_id"), "left"),
      sig, maxDf)
  }

  /** Shared O(n)-output clustering over an (x, y) candidate pair graph:
    * cluster_id = min({id} ∪ neighbours), one-step min propagation
    * (chains deliberately NOT transitively merged — deterministic
    * single pass, the rule every oracle replays). `ids` supplies the
    * full population so isolated members keep themselves. One shuffle:
    * the symmetric edge list groups by id with a map-side-combined min.
    */
  private[graft] def clusterize(ids: DataFrame, pairs: DataFrame,
                                idCol: String = "doc_id"): DataFrame = {
    val minNbr = pairs.select(col("x").as(idCol), col("y").as("nbr"))
      .unionByName(pairs.select(col("y").as(idCol), col("x").as("nbr")))
      .groupBy(col(idCol)).agg(min(col("nbr")).as("mn"))
    ids.select(col(idCol))
      .join(minNbr, Seq(idCol), "left")
      .select(col(idCol),
        least(col(idCol), coalesce(col("mn"), col(idCol))).as("cluster_id"))
      .withColumn("keep",
        when(col(idCol) === col("cluster_id"), 1L).otherwise(0L))
      .orderBy(col(idCol))
  }

  /** F36: INCREMENTAL ingest dedup — the production shape for "dedupe
    * the new crawl against the corpus": the BASE side is scanned (one
    * signature pass and its keying) but no signature is ever paired:
    * every verdict is read off the aggregates of the signature's own
    * capped buckets, so the work is linear in the keyed rows however
    * large the base has grown. A nightly re-dedup of a 100 TB corpus to
    * admit a 100 GB crawl is exactly the O(n²-ish) job this replaces.
    *
    * Verdict per incoming doc, in precedence order:
    *  - `exact_dup`  — its full 12-slot signature already exists in
    *    the base, or an earlier (smaller doc_id) incoming doc carries
    *    the same signature;
    *  - `near_dup`   — its signature shares a capped band bucket with
    *    a PRIOR signature: one present in the base, or one whose
    *    earliest incoming doc is smaller than this signature's own
    *    (the arrival-order rule that makes the verdict deterministic
    *    and independent of partitioning);
    *  - `unique`     — otherwise; docs too short to sign (< 3 tokens)
    *    are unique by the F3k singleton rule.
    *
    * Machinery: one shared signature table over base ∪ incoming, the
    * distinct-signature collapse and the [[CappedIndex]] build; then one
    * window over each bucket (band, lvl, bkey) flags a signature near
    * when a bucket of it holds a base-owned signature or one whose
    * earliest incoming doc precedes its own — exactly the members a band
    * self-join would pair it with.
    */
  def minhashIncremental(spark: SparkSession, base: DataFrame,
                         incoming: DataFrame, maxDf: Int): DataFrame = {
    val all = base.select(col("doc_id"), col("text"))
      .unionByName(incoming.select(col("doc_id"), col("text")))
    val sig = cachedSigTable(all)
    val flags = sig.select(col("doc_id"), col("sk"))
      .join(base.select(col("doc_id"), lit(1L).as("is_base")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sk"),
        coalesce(col("is_base"), lit(0L)).as("is_base"))
    // per-signature incremental state: does the base own it, and which
    // incoming doc reached it first
    val ski = flags.groupBy(col("sk"))
      .agg(max(col("is_base")).as("has_base"),
        min(when(col("is_base") === 0, col("doc_id"))).as("min_inc"))
    // a signature is near when one of its buckets holds a base-owned
    // signature or one reached earlier (a base-owned signature is
    // exact_dup either way, so counting itself changes no verdict)
    val bucket = Window.partitionBy(col("band"), col("lvl"), col("bkey"))
    val state = CappedIndex.keys(CappedIndex.MinHash,
        sig.select("sk", "mh").distinct(), maxDf)
      .join(ski, Seq("sk"))
      .withColumn("near", max(col("has_base")).over(bucket) === 1 ||
        min(col("min_inc")).over(bucket) < col("min_inc"))
      .groupBy(col("sk"), col("has_base"), col("min_inc"))
      .agg(max(col("near")).as("near"))
    incoming.select(col("doc_id"))
      .join(flags.filter(col("is_base") === 0)
        .select(col("doc_id"), col("sk")), Seq("doc_id"), "left")
      .join(state, Seq("sk"), "left")
      .select(col("doc_id"),
        when(col("sk").isNull, "unique")
          .when(col("has_base") === 1 || col("min_inc") < col("doc_id"), "exact_dup")
          .when(col("near"), "near_dup")
          .otherwise("unique").as("verdict"))
      .withColumn("keep", when(col("verdict") === "unique", 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** The standing corpus's dedup index — the STATIC side of the G14
    * stream-static gate, built once per base refresh (the artifact a
    * production ingest service holds): the base's distinct signature
    * keys (`sks`: one sk per distinct signature) and its df-capped
    * band buckets (`keys`: (sk, band, lvl, bkey)).
    */
  def incrementalIndex(spark: SparkSession, base: DataFrame,
                       maxDf: Int): (DataFrame, DataFrame) =
    CappedIndex.index(CappedIndex.MinHash, cachedSigTable(base), maxDf)

  /** The distinct (sk, mh) signature table of a document set — the
    * portable currency of the incremental family (index sigs, F37
    * merge batches). `distinct()` over BOTH columns, not
    * dropDuplicates("sk"): sk is the md5 of all 12 slots, so it
    * determines mh, and a no-buffer hash-aggregate distinct replaces
    * the first(array) SortAggregate dropDuplicates plans (r12 — the
    * same equivalence every `select("sk", "mh").distinct()` in this
    * file rests on).
    */
  def distinctSigs(docs: DataFrame): DataFrame =
    cachedSigTable(docs).select(col("sk"), col("mh")).distinct()

  /** F37: standing-index REFRESH — fold a new batch's signatures into
    * the capped-key index WITHOUT a full rebuild, closing the
    * F36/G14 production loop (build once, gate all day, fold the
    * survivors in at night; consecutive days compose). The closure
    * property [[CappedIndex.merge]] rests on holds because level-j
    * slot lists CONTAIN the level-0 list: merge(index(A), B) ≡
    * index(A ∪ B) EXACTLY.
    *
    * Inputs: the standing index as (sigs = (sk, mh) distinct,
    * keyed = (sk, band, lvl, bkey)) — [[incrementalIndex]]'s shape —
    * and the new batch's (sk, mh) rows (need not be pre-deduped).
    * Returns the refreshed (sigs, keyed) pair.
    */
  def indexMerge(spark: SparkSession, baseSigs: DataFrame,
                 baseKeyed: DataFrame, newSigs: DataFrame,
                 maxDf: Int): (DataFrame, DataFrame) =
    CappedIndex.merge(CappedIndex.MinHash, baseSigs, baseKeyed, newSigs, maxDf)

  /** G14: in-flight incremental gate — each arriving document is
    * checked against the STANDING corpus's signature index AT INGEST
    * ([[CappedIndex.gate]]): `exact_dup` if its full signature exists
    * in the base, `near_dup` if any of its band keys hits a stored
    * bucket (the arriving side offers all 40 (band, lvl, key)
    * candidates and the join picks the stored one), `unique`
    * otherwise; docs too short to sign are unique. This is the
    * base-only prior rule: incoming-vs-incoming dups are the nightly
    * F36 batch job's business; the gate's job is stopping re-crawls
    * of what the corpus already holds before they land.
    */
  def incrementalGateRows(docs: DataFrame, baseSks: DataFrame,
                          baseKeys: DataFrame): DataFrame =
    CappedIndex.gate(CappedIndex.MinHash,
      docs.select(col("doc_id")).join(minhashSigRows(docs)
        .select(col("doc_id"), col("mh"), minhashSigKey.as("sk")), Seq("doc_id"), "left"),
      "doc_id", baseSks, baseKeys)

  /** F2k: O(n)-output keep/drop over the df-capped shingle-Jaccard
    * candidate graph (the scale-path pair source), same one-step rule.
    */
  def jaccardClusters(docs: DataFrame, tau: Double, maxDf: Int): DataFrame =
    clusterize(docs.select(col("doc_id")),
      ngramJaccardCapped(docs, tau, maxDf).select(col("x"), col("y")))

  /** F19: TRUE connected components over an (x, y) pair graph —
    * iterated min-label propagation to fixpoint (VERDICT r5 #2). The
    * one-step [[clusterize]] rule under-canonicalizes chains (A–B, B–C
    * labels C as B); production dedup REPORTING — cluster sizes,
    * representative selection — wants every member labeled with its
    * component's min id, which is what the fixpoint delivers.
    *
    * Scale shape: the symmetric edge list gains a self-loop per id and
    * is hash-partitioned on the neighbour column ONCE, outside the
    * loop. Each iteration joins the current labels against it (the
    * label side arrives already partitioned on the join key from the
    * previous iteration's aggregation, so the join re-shuffles nothing
    * after iteration 1) and reduces with ONE map-side-combined min
    * groupBy; the self-loop row carries each id's previous label
    * through the same aggregate, so convergence detection costs no
    * second join. Each round's labels are cached and the previous
    * round's cache dropped (cache, not checkpoint: InMemoryRelation
    * PRESERVES the aggregation's hash partitioning, which is what lets
    * the next join skip its exchange — a checkpoint scan reports
    * unknown partitioning and re-shuffles every round; at 20-iteration
    * depth the lineage stays cheap, and a production run on flaky
    * executors would add a reliable `checkpoint` every few rounds).
    * Convergence needs at most diameter(G) iterations — near-dup
    * components are shallow by construction — and the bounded-iteration
    * guard throws rather than silently returning an under-merged
    * labeling.
    */
  /** One [[ccClusters]] propagation round: (u, lbl, prev) where lbl =
    * min over {own label} ∪ {neighbour labels} and prev is the previous
    * label (carried by the v = u self-loop row through the SAME
    * aggregate — convergence detection without a second join). With
    * `labels` partitioned on u (every round after the first — the
    * aggregation output, preserved by the round cache) and `edges`
    * pre-partitioned on v, the join re-shuffles nothing and the round's
    * only exchange is this groupBy.
    */
  private[graft] def ccStep(labels: DataFrame, edges: DataFrame): DataFrame =
    edges
      .join(labels.select(col("u").as("v"), col("lbl").as("vlbl")), "v")
      .groupBy(col("u"))
      .agg(min(col("vlbl")).as("lbl"),
        min(when(col("v") === col("u"), col("vlbl"))).as("prev"))

  def ccClusters(ids: DataFrame, pairs: DataFrame, maxIter: Int = 20,
                 idCol: String = "doc_id"): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1 (got $maxIter)")
    // symmetric edges + self-loops, partitioned by the neighbour key and
    // cached: the loop re-reads this every iteration
    val edges = pairs.select(col("x").as("u"), col("y").as("v"))
      .unionByName(pairs.select(col("y").as("u"), col("x").as("v")))
      .unionByName(ids.select(col(idCol).as("u"), col(idCol).as("v")))
      .repartition(col("v")).cachedOnce
    var labels = ids.select(col(idCol).as("u"), col(idCol).as("lbl"))
    var prevCache: Option[DataFrame] = None
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val next = ccStep(labels, edges).cachedOnce
      changed = next.filter(col("lbl") < col("prev")).count() // materializes
      prevCache.foreach(_.unpersist())
      prevCache = Some(next)
      labels = next.select(col("u"), col("lbl"))
      it += 1
    }
    require(changed == 0,
      s"connected components did not converge within $maxIter iterations " +
        s"($changed labels still changing) — raise maxIter")
    edges.unpersist()
    labels
      .select(col("u").as(idCol), col("lbl").as("cluster_id"))
      .withColumn("keep",
        when(col(idCol) === col("cluster_id"), 1L).otherwise(0L))
      .orderBy(col(idCol))
  }

  /** F19b: duplicate-cluster size report over canonical component
    * labels — the numbers a dedup run is actually judged by ("how many
    * dup groups, how big, what do we delete"): one row per
    * multi-member component with its size and the doc count removed
    * under keep-the-representative. Needs the FIXPOINT labels
    * ([[ccClusters]]) — under one-step propagation a chain's members
    * split across labels and every size is wrong.
    *
    * Scale shape: one map-side-combinable count over the label column;
    * singleton components (the overwhelming mass of any real corpus)
    * are filtered AFTER the count but the output is O(dup groups), not
    * O(corpus) — the report ships to a driver/dashboard.
    */
  def ccSizes(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .filter(col("size") >= 2)
      .select(col("cluster_id"), col("size"),
        (col("size") - 1L).as("n_removed"))
      .orderBy(col("size").desc, col("cluster_id"))

  /** F45: SOFT dedup — duplicate DOWN-WEIGHTING instead of removal
    * (keep-one-per-cluster discards the copies' context diversity;
    * weighting each member 1/|cluster| keeps every copy while the
    * cluster's total sampling mass equals one document's — the soft
    * alternative recent data-mixture work prefers, and the number a
    * mixture sampler consumes directly as a rate multiplier). Input is
    * the F19 fixpoint label table; output one row per doc:
    * (doc_id, cluster_id, size, weight), weight = 1/size on the 4-dp
    * grid — singletons weigh exactly 1.0, so Σweight over the corpus
    * is the effective post-dedup document count.
    *
    * Scale shape: one map-side-combinable count keyed by cluster_id,
    * then a join back on the SAME key (the aggregation's partitioning
    * is reused — no second wide shuffle of the label table); output is
    * O(corpus), pairwise work stays wherever the label build paid it.
    */
  def softDedupWeights(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
    labels.select(col("doc_id"), col("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("size"),
        round(lit(1.0) / col("size") - 1e-9, 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** F13k: O(n)-output keep/drop over the embedding-cosine pair graph.
    * Takes the pair source as an argument so the exact graph (oracle)
    * and the LSH-bucketed graph (100 TB path) share the rule.
    */
  def embedCosineClusters(vecs: DataFrame, pairs: DataFrame): DataFrame =
    clusterize(vecs.select(col("vec_id")),
      pairs.select(col("x"), col("y")), idCol = "vec_id")

  /** F13: embedding-cosine near-duplicate pairs, exact semantics — all
    * (x < y) with cosine ≥ τ. This is the correctness baseline (the
    * pair join is inherently quadratic); `embedCosineLshPairs` is the
    * 100 TB path. Cosine arithmetic is the codegen'd FloatDot
    * (float→double products, array-order sum) matching the DuckDB
    * oracle's DOUBLE[] list_dot_product.
    */
  def embedCosinePairs(vecs: DataFrame, tau: Double): DataFrame = {
    val n = vecs.select(col("vec_id"), col("embedding").as("e"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= tau)
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        round(col("cos") - 1e-9, 4).as("cos"))
      .orderBy(col("x"), col("y"))
  }

  /** F13-scale: cosine near-dup with candidates from shared
    * random-hyperplane buckets (any of `nTables` tables, same planes as
    * Ann.lshTopK), then the exact cosine filter. The pair join is a
    * (table, bucket) equi-join — shuffle keyed by bucket, never an
    * all-pairs cross join. Approximation only drops pairs (candidates
    * are a subset); never adds false positives past the cosine filter.
    */
  def embedCosineLshPairs(vecs: DataFrame, tau: Double, nPlanes: Int,
                          dim: Int, nTables: Int = 4): DataFrame = {
    import graft.similarity.Ann
    val pls = Ann.planes(nPlanes, dim)
    // candidate join carries ONLY ids — the bucket self-join can fan out
    // to many candidate rows, and shuffling 16-byte id pairs instead of
    // two embedding payloads is what keeps it cheap; embeddings re-join
    // AFTER the (x,y) dedup, from a per-doc (so broadcastable) side
    val b = vecs.select(col("vec_id"),
      posexplode(Ann.tableBuckets(col("embedding"), pls, nTables)).as(Seq("t", "b")))
    val cand = selfPairs(b, Seq("t", "b"), "vec_id")
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"))
      .dropDuplicates("x", "y")
    withCosine(cand, vecs)
      .filter(col("cos") >= tau)
      .select(col("x"), col("y"), round(col("cos") - 1e-9, 4).as("cos"))
      .orderBy(col("x"), col("y"))
  }

  /** (x, y, cos) over id-only candidate pairs: each side's embedding
    * and norm re-join per id AFTER the pair stage, so the candidate
    * shuffle never carries embedding payloads.
    */
  private def withCosine(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val n = vecs.select(col("vec_id"), col("embedding").as("e"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    cand
      .join(n.as("na"), col("x") === col("na.vec_id"))
      .join(n.as("nb"), col("y") === col("nb.vec_id"))
      .withColumn("cos", dot(col("na.e"), col("nb.e")) / (col("na.nrm") * col("nb.nrm")))
  }

  /** F28: semantic dedup, the cluster-then-prune shape of SemDeDup
    * (Abbas et al. 2023): coarse-quantize every embedding to its
    * nearest of K centroids (`Ann.coarseAssign` — the IVF routing
    * rule), consider near-duplicate pairs ONLY within a cluster (the
    * candidate join is a cent_id equi-join — each cluster is one
    * shuffle bucket, never an all-pairs join), exact-cosine filter at
    * τ, then the shared one-step [[clusterize]] keep/drop. Cross-
    * cluster pairs are missed BY DESIGN — that is the approximation
    * SemDeDup trades for scale (candidates are a strict subset of the
    * exact F13 graph at the same τ; no false positives past the
    * cosine filter).
    *
    * 100 TB posture: K scales with the corpus (the paper holds
    * CLUSTER SIZE fixed, not K), so per-cluster pair work stays
    * bounded; the candidate join shuffles 16-byte id pairs, embeddings
    * re-join after (the embedCosineLshPairs discipline); exact-dup
    * mass — the one thing that could still make a hot cluster
    * quadratic — is removed UPSTREAM by F1 in pipeline order (SemDeDup
    * runs after exact dedup; `Curation` stages document the same
    * ordering). Output: (vec_id, cent_id, cluster_id, keep).
    *
    * The CODEBOOK is a parameter (VERDICT r6 #4): the paper's pipeline
    * k-means-clusters first, so the driver entry passes the F6c
    * Lloyd-refined codebook (`Ann.refinedCentroids`) — tighter cells ⇒
    * fewer cross-cell misses at the same K; any K-row (cent_id, ce, cn)
    * frame works, and the plan shape (one broadcast scoring pass, one
    * cent_id equi-join) is codebook-independent.
    */
  def semanticClusters(vecs: DataFrame, tau: Double, codebook: DataFrame): DataFrame = {
    import graft.similarity.Ann
    semanticClustersAssigned(vecs, tau, Ann.coarseAssign(vecs, codebook))
  }

  /** [[semanticClusters]] over a caller-supplied (vec_id, cent_id)
    * coarse partition — the seam that lets the K∝corpus regime swap in
    * the O(√K) two-level router (`Ann.coarseAssignTwoLevel`) without
    * touching the prune: any assignment with one cell per vector
    * yields the same candidate-bounding and subset-of-exact
    * properties (cells just partition differently).
    */
  private[graft] def semanticClustersAssigned(vecs: DataFrame, tau: Double,
                                              assignment: DataFrame): DataFrame = {
    // the (vec_id, cent_id) assignment feeds three consumers (both
    // sides of the cell self-join + the output projection) — cache the
    // 16-byte/row table once instead of re-running the corpus×codebook
    // scoring per reference (the cached-MinHash-signature discipline;
    // at 100 TB this narrow table is what you'd checkpoint)
    val assigned = assignment.select(col("vec_id"), col("cent_id")).cachedOnce
    val cand = selfPairs(assigned, Seq("cent_id"), "vec_id")
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"))
    val pairs = withCosine(cand, vecs)
      .filter(col("cos") >= tau)
      .select(col("x"), col("y"))
      // clusterize symmetrizes the edge list (two projections of this
      // plan) — cache the 16-byte/row pair table, not the cosine work
      .cachedOnce
    clusterize(vecs.select(col("vec_id")), pairs, idCol = "vec_id")
      .join(assigned, Seq("vec_id"))
      .select(col("vec_id"), col("cent_id"), col("cluster_id"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** F4: 60-bit SimHash (md5-derived token hashes keep the DuckDB
    * oracle bit-identical). The signature is ONE compiled per-row pass
    * (graft.functions.SimHash60) over the distinct-token array — no
    * explode, no groupBy, no shuffle at all; signatures stream out of
    * the scan stage. (Earlier shape: explode + 60 bit-sum aggregates in
    * one groupBy — correct but one full shuffle of the token rows.)
    */
  def simhash(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHash60.simhash(array_distinct(tokens(col("text"))))
        .as("simhash"))

  /** Widening schedule for the df-capped simhash variants: a band's
    * 15-bit key can be extended in 5-bit chunks drawn from the OTHER
    * three bands' bits (9 chunks → level 9 = all 60 bits, a bijection
    * of the full simhash). Shared by the Spark plan and the DuckDB
    * oracle (SparkEntry renders the same arithmetic as SQL).
    */
  val simhashWidenLevels = 9

  /** SQL expression for the level-`j` widened band key (15 + 5j bits).
    * Engine-portable arithmetic: only `>>`, `&`, `|`, `%` on BIGINT.
    * The DuckDB oracle renders it; the Spark plan computes the same
    * arithmetic for all levels at once ([[graft.functions.SimHashKeys]]).
    */
  def simhashKeyExpr(j: Int): String = {
    val base = "(simhash >> cast(band*15 AS int)) & 32767"
    val exts = (0 until j).map { c =>
      s"((((simhash >> cast(((band + 1 + ${c / 3}) % 4)*15 AS int)) >> ${(c % 3) * 5}) & 31) << ${15 + c * 5})"
    }
    (base +: exts).mkString("(", " | ", ")")
  }

  /** F4-scale pairs: simhashPairs with df-capped band buckets. Same
    * (x, y, hamming) schema; output ⊆ simhashPairs (drop-only). Exact
    * within a widened bucket; equals simhashPairs when no bucket is hot.
    * Identical-sig doc pairs (hamming 0) are emitted from a group
    * expansion, never through the band join. Measured on the synthetic
    * corpus at maxDf=64: pair recall 0.85 at sf0.01; doc-level dup
    * coverage (a doc with ≥1 exact-F4 pair still has ≥1 capped pair —
    * the keep/drop signal) 1.00 at sf0.01 / 0.987 at sf0.1. Bucket
    * evidence (DuckDB, same keying): sf0.1 max bucket 1,582 raw → 64
    * capped; candidate sig-pairs 2.94M → 133k. NOTE the all-pairs
    * OUTPUT itself is Ω(n²) on dup-heavy corpora; the O(n) production
    * shape is `simhashClusters`.
    */
  def simhashPairsCapped(spark: SparkSession, docs: DataFrame,
                         maxHamming: Int, maxDf: Int): DataFrame =
    CappedIndex.pairs(CappedIndex.SimHash.within(maxHamming), simhash(spark, docs),
      "doc_id", maxDf).orderBy(col("x"), col("y"))

  /** F34: hamming-space top-k SEARCH over 60-bit signatures — ranked
    * nearest-neighbour lookup against a STANDING signature index, the
    * search twin of [[CappedIndex.pairs]]: "which corpus items does
    * this new item near-duplicate", ordered by distance, without ever
    * pairing the base against itself (the [[minhashIncremental]]
    * base-is-never-self-joined discipline, in hamming space).
    *
    * Candidate generation is the G14 all-level probe
    * ([[CappedIndex.offers]]) against the capped index of the base's
    * DISTINCT signatures. An identical signature collides at every
    * level including the stored one; a near-duplicate at hamming ≤ 3
    * has an untouched band (4-band pigeonhole) and is found unless that
    * band was df-widened past the differing bits — the same drop-only
    * approximation as every capped family.
    *
    * Ranking: per query, row_number over (hamming asc, match_id asc) —
    * deterministic; rows past `k` or past `maxHamming` are cut.
    *
    * Scale shape: the base is scanned once into the (cachedOnce,
    * refreshable via [[indexMerge]]'s simhash twin) index; candidate
    * volume is bounded by 40·|query sigs|·maxDf REGARDLESS of base
    * size; the rank window partitions by q_id — high cardinality, no
    * hot partition; id expansion joins carry 8-byte sigs, never
    * payloads. Output (q_id, match_id, hamming, rank).
    */
  def hammingSearch(spark: SparkSession, baseSigs: DataFrame,
                    querySigs: DataFrame, k: Int, maxHamming: Int,
                    maxDf: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val f = CappedIndex.SimHash.within(maxHamming)
    // (match_id, simhash): consumed by the distinct-sig index build and
    // the id expansion join
    val base = baseSigs.select(col("match_id"), col("simhash")).cachedOnce
    val keyed = CappedIndex.keys(f, base.select("simhash").distinct(), maxDf)
    val qsig = querySigs.select(col("q_id"), col("simhash")).cachedOnce
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("hamming"), col("match_id"))
    CappedIndex.probe(f, CappedIndex.offers(f, qsig.select(col("simhash")).distinct()), keyed)
      .join(qsig.select(col("q_id"), col("simhash").as("s1")), "s1")
      .join(base.select(col("match_id"), col("simhash").as("s2")), "s2")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("match_id"), col("hamming"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The standing hamming-space index over a base signature set — the
    * [[incrementalIndex]] shape for the 60-bit families: (distinct
    * signature values, df-capped band buckets), both cachedOnce — the
    * refreshable artifact an ingest gate holds between micro-batches.
    */
  def hammingIndex(spark: SparkSession, baseSigs: DataFrame,
                   maxDf: Int): (DataFrame, DataFrame) =
    CappedIndex.index(CappedIndex.SimHash, baseSigs, maxDf)

  /** F41: standing HAMMING-index refresh — [[indexMerge]]'s theorem in
    * 60-bit signature space, closing the F34/G15 loop the way F37
    * closed F36/G14: fold a batch's signatures into the capped-key
    * index WITHOUT a full rebuild ([[CappedIndex.merge]]). The closure
    * property holds verbatim: a level-j key is the level-0 band value
    * OR-extended with higher bits ([[simhashKeyExpr]]), so
    * merge(index(A), B) ≡ index(A ∪ B) EXACTLY.
    *
    * Inputs are [[hammingIndex]]'s shape — (distinct simhash values,
    * (simhash, band, lvl, bkey)) — plus the batch's signature values
    * (need not be pre-deduped). Returns the refreshed pair.
    */
  def hammingIndexMerge(spark: SparkSession, baseSigVals: DataFrame,
                        baseKeyed: DataFrame, newSigVals: DataFrame,
                        maxDf: Int): (DataFrame, DataFrame) =
    CappedIndex.merge(CappedIndex.SimHash, baseSigVals, baseKeyed, newSigVals, maxDf)

  /** G15 core: in-flight hamming-space gate ([[CappedIndex.gate]]) —
    * each arriving signature checked against the STANDING index:
    * `exact_dup` if the 60-bit signature itself exists in the base,
    * `near_dup` if a DIFFERENT base signature sits within `maxHamming`
    * (candidates via the all-level probe — the stored bucket is found
    * at whatever level its df fit), `unique` otherwise. Base-only
    * priors (the G14 discipline): arriving-vs-arriving duplicates are
    * the nightly batch job's business.
    */
  def hammingGateRows(spark: SparkSession, querySigs: DataFrame,
                      baseSigVals: DataFrame, baseKeyed: DataFrame,
                      maxHamming: Int): DataFrame =
    CappedIndex.gate(CappedIndex.SimHash.within(maxHamming),
      querySigs.select(col("q_id"), col("simhash")), "q_id", baseSigVals, baseKeyed)

  /** F4-scale clusters: O(n)-output keep/drop decisions instead of
    * Ω(n²) pairs (VERDICT r2 #1b) — [[CappedIndex.clusters]]' star
    * clustering over hamming-≤-max signature groups. Output: (doc_id,
    * cluster_id, keep) for every doc, keep = 1 iff doc_id == cluster_id.
    */
  def simhashClusters(spark: SparkSession, docs: DataFrame,
                      maxHamming: Int, maxDf: Int): DataFrame = {
    // a null-text doc has a null signature: its own singleton cluster
    // (the contract is one row per doc; null sigs carry no similarity
    // evidence)
    val sim = simhash(spark, docs).cachedOnce
    CappedIndex.clusters(CappedIndex.SimHash.within(maxHamming), sim, sim, maxDf)
  }

  def simhashPairs(spark: SparkSession, docs: DataFrame, maxHamming: Int): DataFrame = {
    // cache per-doc band rows (4/doc): without it the self-join evaluates
    // the signature pass twice (broadcast side can't reuse the shuffle
    // side's exchange)
    val bands = simhash(spark, docs)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 15).bitwiseAND(32767L)): _*)).as(Seq("band", "bv")))
      .cachedOnce
    selfPairs(bands, Seq("band", "bv"), "doc_id")
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("x"), col("y"))
  }

  // ---- F52: content-defined chunking dedup --------------------------

  /** Expected chunk length in tokens: a boundary falls AFTER token p
    * when h60(token_p) % CdcW == 0, so ~1/W of tokens end a chunk.
    */
  val CdcW = 16

  /** F52: content-defined chunking (CDC) dedup — the STORAGE-layer
    * dedup shape (rsync/LBFS/casync/restic): chunk boundaries derive
    * from CONTENT, not offsets, so an insertion near the start of a
    * document shifts every byte offset but re-synchronizes at the
    * next content boundary — only the edited chunk's hash changes,
    * and the shared tail still dedups against the original (the spec
    * pins exactly this property; fixed-size blocks lose it, which is
    * the whole reason CDC exists). Tokens stand in for bytes (the
    * repo's corpus unit); the boundary rule h60(token) % W == 0 is
    * the rolling-hash cut rule with a token-level window.
    *
    * Chunking is fully IN-ROW (filter/transform over the token array
    * — map-only, stays in whole-stage codegen); the only shuffle is
    * the per-chunk-hash window that computes occurrence counts and
    * elects the canonical copy (first by (doc_id, chunk_idx) — the
    * dedup store's "store once, reference elsewhere" rule). Per-chunk
    * state is O(distinct chunks); no pairwise work anywhere, so the
    * operator scales like F1 exact dedup regardless of corpus size.
    */
  def dedupCdc(spark: SparkSession, docs: DataFrame, w: Int = CdcW): DataFrame = {
    require(w >= 1, s"chunk window must be >= 1 (got $w)")
    val toks = tokens(col("text"))
    // ONE `aggregate` fold over the token array (the EMA in-row-fold
    // seam): the accumulator carries (closed chunks, open buffer);
    // each token appends to the buffer and a boundary token
    // (h60 % w == 0) closes it; the finisher closes a non-empty tail.
    // This touches every token and every h60 EXACTLY ONCE — the
    // original positions/starts/ends formulation re-evaluated those
    // whole arrays inside the per-chunk lambda (lambda bodies can't
    // share outer subexpressions), which profiled ~13× slower at
    // sf0.1 (48 s → 3.6 s). Semantics are IDENTICAL, including the
    // never-an-empty-chunk rule: a boundary on the last token closes
    // the final chunk exactly where the finisher would, so no empty
    // chunk can exist (the oracle is unchanged, as it must be).
    val emptyChunks = array().cast("array<struct<n_tokens:bigint,chunk_text:string>>")
    val emptyBuf = array().cast("array<string>")
    def close(cs: org.apache.spark.sql.Column,
              buf: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(cs, array(struct(
        size(buf).cast("long").as("n_tokens"),
        array_join(buf, " ").as("chunk_text"))))
    val chunks = aggregate(
      toks,
      struct(emptyChunks.as("cs"), emptyBuf.as("buf")),
      (acc, tok) => {
        val buf2 = concat(acc.getField("buf"), array(tok))
        when(h60(tok) % w === 0,
          struct(close(acc.getField("cs"), buf2).as("cs"),
            emptyBuf.as("buf")))
          .otherwise(struct(acc.getField("cs").as("cs"), buf2.as("buf")))
      },
      acc => when(size(acc.getField("buf")) > 0,
        close(acc.getField("cs"), acc.getField("buf")))
        .otherwise(acc.getField("cs")))
    val ct = docs.select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.n_tokens").cast("long").as("n_tokens"),
        md5(col("c.chunk_text")).as("chunk_md5"))
    val w0 = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_md5"))
    val wOrd = w0.orderBy(col("doc_id"), col("chunk_idx"))
    ct.withColumn("df", count(lit(1)).over(w0))
      .withColumn("keep", (row_number().over(wOrd) === 1).cast("boolean"))
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_md5"), col("df"), col("keep"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  // ---- F59: byte-level CDC dedup ------------------------------------

  /** Expected chunk length 2^maskBits bytes (gear-hash high-bit mask,
    * [[graft.functions.CdcChunks]]); 6 → 64-byte chunks, the LBFS-ish
    * granularity that keeps a 4 KB payload ~64 chunks.
    */
  val CdcBytesMaskBits = 6

  /** Chunk-hash document-frequency cap: a chunk shared by more than
    * this many payloads is boilerplate (a zero run, a format header)
    * and is excluded from PAIR generation — the same df-cap discipline
    * as every band join in this file; candidate volume stays
    * ∝ payloads · cap, never quadratic in a hot chunk's df.
    */
  val CdcBytesMaxDf = 64

  /** Planted byte-payload fixture (the ImageDedup planted-twin
    * discipline): every doc_id % 3 == 0 document carries a 4 KB
    * pseudo-random payload (an md5 keystream seeded by doc_id — no
    * two originals share a single chunk), and every % 5 == 0 of those
    * additionally plants an INSERT variant under id + 4e7: k =
    * (id % 13) + 1 bytes spliced in at offset (id % 50) + 1. The
    * variant shifts every downstream byte offset, which is exactly
    * what byte-CDC must see through — so the expected near-dup pairs
    * are pure id arithmetic and the oracle never hashes a byte.
    */
  val CdcBytesVariantOffset = 40000000L
  val CdcBytesPayloadLen = 4096

  /** Deterministic pseudo-random payload: len bytes of
    * md5("cdc-pay-<id>-<block>") keystream — executor-side, never on
    * the driver.
    */
  private[graft] def cdcPayload(id: Long, len: Int): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](len)
    var block = 0
    var p = 0
    while (p < len) {
      d.reset()
      val dig = d.digest(s"cdc-pay-$id-$block".getBytes("UTF-8"))
      val n = math.min(16, len - p)
      System.arraycopy(dig, 0, out, p, n)
      p += n
      block += 1
    }
    out
  }

  private[graft] def cdcInsertVariant(id: Long, base: Array[Byte]): Array[Byte] = {
    val k = (id % 13).toInt + 1
    val at = (id % 50).toInt + 1
    val d = java.security.MessageDigest.getInstance("MD5")
    val ins = d.digest(s"cdc-ins-$id".getBytes("UTF-8")).take(k)
    val out = new Array[Byte](base.length + k)
    System.arraycopy(base, 0, out, 0, at)
    System.arraycopy(ins, 0, out, at, k)
    System.arraycopy(base, at, out, at + k, base.length - at)
    out
  }

  /** (media_id, payload) rows for the planted fixture over `docs`. */
  def cdcBytePayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
      .as[Long]
      .flatMap { id =>
        val base = cdcPayload(id, CdcBytesPayloadLen)
        val orig = Seq((id, base))
        if (id % 5 == 0)
          orig :+ (id + CdcBytesVariantOffset, cdcInsertVariant(id, base))
        else orig
      }
      .toDF("media_id", "payload")
  }

  /** Incoming fixture for the G25 ingest gate: every %15==0 doc sends
    * its INSERT VARIANT (id + 4e7 — a near-dup of a stored payload,
    * must be refused) and a NOVEL payload (id + 8e7, a fresh md5
    * keystream sharing no 64-byte chunk with any stored one — must be
    * admitted); expected verdicts are pure id arithmetic.
    */
  val CdcBytesNovelOffset = 80000000L

  def cdcByteIncoming(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.filter(col("doc_id") % 15 === 0).select(col("doc_id"))
      .as[Long]
      .flatMap { id =>
        val base = cdcPayload(id, CdcBytesPayloadLen)
        Seq(
          (id + CdcBytesVariantOffset, cdcInsertVariant(id, base)),
          (id + CdcBytesNovelOffset,
            cdcPayload(id + CdcBytesNovelOffset, CdcBytesPayloadLen)))
      }
      .toDF("media_id", "payload")
  }

  /** The standing CHUNK STORE's key set: distinct (chunk_md5, len)
    * over the stored payloads — the refreshable artifact the G25
    * ingest gate probes (the G14/G15 index discipline: rebuilt by the
    * batch sweep, frozen between sweeps). ≤ bytes/2^maskBits rows —
    * the dedup index a content-addressed store maintains anyway.
    */
  def cdcChunkIndex(payloads: DataFrame,
                    maskBits: Int = CdcBytesMaskBits): DataFrame =
    chunkRows(payloads, maskBits).select(col("chunk_md5"), col("len")).distinct()

  /** One (media_id, chunk_md5, len) row per chunk occurrence: the
    * compiled gear-hash kernel, map-only over the payload scan.
    */
  private def chunkRows(payloads: DataFrame, maskBits: Int): DataFrame =
    payloads.select(col("media_id"),
        explode(graft.functions.CdcChunks.cdcChunks(col("payload"), maskBits)).as("c"))
      .select(col("media_id"), col("c.chunk_md5").as("chunk_md5"),
        col("c.length").as("len"))

  /** G25 batch form: per-payload ingest verdict against the frozen
    * chunk index — each incoming payload chunks map-only (the
    * compiled kernel riding the scan), every chunk OCCURRENCE probes
    * the index (a store holding a chunk once dedups all its repeats,
    * so occurrences count — no distinct on the probe side), and the
    * verdict is the shared-byte fraction of the payload:
    * frac ≥ tau → drop (keep = 0). The probe is a plain equi-join on
    * (chunk_md5, len) with the strategy LEFT TO CATALYST/AQE
    * deliberately: at benchmark scale the index fits a broadcast; at
    * store scale the index is ~bytes/2^maskBits rows (terabytes of
    * md5s for a 100 TB store — never broadcastable), and the right
    * plan is a shuffle-hash join against the (bucketed) store index
    * with the bounded incoming side as the build side — forcing
    * broadcast() here would pin the toy-scale plan. Only the
    * per-payload fraction aggregates — work ∝ incoming chunks plus
    * the index partitions their keys touch, never the whole store.
    */
  def cdcGateRows(incoming: DataFrame, index: DataFrame,
                  maskBits: Int = CdcBytesMaskBits,
                  tau: Double = 0.5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"cdcGateRows: tau must be in (0,1] (got $tau)")
    chunkRows(incoming, maskBits).join(index.withColumn("hit", lit(1L)),
        Seq("chunk_md5", "len"), "left")
      .groupBy(col("media_id"))
      .agg(sum(col("len")).as("total"),
        sum(when(col("hit") === 1L, col("len")).otherwise(0L)).as("shared"))
      .select(col("media_id"),
        when(col("shared").cast("double") >= lit(tau) * col("total").cast("double"),
          0L).otherwise(1L).as("keep"))
  }

  /** F59: byte-level CDC near-dup pairs — the storage-layer dedup F52
    * runs on token arrays, at its REAL granularity: payload bytes.
    * Each payload is chunked by the compiled gear-hash kernel in one
    * pass ([[graft.functions.CdcChunks]] — the F52 lesson applied:
    * never per-chunk lambdas), chunks join on (chunk_md5, length)
    * under the df cap, and a pair is emitted when the shared bytes
    * reach `minFrac` of the LARGER payload. Within-payload repeated
    * chunks contribute min(count_x, count_y) matches (multiset
    * semantics — a zero-run repeated 5× in x and 2× in y shares 2
    * chunks, not 10 join rows double-counted).
    *
    * Scale shape: chunking is map-only compiled work riding the scan;
    * the only shuffles are the (media_id, chunk_md5) combine and the
    * chunk_md5-keyed equi-join whose per-key fan-out the df cap
    * bounds — pair work ∝ chunks · cap, never payloads², the F3
    * discipline. Chunk rows carry (id, md5, length) only — payload
    * bytes never shuffle.
    */
  def dedupCdcBytes(spark: SparkSession, payloads: DataFrame,
                    maskBits: Int = CdcBytesMaskBits,
                    maxDf: Int = CdcBytesMaxDf,
                    minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"minFrac must be in (0,1] (got $minFrac)")
    val ch = chunkRows(payloads, maskBits)
      .groupBy(col("media_id"), col("chunk_md5"), col("len"))
      .agg(count(lit(1)).as("cnt"))
      .cachedOnce
    val totals = ch.groupBy(col("media_id"))
      .agg(sum(col("len") * col("cnt")).as("total"))
    // df cap over DISTINCT payloads carrying the chunk (boilerplate gate)
    val key = Seq("chunk_md5", "len")
    selfPairs(ch.join(rareKeys(ch, key, maxDf), key), key, "media_id")
      .groupBy(col("a.media_id").as("x"), col("b.media_id").as("y"))
      .agg(sum(least(col("a.cnt"), col("b.cnt")) * col("a.len")).as("shared_bytes"))
      .join(totals.select(col("media_id").as("x"), col("total").as("tx")), Seq("x"))
      .join(totals.select(col("media_id").as("y"), col("total").as("ty")), Seq("y"))
      .filter(col("shared_bytes").cast("double") >=
        lit(minFrac) * greatest(col("tx"), col("ty")).cast("double"))
      .select(col("x"), col("y"))
      .orderBy(col("x"), col("y"))
  }
}
