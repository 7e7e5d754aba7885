package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caching._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.F5-F6).
  *
  * Baseline: brute-force cosine top-k for a bounded query subset — the
  * query side broadcasts, so the big side streams through one codegen'd
  * stage with no shuffle. Scale path: random-hyperplane LSH buckets →
  * the candidate join is an equi-join on bucket id.
  */
object Ann {

  /** Float→double element sum in array order — a codegen'd catalyst
    * expression (graft.functions.FloatDot), not an interpreted
    * zip_with/aggregate lambda chain; ~4× faster on the sf0.1 bench and
    * numerically identical to the DuckDB oracle's double arithmetic.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.FloatDot.dot(a, b)

  private def norm(e: Column): Column = sqrt(dot(e, e))

  /** Shared rank-and-project tail of every top-k surface: rank on
    * round(cos,6) with vec_id tie-break (engine-stable ordering),
    * project round(cos,4) — the oracle-parity contract, expressed once.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cos"), 6).desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("vec_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** F5: exact cosine top-k of `vecs` for each query in `queries`
    * (both (vec_id, embedding)). Rank on round(cos,6) with vec_id
    * tie-break so ordering is engine-stable.
    */
  def bruteTopK(queries: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("q_id"), col("embedding").as("qe"), norm(col("embedding")).as("qn")))
    val v = vecs.select(
      col("vec_id"), col("embedding").as("ve"), norm(col("embedding")).as("vn"))
    val scored = v.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    topK(scored, k)
  }

  /** Deterministic pseudo-random hyperplanes: component (p, d) =
    * (h60("p_d") mod 2001 − 1000) / 1000 ∈ [−1, 1]. md5-derived so any
    * engine (or the ScalaTest spec) regenerates the same planes.
    */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_${d}".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    ((h % 2001) - 1000) / 1000.0
  }

  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dim).map(d => planeComponent(p, d)))

  /** LSH bucket id: sign bit of the dot product with each hyperplane. */
  def bucket(e: Column, pls: Seq[Seq[Double]]): Column =
    pls.zipWithIndex.map { case (pl, idx) =>
      // float literals so the codegen'd FloatDot applies; both sides of
      // every bucket comparison use identical arithmetic
      val planeArr = array(pl.map(v => lit(v.toFloat)): _*)
      when(dot(e, planeArr) >= 0, lit(1L << idx)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-table bucket ids: table t hashes with planes [t·r, t·r+r).
    * Multiple small tables instead of one strict bucket — a neighbor
    * only needs to collide in ONE table, which is what keeps recall
    * usable while each table's join stays a bucket equi-join.
    */
  def tableBuckets(e: Column, pls: Seq[Seq[Double]], nTables: Int): Column = {
    val perTable = pls.size / nTables
    array((0 until nTables).map(t =>
      bucket(e, pls.slice(t * perTable, (t + 1) * perTable))): _*)
  }

  // ---- DuckDB SQL rendering of the SAME plane arithmetic ----------------
  // The oracle-parity pattern of Dedup.simhashKeyExpr: one Scala source
  // renders the arithmetic for both engines. Spark evaluates
  // FloatDot(emb, array(lit(v.toFloat)*)) — each float literal widened
  // to double, products and sum in double, array order. DuckDB gets
  // list_dot_product(emb::DOUBLE[], [<exact doubles>]) — bit-identical
  // IEEE arithmetic, so even the sign test `dot >= 0` agrees exactly.

  /** DuckDB DOUBLE[] literal of hyperplane `pl` as the Spark plan sees
    * it: each component is the FLOAT literal widened back to double,
    * printed exactly (BigDecimal plain string of the binary value), so
    * the SQL parse reproduces the identical double.
    */
  def planeSqlLiteral(pl: Seq[Double]): String =
    pl.map(v => new java.math.BigDecimal(v.toFloat.toDouble).toPlainString)
      .mkString("[", ", ", "]")

  /** DuckDB expression for table `t`'s bucket id over `embCol`
    * (a DOUBLE[] column) — matches [[tableBuckets]]/[[bucket]]'s
    * sign-bit arithmetic for the same (nPlanes, dim, nTables).
    */
  def bucketSqlExpr(embCol: String, nPlanes: Int, dim: Int,
                    nTables: Int, t: Int): String = {
    val pls = planes(nPlanes, dim)
    val perTable = nPlanes / nTables
    (0 until perTable).map { idx =>
      val arr = planeSqlLiteral(pls(t * perTable + idx))
      s"(CASE WHEN list_dot_product($embCol, $arr) >= 0 THEN ${1L << idx} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** F6: LSH top-k — candidates are vectors sharing any hash table's
    * bucket with the query; only those get scored. At scale each table
    * is a shuffle on (table, bucket) instead of a full cross join.
    */
  def lshTopK(queries: DataFrame, vecs: DataFrame, k: Int,
              nPlanes: Int, dim: Int, nTables: Int = 4): DataFrame = {
    val pls = planes(nPlanes, dim)
    val q = broadcast(queries.select(
      col("vec_id").as("q_id"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"),
      posexplode(tableBuckets(col("embedding"), pls, nTables)).as(Seq("qt", "qb"))))
    val v = vecs.select(
      col("vec_id"), col("embedding").as("ve"), norm(col("embedding")).as("vn"),
      posexplode(tableBuckets(col("embedding"), pls, nTables)).as(Seq("vt", "vb")))
    val scored = v.join(q,
        col("qt") === col("vt") && col("qb") === col("vb") &&
          col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("cos", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    topK(scored, k)
  }

  /** F6b: IVF (inverted-file) top-k — the other classic ANN scale
    * path: coarse-quantize every vector to its nearest of K centroids
    * (the "inverted lists"), probe only the nProbe centroid lists
    * nearest each query, exact-rerank inside them.
    *
    * Spark shape: centroids are a deterministic K-row subsample,
    * BROADCAST twice — once to assign vectors (argmin over K via one
    * codegen'd min_by-style aggregate, no shuffle beyond the groupBy),
    * once to pick each query's probe lists. The candidate join is an
    * equi-join on cent_id: at 100 TB each inverted list is a shuffle
    * bucket, never a cross join. A k-means refinement would sharpen the
    * lists but not change this plan shape.
    */
  def ivfTopK(queries: DataFrame, vecs: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int): DataFrame =
    ivfTopKWith(queries, vecs, k, nProbe, initialCentroids(vecs, nCentroids))

  /** Deterministic coarse codebook: the nCentroids lowest vec_ids
    * (portable + engine-stable; random restarts are tuning, not shape).
    */
  def initialCentroids(vecs: DataFrame, nCentroids: Int): DataFrame =
    vecs.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))

  /** F6c: Lloyd-refined codebook — `iters` iterations of
    * assign-to-nearest → element-wise mean, each iteration two
    * broadcast-codebook aggregations (the argmax assignment and the
    * per-(centroid, dim) mean): no new shuffle class vs [[ivfTopK]],
    * and the codebook stays K rows end to end. Engine parity: the mean
    * is FIXED-POINT — each component pre-scales to a rounded 1e-6-grid
    * integer, the integer SUM is exact and accumulation-order-
    * independent (a double avg() would depend on partition order, and a
    * component landing on a rounding boundary could then diverge
    * between engines — ADVICE r5), and the single final division is
    * deterministic; the result passes through FLOAT, the
    * [[planeSqlLiteral]] widening contract, so the DuckDB oracle (same
    * CTE chain) regenerates a bit-identical codebook. A centroid whose
    * list goes empty keeps its previous value (left join + coalesce).
    */
  def refinedCentroids(vecs: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    var cents = initialCentroids(vecs, nCentroids)
    for (_ <- 0 until iters) {
      val assigned = v.crossJoin(broadcast(cents))
        .withColumn("csim", centSim("nrm"))
        .groupBy(col("vec_id"))
        .agg(nearest(struct(col("embedding").as("ve"), col("cent_id")),
          col("csim"), col("cent_id")).as("a"))
        .select(col("a.cent_id").as("cent_id"), col("a.ve").as("ve"))
      cents = lloydMeans(assigned, cents)
    }
    cents
  }

  /** Element-wise FIXED-POINT mean of the array column `vec` per
    * `keys` group, as `mce` (array<float>): each component scales to a
    * rounded 1e-6-grid long, the long sum is exact and
    * order-independent (the engine-parity contract), one narrow
    * (keys, dim, value) aggregation; array_sort(collect_list(struct))
    * makes the rebuild order-exact (collect_list alone is
    * partition-order-dependent). Shared by the coarse ([[lloydMeans]])
    * and product ([[pqCodebookTrained]]) trainers.
    */
  private def fixedPointMean(rows: DataFrame, keys: Seq[String], vec: String): DataFrame = {
    val k = keys.map(col)
    rows.select(k :+ posexplode(col(vec)).as(Seq("d", "comp")): _*)
      .groupBy(k :+ col("d"): _*)
      .agg(sum(round(col("comp") * 1e6, 0).cast("long")).as("ms"),
        count(lit(1)).as("mn"))
      .withColumn("m", col("ms").cast("double") / (col("mn").cast("double") * 1e6))
      .groupBy(k: _*)
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        x => x.getField("m").cast("float")).as("mce"))
  }

  /** One Lloyd mean-rebuild step shared by the flat and two-level
    * trainers: `assigned` is (cent_id, ve), rebuilt by
    * [[fixedPointMean]]; a centroid whose list goes empty keeps its
    * previous value.
    */
  private def lloydMeans(assigned: DataFrame, prev: DataFrame): DataFrame = {
    val means = fixedPointMean(assigned, Seq("cent_id"), "ve")
    // means is K rows but sits behind a corpus-wide aggregate whose
    // size ESTIMATE blocks auto-broadcast — pin it, or this tiny
    // codebook join becomes a SortMergeJoin
    prev.join(broadcast(means), Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("mce"), col("ce")).as("ce"))
      .withColumn("cn", norm(col("ce")))
      // tiny (K rows) but consumed by every later iteration/stage —
      // uncached, each reference re-runs the whole Lloyd chain
      .cachedOnce
  }

  /** F6c entry: ivf top-k over the Lloyd-refined codebook. */
  def ivfTopKRefined(queries: DataFrame, vecs: DataFrame, k: Int,
                     nCentroids: Int, nProbe: Int, iters: Int): DataFrame =
    ivfTopKWith(queries, vecs, k, nProbe, refinedCentroids(vecs, nCentroids, iters))

  // ---- F43: maximum-inner-product search (MIPS) ----------------------

  /** Shared rank-and-project tail of the MIPS surfaces: rank on
    * round(dp,6) with vec_id tie-break, project round(dp,4) — the
    * [[topK]] contract with the raw INNER PRODUCT as the score.
    */
  private def topKDot(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("dp"), 6).desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("vec_id"),
        round(col("dp"), 4).as("dp"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** F43: exact maximum-INNER-PRODUCT top-k — the recommendation-model
    * objective (user·item score), where cosine's normalization is
    * wrong: a long vector IS a better match. Same plan class as
    * [[bruteTopK]] (query side broadcast, corpus streams one codegen
    * stage, no shuffle).
    */
  def mipsBruteTopK(queries: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("q_id"), col("embedding").as("qe")))
    val scored = vecs.select(col("vec_id"), col("embedding").as("ve"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dp", dot(col("qe"), col("ve")))
    topKDot(scored, k)
  }

  /** F43s: bucketed MIPS via the norm-AUGMENTATION reduction (Bachrach
    * et al. RecSys'14; Neyshabur & Srebro ICML'15): append component
    * sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm) and
    * 0 to every query — augmented corpus vectors all have norm exactly
    * M, so per-query augmented-space COSINE order equals raw
    * inner-product order, and the entire cosine index machinery (here
    * the multi-table hyperplane LSH of [[lshTopK]]) serves MIPS
    * unchanged. Candidates come from the augmented-space buckets;
    * scoring is the RAW dot product (exact — the reduction
    * approximates candidate generation, never scores; the augmented
    * query's trailing 0 makes augmented dot ≡ raw dot, so one array
    * serves both).
    *
    * Engine parity: M² is a 1-row double aggregate over the same
    * FloatDot arithmetic both engines run; the augmented component
    * passes through FLOAT (the [[planeSqlLiteral]] widening contract),
    * so both engines hash bit-identical augmented vectors to the same
    * buckets. At 100 TB, M is an index-build-time artifact (one
    * reduce), and the per-table candidate joins are the [[lshTopK]]
    * bucket equi-joins — never a cross join.
    */
  def mipsTopKLsh(queries: DataFrame, vecs: DataFrame, k: Int,
                  nPlanes: Int, dim: Int, nTables: Int = 4): DataFrame = {
    val pls = planes(nPlanes, dim + 1)
    val m2 = vecs.agg(max(dot(col("embedding"), col("embedding"))).as("m2"))
    val aug = vecs.crossJoin(broadcast(m2)).select(col("vec_id"),
      col("embedding").as("ve"),
      concat(col("embedding"), array(
        sqrt(col("m2") - dot(col("embedding"), col("embedding")))
          .cast("float"))).as("ae"))
    val v = aug.select(col("vec_id"), col("ve"),
      posexplode(tableBuckets(col("ae"), pls, nTables)).as(Seq("vt", "vb")))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qe"),
      concat(col("embedding"), array(lit(0.0f))).as("ae"))
      .select(col("q_id"), col("qe"),
        posexplode(tableBuckets(col("ae"), pls, nTables)).as(Seq("qt", "qb"))))
    val scored = v.join(q,
        col("qt") === col("vt") && col("qb") === col("vb") &&
          col("vec_id") =!= col("q_id"))
      // multi-table collisions duplicate (q, v) pairs — dedup needed
      // here for the same reason as lshTopK (not the IVF paths)
      .dropDuplicates("q_id", "vec_id")
      .withColumn("dp", dot(col("qe"), col("ve")))
    topKDot(scored, k)
  }

  /** F42: metadata-FILTERED vector search — top-k among only the
    * vectors satisfying `pred`, served from the STANDING index (the
    * coarse codebook is built over the FULL corpus; a production index
    * is not retrained per predicate). This is the pre-filter shape
    * every vector store ships for selective predicates: the filter is
    * applied to the inverted lists BEFORE ranking, so the k survivors
    * are guaranteed to satisfy it — post-filtering an unfiltered
    * shortlist of k would return < k (or garbage recall) whenever the
    * predicate is selective.
    *
    * Spark shape: because the coarse assignment is a per-row pure
    * function of (vector, broadcast codebook), filtering the vectors
    * BEFORE assignment is semantically identical to filtering the
    * materialized lists — and strictly better as a plan, since the
    * predicate lands on the parquet scan (PushedFilters) and the
    * assignment aggregate never touches excluded rows. At 100 TB the
    * candidate stream shrinks by the predicate's selectivity before
    * the one cent_id shuffle. Exactness contract: with nProbe =
    * nCentroids this IS brute-force search over the filtered set
    * (spec-pinned).
    */
  def ivfTopKFiltered(queries: DataFrame, vecs: DataFrame, k: Int,
                      nCentroids: Int, nProbe: Int, pred: Column): DataFrame =
    ivfTopKWith(queries, vecs.filter(pred), k, nProbe,
      initialCentroids(vecs, nCentroids))

  /** Hash-stable codebook TRAINING sample: keep a vector iff
    * h60(vec_id + "#cbtrain") mod 10000 < rateBp — the F24/F21s salted
    * basis-point discipline. A vector's training fate is a pure
    * function of its id (stable under repartition and corpus growth;
    * the '#cbtrain' salt decorrelates it from the F18 split and the
    * F24 sampling), and the filter is map-only: it streams out of the
    * scan, so the sample is never materialized as its own table.
    */
  def codebookTrainSample(vecs: DataFrame, rateBp: Int): DataFrame = {
    require(rateBp > 0 && rateBp <= 10000,
      s"rateBp is basis points in (0, 10000] (got $rateBp)")
    val bucket = graft.text.TextFns
      .h60(concat(col("vec_id").cast("string"), lit("#cbtrain"))) % 10000L
    vecs.filter(bucket < rateBp)
  }

  /** F6e: SAMPLE-trained Lloyd codebook — k-means over the hash-stable
    * [[codebookTrainSample]] instead of the full corpus. This is the
    * 100 TB fix for the one O(n·K) term left in the semantic-dedup /
    * IVF family: with K ∝ corpus (the SemDeDup discipline), full-corpus
    * Lloyd refinement is O(n·K) = O(n²/cell-size) PER ITERATION —
    * measured emerging in SURVEY §6 (the composed two-level twin's
    * honest negative). Training on a fixed-rate sample makes
    * each iteration O(sample·K) while the corpus-sized work drops to the
    * single final assignment pass, which the F6d two-level router
    * serves at O(√K)/row. Same seed rule (lowest-K vec_ids OF THE
    * SAMPLE), same fixed-point mean arithmetic, so the DuckDB oracle
    * replays the identical chain over the filtered rows.
    */
  def refinedCentroidsSampled(vecs: DataFrame, nCentroids: Int, iters: Int,
                              rateBp: Int): DataFrame =
    refinedCentroids(codebookTrainSample(vecs, rateBp), nCentroids, iters)

  /** F6e entry: ivf top-k over the sample-trained codebook — the
    * assignment/probe/rerank tail is byte-identical to [[ivfTopKRefined]];
    * only the codebook's training rows differ.
    */
  def ivfTopKSampled(queries: DataFrame, vecs: DataFrame, k: Int,
                     nCentroids: Int, nProbe: Int, iters: Int,
                     rateBp: Int): DataFrame =
    ivfTopKWith(queries, vecs, k, nProbe,
      refinedCentroidsSampled(vecs, nCentroids, iters, rateBp))

  /** F6f: HIERARCHICAL Lloyd training — each iteration's assignment
    * runs through the F6d O(√K) router instead of flat-scoring all K
    * centroids per row. This is the remaining composition for the
    * K ∝ corpus regime: F6e cut the `n` factor (train on a sample),
    * this cuts the `K` factor — together, training is O(s·√K) per
    * iteration, and NOTHING in the codebook pipeline scales with
    * n·K any more.
    *
    * The router returns the payload-free (vec_id, cent_id) table
    * (24-byte rows — the PQ index-build discipline: never carry float
    * payloads through an argmax), embeddings re-attach by one vec_id
    * equi-join for the mean rebuild, and the rebuild itself is the
    * shared fixed-point [[lloydMeans]]. APPROXIMATE the same way F6d
    * is: on clusterable data the routed argmax equals the flat one,
    * and at nSuper = K the router provably degenerates to flat
    * assignment (spec-pinned: bit-identical codebooks).
    */
  def refinedCentroidsTwoLevel(vecs: DataFrame, nCentroids: Int, iters: Int,
                               nSuper: Int): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"))
    var cents = initialCentroids(vecs, nCentroids)
    for (_ <- 0 until iters) {
      val assigned = coarseAssignTwoLevel(v, cents, nSuper)
        .join(v, Seq("vec_id"))
        .select(col("cent_id"), col("embedding").as("ve"))
      cents = lloydMeans(assigned, cents)
    }
    cents
  }

  /** F6f composed with F6e: the production codebook trainer — sampled
    * rows × hierarchical assignment, O(s·√K)/iteration.
    */
  def refinedCentroidsSampled2Level(vecs: DataFrame, nCentroids: Int,
                                    iters: Int, rateBp: Int,
                                    nSuper: Int): DataFrame =
    refinedCentroidsTwoLevel(codebookTrainSample(vecs, rateBp),
      nCentroids, iters, nSuper)

  /** F6f entry: ivf top-k over the hierarchically-sample-trained
    * codebook; the search tail is unchanged.
    */
  def ivfTopKSampled2Level(queries: DataFrame, vecs: DataFrame, k: Int,
                           nCentroids: Int, nProbe: Int, iters: Int,
                           rateBp: Int, nSuper: Int): DataFrame =
    ivfTopKWith(queries, vecs, k, nProbe,
      refinedCentroidsSampled2Level(vecs, nCentroids, iters, rateBp, nSuper))

  private def ivfTopKWith(queries: DataFrame, vecs: DataFrame, k: Int,
                          nProbe: Int, centroids: DataFrame): DataFrame =
    topK(ivfCandidates(queries, vecs, nProbe, centroids), k)

  /** Cosine of the row's `embedding` against a codebook row's (ce, cn),
    * the row's own norm in column `nrm` — the centroid score every IVF
    * routing step ranks with [[nearest]] or [[probeRank]].
    */
  private def centSim(nrm: String): Column =
    dot(col("embedding"), col("ce")) / (col(nrm) * col("cn"))

  /** The IVF routing rule, written once: the `payload` of the row with
    * the highest round(sim, 6), ties to the lowest `id`. A max_by
    * AGGREGATE, not a window — partial aggregation collapses the K
    * scored rows per vector map-side, so the shuffle carries one row
    * per vector instead of K. Keep `payload` attribute-only: a
    * computed payload is re-evaluated per compared row inside the
    * aggregate, so a PQ-code payload would re-run the encode kernel ~K
    * times per vector (measured 10× wall; the reason the IVFPQ lists
    * join the encode after [[coarseAssign]], see
    * [[AnnIndex.encodeLists]]). The SQ8 codes of [[ivfTopKQuantized]]
    * are the tolerated exception: their quantize costs about as much
    * as the csim they ride with, the PQ kernel ~30× that.
    * [[probeRank]] is the same order as a window; [[assignRowwise]] is
    * the map-only, stream-safe form.
    */
  private def nearest(payload: Column, sim: Column, id: Column): Column =
    max_by(payload, struct(round(sim, 6).as("s"), (-id).as("t")))

  /** Each query's nProbe nearest lists: the (q_id, centroid) rows of
    * `qScored`, scored in `csim`, ranked round(csim, 6) desc then
    * lowest cent_id (the [[nearest]] order). The query side is small
    * by construction, so a window over its K scored rows is fine; the
    * caller keeps its query-side columns and broadcasts the result.
    */
  private def probeRank(qScored: DataFrame, nProbe: Int): DataFrame = {
    val qw = Window.partitionBy(col("q_id"))
      .orderBy(round(col("csim"), 6).desc, col("cent_id"))
    qScored.withColumn("crk", row_number().over(qw)).filter(col("crk") <= nProbe)
  }

  /** The float-IVF candidate stage of [[ivfTopKWith]] and [[ivfRange]]:
    * every vector's list (its [[nearest]] centroid, the float vector
    * and norm as payload), each query's [[probeRank]] lists, the
    * cent_id equi-join, the self-filter and the exact `cos`. NO dedup
    * on the candidate stream: one coarse assignment per vector ×
    * distinct probe lists per query makes (q_id, vec_id) unique by
    * construction (the F25d proof) — a dropDuplicates would re-shuffle
    * the largest intermediate in the query for nothing (VERDICT r6 #2).
    */
  private def ivfCandidates(queries: DataFrame, vecs: DataFrame, nProbe: Int,
                            centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids)
    val v = vecs.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val assigned = v.crossJoin(cents)
      .withColumn("csim", centSim("nrm"))
      .groupBy(col("vec_id"))
      .agg(nearest(
        struct(col("embedding").as("ve"), col("nrm").as("vn"), col("cent_id")),
        col("csim"), col("cent_id")).as("a"))
      .select(col("vec_id"), col("a.ve").as("ve"), col("a.vn").as("vn"),
        col("a.cent_id").as("cent_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val probes = broadcast(
      probeRank(q.crossJoin(cents).withColumn("csim", centSim("nrm")), nProbe)
        .select(col("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("cent_id")))
    assigned.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
  }

  /** F48: exact RANGE search — every neighbour within a similarity
    * radius (cos ≥ τ) instead of a fixed k (FAISS `range_search`; the
    * "find ALL near-copies" regime where the right k is unknowable —
    * dedup triage, contamination sweeps, recall-complete retrieval).
    * The bruteTopK broadcast-query/streaming-corpus shape with the
    * rank window replaced by a radius filter — no window at all, so
    * the per-query result size is data-dependent and the plan is one
    * map-only pass over the corpus. The τ test runs on the round-6
    * grid (the topK ordering discipline, applied to membership).
    */
  def bruteRange(queries: DataFrame, vecs: DataFrame, tau: Double): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("q_id"), col("embedding").as("qe"), norm(col("embedding")).as("qn")))
    withinRadius(vecs.select(col("vec_id"), col("embedding").as("ve"),
        norm(col("embedding")).as("vn"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qe"), col("ve")) / (col("qn") * col("vn"))), tau)
  }

  /** Shared membership tail of the range surfaces: keep cos ≥ τ on the
    * round-6 grid, project round(cos, 4), order (q_id, vec_id).
    */
  private def withinRadius(scored: DataFrame, tau: Double): DataFrame =
    scored.filter(round(col("cos"), 6) >= tau)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("vec_id"))

  /** F48 scale path: range search served from the standing IVF index —
    * [[ivfTopKWith]]'s candidate stage ([[ivfCandidates]]) with the
    * radius filter in place of the rank window. nProbe = nCentroids IS
    * brute force over the corpus (the F42 exactness contract
    * transfers: every list is probed, so every vector is scored).
    */
  def ivfRange(queries: DataFrame, vecs: DataFrame, tau: Double,
               nCentroids: Int, nProbe: Int): DataFrame =
    withinRadius(ivfCandidates(queries, vecs, nProbe,
      initialCentroids(vecs, nCentroids)), tau)

  // ---- F25: int8-quantized scoring ------------------------------------

  /** F25: symmetric per-vector int8 quantization — the memory/shuffle
    * compression ANN needs at 100 TB, where the resident index and the
    * candidate-rerank shuffle are the bottleneck: scale = max
    * |component| (floored at 1e-30 so a zero vector quantizes to
    * zeros, not nulls), code_i = round(x_i · 127 / scale) stored as
    * TINYINT — 1 byte per dimension at rest and on the wire vs 4 for
    * float32. Per-VECTOR scaling keeps cosine self-normalizing: the
    * scale cancels in code-space cosine, so scoring needs only the
    * codes, never the scales. (The quantize pass runs interpreted
    * HOF lambdas — acceptable for a once-per-corpus map-only pass;
    * the per-query hot path in [[quantizedTopK]] is the codegen'd
    * FloatDot.)
    */
  /** The per-row quantization scale over `embedding`. */
  private def qscaleCol: Column = greatest(
    array_max(transform(col("embedding"), x => abs(x.cast("double")))),
    lit(1e-30))

  /** The per-row TINYINT code array over `embedding` — shared by
    * [[quantize]] and the IVF list builder so the arithmetic has one
    * source (the scale inlines into the lambda; same value as the
    * two-step projection, and the DuckDB oracle computes it once per
    * row in its own CTE).
    */
  private def qcodeCol: Column =
    transform(col("embedding"), x =>
      round(x.cast("double") * lit(127.0) / qscaleCol, 0).cast("byte"))

  def quantize(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), qscaleCol.as("qscale"), qcodeCol.as("qcode"))

  /** F25 top-k: exact cosine in CODE space. Engine-parity argument:
    * code products (≤ 127²) and their ≤ dim·127² sums are exactly
    * representable in double, so the codegen'd FloatDot arithmetic
    * over the byte→float-cast codes is INTEGER-exact and DuckDB's
    * list_dot_product over the same integers is bit-identical; the
    * only true float ops are the final sqrt and divide — identical
    * IEEE operations in both engines. Plan shape = bruteTopK's (query
    * side broadcast, big side streams one codegen stage); the point
    * at scale is the 4× smaller stream, and the same codes slot into
    * the IVF candidate join unchanged.
    */
  def quantizedTopK(queries: DataFrame, vecs: DataFrame, k: Int): DataFrame = {
    def codes(df: DataFrame) = quantize(df)
      .select(col("vec_id"), col("qcode").cast("array<float>").as("cf"))
      .withColumn("cn", norm(col("cf")))
    val q = broadcast(codes(queries).select(
      col("vec_id").as("q_id"), col("cf").as("qe"), col("cn").as("qn")))
    val scored = codes(vecs)
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qe"), col("cf")) / (col("qn") * col("cn")))
    topK(scored, k)
  }

  /** F25b: IVF probe with int8 code-space rerank — the composition a
    * production index ships (the FAISS IVF+SQ8 shape): coarse
    * assignment and probe selection run on FLOAT vectors against the
    * K-row broadcast codebook (the codebook stays float — it is K
    * rows, not a memory problem), but the inverted lists carry ONLY
    * the 1-byte/dim codes — the assignment shuffle and the resident
    * lists shrink 4×, which is where IVF memory actually goes — and
    * the rerank inside the probed lists is [[quantizedTopK]]'s
    * integer-exact code-space cosine. Same plan class as [[ivfTopK]]:
    * broadcast codebook aggregations + one cent_id equi-join.
    */
  def ivfTopKQuantized(queries: DataFrame, vecs: DataFrame, k: Int,
                       nCentroids: Int, nProbe: Int): DataFrame = {
    val cents = broadcast(initialCentroids(vecs, nCentroids))
    val v = vecs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      qcodeCol.cast("array<float>").as("qcf"))
      .withColumn("qcn", norm(col("qcf")))
    // assignment carries the CODES (not the float vectors) through the
    // map-side-combined argmax — the shuffled row is 1 byte/dim
    val assigned = v.crossJoin(cents)
      .withColumn("csim", centSim("nrm"))
      .groupBy(col("vec_id"))
      .agg(nearest(
        struct(col("qcf").as("vqc"), col("qcn").as("vqn"), col("cent_id")),
        col("csim"), col("cent_id")).as("a"))
      .select(col("vec_id"), col("a.vqc").as("vqc"), col("a.vqn").as("vqn"),
        col("a.cent_id").as("cent_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      qcodeCol.cast("array<float>").as("qe"))
      .withColumn("qn", norm(col("qe")))
    val probes = broadcast(
      probeRank(q.crossJoin(cents).withColumn("csim", centSim("nrm")), nProbe)
        .select(col("q_id"), col("qe"), col("qn"), col("cent_id")))
    // (q_id, vec_id) unique by construction — same no-dedup argument
    // as ivfCandidates; the saved shuffle is the 1-byte/dim code stream
    val scored = assigned.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qe"), col("vqc")) / (col("qn") * col("vqn")))
    topK(scored, k)
  }

  // ---- F25c: product quantization (ADC scoring) -----------------------

  /** Array-order double self-dot — the same arithmetic FloatDot (and
    * DuckDB's list_dot_product) evaluates, computed driver-side for
    * codeword self-dots.
    */
  private def selfDot(v: Array[Float]): Double =
    v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)

  /** F25c codebook: subspace s's codeword j is the s-th `dim/m` slice
    * of the j-th lowest-vec_id embedding — the [[initialCentroids]]
    * determinism discipline, sliced. Driver-side by contract (the G9
    * bounded-codebook argument: m·kc sub-vectors — 128 × 8 floats here
    * — ship as expression literals; a codebook too big for that is not
    * a codebook). Indexed book(s)(j).
    */
  def pqCodebook(vecs: DataFrame, m: Int, kc: Int): IndexedSeq[IndexedSeq[Array[Float]]] = {
    val rows = vecs.orderBy(col("vec_id")).limit(kc)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(rows.length == kc, s"corpus smaller than kc=$kc")
    val subDim = rows.head.length / m
    (0 until m).map(s => (0 until kc).map(j =>
      rows(j).slice(s * subDim, (s + 1) * subDim)))
  }

  /** F25c encode: per subspace, the nearest codeword by L2 — via the
    * standard expansion argmin‖x−c‖² = argmin(c·c − 2·x·c), so the
    * per-row work is one sub-dot per codeword and the x·x term never
    * evaluates; argmin on the round(·,6) grid with lowest-j tie-break
    * (the G9 rule). The kernel is a compiled expression
    * (graft.functions.PqEncodeExpr) holding the codebook as a
    * reference object — the equivalent greatest()-over-m·kc-structs
    * Column formulation blows Janino's method-size limit and drops the
    * stage to interpreted eval. MAP-ONLY: encoding 100 TB of
    * embeddings is a single scan-projection with no join, no
    * aggregation, no shuffle, emitting m bytes per vector (64-dim
    * float32 → 8 bytes = 32×; the resident-index compression PQ
    * exists for, beyond F25's 4×).
    */
  def pqEncode(vecs: DataFrame, book: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame = {
    val b = book.map(_.toArray).toArray
    vecs.select(col("vec_id"),
      graft.functions.PqKernels.encode(col("embedding"), b).as("pcode"))
  }

  /** F25c top-k: asymmetric-distance (ADC) scoring over PQ codes. Each
    * query precomputes ONE m×kc lookup table (dot of its subspace
    * slice with every codeword) on the broadcast side, so the per-
    * candidate hot path is m byte-indexed lookups and m long adds —
    * never a float dot against the corpus. cos ≈ Σ_s tab[s][code_s]
    * / (‖q‖ · ‖x̂‖), with ‖x̂‖ the RECONSTRUCTION norm, itself m
    * lookups into the codeword self-dot table. Engine parity: every
    * table entry lands on the 1e-6 fixed-point grid as a long, so the
    * m-term sums are integer-exact and accumulation-order-independent
    * in both engines (the Lloyd fixed-point discipline); the only
    * float ops after the lookups are one sqrt and one divide. Plan
    * shape: one map-only encode, one broadcast nested-loop against the
    * bounded query side, the topK window's single shuffle — the 4-byte
    * float stream of [[bruteTopK]] becomes a 1-byte-per-8-dims code
    * stream.
    */
  def pqTopK(queries: DataFrame, vecs: DataFrame, k: Int, m: Int, kc: Int): DataFrame =
    pqTopKWithBook(queries, vecs, k, pqCodebook(vecs, m, kc))

  /** The encode + ADC tail over an explicit codebook — shared by the
    * slice-init [[pqTopK]] and the Lloyd-trained [[pqTopKTrained]], so
    * "trained" changes only which codewords exist, never the scoring
    * arithmetic.
    */
  def pqTopKWithBook(queries: DataFrame, vecs: DataFrame, k: Int,
                     book: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame = {
    val b = book.map(_.toArray).toArray
    // cache the encoded index: `pcode` must reach the scoring join as a
    // MATERIALIZED attribute — left as a live expression, Catalyst
    // inlines the encode kernel into the per-pair ADC projection, where
    // the m element_at(pcode) references re-run the whole kernel per
    // candidate (measured ~4× on this query). The cached table IS the
    // deployment artifact: a PQ index exists to be resident (8 bytes/
    // vector), exactly what a production ANN service holds in memory.
    val codes = graft.core.Caching.CachedOps(pqEncode(vecs, book)).cachedOnce
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      graft.functions.PqKernels.adcTab(col("embedding"), b).as("qtab"),
      norm(col("embedding")).as("qn")))
    val scored = codes.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", adcCos(book))
    topK(scored, k)
  }

  /** Hash-stable PQ TRAINING sample — the [[codebookTrainSample]]
    * discipline under its own '#pqtrain' salt (decorrelated from the
    * coarse-codebook sample, the F18 split and the F24 sampling): a
    * vector trains the product codebooks iff h60(vec_id + "#pqtrain")
    * mod 10000 < rateBp. Map-only; the sample never materializes as
    * its own table.
    */
  def pqTrainSample(vecs: DataFrame, rateBp: Int): DataFrame = {
    require(rateBp > 0 && rateBp <= 10000,
      s"rateBp is basis points in (0, 10000] (got $rateBp)")
    val bucket = graft.text.TextFns
      .h60(concat(col("vec_id").cast("string"), lit("#pqtrain"))) % 10000L
    vecs.filter(bucket < rateBp)
  }

  /** F25g: TRAINED PQ codebook — per-subspace Lloyd k-means over the
    * hash-stable sample, replacing [[pqCodebook]]'s slice-init
    * codewords with codewords that actually minimize subspace
    * quantization error (the FAISS `ProductQuantizer.train` step; the
    * slice-init book is exactly k-means iteration 0). All m subspaces
    * train in ONE DataFrame chain keyed by subspace id — per
    * iteration: one broadcast-book argmin assignment over the
    * (vec_id, s, sv) sub-vector table and one fixed-point mean
    * rebuild — so the job count is `iters`×2 regardless of m (a
    * per-subspace loop would run m× that), and per-iteration work is
    * O(sample·m·kc) sub-dots, independent of corpus size.
    *
    * Engine-parity contracts, all inherited: argmin of
    * round(cc − 2·sv·cw, 6) with lowest-j tie-break ([[nearest]] on
    * −d2; the [[pqEncode]] rule, so training and encoding share one
    * scoring law), the [[fixedPointMean]] rebuild shared with the
    * coarse trainer (order-independent, bit-equal in DuckDB), seeds =
    * sub-slices of the kc lowest SAMPLED vec_ids (the c0 rule). A codeword whose list goes empty keeps its previous
    * value. Driver-side only at the END: the trained book collects as
    * m·kc rows (the bounded-codebook contract) for the compiled encode
    * kernel.
    */
  def pqCodebookTrained(vecs: DataFrame, m: Int, kc: Int, iters: Int,
                        rateBp: Int): IndexedSeq[IndexedSeq[Array[Float]]] = {
    val sample = pqTrainSample(vecs, rateBp)
    val dim = vecs.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sd = dim / m
    // (vec_id, s, sv): the m sub-vector slices of every sampled row —
    // map-only explode, cached once (every iteration re-reads it)
    val sub = sample.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("embedding"), s * sd + 1, sd)): _*)).as(Seq("s", "sv")))
      .cachedOnce
    val seeds = sample.orderBy(col("vec_id")).limit(kc)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).as("j"))
    var book = sub.join(broadcast(seeds), Seq("vec_id"))
      .select(col("s"), col("j"), col("sv").as("cw"))
      .withColumn("cc", dot(col("cw"), col("cw")))
      .cachedOnce
    for (_ <- 0 until iters) {
      val assigned = sub.join(broadcast(book), Seq("s"))
        .withColumn("d2", col("cc") - lit(2.0) * dot(col("sv"), col("cw")))
        .groupBy(col("vec_id"), col("s"))
        // nearest codeword = argmax of −d2 (round(−x, 6) ≡ −round(x, 6))
        .agg(nearest(struct(col("sv").as("sv"), col("j")), -col("d2"), col("j")).as("a"))
        .select(col("s"), col("a.j").as("j"), col("a.sv").as("sv"))
      val means = fixedPointMean(assigned, Seq("s", "j"), "sv")
      book = book.join(broadcast(means), Seq("s", "j"), "left")
        .select(col("s"), col("j"), coalesce(col("mce"), col("cw")).as("cw"))
        .withColumn("cc", dot(col("cw"), col("cw")))
        .cachedOnce
    }
    val rows = book.select(col("s"), col("j"), col("cw")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
    (0 until m).map(s => (0 until kc).map(j => rows((s, j))))
  }

  /** F25g entry: the [[pqTopK]] surface over the trained book — same
    * encode kernel, same ADC scoring, better codewords.
    */
  def pqTopKTrained(queries: DataFrame, vecs: DataFrame, k: Int, m: Int,
                    kc: Int, iters: Int, rateBp: Int): DataFrame =
    pqTopKWithBook(queries, vecs, k,
      pqCodebookTrained(vecs, m, kc, iters, rateBp))

  /** Mean subspace quantization error (Σ min_j ‖sv − cw_j‖² / rows) of
    * a codebook over a vector set — the objective PQ training
    * minimizes; the trained-vs-init improvement spec reads it.
    */
  def pqQuantizationError(vecs: DataFrame,
                          book: IndexedSeq[IndexedSeq[Array[Float]]]): Double = {
    val m = book.length
    val dim = vecs.select(size(col("embedding"))).head.getInt(0)
    val sd = dim / m
    val sub = vecs.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("embedding"), s * sd + 1, sd)): _*)).as(Seq("s", "sv")))
    val bookDf = broadcast(
      vecs.sparkSession.createDataFrame(
        vecs.sparkSession.sparkContext.parallelize(
          for { s <- 0 until m; j <- 0 until book(s).length }
            yield org.apache.spark.sql.Row(s, j, book(s)(j).toSeq), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cw",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))))
    sub.join(bookDf, Seq("s"))
      // ‖sv−cw‖² = sv·sv − 2·sv·cw + cc, minimized per (vec_id, s)
      .withColumn("d2", dot(col("sv"), col("sv")) -
        lit(2.0) * dot(col("sv"), col("cw")) + dot(col("cw"), col("cw")))
      .groupBy(col("vec_id"), col("s")).agg(min(col("d2")).as("md"))
      .agg(avg(col("md"))).head.getDouble(0)
  }

  /** The ADC cosine column over rows carrying `pcode` (the m-byte
    * candidate code), `qtab` (the query's m×kc fixed-point lookup
    * table) and `qn` — shared by [[pqTopK]] and [[ivfTopKPq]] so the
    * scoring arithmetic has one source. The m-term numerator and the
    * reconstruction-norm sum are LONG adds over 1e-6-grid entries
    * (integer-exact, order-independent); the only float ops are the
    * final sqrt and divide.
    */
  private def adcCos(book: IndexedSeq[IndexedSeq[Array[Float]]]): Column = {
    val (adcL, ccL) = adcTerms(book)
    (adcL.cast("double") / lit(1e6)) /
      (col("qn") * sqrt(ccL.cast("double") / lit(1e6)))
  }

  /** 1-based lookup index of subspace `s`'s code in `pcode`. */
  private def codeAt(s: Int): Column =
    element_at(col("pcode"), s + 1).cast("int") + lit(1)

  /** The two m-term LONG sums of ADC scoring, shared by [[adcCos]] and
    * the residual [[ivfTopKPqResidual]]: Σ_s qtab[s][code_s] (the
    * query · codeword numerator) and Σ_s ‖cw_{s,code_s}‖² (the
    * reconstruction norm², its self-dots baked in as literals).
    */
  private def adcTerms(book: IndexedSeq[IndexedSeq[Array[Float]]]): (Column, Column) = {
    val ccTab = book.map(_.map(cw => math.round(selfDot(cw) * 1e6)))
    (book.indices.map(s =>
      element_at(element_at(col("qtab"), s + 1), codeAt(s))).reduce(_ + _),
      book.indices.map(s =>
        element_at(array(ccTab(s).map(lit): _*), codeAt(s))).reduce(_ + _))
  }

  /** F25d: IVF probe + PQ/ADC rerank — the FAISS IVFPQ composition,
    * the index shape that actually ships at billion-vector scale:
    * coarse assignment and probe selection on FLOAT vectors against
    * the K-row broadcast codebook (exactly [[ivfTopKWith]]'s rule),
    * but the inverted lists carry ONLY the m-byte PQ codes — the
    * assignment shuffle and the resident lists shrink 32× vs float32
    * (vs 4× for [[ivfTopKQuantized]]'s SQ8), and the in-list rerank is
    * [[pqTopK]]'s table-lookup ADC, never a float dot against list
    * members. No dropDuplicates: each vector has exactly ONE coarse
    * assignment, so a (q_id, vec_id) pair can arise from at most one
    * probed list — the safety dedup of the float siblings would cost
    * a real extra shuffle here. Same plan class as [[ivfTopK]]:
    * broadcast codebook aggregations + one cent_id equi-join + the
    * topK window.
    */
  def ivfTopKPq(queries: DataFrame, vecs: DataFrame, k: Int,
                nCentroids: Int, nProbe: Int, m: Int, kc: Int): DataFrame =
    ivfTopKPqWithBook(queries, vecs, k, nCentroids, nProbe,
      pqCodebook(vecs, m, kc))

  /** F25h entry: the IVFPQ composition over the Lloyd-TRAINED product
    * codebook — the full production index build (FAISS's
    * `IVFPQ.train` = coarse centroids + trained sub-quantizers): only
    * the codewords change; routing, index join and ADC rerank are
    * byte-identical to [[ivfTopKPq]].
    */
  def ivfTopKPqTrained(queries: DataFrame, vecs: DataFrame, k: Int,
                       nCentroids: Int, nProbe: Int, m: Int, kc: Int,
                       iters: Int, rateBp: Int): DataFrame =
    ivfTopKPqWithBook(queries, vecs, k, nCentroids, nProbe,
      pqCodebookTrained(vecs, m, kc, iters, rateBp))

  /** F40: Reciprocal-Rank-Fusion of two ranked candidate lists — the
    * standard hybrid-retrieval combiner (Cormack et al. 2009, the
    * fusion Elasticsearch/Vespa/Weaviate ship for dense+sparse):
    * rrf(d) = Σ_lists 1/(k0 + rank_list(d)), absent-from-a-list
    * contributes 0 — rank-only fusion, so the two scorers' scales
    * never need calibrating. Inputs are (q_id, id, rk) ranked lists;
    * output re-ranks by (rrf desc, id) cut at k.
    *
    * Engine parity: each term is 1.0/(integer) — bit-identical in both
    * engines — and the sum has a fixed two-term order; the rank
    * window rounds at 9 dp (RRF deltas are ≥1e-4 apart at k0=60 list
    * depth ≤ a few hundred). Scale shape: both inputs are top-k lists
    * (|queries|·k rows) — the fusion join and window are
    * query-bounded, corpus-size-independent; the heavy lifting stays
    * in the list producers.
    */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, k: Int,
              k0: Int = 60): DataFrame = {
    require(k >= 1 && k0 >= 1, s"k/k0 must be >= 1 (got $k, $k0)")
    val d = dense.select(col("q_id"), col("id"),
      (lit(1.0) / (col("rk") + lit(k0))).as("ds"))
    val sp = sparse.select(col("q_id"), col("id"),
      (lit(1.0) / (col("rk") + lit(k0))).as("ss"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("rrf"), 9).desc, col("id"))
    d.join(sp, Seq("q_id", "id"), "full")
      .withColumn("rrf", coalesce(col("ds"), lit(0.0)) + coalesce(col("ss"), lit(0.0)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("id"), round(col("rrf"), 6).as("rrf"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** F25j: IVFPQ + exact REFINE — FAISS's `IndexRefineFlat` tail: the
    * ADC index returns a k·`refine` SHORTLIST (cheap, compressed,
    * approximate), then the stored float vectors re-score exactly and
    * re-rank to top-k. This is how production deployments buy back
    * the PQ quantization loss without ever scanning floats corpus-wide:
    * the exact pass touches |queries|·k·refine candidates — point
    * lookups against the id-keyed vector table, never a corpus scan —
    * so its cost is query-bounded and corpus-size-independent.
    *
    * The shortlist stage is [[ivfTopKPq]] byte-for-byte (same routing,
    * same ADC arithmetic, only k widened), so refine composes with any
    * book variant; the re-rank is the [[bruteTopK]] scoring contract
    * (exact FloatDot cosine, round(cos,6)/vec_id rank, round(cos,4)
    * projection) restricted to the shortlist.
    */
  def ivfTopKPqRefined(queries: DataFrame, vecs: DataFrame, k: Int,
                       nCentroids: Int, nProbe: Int, m: Int, kc: Int,
                       refine: Int): DataFrame = {
    require(refine >= 1, s"refine must be >= 1 (got $refine)")
    val shortlist = ivfTopKPq(queries, vecs, k * refine,
      nCentroids, nProbe, m, kc).select(col("q_id"), col("vec_id"))
    val v = vecs.select(col("vec_id"), col("embedding").as("ve"),
      norm(col("embedding")).as("vn"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qe"), norm(col("embedding")).as("qn")))
    val scored = shortlist
      .join(v, Seq("vec_id"))
      .join(q, Seq("q_id"))
      .withColumn("cos", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    topK(scored, k)
  }

  /** F25i: RESIDUAL IVFPQ — the shape FAISS actually ships
    * (`IndexIVFPQ` encodes r = x − c(x), not x): the sub-quantizers
    * spend their bits on IN-CELL variation instead of re-describing
    * the cell center the coarse index already knows. Pipeline:
    * assignment as [[ivfTopKPq]], residuals via one broadcast-centroid
    * join (float-rounded — `(x−c)` computed in double then cast to
    * float, so both engines hold the identical residual), the F25g
    * Lloyd trainer runs UNCHANGED on the residual vectors, and the
    * map-only encode kernel consumes residual slices.
    *
    * Scoring reconstructs x̂ = c + r̂ implicitly:
    * q·x̂ = q·c + Σ_s qtab[s][code]  (qtab = the standard ADC table
    * against the RESIDUAL book), and ‖x̂‖² = ‖c‖² + 2Σ_s c_s·cw +
    * Σ_s ‖cw‖² — the cross term rides a per-centroid m×kc lookup
    * table (K·m·kc longs, a bounded broadcast artifact exactly like
    * the codebook itself). Every term is a 1e-6-grid BIGINT, so the
    * sums are integer-exact in both engines; the only float ops are
    * the final sqrt and divide (the ADC discipline).
    */
  def ivfTopKPqResidual(queries: DataFrame, vecs: DataFrame, k: Int,
                        nCentroids: Int, nProbe: Int, m: Int, kc: Int,
                        iters: Int, rateBp: Int): DataFrame = {
    val cents = broadcast(initialCentroids(vecs, nCentroids))
    val assigned = coarseAssign(vecs, cents)
    // float-rounded residuals: double-exact subtraction, then the
    // float pass both engines replay
    val res = vecs.join(assigned, Seq("vec_id")).join(cents, Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("embedding"), col("ce"),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float"))
          .as("rvec"))
      .cachedOnce
    val book = pqCodebookTrained(
      res.select(col("vec_id"), col("rvec").as("embedding")), m, kc,
      iters, rateBp)
    val b = book.map(_.toArray).toArray
    val codes = graft.core.Caching.CachedOps(
      res.select(col("vec_id"), col("cent_id"),
        graft.functions.PqKernels.encode(col("rvec"), b).as("pcode"))).cachedOnce
    // per-centroid scoring artifacts: ‖c‖² and the c_s·cw cross table,
    // K·(1 + m·kc) longs — bounded by the same argument as the book
    val spark = vecs.sparkSession
    val centLocal = cents.select(col("cent_id"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val sd = centLocal.head._2.length / m
    def dotD(a: Array[Float], bb: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * bb(i).toDouble)
    val centArt = centLocal.map { case (cid, ce) =>
      val ctab = (for (s <- 0 until m; j <- 0 until kc) yield
        math.round(dotD(ce.slice(s * sd, (s + 1) * sd), book(s)(j)) * 1e6)).toSeq
      org.apache.spark.sql.Row(cid, math.round(selfDot(ce) * 1e6), ctab)
    }
    val centArtDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(centArt.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cent_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ccl2",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ctab",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))))))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding"),
      norm(col("embedding")).as("qn"),
      graft.functions.PqKernels.adcTab(col("embedding"), b).as("qtab"))
    val qScored = q.crossJoin(cents)
      .withColumn("csim", centSim("qn"))
      .withColumn("qcl", round(dot(col("embedding"), col("ce")) * 1e6, 0).cast("long"))
    val probes = broadcast(probeRank(qScored, nProbe)
      .select(col("q_id"), col("qtab"), col("qn"), col("cent_id"), col("qcl"))
      .join(centArtDf, Seq("cent_id")))
    val (adcL, ccL) = adcTerms(book)
    val ctL = (0 until m).map(s =>
      element_at(col("ctab"), lit(s * kc) + codeAt(s))).reduce(_ + _)
    val scored = codes.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        ((col("qcl") + adcL).cast("double") / lit(1e6)) /
          (col("qn") * sqrt(greatest(lit(0L),
            col("ccl2") + lit(2L) * ctL + ccL).cast("double") / lit(1e6))))
    topK(scored, k)
  }

  private def ivfTopKPqWithBook(queries: DataFrame, vecs: DataFrame, k: Int,
                                nCentroids: Int, nProbe: Int,
                                book: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame = {
    // the in-session index: the same (vec_id, cent_id, pcode) list
    // build a persisted segment gets
    val cents = broadcast(initialCentroids(vecs, nCentroids))
    ivfTopKPqOnIndex(queries, cents, AnnIndex.encodeLists(vecs, cents, book),
      k, nProbe, book)
  }

  /** The IVFPQ SEARCH tail over an explicit index — `cents` is the
    * (cent_id, ce, cn) coarse codebook, `lists` the
    * (vec_id, cent_id, pcode) inverted lists. Shared by the in-session
    * builds above and [[AnnIndex]]'s persisted/epoch-pinned path, so a
    * search through a saved index is bit-equal to the in-session one
    * BY CONSTRUCTION (one scoring source, and every persisted column —
    * float arrays, byte codes — round-trips parquet losslessly).
    */
  def ivfTopKPqOnIndex(queries: DataFrame, cents: DataFrame,
                       lists: DataFrame, k: Int, nProbe: Int,
                       book: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame = {
    val b = book.map(_.toArray).toArray
    val cb = broadcast(cents)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding"),
      norm(col("embedding")).as("qn"),
      graft.functions.PqKernels.adcTab(col("embedding"), b).as("qtab"))
    val probes = broadcast(
      probeRank(q.crossJoin(cb).withColumn("csim", centSim("qn")), nProbe)
        .select(col("q_id"), col("qtab"), col("qn"), col("cent_id")))
    val scored = lists.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", adcCos(book))
    topK(scored, k)
  }

  /** Coarse nearest-centroid assignment — the IVF list-routing rule as
    * a standalone (vec_id, cent_id) surface, shared with consumers that
    * need only the partition (semantic dedup F28) and not the payload
    * the top-k paths carry through their aggregates. Same contract as
    * [[ivfTopKWith]]'s assignment and the G9 row-wise rule: argmax of
    * round(cos, 6) with lowest-cent_id tie-break, the K-row codebook
    * broadcast, the argmax a map-side-combined max_by (the shuffle
    * carries one row per vector, not K).
    */
  def coarseAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids)
    vecs.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .crossJoin(cents)
      .withColumn("csim", centSim("nrm"))
      .groupBy(col("vec_id"))
      .agg(nearest(col("cent_id"), col("csim"), col("cent_id")).as("cent_id"))
  }

  /** F6d: TWO-LEVEL (hierarchical) coarse assignment — the production
    * routing shape for the K-scales-with-corpus regime (SURVEY §6: the
    * SemDeDup/IVF assignment is O(n·K) flat scans, quadratic once K ∝
    * n; at FAISS-scale K of 100k+ cells nobody scores every centroid).
    * Super-centroids are the √K-discipline subset of the codebook
    * itself ([[initialCentroids]] applied to the codebook: its G
    * lowest-cent_id rows); every centroid joins its nearest
    * super-centroid (a K-row pass against a G-row broadcast); a data
    * row then scores G super-centroids (map-only greatest) and ONLY
    * the centroids inside its super-cell (a broadcast equi-join on
    * super_id + one map-side-combined argmax) — O(G + K/G) = O(√K)
    * per row instead of O(K), with both stages the same
    * round(cos, 6)/lowest-id argmax rule as [[coarseAssign]].
    *
    * APPROXIMATE by design: a row whose true nearest centroid lives
    * in a different super-cell than the row's own nearest
    * super-centroid routes to the best centroid WITHIN its super-cell
    * (the standard hierarchical-routing loss; the two-level result is
    * always a valid centroid, and agreement with flat argmax is
    * measured in spec + driver query). Output: (vec_id, super_id,
    * cent_id).
    */
  def coarseAssignTwoLevel(vecs: DataFrame, centroids: DataFrame,
                           nSuper: Int): DataFrame = {
    require(nSuper >= 1, s"nSuper must be >= 1 (got $nSuper)")
    // super-codebook: the G lowest-cent_id centroids, re-keyed
    val supers = broadcast(centroids.orderBy(col("cent_id")).limit(nSuper)
      .select(col("cent_id").as("super_id"), col("ce").as("se"),
        col("cn").as("sn")))
    // centroid → super-cell: K rows against the G-row broadcast, the
    // same argmax; the result is itself a bounded broadcast table
    val cellMap = broadcast(
      centroids.crossJoin(supers)
        .withColumn("ssim", dot(col("ce"), col("se")) / (col("cn") * col("sn")))
        .groupBy(col("cent_id"))
        .agg(nearest(col("super_id"), col("ssim"), col("super_id")).as("super_id"),
          first(col("ce")).as("ce"), first(col("cn")).as("cn")))
    val v = vecs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // level 1: G-way argmax (G scored rows per vec, map-side-combined
    // to one; the embedding payload is a scan ATTRIBUTE — the
    // computed-payload re-evaluation trap the PQ index build hit does
    // not apply)
    val routed = v.crossJoin(supers)
      .withColumn("ssim", dot(col("embedding"), col("se")) / (col("nrm") * col("sn")))
      .groupBy(col("vec_id"))
      .agg(nearest(
        struct(col("embedding").as("e"), col("nrm").as("n"), col("super_id")),
        col("ssim"), col("super_id")).as("a"))
      .select(col("vec_id"), col("a.e").as("embedding"), col("a.n").as("nrm"),
        col("a.super_id").as("super_id"))
    // level 2: score ONLY the super-cell's member centroids
    routed.join(cellMap, Seq("super_id"))
      .withColumn("csim", centSim("nrm"))
      .groupBy(col("vec_id"))
      .agg(first(col("super_id")).as("super_id"),
        nearest(col("cent_id"), col("csim"), col("cent_id")).as("cent_id"))
      .select(col("vec_id"), col("super_id"), col("cent_id"))
  }

  /** G9 core: per-row nearest-centroid assignment against a
    * DRIVER-SIDE codebook (bounded by contract — a codebook too big to
    * ship as K expression literals is not a codebook). The argmax is
    * greatest() over K scored structs, so the projection is map-only
    * and STREAM-SAFE — no groupBy, no state — where the batch IVF
    * surfaces use a max_by aggregate. Tie-break identical to theirs:
    * round(cos, 6) DESC, then lowest cent_id (encoded as the -cent_id
    * middle field of the lexicographically-ordered struct). Centroid
    * norms are computed driver-side with the same array-order
    * double-sum FloatDot evaluates, so stream, batch, and the DuckDB
    * oracle score bit-identically.
    */
  def assignRowwise(vecs: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    require(cents.size >= 2, s"codebook needs >= 2 centroids (got ${cents.size})")
    val scored = cents.map { case (cid, ce) =>
      val cn = math.sqrt(ce.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble))
      struct(
        round(dot(col("embedding"), array(ce.map(v => lit(v)): _*)) /
          (norm(col("embedding")) * lit(cn)), 6).as("s"),
        lit(-cid).as("t"), lit(cid).as("cent_id"))
    }
    vecs.select(col("vec_id"),
      greatest(scored: _*).getField("cent_id").as("cent_id"))
  }

  /** F11: per-label L2-norm statistics over the embedding column. */
  def normStats(vecs: DataFrame): DataFrame =
    vecs
      .select(col("label"), norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("nrm")) - 1e-9, 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))
      .orderBy(col("label"))
}
