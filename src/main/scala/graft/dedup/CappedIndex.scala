package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.core.Caching._
import graft.functions.{MinHashKeys, SimHashKeys}

/** The df-capped, level-widened band index every near-dup signature
  * family runs on (MinHash, SimHash, and image phash through the
  * SimHash family): one build, one pair join, one id expansion, one
  * star clustering, one all-level probe with the exact/near/unique
  * gate, and one index merge. A [[Family]] supplies only what differs.
  * The build and the merge's re-keying are one hash exchange on (band,
  * level-0 key), and star clustering without a pair check reads bucket
  * minima instead of pairs.
  *
  * The index keys each (signature, band) at a widening LEVEL: band
  * `b`'s level-`j` key refines its level-(j−1) key, and the top level
  * is a bijection of the signature. A band bucket holding more than
  * `maxDf` DISTINCT signatures is re-keyed one level wider, repeatedly,
  * until it fits, so every bucket ends at df ≤ max(maxDf, 1) and the
  * per-bucket self-join work is bounded by maxDf²/2 pairs REGARDLESS of
  * corpus size. Keys are nested, so two signatures sharing a level-k
  * key share every coarser key and therefore agree on the level itself:
  * joining on (band, lvl, key) loses exactly the pairs whose only shared
  * bands were hot AND whose extension differs — a drop-only
  * approximation of the uncapped band join.
  *
  * Input signatures are DISTINCT: an N-doc exact-duplicate group is ONE
  * row in every band join, and identical-signature id pairs come from
  * the group expansion in [[pairs]], never through the band join.
  */
object CappedIndex {

  /** What differs between signature families.
    *
    * @param sig      identity column: two rows share it iff their
    *                 signatures are identical
    * @param payload  extra columns the keys are computed from
    * @param bandType type of the `band` column the index carries
    * @param keys     the keys of the row's own `band` at every level, as
    *                 one array indexed by level (one compiled per-row
    *                 call; the build explodes it, partitions the level
    *                 rows by its first element, then recomputes the
    *                 chosen level's key after its min(LEVEL) aggregate,
    *                 which hash-aggregates where min(struct(j, key))
    *                 would force a SortAggregate)
    * @param maxHamming optional pair check: signature pairs farther
    *                 apart are dropped and kept ones carry `hamming`
    */
  final case class Family(sig: String, payload: Seq[String], bandType: DataType,
                          nBands: Int, keys: Column, maxHamming: Option[Int] = None) {
    def cols: Seq[Column] = (sig +: payload).map(col)
    def within(maxHamming: Int): Family = copy(maxHamming = Some(maxHamming))
  }

  /** 12-slot MinHash signatures keyed by `sk` ([[Dedup.minhashSigKey]]);
    * a band's keys are [[graft.functions.MinHashKeys]]: the md5 of each
    * level's [[Dedup.minhashKeySlots]] list, all ten from one string,
    * since the lists are nested prefixes.
    */
  val MinHash: Family = Family("sk", Seq("mh"), IntegerType, Dedup.minhashNBands,
    MinHashKeys.keys(col("mh"), col("band")))

  /** 60-bit SimHash values; a band's keys are
    * [[graft.functions.SimHashKeys]], the [[Dedup.simhashKeyExpr]]
    * arithmetic: nested prefixes in BIT space, each level OR-ing one
    * more 5-bit chunk of the other bands onto the previous key.
    */
  val SimHash: Family = Family("simhash", Nil, LongType, 4,
    SimHashKeys.keys(col("simhash"), col("band")))

  /** maxDf=0 would null the min(when(df <= maxDf, j)) aggregate for
    * every bucket (df ≥ 1 always), silently dropping all candidates
    * instead of falling back to the bijective top level.
    */
  private[dedup] def checkCap(maxDf: Int): Unit =
    require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")

  /** One row per signature row per band (map-only). */
  private def perBand(f: Family, sigs: DataFrame): DataFrame =
    sigs.select(f.cols :+ explode(array((0 until f.nBands).map(b =>
      lit(b).cast(f.bandType)): _*)).as("band"): _*)

  /** Every (j, key) of each (signature, band) row — one narrow row per
    * level, map-only — with the row's level-0 key `key0`. Keys are
    * computed for the row's own band only (key hashing is the keying
    * stages' dominant CPU).
    */
  private def levelRows(f: Family, bandRows: DataFrame): DataFrame =
    bandRows.select(f.cols :+ col("band") :+ f.keys.as("ks"): _*)
      .select(f.cols :+ col("band") :+ element_at(col("ks"), 1).as("key0") :+
        posexplode(col("ks")).as(Seq("j", "key")): _*)

  /** The level choice inside ONE hash exchange on (band, key0). Every
    * level-j key refines the level-0 key, so a level-j bucket lies in one
    * (band, key0) group: the df window over (band, key0, j, key) and the
    * min-level aggregate over (sig, band, key0) are both satisfied by
    * that partitioning — no df aggregate, no join back, and the input is
    * evaluated once. Refinement is monotone (df never grows with j) and
    * the top level has df = 1 over distinct signatures, so the min level
    * with df ≤ cap IS "the first level that fits" and always exists.
    * Within a (sig, band) group j is unique, so key(min j) is the key of
    * the chosen level.
    */
  private def chooseLevels(f: Family, rows: DataFrame, maxDf: Int): DataFrame = {
    val bucket = Window.partitionBy(col("band"), col("key0"), col("j"), col("key"))
    rows.repartition(col("band"), col("key0"))
      .withColumn("df", count(lit(1)).over(bucket))
      .groupBy(f.cols :+ col("band") :+ col("key0"): _*)
      .agg(min(when(col("df") <= maxDf, col("j"))).as("lvl0"))
      .select(col(f.sig), col("band"), col("lvl0").cast("long").as("lvl"),
        element_at(f.keys, col("lvl0") + 1).as("bkey"))
  }

  /** The index build over DISTINCT signatures: (sig, band, lvl, bkey),
    * one row per signature per band, in one shuffle.
    */
  def keys(f: Family, sigs: DataFrame, maxDf: Int): DataFrame = {
    checkCap(maxDf)
    chooseLevels(f, levelRows(f, perBand(f, sigs)), maxDf)
  }

  /** Drops pairs failing the family's pair check, adding `hamming`. */
  private def checked(f: Family, p: DataFrame): DataFrame =
    f.maxHamming.fold(p)(m =>
      p.withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
        .filter(col("hamming") <= m))

  /** The keyed table of an (idCol, sig…) map's DISTINCT signatures,
    * cached: the band self-join reads it twice, and one plan shape lets
    * every consumer in a session (capped pairs, clusters) read the same
    * cache entry.
    */
  private def keyedOnce(f: Family, sigMap: DataFrame, maxDf: Int): DataFrame =
    keys(f, sigMap.select(f.cols: _*).distinct(), maxDf).cachedOnce

  /** Candidate signature pairs (s1 < s2) from the capped band self-join
    * over an (idCol, sig…) map's DISTINCT signatures: the keyed table
    * joined to itself on (band, lvl, bkey).
    */
  def sigPairs(f: Family, sigMap: DataFrame, maxDf: Int): DataFrame = {
    val keyed = keyedOnce(f, sigMap, maxDf)
    probe(f, keyed, keyed).filter(col("s1") < col("s2"))
  }

  /** Id-level (x, y[, hamming]) pairs from an (idCol, sig…) map: the
    * capped signature pairs expanded to every id pair across the two
    * groups, plus every id pair within one signature group. Each id
    * carries one signature, so neither expansion emits duplicates.
    */
  def pairs(f: Family, sigMap: DataFrame, idCol: String, maxDf: Int): DataFrame = {
    val (s, x, y) = (f.sig, s"m1.$idCol", s"m2.$idCol")
    val sp = sigPairs(f, sigMap, maxDf)
    // two expansion joins reference the id→sig map
    val m = sigMap.cachedOnce
    val cross = sp
      .join(m.as("m1"), col("s1") === col(s"m1.$s"))
      .join(m.as("m2"), col("s2") === col(s"m2.$s"))
      .select(least(col(x), col(y)).as("x") +: greatest(col(x), col(y)).as("y") +:
        f.maxHamming.map(_ => col("hamming")).toSeq: _*)
    val intra = m.as("m1")
      .join(m.as("m2"), col(s"m1.$s") === col(s"m2.$s") && col(x) < col(y))
      .select(col(x).as("x") +: col(y).as("y") +:
        f.maxHamming.map(_ => lit(0L).as("hamming")).toSeq: _*)
    cross.unionByName(intra)
  }

  /** Star clustering over the capped pair graph at signature-group
    * level: each group's rep is its min doc_id; a group whose rep has a
    * smaller neighbouring rep points at the smallest such rep (one-step
    * min propagation — chains deliberately NOT transitively merged; the
    * oracles replay the same rule). `docs` is (doc_id, sig) for every
    * doc to label — a doc whose sig is null or unknown to `sigMap`
    * (doc_id, sig…) is its own singleton cluster. Output: (doc_id,
    * cluster_id, keep) ordered by doc_id, keep = 1 iff doc_id ==
    * cluster_id.
    *
    * A family without a pair check needs no pairs: a signature's
    * neighbours are exactly the other members of its buckets, so its
    * cluster id is the min over its buckets of the bucket's min rep (a
    * window over (band, lvl, bkey) of the keyed table). A family with a
    * pair check orients each checked [[sigPairs]] pair by rep order.
    */
  def clusters(f: Family, docs: DataFrame, sigMap: DataFrame, maxDf: Int): DataFrame = {
    val s = f.sig
    val groups = sigMap.groupBy(col(s)).agg(min(col("doc_id")).as("rep"))
    val clusterIds = if (f.maxHamming.isEmpty)
      keyedOnce(f, sigMap, maxDf).join(groups, Seq(s))
        .withColumn("root", min(col("rep")).over(
          Window.partitionBy(col("band"), col("lvl"), col("bkey"))))
        .groupBy(col(s)).agg(min(col("root")).as("cluster_id"))
    else {
      // groups: referenced by the rep joins and the final assignment
      val g = groups.cachedOnce
      // the larger rep's group gets a root candidate — min over
      // candidates is the cluster id
      val roots = sigPairs(f, sigMap, maxDf)
        .join(g.as("g1"), col("s1") === col(s"g1.$s"))
        .join(g.as("g2"), col("s2") === col(s"g2.$s"))
        .select(
          when(col("g1.rep") < col("g2.rep"), col("s2")).otherwise(col("s1")).as(s),
          least(col("g1.rep"), col("g2.rep")).as("cand"))
        .groupBy(col(s)).agg(min(col("cand")).as("root"))
      g.join(roots, Seq(s), "left")
        .select(col(s), coalesce(col("root"), col("rep")).as("cluster_id"))
    }
    docs.join(clusterIds, Seq(s), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** The all-level offer of DISTINCT query signatures: each one's key
    * at EVERY level, as keyed-table rows (sig, band, lvl, bkey) for
    * [[probe]]. The index stores each (sig, band) bucket at the ONE
    * level its df fit, so the (band, lvl, bkey) equi-join picks out
    * exactly the stored bucket, and an identical signature collides at
    * every level. Candidate volume is bounded by
    * bands·levels·|query sigs|·maxDf regardless of index size.
    */
  def offers(f: Family, querySigs: DataFrame): DataFrame =
    levelRows(f, perBand(f, querySigs))
      .select(col(f.sig), col("band"), col("j").cast("long").as("lvl"), col("key").as("bkey"))

  /** The one pair join: query rows (sig, band, lvl, bkey) against a
    * keyed table, as distinct (s1 = query sig, s2 = indexed sig
    * [, hamming]) pairs through the family's pair check. Query rows are
    * [[offers]] for signatures outside the index, or the index's own
    * rows for signatures inside it (sharing a level-k key forces the
    * same level, so an indexed signature meets exactly its band-join
    * partners).
    */
  def probe(f: Family, queryKeys: DataFrame, keyed: DataFrame): DataFrame =
    checked(f, queryKeys.as("a")
      .join(keyed.as("b"), col("a.band") === col("b.band") &&
        col("a.lvl") === col("b.lvl") && col("a.bkey") === col("b.bkey"))
      .select(col(s"a.${f.sig}").as("s1"), col(s"b.${f.sig}").as("s2"))
      .distinct())

  /** The ingest gate: per `queries` row (idCol, sig…), `exact_dup` if
    * its signature is in the index, `near_dup` if the probe finds an
    * indexed signature (through the pair check), `unique` otherwise — a
    * null signature is unique. Base-only priors: query-vs-query dups
    * are the batch job's business. Verdicts are a pure function of
    * (row, index), so per-micro-batch evaluation needs no streaming
    * state.
    */
  def gate(f: Family, queries: DataFrame, idCol: String,
           baseSigs: DataFrame, baseKeyed: DataFrame): DataFrame = {
    val s = f.sig
    val near = probe(f, offers(f, queries.select(f.cols: _*).distinct()), baseKeyed)
      .select(col("s1").as(s)).distinct()
      .withColumn("nr", lit(1L))
    queries.select(col(idCol), col(s))
      .join(baseSigs.select(col(s)).distinct().withColumn("ex", lit(1L)), Seq(s), "left")
      .join(near, Seq(s), "left")
      .select(col(idCol),
        when(col("ex").isNotNull, "exact_dup")
          .when(col("nr").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"))
      .withColumn("keep", when(col("verdict") === "unique", 1L).otherwise(0L))
  }

  /** A standing index over a signature set: (distinct signatures,
    * keyed table), both cachedOnce — the refreshable artifact an ingest
    * gate holds between micro-batches.
    */
  def index(f: Family, sigs: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    val d = sigs.select(f.cols: _*).distinct().cachedOnce
    (d, keys(f, d, maxDf).cachedOnce)
  }

  /** Index REFRESH without a rebuild: merge(index(A), B) ≡ index(A ∪ B)
    * EXACTLY (the `dedup_index_merge` and `dedup_simhash_index_merge`
    * oracles state this cross-engine — Spark merges, DuckDB rebuilds
    * from scratch). Closure property: every level-j key refines the
    * level-0 key, so any level-j collision implies a level-0 collision
    * — only level-0 buckets that RECEIVE a new signature can see any df
    * change at any level, and the cohort (every merged signature in a
    * touched level-0 bucket) sees cohort-local dfs equal to global dfs
    * at every level. The merge
    * re-keys exactly the cohort's (sig, band) rows — new members AND
    * standing members a newly-overflowing bucket forces wider — and
    * keeps every other index row verbatim. Nothing pairwise, nothing
    * proportional to untouched-index size beyond one map-only level-0
    * scan.
    *
    * Inputs are [[index]]'s pair plus the batch's signatures (need not
    * be pre-deduped); returns the refreshed pair.
    */
  def merge(f: Family, baseSigs: DataFrame, baseKeyed: DataFrame,
            newSigs: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    checkCap(maxDf)
    val s = f.sig
    val fresh = newSigs.select(f.cols: _*).distinct()
      .join(baseSigs.select(col(s)), Seq(s), "left_anti")
      .cachedOnce
    val mergedSigs = baseSigs.select(f.cols: _*).unionByName(fresh).cachedOnce
    def level0(df: DataFrame) = perBand(f, df).withColumn("key0", element_at(f.keys, 1))
    val touched = level0(fresh).select(col("band"), col("key0")).distinct()
    val cohort = level0(mergedSigs)
      .join(broadcast(touched), Seq("band", "key0"), "left_semi")
      .select(f.cols :+ col("band"): _*)
      .cachedOnce
    val cohortKeyed = chooseLevels(f, levelRows(f, cohort), maxDf)
    val mergedKeyed = baseKeyed
      .join(cohort.select(col(s), col("band")), Seq(s, "band"), "left_anti")
      .unionByName(cohortKeyed)
    (mergedSigs, mergedKeyed)
  }
}
