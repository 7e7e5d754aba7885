package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.CappedIndex

/** Scale-growth probe for the df-capped candidate generators
  * (SURVEY.md §6): measures, at 1× / 4× / 10× the sf0.1 corpus, the
  * raw vs capped band-bucket density of `dedup_simhash_capped` and the
  * raw vs capped shingle-df fan-out of `dedup_ngram_jaccard_capped` —
  * turning the "per-bucket work is bounded regardless of corpus size"
  * argument from arithmetic into measurement.
  *
  * The scaled corpora derive from the driver's own documents table:
  * replica k keeps the text but appends two replica-specific tokens,
  * so every replica is a NEAR-duplicate of its original (a handful of
  * simhash bits flip, most bands collide) — distinct-signature volume
  * and bucket density both really grow, which is the adversarial case
  * for the cap. No synthetic distribution is invented.
  */
object ScaleProbe {

  // shared with ScaleBench so volume counts and wall-times describe the
  // SAME corpus
  private[tools] def scaled(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { k =>
      if (k == 0) docs.select(col("doc_id"), col("text"))
      else docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" rep$k v${k}x")).as("text"))
    }.reduce(_ unionByName _)

  private def pairSum(dfCol: String): org.apache.spark.sql.Column =
    sum(col(dfCol) * (col(dfCol) - 1) / 2).cast("long")

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val maxDf = graft.ops.LlmQueries.SimhashMaxDf
    val jMaxDf = graft.ops.LlmQueries.JaccardMaxDf
    val base = graft.core.Tables.documents(spark, dir)

    for (copies <- Seq(1, 4, 10)) {
      val docs = scaled(base, copies).cache()
      val nDocs = docs.count()

      // ---- simhash band buckets: raw level-0 vs capped ----
      val sigs = graft.dedup.Dedup.simhash(spark, docs)
        .select("simhash").distinct().cache()
      val nSigs = sigs.count()
      val raw = sigs.crossJoin(broadcast(spark.range(4).toDF("band")))
        .select(expr(graft.dedup.Dedup.simhashKeyExpr(0)).as("key"), col("band"))
        .groupBy("band", "key").agg(count(lit(1)).as("df"))
        .agg(max("df").as("max_df"), pairSum("df").as("pairs"))
        .head()
      val capped = CappedIndex.keys(CappedIndex.SimHash, sigs, maxDf)
        .groupBy("band", "lvl", "bkey").agg(count(lit(1)).as("df"))
        .agg(max("df").as("max_df"), pairSum("df").as("pairs"))
        .head()

      // ---- minhash band buckets: raw PER-DOC rows vs capped distinct
      // sigs (VERDICT r5 #1 — the dup-heavy blowup is the per-doc band
      // join; the capped keying collapses an N-doc dup group to one row
      // and re-keys hot buckets with extra signature slots) ----
      val mhRaw = graft.dedup.Dedup.minhashBands(docs)
        .groupBy("band", "bh").agg(count(lit(1)).as("df"))
        .agg(max("df").as("max_df"), pairSum("df").as("pairs"))
        .head()
      val mhSigs = graft.dedup.Dedup.minhashSigRows(docs)
        .select(col("mh"), graft.dedup.Dedup.minhashSigKey.as("sk"))
        .dropDuplicates("sk").cache()
      val nMhSigs = mhSigs.count()
      val mhCapped = CappedIndex.keys(CappedIndex.MinHash, mhSigs, maxDf)
        .groupBy("band", "lvl", "bkey").agg(count(lit(1)).as("df"))
        .agg(max("df").as("max_df"), pairSum("df").as("pairs"))
        .head()

      // ---- substring 50-grams: raw df fan-out vs df<=cap kept ----
      // (replicas share every original 50-gram, so gram df ≈ copies:
      // the cap binds at copies > maxDf and sheds the whole replica
      // family as boilerplate — the documented drop-only semantics)
      val sw = graft.ops.LlmQueries.SubstrW
      val sCap = graft.ops.LlmQueries.SubstrMaxDf
      val sub = graft.dedup.Dedup.docShingles(docs, sw)
        .select(col("doc_id"), graft.text.TextFns.h60(col("shingle")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df")).cache()
      val sRaw = sub.agg(max("df").as("max_df"), pairSum("df").as("pairs")).head()
      val sCapped = sub.filter(col("df") <= sCap)
        .agg(coalesce(max("df"), lit(0L)).as("max_df"),
          coalesce(pairSum("df"), lit(0L)).as("pairs")).head()

      // ---- jaccard shingles (the operator's own table): raw df
      // fan-out vs df<=cap kept ----
      val shd = graft.dedup.Dedup.docShingles(docs)
        .groupBy("shingle").agg(count(lit(1)).as("df")).cache()
      val jRaw = shd.agg(max("df").as("max_df"), pairSum("df").as("pairs")).head()
      val jCap = shd.filter(col("df") <= jMaxDf)
        .agg(max("df").as("max_df"), pairSum("df").as("pairs")).head()

      println(s"""{"copies":$copies,"docs":$nDocs,"distinct_sigs":$nSigs,""" +
        s""""simhash_raw_max_bucket":${raw.getLong(0)},"simhash_raw_pairs":${raw.getLong(1)},""" +
        s""""simhash_capped_max_bucket":${capped.getLong(0)},"simhash_capped_pairs":${capped.getLong(1)},""" +
        s""""minhash_distinct_sigs":$nMhSigs,""" +
        s""""minhash_raw_max_bucket":${mhRaw.getLong(0)},"minhash_raw_pairs":${mhRaw.getLong(1)},""" +
        s""""minhash_capped_max_bucket":${mhCapped.getLong(0)},"minhash_capped_pairs":${mhCapped.getLong(1)},""" +
        s""""jaccard_raw_max_df":${jRaw.getLong(0)},"jaccard_raw_pairs":${jRaw.getLong(1)},""" +
        s""""jaccard_capped_max_df":${jCap.getLong(0)},"jaccard_capped_pairs":${jCap.getLong(1)},""" +
        s""""substr_raw_max_df":${sRaw.getLong(0)},"substr_raw_pairs":${sRaw.getLong(1)},""" +
        s""""substr_capped_max_df":${sCapped.getLong(0)},"substr_capped_pairs":${sCapped.getLong(1)}}""")
      docs.unpersist(); sigs.unpersist(); shd.unpersist(); sub.unpersist()
      mhSigs.unpersist()
    }
    spark.stop()
  }
}
