package graft.tools

import org.apache.spark.sql.functions._

/** One-time sf1 honesty fixture (VERDICT r10 #7): replicate the sf0.1
  * tables ×N into an sf1-shaped directory with REPLICA DECORRELATION.
  * ScaleBench's replication is deliberately adversarial (replicas are
  * near-dups, so dup-mass grows quadratically — the worst case for
  * dedup); an honest sf1 instead has ~10× UNIQUE content at the same
  * dup RATE, so here replica k is decorrelated from its source:
  *
  *  - documents: the text is char-translated by a k-rotated high-
  *    frequency alphabet (most words change → shingle sets diverge →
  *    no synthetic near-dup mass; length and token structure are
  *    preserved, so per-row analysis cost is unchanged)
  *  - embeddings: the vector is circularly shifted by k — a norm-
  *    preserving permutation, so replicas are not synthetic cosine
  *    neighbors but the geometry's scale statistics survive
  *  - events: fresh user/event id spaces per replica (the metric
  *    stream grows in PATHS, as a real fleet would, not in
  *    duplicate slots)
  *
  * Usage: runMain graft.tools.SfScale <srcDir> <dstDir> <copies>
  */
object SfScale {

  private val Rot = "aeiounrstl"
  // the second translation axis (disjoint consonants): replica k
  // rotates Rot by k mod 10 and Rot2 by k / 10, so the (r1, r2) pair
  // is unique per k — without it, k = 10, 20, … would wrap to r = 0
  // and be byte-identical to the source, silently reintroducing the
  // exact-dup mass this fixture exists to avoid (ADVICE r11)
  private val Rot2 = "bcdfghmpwy"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: SfScale <srcDir> <dstDir> <copies>")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    require(copies <= Rot.length * Rot2.length,
      s"SfScale: copies must be <= ${Rot.length * Rot2.length} to stay decorrelated")
    val spark = Harness.session()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { k =>
      if (k == 0) docs
      else {
        val r = k % Rot.length
        val r2 = (k / Rot.length) % Rot2.length
        val to = Rot.drop(r) + Rot.take(r)
        val to2 = Rot2.drop(r2) + Rot2.take(r2)
        docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          translate(translate(col("text"), Rot, to), Rot2, to2).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { k =>
      if (k == 0) emb
      else emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        transform(col("embedding"), (_, i) =>
          element_at(col("embedding"),
            ((i + lit(k)) % size(col("embedding"))) + 1)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val ev = graft.core.Tables.events(spark, src)
    (0 until copies).map { k =>
      if (k == 0) ev
      else ev.select((col("event_id") + lit(k * 1000000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")

    // the relational sides stay verbatim — none of the slow-query set
    // joins them, and the honest-run protocol scales one corpus axis
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    println(s"""{"sfscale":"$dst","copies":$copies}""")
    spark.stop()
  }
}
