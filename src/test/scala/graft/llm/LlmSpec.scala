package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.{CappedIndex, Dedup}
import graft.similarity.Ann
import graft.text.{Analysis, TextFns}

/** Specs for the LLM-pipeline operators (SURVEY.md §2.F) on tiny
  * hand-computed inputs.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("h60 matches the portable md5 definition") {
    // ('0x'||substr(md5('hello'),1,15))::BIGINT in DuckDB
    val v = Seq("hello").toDF("s").select(TextFns.h60(col("s"))).head.getLong(0)
    assert(v == 419982666956583591L)
  }

  def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (3L, "completely different words entirely unrelated content here now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per content hash (F1)") {
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 2L), (1L, 1L), (3L, 1L)))
  }

  test("repetition: phrase loops caught, short docs score 0 (F8b)") {
    import spark.implicits._
    val rdocs = Seq(
      (0L, "spam spam spam spam spam spam"), // 1 distinct 2-gram of 5, 1 of 4
      (1L, "one two three four five six"),   // all shingles distinct
      (2L, "ab"),                            // too short for any shingle
      (3L, "buy now buy now buy now")        // 2 distinct 2-grams of 5, 2 of 4
    ).toDF("doc_id", "text")
    val out = Analysis.repetition(rdocs).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 0.8, 0.75), (1L, 0.0, 0.0), (2L, 0.0, 0.0), (3L, 0.6, 0.5)))
    // null text → null scores (NOT 0.0, which would read as "clean")
    val nul = Analysis.repetition(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text")).head
    assert(nul.isNullAt(2) && nul.isNullAt(3))
  }

  test("decontamination: planted overlap found, df-capped and sub-threshold dropped (F15)") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta different tail entirely here"), // 6-token overlap with eval 100 → 2 shingles
      (2L, "unrelated words that share nothing with the benchmark suite"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa") // exact copy of eval 100's text
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("eval_id", "text")
    val out = Dedup.decontaminate(corpus, eval, n = 5, minHits = 3, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 0 and 3 share all 6 five-gram shingles with the eval doc;
    // doc 1's 2-shingle overlap is below minHits; doc 2 has none
    assert(out.toSeq == Seq((0L, 100L, 6L), (3L, 100L, 6L)))
    // a df cap below the planted dup count kills even exact overlap:
    // every shared shingle sits in 3 corpus docs (0, 1 partially, 3)
    val capped = Dedup.decontaminate(corpus, eval, n = 5, minHits = 1, maxDf = 1)
    assert(capped.count() == 0)
  }

  test("ngram jaccard finds near-dups via shingle join (F2)") {
    val out = Dedup.ngramJaccard(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 9 tokens → 7 shingles; docs 0/1 share 6 of 8 distinct → 0.75
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(out.find(t => t._1 == 0L && t._2 == 2L).get._3 == 1.0)
    assert(math.abs(out.head._3 - 0.75) < 1e-9)
  }

  test("df-capped jaccard equals exact at high cap, subsets at low cap (F2)") {
    val exact = Dedup.ngramJaccard(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val highCap = Dedup.ngramJaccardCapped(docs, 0.5, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highCap == exact)
    val lowCap = Dedup.ngramJaccardCapped(docs, 0.5, maxDf = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lowCap.subsetOf(exact))
  }

  test("capped jaccard recall vs exact on real documents (F2-capped)") {
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccard(d, graft.ops.LlmQueries.JaccardTau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardCapped(d, graft.ops.LlmQueries.JaccardTau,
      graft.ops.LlmQueries.JaccardMaxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact)) // dropping shingles only under-counts
    val recall = (exact & capped).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall too low (${capped.size}/${exact.size})")
  }

  // planted-span corpus for F16: a verbatim `n`-token span embedded in
  // otherwise disjoint 100-token contexts
  private def spanDocs(spanLen: Int) = {
    val span = (0 until spanLen).map(i => s"s$i").mkString(" ")
    Seq(
      (0L, ((0 until 100).map(i => s"a$i") :+ span).mkString(" ")),
      (1L, (span +: (0 until 100).map(i => s"b$i")).mkString(" ")),
      (2L, (0 until 100).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  test("substring dedup: planted 50-token span found at the exact boundary (F16)") {
    // 50-token shared span → exactly ONE shared 50-gram
    val hit = Dedup.substringPairs(spanDocs(50), w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hit.toSeq == Seq((0L, 1L, 1L)))
    // 49-token span → no shared 50-gram → no pair (the boundary is exact)
    assert(Dedup.substringPairs(spanDocs(49), w = 50, maxDf = 5).isEmpty)
    // 60-token span → 11 shared 50-grams (span_len - w + 1)
    val wide = Dedup.substringPairs(spanDocs(60), w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(wide.toSeq == Seq((0L, 1L, 11L)))
  }

  test("substring dedup catches the span-overlap mode jaccard misses (F16 vs F2)") {
    // 150-token docs sharing a 50-token span: 3-gram jaccard ≈ 0.19,
    // far below τ=0.8 — the Lee-et-al mode the jaccard family misses
    val d = spanDocs(50)
    assert(Dedup.ngramJaccard(d, graft.ops.LlmQueries.JaccardTau).isEmpty)
    assert(Dedup.substringPairs(d,
      graft.ops.LlmQueries.SubstrW, graft.ops.LlmQueries.SubstrMaxDf).count() == 1)
  }

  test("substring df cap drops boilerplate spans, keeps rare ones (F16)") {
    val span = (0 until 50).map(i => s"s$i").mkString(" ")
    // the same 50-token "header" planted in 7 docs → gram df = 7
    val boiler = (0L until 7L).map(k =>
      (k, (span +: (0 until 100).map(i => s"t${k}_$i")).mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.substringPairs(boiler, w = 50, maxDf = 5).isEmpty)
    val uncapped = Dedup.substringPairs(boiler, w = 50, maxDf = 100).collect()
    assert(uncapped.length == 21) // all 7·6/2 pairs once the cap lifts
  }

  test("substring span extraction recovers exact planted span lengths (F16s)") {
    // single 60-token span → max_span exactly 60
    val s60 = Dedup.substringSpans(spanDocs(60), w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(s60.toSeq == Seq((0L, 1L, 60L)))
    // exactly-50-token span → max_span exactly 50 (boundary)
    val s50 = Dedup.substringSpans(spanDocs(50), w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(s50.toSeq == Seq((0L, 1L, 50L)))
    // TWO disjoint 55-token spans in different diagonals → max is one
    // span's length (55), not their sum
    val spanA = (0 until 55).map(i => s"p$i").mkString(" ")
    val spanB = (0 until 55).map(i => s"q$i").mkString(" ")
    val two = Seq(
      (0L, (Seq(spanA) ++ (0 until 30).map(i => s"a$i") ++ Seq(spanB)).mkString(" ")),
      (1L, (Seq(spanB) ++ (0 until 70).map(i => s"b$i") ++ Seq(spanA)).mkString(" "))
    ).toDF("doc_id", "text")
    val st = Dedup.substringSpans(two, w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(st.toSeq == Seq((0L, 1L, 55L)))
  }

  test("substring scrub: non-keepers lose exactly the shared span (F16x)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "a b c d e f g h"),       // min doc: keeps every copy
      (1L, "x y a b c d z q"),       // shares the 4-token span "a b c d"
      (2L, "a b q r s t"),           // only a sub-w 2-token overlap
      (3L, "a b c d e f g h")        // verbatim copy: fully scrubbed
    ).toDF("doc_id", "text")
    val out = Dedup.substringScrub(docs, 3, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 8L, 0L, md5hex("a b c d e f g h")),
      (1L, 8L, 4L, md5hex("x y z q")),
      (2L, 6L, 0L, md5hex("a b q r s t")),
      (3L, 8L, 8L, md5hex(""))))
    // a df cap below the span's replication kills the cut entirely
    // (boilerplate by the capped-family contract)
    val capped = Dedup.substringScrub(docs, 3, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(capped.forall(_._2 == 0L))
  }

  test("substring clusters: keep/drop consistent with the pair graph (F16k)") {
    val d = spanDocs(50)
    val out = Dedup.substringClusters(d, w = 50, maxDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 0-1 pair → both in cluster 0; doc 2 isolated keeps itself
    assert(out.toSeq == Seq((0L, 0L, 1L), (1L, 0L, 0L), (2L, 2L, 1L)))
  }

  test("minhash LSH surfaces exact and near dups, not unrelated docs (F3)") {
    val out = Dedup.minhashLsh(spark, docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((0L, 2L))) // identical docs agree on every band
    assert(!out.exists(t => t._1 == 3L || t._2 == 3L))
  }

  test("incremental dedup: verdicts by arrival rule, base never self-pairs (F36)") {
    // base: two docs, themselves mutual duplicates (they must NOT
    // affect incoming verdicts — only incoming rows appear in output)
    val base = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"),
      (102L, "one two three four five six seven")).toDF("doc_id", "text")
    val incoming = Seq(
      (4L, "alpha beta gamma delta epsilon zeta"),   // exact copy of base
      (8L, "quick brown fox jumps over the dog"),    // novel, first arrival
      (12L, "quick brown fox jumps over the dog"),   // copy of 8 → exact_dup
      (16L, "completely different content here now"),// novel
      (20L, "xx")).toDF("doc_id", "text")            // < 3 tokens: no signature
    val out = Dedup.minhashIncremental(spark, base, incoming, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(out.map(_._1) == List(4L, 8L, 12L, 16L, 20L)) // one row per incoming doc
    val v = out.map(t => t._1 -> t._2).toMap
    assert(v(4L) == "exact_dup")   // signature exists in base
    assert(v(8L) == "unique")      // first arrival of its signature
    assert(v(12L) == "exact_dup")  // earlier incoming doc 8 owns the sig
    assert(v(16L) == "unique")
    assert(v(20L) == "unique")     // unsignable → singleton rule
    assert(out.forall(t => (t._3 == 1L) == (t._2 == "unique")))
    // real-corpus invariants at sf0.001: exact verdicts replay the
    // signature-group arithmetic; near verdicts are backed by a capped
    // pair in the full-corpus graph (the drop-only subset contract)
    val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = all.filter($"doc_id" % 4 =!= 0)
    val i = all.filter($"doc_id" % 4 === 0)
    val inc = Dedup.minhashIncremental(spark, b, i, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val pairs = Dedup.minhashLshCapped(spark, all, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val paired = (pairs.map(_._1) ++ pairs.map(_._2)).toSet
    val nears = inc.filter(_._2 == "near_dup").keySet
    assert(nears.forall(paired.contains),
      s"near_dup docs without a capped-graph pair: ${nears.filterNot(paired.contains)}")
    assert(inc.values.toSet.intersect(Set("exact_dup", "unique")).size == 2,
      "expected both exact dups and uniques on the real corpus")
  }

  test("epoch order: deterministic, repartition-invariant, epoch-salted (F39)") {
    val docs = (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, epoch: Int) =
      graft.ops.Sampling.epochOrder(df, epoch, 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e1 = run(docs, 1)
    assert(e1.map(_._1).toSet == (0L until 200L).toSet) // every doc exactly once
    // positions are a 1..count permutation within each bucket
    e1.groupBy(_._2).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.size).toSeq)
    }
    // partition-count independence: the order is a pure function of ids
    assert(e1.sortBy(_._1).toSeq == run(docs.repartition(7), 1).sortBy(_._1).toSeq)
    // epoch salting decorrelates consecutive epochs
    assert(e1.sortBy(_._1).map(t => (t._2, t._3)).toSeq !=
      run(docs, 2).sortBy(_._1).map(t => (t._2, t._3)).toSeq)
    // no empty shard at 25 docs/bucket
    assert(e1.map(_._2).distinct.size == 8)
  }

  test("global line dedup: min doc keeps, others cut, witness md5 (F38)") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "nav\nA\nB"),   // owns nav and A (min doc)
      (1L, "nav\nC"),      // nav cut
      (2L, "A\nnav\nD\nA"),// nav + both A copies cut (inter-doc rule)
      (3L, "E\nE")         // intra-doc repeat only: df=1, both kept
    ).toDF("doc_id", "text")
    val out = graft.text.Analysis.lineDedupScrub(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toList == List(
      (0L, 3L, 0L, md5hex("nav\nA\nB")),
      (1L, 2L, 1L, md5hex("C")),
      (2L, 4L, 3L, md5hex("D")),
      (3L, 2L, 0L, md5hex("E\nE"))))
  }

  test("hamming search: ranked top-k, id tie-break, exact survives df-widening (F34)") {
    // all sigs agree on bands 1-3 (bits 15+ zero), so at a generous cap
    // every base sig is a candidate and the result IS brute force
    val base = Seq((10L, 0L), (11L, 1L), (9L, 2L), (12L, 3L), (13L, 7L),
      (14L, 4095L)).toDF("match_id", "simhash")
    val queries = Seq((100L, 0L)).toDF("q_id", "simhash")
    val out = Dedup.hammingSearch(spark, base, queries, 3, 6, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toList == List(
      (100L, 10L, 0L, 1L), // exact
      (100L, 9L, 1L, 2L),  // hamming 1 tie: smaller match_id ranks first
      (100L, 11L, 1L, 3L)))
    // τ cuts: sig 4095 (hamming 12) never surfaces even with room in k
    val all = Dedup.hammingSearch(spark, base, queries, 10, 6, 64).collect()
    assert(all.length == 5 && all.forall(_.getLong(2) <= 6))
    // maxDf=1 widens every shared bucket to a level whose extension
    // bits differ; the all-level probe still finds the IDENTICAL
    // signature (an exact match collides at every level, G14 property)
    val capped = Dedup.hammingSearch(spark, base, queries, 10, 6, 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(capped.contains((10L, 0L)))
  }

  test("hamming index merge equals rebuild; idempotent; overflow re-keys wider (F41)") {
    val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sim = Dedup.simhash(spark, all)
    val s1 = sim.filter($"doc_id" % 4 =!= 0).select($"simhash")
    val s2 = sim.filter($"doc_id" % 4 === 0).select($"simhash")
    def keyedSet(df: org.apache.spark.sql.DataFrame) =
      df.select("simhash", "band", "lvl", "bkey").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    for (cap <- Seq(64, 1)) {
      val (bS, bK) = Dedup.hammingIndex(spark, s1, cap)
      val bKeyed = keyedSet(bK)
      val (mS, mK) = Dedup.hammingIndexMerge(spark, bS, bK, s2, cap)
      val (rS, rK) = Dedup.hammingIndex(spark, sim.select($"simhash"), cap)
      assert(keyedSet(mK) == keyedSet(rK), s"merge != rebuild at cap $cap")
      assert(mS.collect().map(_.getLong(0)).toSet ==
        rS.collect().map(_.getLong(0)).toSet)
      // idempotence: folding the same batch again is a no-op
      val (_, iK) = Dedup.hammingIndexMerge(spark, mS, mK, s2, cap)
      assert(keyedSet(iK) == keyedSet(mK), s"re-merge not idempotent at cap $cap")
      if (cap == 1) {
        // a newly-overflowing bucket must re-key at least one STANDING
        // (base) row to a wider level
        val bLvl = bKeyed.map(t => (t._1, t._2) -> t._3).toMap
        val widened = keyedSet(mK).filter(t =>
          bLvl.get((t._1, t._2)).exists(_ < t._3))
        assert(widened.nonEmpty, "cap-1 merge widened no standing row")
      }
    }
  }

  test("hamming gate: exact/near/unique verdicts against the standing index (G15)") {
    val base = Seq((10L, 0L), (11L, 1024L)).toDF("match_id", "simhash")
    val (sv, keyed) = Dedup.hammingIndex(spark, base.select($"simhash"), 64)
    val queries = Seq(
      (100L, 0L),      // identical signature → exact_dup
      (101L, 3L),      // hamming 2 from sig 0 → near_dup
      (102L, 65535L)   // ≥ 15 from every base sig → unique
    ).toDF("q_id", "simhash")
    val out = Dedup.hammingGateRows(spark, queries, sv, keyed, 6).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sortBy(_._1)
    assert(out == List((100L, "exact_dup", 0L), (101L, "near_dup", 0L),
      (102L, "unique", 1L)))
  }

  test("index merge equals rebuild; overflow re-keys standing rows (F37)") {
    val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val d1 = all.filter($"doc_id" % 4 =!= 0)
    val d2 = all.filter($"doc_id" % 4 === 0)
    def keyedSet(df: org.apache.spark.sql.DataFrame) =
      df.select("sk", "band", "lvl", "bkey").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
    for (cap <- Seq(64, 1)) {
      val (bSigs, bKeyed) = Dedup.incrementalIndex(spark, d1, cap)
      val (mSigs, mKeyed) = Dedup.indexMerge(spark, bSigs, bKeyed,
        Dedup.distinctSigs(d2), cap)
      val (rSigs, rKeyed) = Dedup.incrementalIndex(spark, all, cap)
      // the closure theorem: folding day 2 in ≡ rebuilding from scratch
      assert(keyedSet(mKeyed) == keyedSet(rKeyed), s"merge != rebuild at cap $cap")
      assert(mSigs.select("sk").collect().map(_.getString(0)).toSet ==
        rSigs.select("sk").collect().map(_.getString(0)).toSet)
      if (cap == 1) {
        // the interesting path must actually fire: at a tight cap some
        // STANDING row is forced to a wider level by the new arrivals
        val before = bKeyed.collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        val after = keyedSet(mKeyed)
          .map(t => (t._1, t._2) -> t._3).toMap
        val widened = before.filter { case (k, lvl) =>
          after.get(k).exists(_ > lvl) }
        assert(widened.nonEmpty, "expected at least one standing row re-keyed wider")
      }
      // idempotence: merging sigs the index already holds is a no-op
      val (iSigs, iKeyed) = Dedup.indexMerge(spark, rSigs, rKeyed,
        Dedup.distinctSigs(d2), cap)
      assert(keyedSet(iKeyed) == keyedSet(rKeyed))
      assert(iSigs.count() == rSigs.count())
    }
  }

  test("simhash: identical docs at hamming 0, unrelated docs excluded (F4)") {
    val out = Dedup.simhashPairs(spark, docs, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.find(t => t._1 == 0L && t._2 == 2L).get._3 == 0L)
    assert(!out.exists(t => t._1 == 3L || t._2 == 3L))
  }

  test("capped simhash equals exact at high cap, subsets at low cap (F4-capped)") {
    val exact = Dedup.simhashPairs(spark, docs, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val highCap = Dedup.simhashPairsCapped(spark, docs, 6, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(highCap == exact)
    val lowCap = Dedup.simhashPairsCapped(spark, docs, 6, maxDf = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lowCap.subsetOf(exact)) // widening only drops candidates
    // identical-sig pairs survive ANY cap (intra-group expansion)
    assert(lowCap.contains((0L, 2L, 0L)))
  }

  test("capped simhash recall vs exact on real documents (F4-capped)") {
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.simhashPairs(spark, d, graft.ops.LlmQueries.SimhashMaxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhashPairsCapped(spark, d,
      graft.ops.LlmQueries.SimhashMaxHamming, graft.ops.LlmQueries.SimhashMaxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact)) // band widening only under-counts
    val recall = (exact & capped).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall too low (${capped.size}/${exact.size})")
    // the keep/drop signal: every doc that has an exact-F4 dup still has one
    val exactDocs = exact.flatMap(p => Seq(p._1, p._2))
    val cappedDocs = capped.flatMap(p => Seq(p._1, p._2))
    val cover = (exactDocs & cappedDocs).size.toDouble / exactDocs.size
    assert(cover >= 0.95, s"doc coverage $cover too low")
  }

  test("widening keys: nested prefixes, level-9 injective per band (F3c, F4-capped)") {
    // the df-monotonicity and termination arguments of CappedIndex rest
    // on these two invariants of both schedules, simhashKeyExpr and
    // minhashKeySlots
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(42)
    val sigs = Seq.fill(2000)(rnd.nextLong() & ((1L << 60) - 1)).distinct
    val df = sigs.toDF("simhash").crossJoin(
      spark.range(4).toDF("band")).select(
      col("simhash") +: col("band") +:
        (0 to Dedup.simhashWidenLevels).map(j =>
          expr(Dedup.simhashKeyExpr(j)).as(s"k$j")): _*).cache()
    // nesting: k_j is k_{j+1} masked to its width → buckets only refine
    val nested = (0 until Dedup.simhashWidenLevels).map(j =>
      df.filter(col(s"k$j") =!= (col(s"k${j + 1}")
        .bitwiseAND(lit((1L << (15 + 5 * j)) - 1)))).count())
    assert(nested.forall(_ == 0L), s"nesting violated: $nested")
    // level 9 carries all 60 bits: (band, k9) is injective over sigs
    val n9 = df.select(col("band"), col(s"k${Dedup.simhashWidenLevels}")).distinct().count()
    assert(n9 == 4L * sigs.length)
    df.unpersist()
    // MinHash: slot lists are nested prefixes — the property
    // CappedIndex.MinHash's single dynamic slice relies on
    val (nb, n) = (Dedup.minhashNBands, Dedup.minhashWidenLevels)
    for (b <- 0 until nb; j <- 0 to n)
      assert(Dedup.minhashKeySlots(b, j) == Dedup.minhashKeySlots(b, n).take(3 + j),
        s"band $b level $j")
    // level 9 covers all 12 slots: (band, k9) is injective over sigs
    // (slot values from a small range, so sigs share most band keys)
    val mhs = Seq.fill(2000)(Seq.fill(Dedup.minhashParams.size)(rnd.nextInt(8).toLong)).distinct
    val mk9 = mhs.toDF("mh")
      .select(col("mh"), explode(array((0 until nb).map(lit(_)): _*)).as("band"))
      .select(col("band"), CappedIndex.MinHash.key(n).as("k9"))
    assert(mk9.distinct().count() == nb.toLong * mhs.length)
  }

  test("capped entry points reject maxDf < 1 loudly (F3c, F4-capped, F20)") {
    // maxDf = 0 would null every bucket's level choice and silently
    // drop all candidates; every capped entry point must refuse it
    import graft.multimodal.{BinaryPipeline, ImageDedup}
    val d = docs
    val sims = Dedup.simhash(spark, d).select($"doc_id".as("match_id"), $"simhash")
    val queries = sims.select($"match_id".as("q_id"), $"simhash")
    val (mSigs, mKeyed) = Dedup.incrementalIndex(spark, d, 64)
    val (hSigs, hKeyed) = Dedup.hammingIndex(spark, sims.select($"simhash"), 64)
    val calls: Seq[(String, () => Any)] = Seq(
      "minhashClusters" -> (() => Dedup.minhashClusters(spark, d, 0)),
      "minhashIncremental" -> (() => Dedup.minhashIncremental(spark, d, d, 0)),
      "indexMerge" -> (() => Dedup.indexMerge(spark, mSigs, mKeyed, mSigs, 0)),
      "simhashClusters" -> (() => Dedup.simhashClusters(spark, d, 6, 0)),
      "hammingSearch" -> (() => Dedup.hammingSearch(spark, sims, queries, 3, 6, 0)),
      "hammingIndexMerge" -> (() => Dedup.hammingIndexMerge(spark, hSigs, hKeyed, hSigs, 0)),
      "phashPairs" -> (() => ImageDedup.phashPairs(spark,
        spark.emptyDataset[BinaryPipeline.MediaRecord], 6, 0)))
    try for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("maxDf must be >= 1 (got 0)"), s"$name: ${e.getMessage}")
    } finally spark.catalog.clearCache()
  }

  test("capped simhash keying: hard per-bucket df bound under adversarial collisions (F4c)") {
    // low 45 bits (bands 0-2) drawn from THREE values → those bands'
    // level-0 buckets hold ~n/3 sigs each; top 15 bits random → level-9
    // injective. The widening must drive every bucket to df ≤ cap.
    val rnd = new scala.util.Random(7)
    val lows = Array(0x1234L, 0x777L, 0x2AAAL)
    val sigs = (0 until 500).map { _ =>
      lows(rnd.nextInt(3)) | ((rnd.nextLong() & 0x7FFFL) << 45)
    }.distinct.toDF("simhash")
    val nSigs = sigs.count()
    val maxDf = 4
    val keyed = CappedIndex.keys(CappedIndex.SimHash, sigs, maxDf)
    val hottest = keyed.groupBy(col("band"), col("lvl"), col("bkey"))
      .count().agg(max(col("count"))).head.getLong(0)
    assert(hottest <= maxDf, s"bucket of $hottest > cap $maxDf")
    assert(keyed.filter(col("lvl") > 0).count() > 0) // widening engaged
    // every sig keeps all 4 bands (re-keyed, never dropped)
    assert(keyed.count() == 4L * nSigs)
    // drop-only at sig level: capped pairs ⊆ the level-0 band join
    // (= the keying at a cap nothing overflows)
    val capped = CappedIndex.sigPairs(CappedIndex.SimHash.within(60), sigs, maxDf)
      .select(col("s1"), col("s2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = CappedIndex.sigPairs(CappedIndex.SimHash.within(60), sigs, maxDf = 1000000)
      .select(col("s1"), col("s2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(raw))
  }

  test("simhash clusters: one keeper per connected sig group (F4-clusters)") {
    val out = Dedup.simhashClusters(spark, docs, 6, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.length == 4) // every doc gets a decision
    assert(byDoc(0L) == ((0L, 1L))) // rep of the dup group keeps itself
    assert(byDoc(2L) == ((0L, 0L))) // exact dup of 0 drops to cluster 0
    assert(byDoc(3L) == ((3L, 1L))) // unrelated doc is its own keeper
    // doc 1 clusters to 0 iff its sig is a capped candidate of doc 0's
    val paired = Dedup.simhashPairsCapped(spark, docs, 6, maxDf = 1000).collect()
      .exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    if (paired) assert(byDoc(1L) == ((0L, 0L)))
    else assert(byDoc(1L) == ((1L, 1L)))
    // exactly one keeper per cluster id
    val keepers = out.filter(_._3 == 1L).map(_._2)
    assert(keepers.distinct.length == keepers.length)
    assert(out.map(_._2).toSet == keepers.toSet)
  }

  def vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(-1.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force cosine top-k ranks by similarity (F5)") {
    val out = Ann.bruteTopK(vecs.filter($"vec_id" === 0), vecs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L)))
  }

  test("lsh top-k only scores same-bucket candidates (F6)") {
    val out = Ann.lshTopK(vecs.filter($"vec_id" === 0), vecs, 3, 4, 2).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // opposite vector (-1,0) disagrees on every hyperplane sign → excluded
    assert(!out.exists(_._2 == 3L))
    assert(out.nonEmpty && out.head._2 == 1L)
  }

  test("embed cosine near-dup: exact pairs above tau (F13)") {
    // (1,0)·(0.9,0.1)/(1·0.9055) = 0.9939; orthogonal and opposite excluded
    val out = Dedup.embedCosinePairs(vecs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 1L)))
    assert(math.abs(out.head._3 - 0.9939) < 1e-9)
  }

  test("embed cosine LSH pairs: subset of exact with usable recall (F13-scale)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = graft.ops.LlmQueries.EmbedCosineTau
    val exact = Dedup.embedCosinePairs(e, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embedCosineLshPairs(e, tau, 8, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // cosine filter kills false positives
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("embed cosine LSH at near-dup tau: planted duplicates recovered (F13-scale)") {
    // production regime: near-dup tau (>=0.95) with SELECTIVE buckets
    // (64 planes / 4 tables = 16 planes per table -> 65k buckets per
    // table). The synthetic corpus has no true near-dups (max cos
    // ~0.51), so plant one slightly-perturbed copy of every vector.
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val planted = e.select(($"vec_id" + 100000L).as("vec_id"),
      expr("transform(embedding, (v, i) -> cast(v * 1.01f + 0.02f * sin(i) as float))")
        .as("embedding"))
    val pairs = Dedup.embedCosineLshPairs(e.unionByName(planted), 0.95,
      nPlanes = 64, dim = 64, nTables = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nPlantedFound = pairs.count { case (x, y) => y == x + 100000L }
    assert(nPlantedFound >= 450, s"only $nPlantedFound/500 planted pairs found")
  }

  test("lsh recall vs brute force on real embeddings (F6)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteTopK(q, e, 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Ann.lshTopK(q, e, 5, 8, 64).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall $recall too low")
  }

  test("int8 quantization: exact codes, usable recall vs float32 (F25)") {
    // scale = max|x| = 1.0 → codes (127, -64, 32); round(-63.5) away
    // from zero in BOTH engines (Spark HALF_UP, DuckDB round)
    val v = Seq((0L, Array(1.0f, -0.5f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val code = Ann.quantize(v).select($"qcode").head.getSeq[Byte](0)
    assert(code == Seq[Byte](127, -64, 32))
    // a zero vector quantizes to zeros (scale floor), not nulls
    val z = Seq((1L, Array(0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    assert(Ann.quantize(z).select($"qcode").head.getSeq[Byte](0) == Seq[Byte](0, 0))
    // code-space top-k tracks the float32 ranking on real embeddings
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Ann.quantizedTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.8, s"int8 recall $recall vs float32 brute force")
  }

  test("product quantization: hand-checkable codes, ADC recall (F25c)") {
    // dim 4, m=2 (2-dim subspaces), kc=2: codewords are vecs 0 and 1
    //   cw(s=0): j0=[1,0]  j1=[0,1]     cw(s=1): j0=[0,1]  j1=[1,0]
    val v = Seq(
      (0L, Array(1f, 0f, 0f, 1f), 0), (1L, Array(0f, 1f, 1f, 0f), 0),
      (2L, Array(0.9f, 0.1f, 0.95f, 0f), 0), (3L, Array(0.1f, 0.8f, 0f, 0.7f), 0))
      .toDF("vec_id", "embedding", "label")
    val book = Ann.pqCodebook(v, m = 2, kc = 2)
    val codes = Ann.pqEncode(v, book).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    // codewords encode to themselves; 2 and 3 pick the nearest slice
    assert(codes(0L) == Seq[Byte](0, 0) && codes(1L) == Seq[Byte](1, 1))
    assert(codes(2L) == Seq[Byte](0, 1) && codes(3L) == Seq[Byte](1, 0))
    // ADC recall vs float32 brute force on real embeddings
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Ann.pqTopK(q, e, 5, m = 8, kc = 32).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.3, s"pq recall $recall vs float32 brute force")
  }

  test("trained pq codebook: error drops, stable, degenerates to init (F25g)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sample = Ann.pqTrainSample(e, 5000)
    // iters=0 is exactly the slice-init book over the sample — the
    // trained book IS k-means and slice-init is its iteration 0
    val init = Ann.pqCodebookTrained(e, 8, 32, iters = 0, rateBp = 5000)
    val untrained = Ann.pqCodebook(sample, 8, 32)
    assert(init.flatten.map(_.toSeq) == untrained.flatten.map(_.toSeq))
    // Lloyd monotonicity: each iteration cannot increase the training
    // sample's quantization error (assignment and mean steps both
    // minimize it); strict improvement expected on real data
    val trained = Ann.pqCodebookTrained(e, 8, 32, iters = 2, rateBp = 5000)
    val errInit = Ann.pqQuantizationError(sample, init)
    val errTrained = Ann.pqQuantizationError(sample, trained)
    assert(errTrained <= errInit + 1e-9,
      s"trained error $errTrained vs init $errInit")
    assert(errTrained < errInit * 0.95,
      s"expected a real improvement: trained $errTrained vs init $errInit")
    // artifact determinism: the book is a pure function of the id-
    // hashed sample, so repartitioning the corpus cannot change it
    val repart = Ann.pqCodebookTrained(e.repartition(7), 8, 32, 2, 5000)
    assert(trained.flatten.map(_.toSeq) == repart.flatten.map(_.toSeq))
    // trained ADC recall vs float32 brute force: a sanity floor, not a
    // superiority claim — training minimizes subspace MSE, and on this
    // near-isotropic synthetic corpus lower MSE does not monotonically
    // buy top-k recall (measured 0.24 here vs slice-init's 0.30; on
    // clusterable real embeddings the trained book is the FAISS
    // default for a reason)
    val q = e.filter($"vec_id" < 10)
    val brute = Ann.bruteTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqt = Ann.pqTopKTrained(q, e, 5, 8, 32, 2, 5000).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pqt).size.toDouble / brute.size
    assert(recall >= 0.2, s"trained pq recall $recall vs brute force")
  }

  test("ivf+pq tracks full-corpus ADC scoring (F25d)") {
    // same PQ codes and ADC tables, candidates bounded to probed IVF
    // cells — the result should largely coincide with full-scan PQ,
    // and cell restriction must not cost brute-force recall (it prunes
    // far candidates ADC scores optimistically)
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = pairs(Ann.pqTopK(q, e, 5, m = 8, kc = 32))
    val ivfpq = pairs(Ann.ivfTopKPq(q, e, 5, nCentroids = 32, nProbe = 8,
      m = 8, kc = 32))
    val brute = pairs(Ann.bruteTopK(q, e, 5))
    val overlap = (pq & ivfpq).size.toDouble / pq.size
    assert(overlap >= 0.5, s"ivfpq-vs-pq overlap $overlap")
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall >= 0.25, s"ivfpq recall $recall vs float32 brute force")
  }

  test("hybrid RRF: rank-only fusion, absence contributes 0, id tie-break (F40)") {
    val dense = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L)).toDF("q_id", "id", "rk")
    val sparse = Seq((1L, 11L, 1L), (1L, 13L, 2L)).toDF("q_id", "id", "rk")
    val out = Ann.rrfFuse(dense, sparse, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 11 is in both lists: 1/62 + 1/61 beats every single-list score;
    // then dense rank 1 (1/61), sparse rank 2 (1/62), dense rank 3
    assert(out.map(_._3).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(math.abs(out.head._4 -
      math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6) < 1e-9)
    // identical fusion scores order by id ascending
    val d2 = Seq((2L, 21L, 1L)).toDF("q_id", "id", "rk")
    val s2 = Seq((2L, 20L, 1L)).toDF("q_id", "id", "rk")
    assert(Ann.rrfFuse(d2, s2, 2).collect().map(_.getLong(2)).toSeq == Seq(20L, 21L))
    // the composed driver shape returns k valid rows per query on the
    // real corpus, and every row is backed by at least one source list
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val dl = Ann.bruteTopK(e.filter($"vec_id" < 5), e, 5)
      .select($"q_id", $"vec_id".as("id"), $"rk")
    val sl = graft.text.Analysis.keywordOverlapTopK(docs, 5, 5, 5)
      .select($"q_id", $"doc_id".as("id"), $"rk")
    val fused = Ann.rrfFuse(dl, sl, 5).collect()
    assert(fused.groupBy(_.getLong(0)).values.forall(_.length == 5))
    val src = (dl.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      sl.collect().map(r => (r.getLong(0), r.getLong(1)))).toSet
    assert(fused.forall(r => src.contains((r.getLong(0), r.getLong(2)))))
  }

  test("cdc dedup: boundaries from content, insert re-syncs, first copy keeps (F52)") {
    import graft.dedup.Dedup
    import graft.text.TextFns.h60Jvm
    // find real boundary/non-boundary tokens under the driver W
    val cands = (0 until 4000).map(i => s"w$i")
    val bTok = cands.find(t => h60Jvm(t) % Dedup.CdcW == 0).get
    val pTok +: pRest = cands.filter(t => h60Jvm(t) % Dedup.CdcW != 0).take(12).toList: @unchecked
    val plain = pRest.take(8) // 8 non-boundary filler tokens
    // shared tail: boundary token then a chunk of filler
    val tail = s"$bTok ${plain.mkString(" ")}"
    val docA = s"${pTok} ${pTok} $tail"      // prefix of 2 tokens
    val docB = s"${plain(0)} $tail"          // DIFFERENT 1-token prefix
    val docs = Seq((10L, docA), (11L, docB)).toDF("doc_id", "text")
    val out = Dedup.dedupCdc(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getBoolean(5)))
    // both docs split into [prefix..bTok] + [shared 8-token tail]:
    // offsets differ (3-token vs 2-token head) but the boundary is
    // CONTENT-defined, so the tail chunk hashes identically — df 2,
    // first copy (doc 10) keeps, doc 11's copy dedups away
    val byDoc = out.groupBy(_._1)
    assert(byDoc(10L).length == 2 && byDoc(11L).length == 2)
    val tailA = byDoc(10L).maxBy(_._2)
    val tailB = byDoc(11L).maxBy(_._2)
    assert(tailA._4 == tailB._4 && tailA._3 == 8 && tailB._3 == 8)
    assert(tailA._5 == 2 && tailA._6 && !tailB._6)
    // the heads differ → unique chunks, both kept
    val headA = byDoc(10L).minBy(_._2); val headB = byDoc(11L).minBy(_._2)
    assert(headA._4 != headB._4 && headA._5 == 1 && headA._6 && headB._6)
    // trailing-boundary token must NOT mint an empty chunk; a
    // single-token doc is one chunk of itself
    val edge = Seq((1L, s"${plain(1)} $bTok"), (2L, plain(2))).toDF("doc_id", "text")
    val eo = Dedup.dedupCdc(spark, edge).collect()
    assert(eo.count(_.getLong(0) == 1L) == 1 && eo.count(_.getLong(0) == 2L) == 1)
    assert(eo.forall(_.getLong(2) >= 1))
    // corpus-level conservation: chunk token counts cover every token
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val total = Dedup.dedupCdc(spark, corpus)
      .agg(sum($"n_tokens")).collect().head.getLong(0)
    val expect = corpus.select(sum(size(split(lower($"text"), " "))))
      .collect().head.getLong(0)
    assert(total == expect, s"chunk coverage $total vs $expect")
  }

  test("dsir: target-favored docs keep, fixed-point model match, repartition-stable (F53)") {
    import graft.ops.Sampling
    import graft.text.TextFns.h60Jvm
    // the target slice needs real token MASS relative to the add-one
    // smoothing denominator (tt + B), and the raw corpus needs
    // non-target mass — with a toy target every smoothed log-ratio
    // goes negative (measured: a 3-token target scores -0.67 on its
    // own tokens)
    val toks = Map(
      0L -> (Seq.fill(100)("good") ++ Seq.fill(100)("nice")), // target
      1L -> Seq("good", "nice"),             // raw doc resembling the target
      2L -> Seq("spam", "junk", "spam", "junk"),
      3L -> (Seq.fill(100)("spam") ++ Seq.fill(100)("junk"))) // raw bulk
    val docs = toks.toSeq.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.dsirScore(d, $"doc_id" === 0).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val m = run(docs)
    // independent model replaying the published formula
    val B = Sampling.DsirBuckets
    def bkt(t: String) = h60Jvm(t) % B
    val all = toks.values.flatten.toSeq
    val rt = all.size.toLong; val tt = toks(0L).size.toLong
    val rc = all.groupBy(bkt).map { case (k, v) => (k, v.size.toLong) }
    val tc = toks(0L).groupBy(bkt).map { case (k, v) => (k, v.size.toLong) }
    def r0(x: Double) = BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def dfp(b: Long) = r0((math.log((tc.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
      math.log((rc(b) + 1).toDouble / (rt + B))) * 1e6)
    def wfp(id: Long) = toks(id).map(t => dfp(bkt(t))).sum
    assert(wfp(1L) > 0 && wfp(2L) < 0) // target-like keeps, spam drops
    for (id <- Seq(0L, 1L, 2L, 3L)) {
      assert(m(id)._1 == toks(id).size)
      assert(math.abs(m(id)._2 - wfp(id) / 1e6) < 2e-6, s"logw doc $id")
      assert(m(id)._3 == (wfp(id) > 0), s"keep doc $id")
    }
    // the score is a pure function of content — partitioning never moves it
    assert(run(docs.repartition(7)) == m)
  }

  test("bm25: hand-computed scores, self-exclusion, integer-rank order (F50)") {
    import graft.text.{Analysis => A}
    // doc 0 is the query; its top-2 TF-IDF keywords are apple, banana
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana banana durian")).toDF("doc_id", "text")
    val out = A.bm25TopK(docs, queryMax = 1, kw = 2, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // independent model replaying the published formula
    val N = 3.0; val avgdl = 8.0 / 3.0
    def idf(df: Long) = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
    def tfp(tf: Long, dl: Long) =
      tf * (A.Bm25K1 + 1.0) /
        (tf + A.Bm25K1 * (1.0 - A.Bm25B + A.Bm25B * dl / avgdl))
    def fp(terms: Seq[(Long, Long, Long)]) = // (tf, df, dl)
      terms.map { case (tf, df, dl) => math.round(idf(df) * tfp(tf, dl) * 1e6) }.sum
    val d1 = fp(Seq((1L, 2L, 2L)))         // doc 1: apple only
    val d2 = fp(Seq((2L, 2L, 3L)))         // doc 2: banana tf=2
    assert(d2 > d1) // banana's double tf in a 3-token doc outranks
    assert(out.map(_._3).toSeq == Seq(2L, 1L))   // self (doc 0) excluded
    assert(out.map(_._2).toSeq == Seq(1L, 2L))
    assert(math.abs(out(0)._4 - math.rint(d2 / 1e6 * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out(1)._4 - math.rint(d1 / 1e6 * 1e6) / 1e6) < 1e-9)
    // real corpus: k rows per query, ranks 1..k, scores non-increasing
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val byQ = A.bm25TopK(corpus, 5, 5, 5).collect().groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length))
      val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfpq + exact refine: recall never below plain ivfpq; exact order wins (F25j)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Ann.bruteTopK(q, e, 5))
    val plain = Ann.ivfTopKPq(q, e, 5, 32, 8, 8, 32)
    val refined = Ann.ivfTopKPqRefined(q, e, 5, 32, 8, 8, 32, refine = 4)
    // structural validity: k rows per query, rank 1..k
    val byQ = refined.collect().groupBy(_.getLong(0))
    assert(byQ.values.forall(rs => rs.map(_.getLong(1)).sorted.toSeq == (1L to 5L)))
    val rPlain = (brute & pairs(plain)).size.toDouble / brute.size
    val rRef = (brute & pairs(refined)).size.toDouble / brute.size
    info(s"recall vs brute: adc=$rPlain refined=$rRef")
    // exact re-ranking of a 4x shortlist can only fix ADC ordering
    // mistakes inside the probed lists — never fall below plain ADC
    assert(rRef >= rPlain, s"refined $rRef below plain adc $rPlain")
    // within the probed lists the refined ranking IS the exact
    // ranking: every refined hit that brute also probes agrees on cos
    val refCos = refined.collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteCos = Ann.bruteTopK(q, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    refCos.keys.filter(bruteCos.contains).foreach { k =>
      assert(math.abs(refCos(k) - bruteCos(k)) < 1e-9,
        s"$k: refined cos ${refCos(k)} != exact ${bruteCos(k)}")
    }
  }

  test("ivf over the trained book tracks full-scan trained PQ (F25h)") {
    // the composition contract, restated over the trained codewords:
    // cell restriction bounds candidates but must largely agree with
    // the full-scan trained-ADC ranking
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqt = pairs(Ann.pqTopKTrained(q, e, 5, 8, 32, 2, 5000))
    val ivfpqt = pairs(Ann.ivfTopKPqTrained(q, e, 5, nCentroids = 32,
      nProbe = 8, m = 8, kc = 32, iters = 2, rateBp = 5000))
    val overlap = (pqt & ivfpqt).size.toDouble / pqt.size
    assert(overlap >= 0.5, s"trained ivfpq-vs-pq overlap $overlap")
  }

  test("residual ivfpq: valid results, recall A/B vs raw-vector ivfpq (F25i)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Ann.bruteTopK(q, e, 5))
    val raw = pairs(Ann.ivfTopKPqTrained(q, e, 5, 32, 8, 8, 32, 2, 5000))
    val resid = pairs(Ann.ivfTopKPqResidual(q, e, 5, 32, 8, 8, 32, 2, 5000))
    val rRaw = (brute & raw).size.toDouble / brute.size
    val rRes = (brute & resid).size.toDouble / brute.size
    // A/B at equal bytes: on clusterable data residual coding wins by
    // spending bits on in-cell variation; this synthetic corpus is
    // near-isotropic, so assert a floor and that residual is not
    // badly WORSE — and print the honest numbers for the survey
    info(s"recall vs brute: raw=$rRaw residual=$rRes")
    assert(rRes >= 0.2, s"residual ivfpq recall $rRes")
    assert(rRes >= rRaw - 0.15, s"residual $rRes much worse than raw $rRaw")
    // structural validity: exactly one result set per query, k rows
    val rows = Ann.ivfTopKPqResidual(q, e, 5, 32, 8, 8, 32, 2, 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == (1 to rs.size) && rs.size <= 5 })
  }

  test("quantized ivf tracks float ivf on real embeddings (F25b)") {
    // same probes (float coarse assignment), rerank on int8 codes —
    // the result set should almost coincide with float IVF's
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val f = Ann.ivfTopK(q, e, 5, nCentroids = 32, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val qz = Ann.ivfTopKQuantized(q, e, 5, nCentroids = 32, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (f & qz).size.toDouble / f.size
    assert(overlap >= 0.8, s"quantized-vs-float ivf overlap $overlap")
  }

  test("ivf recall vs brute force on real embeddings (F6b)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteTopK(q, e, 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(q, e, 5, nCentroids = 32, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall too low (${ivf.size} candidates)")
    // every result it does return is exactly-scored: cos values match brute
    val bruteCos = Ann.bruteTopK(q, e, 5).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    Ann.ivfTopK(q, e, 5, 32, 8).collect().foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(2)))
        .foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
  }

  test("filtered ivf: predicate holds on every row; full probe IS brute over the filtered set (F42)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val pred = $"label" % 2 === 0
    // the driver shape: every returned neighbor satisfies the predicate
    val res = Ann.ivfTopKFiltered(q, e, 5, nCentroids = 32, nProbe = 8, pred)
    val labelOf = e.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("label").longValue).toMap
    val rows = res.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(labelOf(r.getLong(2)) % 2 == 0,
      s"vec ${r.getLong(2)} violates the filter"))
    // exactness contract: nProbe = nCentroids probes every list, so
    // filtered IVF degenerates to brute-force search over the
    // filtered set — row-for-row equal, scores included
    val full = Ann.ivfTopKFiltered(q, e, 5, 32, nProbe = 32, pred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val brute = Ann.bruteTopK(q, e.filter(pred), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(full == brute, "full-probe filtered IVF must equal filtered brute force")
    // at the driver's probe width, recall vs filtered brute stays usable
    val bruteSet = brute.map(t => (t._1, t._3)).toSet
    val ivfSet = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bruteSet & ivfSet).size.toDouble / bruteSet.size
    assert(recall >= 0.3, s"filtered recall $recall too low")
    // post-filtering an UNFILTERED k-shortlist starves: strictly fewer
    // surviving rows than the pre-filtered search returns (the reason
    // this operator exists)
    val post = Ann.ivfTopK(q, e, 5, 32, 8).collect()
      .filter(r => labelOf(r.getLong(2)) % 2 == 0)
    assert(post.length < rows.length,
      s"post-filter kept ${post.length} rows vs pre-filter ${rows.length}")
  }

  test("mips: reduction theorem holds — augmented cosine order IS dot order; lsh recall (F43)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 10)
    val brute = Ann.mipsBruteTopK(q, e, 5)
    // MIPS sees magnitude where cosine cannot: plant a 3× rescale of
    // query 0's MIPS top-1 — the rescale must take over rank 1 (its
    // dot triples; its cosine is unchanged)
    val top1 = brute.collect().filter(_.getLong(0) == 0L).head
    assert(top1.getDouble(3) > 0, "corpus sanity: top dot must be positive")
    val big = e.filter($"vec_id" === top1.getLong(2)).select(
      lit(900000L).as("vec_id"),
      expr("transform(embedding, v -> cast(v * 3.0f as float))").as("embedding"),
      $"label")
    val planted = Ann.mipsBruteTopK(q, e.unionByName(big), 5).collect()
      .filter(_.getLong(0) == 0L)
    assert(planted.head.getLong(2) == 900000L,
      "3×-rescaled top-1 must outrank its original under MIPS")
    // the reduction theorem, checked end to end: augment the corpus
    // with sqrt(M²−‖x‖²) and queries with 0, rank by COSINE in the
    // augmented space — the (q, vec) result set must be the brute-MIPS
    // set (cos and dp live on different rounding grids, so compare
    // membership, not scores)
    val m2 = e.agg(max(expr(
      "aggregate(zip_with(embedding, embedding, (a, b) -> cast(a as double) * b), 0d, (s, x) -> s + x)"))).head.getDouble(0)
    val aug = e.select($"vec_id",
      concat($"embedding", array(sqrt(lit(m2) -
        graft.functions.FloatDot.dot($"embedding", $"embedding")).cast("float"))).as("embedding"))
    val qaug = q.select($"vec_id", concat($"embedding", array(lit(0.0f))).as("embedding"))
    val viaCosine = Ann.bruteTopK(qaug, aug, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val direct = brute.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(viaCosine == direct,
      "augmented-cosine top-k must equal inner-product top-k")
    // bucketed MIPS: candidates only from augmented-space buckets,
    // exact dot scores (subset soundness), usable recall
    val lsh = Ann.mipsTopKLsh(q, e, 5, 8, 64)
    val bruteScores = brute.collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lshRows = lsh.collect()
    lshRows.foreach { r =>
      bruteScores.get((r.getLong(0), r.getLong(2)))
        .foreach(dp => assert(math.abs(dp - r.getDouble(3)) < 1e-9))
    }
    val recall = (direct & lshRows.map(r => (r.getLong(0), r.getLong(2))).toSet)
      .size.toDouble / direct.size
    assert(recall >= 0.2, s"mips lsh recall $recall too low")
  }

  test("lloyd-refined ivf: recall at least matches the lowest-id codebook (F6c)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteTopK(q, e, 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      (brute & df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / brute.size
    val base = recallOf(Ann.ivfTopK(q, e, 5, nCentroids = 32, nProbe = 8))
    val refined = recallOf(Ann.ivfTopKRefined(q, e, 5, nCentroids = 32, nProbe = 8,
      iters = graft.ops.LlmQueries.IvfLloydIters))
    info(s"ivf recall: lowest-id codebook $base, lloyd-refined $refined")
    assert(refined >= base,
      s"lloyd refinement must not lose recall (base $base, refined $refined)")
    // measured on this corpus: 0.92 -> 0.96; pin above the base
    // codebook's level so a refinement regression fails loudly
    assert(refined >= 0.95, s"refined recall $refined below the measured 0.96")
  }

  test("lloyd refinement converges: iteration-2 codebook moves less than iteration-1 (F6c)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def book(iters: Int): Map[Long, Seq[Float]] =
      (if (iters == 0) Ann.initialCentroids(e, 32) else Ann.refinedCentroids(e, 32, iters))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Float](1).toSeq).toMap
    def shift(a: Map[Long, Seq[Float]], b: Map[Long, Seq[Float]]): Double =
      a.keys.map { k =>
        a(k).zip(b(k)).map { case (x, y) => (x - y) * (x - y) }.sum.toDouble
      }.sum
    val s1 = shift(book(0), book(1))
    val s2 = shift(book(1), book(2))
    info(s"codebook movement: iter1 $s1, iter2 $s2")
    assert(s2 < s1, s"lloyd iterations must contract ($s1 -> $s2)")
  }

  test("sample-trained codebook: rate 10000 is the full-corpus codebook; 5000 is a real sample (F6e)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def book(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    // rateBp = 10000 keeps every vector: the sampled trainer must
    // reproduce F6c bit-for-bit (same seed rule, same fixed-point mean)
    assert(book(Ann.refinedCentroidsSampled(e, 32, 2, 10000)) ==
      book(Ann.refinedCentroids(e, 32, 2)))
    // at 50% the sample is real: a codebook trained on half the rows
    // must differ from the full-corpus one (else the filter is dead)
    assert(book(Ann.refinedCentroidsSampled(e, 32, 2, 5000)) !=
      book(Ann.refinedCentroids(e, 32, 2)))
    val kept = Ann.codebookTrainSample(e, 5000).count()
    val total = e.count()
    info(s"training sample: $kept of $total vectors at 5000bp")
    assert(kept > 0 && kept < total)
  }

  test("sample-trained codebook: invariant under repartition and out-of-sample growth (F6e)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def book(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val ev = e.select($"vec_id", $"embedding")
    val base = book(Ann.refinedCentroidsSampled(ev, 32, 2, 5000))
    // physical layout must not matter (hash-stable keep rule)
    assert(book(Ann.refinedCentroidsSampled(ev.repartition(7), 32, 2, 5000)) == base)
    // growing the corpus with rows the keep rule REJECTS must leave the
    // trained codebook untouched — training reads only the sample, so a
    // 100 TB corpus can stream past a vocabulary-sized trainer
    val dim = e.head.getSeq[Float](1).size
    val extraIds = Iterator.from(1000000).filter(id =>
      graft.text.TextFns.h60Jvm(s"$id#cbtrain") % 10000L >= 5000L).take(20).toSeq
    val extra = extraIds.map(id => (id.toLong, Array.fill(dim)(0.5f).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    assert(book(Ann.refinedCentroidsSampled(ev.unionByName(extra), 32, 2, 5000)) == base)
  }

  test("sampled-codebook ivf: recall within tolerance of the refined codebook (F6e)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 5)
    val brute = Ann.bruteTopK(q, e, 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      (brute & df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / brute.size
    val iters = graft.ops.LlmQueries.IvfLloydIters
    val refined = recallOf(Ann.ivfTopKRefined(q, e, 5, nCentroids = 32, nProbe = 8, iters))
    val s8 = recallOf(Ann.ivfTopKSampled(q, e, 5, nCentroids = 32, nProbe = 8, iters, rateBp = 5000))
    val s16 = recallOf(Ann.ivfTopKSampled(q, e, 5, nCentroids = 32, nProbe = 16, iters, rateBp = 5000))
    info(s"ivf recall: refined p8 $refined, sampled p8 $s8, sampled p16 $s16")
    // the measured tradeoff (0.72 → 0.96 across p8..p16 at this toy
    // 267-vector sample for K=32): a half-corpus codebook partitions
    // less tightly, and the remedy is probe width, NOT more training
    // data — at production K the sample is sized 10-100× K and the gap
    // closes. Pin both ends: a floor at the narrow probe, and full
    // recovery to the refined codebook's recall by 2× probes.
    assert(s8 >= 0.70, s"sampled p8 recall $s8 under the measured 0.72")
    assert(s16 >= refined,
      s"sampled p16 recall $s16 must recover refined p8 level $refined")
  }

  test("boilerplate strip: keep rule edges and planted-line round trip (F31)") {
    // hand-built lines: the keep rule is ≥4 tokens AND ≥1 en stopword
    val d = Seq(
      (0L, "the cat sat here\nhome about contact sitemap login\nshort the\nnav bar link list")
    ).toDF("doc_id", "text")
    val r = Analysis.boilerplateStrip(d).head
    assert(r.getLong(1) == 4L) // n_lines
    assert(r.getLong(2) == 1L) // only "the cat sat here" survives
    // md5 of exactly that line
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("the cat sat here".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(3) == exp)
    // planted fixture round trip: a doc whose every 12-token chunk
    // carries a stopword keeps ALL its chunks — the strip removes
    // exactly the planted nav/footer lines and the cleaned text equals
    // the chunked original
    val base = ("the quick brown fox jumps over a lazy dog near the bank " * 3).trim
    val docs = Seq((6L, base)).toDF("doc_id", "text") // even + %3==0: both plants
    val planted = Analysis.boilerPlanted(docs)
    val line1 = planted.head.getString(1).split("\n")
    assert(line1.head == Analysis.BoilerNavLine && line1.last == Analysis.BoilerFooterLine)
    val out = Analysis.boilerplateStrip(planted).head
    assert(out.getLong(1) == out.getLong(2) + 2) // exactly the 2 planted lines dropped
    val chunksOnly = line1.drop(1).dropRight(1).mkString("\n")
    val expClean = java.security.MessageDigest.getInstance("MD5")
      .digest(chunksOnly.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.getString(3) == expClean)
  }

  test("domain stats: multi-url docs, host multiplicity, scheme strip (F32)") {
    val d = Seq(
      (0L, "x https://a.com/p1 then https://a.com/p2 and http://b.org/q"),
      (1L, "y https://a.com/other"),
      (2L, "no links here")).toDF("doc_id", "text")
    val out = Analysis.domainStats(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a.com: docs {0,1}, 3 urls; b.org: doc {0}, 1 url
    assert(out.toSeq == Seq(("a.com", 2L, 3L), ("b.org", 1L, 1L)))
    // planted fixture arithmetic: doc_ids 0..499, %5 → 100 news urls
    // over hosts news(doc_id%7); %9 → 56 blog urls over blog(doc_id%4)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val planted = Analysis.domainStats(Analysis.urlPlanted(docs)).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(planted.map(_._2).sum == docs.count() / 5 + (docs.count() + 8) / 9)
    assert(planted.count(_._1.startsWith("news")) == 7)
    assert(planted.count(_._1.startsWith("blog")) == 4)
  }

  test("gopher rules: each rule vetoes independently; audit columns exact (F33)") {
    // 30 tokens, mean length (28·5+3+3)/30 = 4.87, two stopwords
    val good = (Seq.fill(28)("table") ++ Seq("the", "and")).mkString(" ")
    val d = Seq(
      (0L, good),                                 // passes everything
      (1L, "too short but the a"),                // fails MinTokens
      (3L, Seq.fill(30)("xx#|xx").mkString(" ")), // symbol ratio + no stopwords
      (4L, good.replaceFirst("table", "t4ble"))   // alpha dips but stays ≥0.7 → keep
    ).toDF("doc_id", "text")
    val out = Analysis.gopherRules(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4), r.getDouble(5), r.getLong(6))).toMap
    assert(out(0L)._4 == 1L)
    assert(out(1L)._1 < Analysis.GopherMinTokens && out(1L)._4 == 0L)
    assert(out(3L)._2 == 0L && out(3L)._3 > Analysis.GopherMaxSymbolRatio && out(3L)._4 == 0L)
    assert(out(4L)._4 == 1L)
    // word-length band: a doc of only 1-char tokens fails the floor
    val short = Seq((0L, Seq.fill(40)("a").mkString(" "))).toDF("doc_id", "text")
    val r = Analysis.gopherRules(short).head
    assert(r.getDouble(2) < Analysis.GopherMinMeanWlen && r.getLong(6) == 0L)
  }

  test("token entropy: uniform maxes, repetition collapses, hand arithmetic (F34)") {
    val d = Seq(
      (0L, "a b c d"),          // uniform over 4: H = ln 4
      (1L, "a a a a"),          // single token: H = 0
      (2L, "a a b b b c")       // H = ln 6 − (2ln2 + 3ln3)/6
    ).toDF("doc_id", "text")
    val out = Analysis.tokenEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((4L, 4L, math.rint((math.log(4) - 1e-9) * 1e4) / 1e4)))
    assert(out(1L)._3 == 0.0 && out(1L)._2 == 1L)
    val h2 = math.log(6) - (2 * math.log(2) + 3 * math.log(3)) / 6
    assert(math.abs(out(2L)._3 - h2) < 1e-3)
    // the separation the operator exists for: same token count, very
    // different diversity
    assert(out(0L)._3 > out(1L)._3)
  }

  test("novelty: boilerplate assembly vs original text, short docs (F57)") {
    import graft.text.Analysis
    // doc 1 and 2 share their whole text (every shingle df 2 → novelty
    // 0 for both); doc 3 is fully original (10000); doc 4 is half
    // stitched from the shared text and half original; doc 5 too short
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "completely original content nobody else wrote"),
      (4L, "the quick brown fox jumps entirely novel tail words here"),
      (5L, "too short")).toDF("doc_id", "text")
    val out = Analysis.novelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((3L, 0L, 0L)))
    assert(out(2L) == ((3L, 0L, 0L)))
    assert(out(3L) == ((4L, 4L, 10000L)))
    // doc 4: 8 shingles; "the quick brown", "quick brown fox",
    // "brown fox jumps" have df 2 (docs 1/2 carry them too... df
    // counts docs — they appear in 3 docs), the other 5 are unique
    assert(out(4L) == ((8L, 5L, 10000L * 5 / 8)))
    // unshingleable: -1, not 0 — unknown is not "all boilerplate"
    assert(out(5L) == ((0L, 0L, -1L)))
  }

  test("window chunking: coverage, exact overlap, map-only plan (F56)") {
    import graft.ops.Packing
    // n=10, window 4, overlap 1 (step 3): K = 1+ceil(6/3) = 3, the
    // last window ends exactly at n; short and exact-fit docs get one
    val docs = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"), (3L, "exactly four tokens here")).toDF("doc_id", "text")
    val out = Packing.windowChunks(docs, 4, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L),
      (2L, 0L, 0L, 2L), (3L, 0L, 0L, 4L)))
    // a ragged tail: every token covered, consecutive windows share
    // exactly `overlap` tokens, only the final window runs short
    val eleven = Seq((9L, (0 until 11).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Packing.windowChunks(eleven, 4, 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L),
      (3L, 9L, 2L)))
    assert(rows.last._2 + rows.last._3 == 11)
    // zero overlap degenerates to plain fixed blocks
    assert(Packing.windowChunks(eleven, 4, 0).collect()
      .map(_.getLong(3)).toSeq == Seq(4L, 4L, 3L))
    // identical windows hash identically, shifted ones don't — the
    // content witness is the window text, not the position
    val twin = Seq((1L, "x y z p q r"), (2L, "x y z p q r"))
      .toDF("doc_id", "text")
    val hs = Packing.windowChunks(twin, 4, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    assert(hs((1L, 0L)) == hs((2L, 0L)) && hs((1L, 0L)) != hs((1L, 1L)))
    // MAP-ONLY: chunking never shuffles (the final orderBy is the
    // driver contract's range partitioning, not a hash exchange)
    val plan = Packing.windowChunks(docs, 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"))
    intercept[IllegalArgumentException](Packing.windowChunks(docs, 4, 4))
  }

  test("temperature mix: low-resource upweighting, plan-driven apply (F55)") {
    import graft.ops.Sampling
    // strata x:100 docs, y:400 docs, budget 100. α=1/2: sq_fp =
    // 10e6 / 20e6, normalizer 30e6 → picks 33/66, rates 3300/1650 bp —
    // the low-resource stratum samples at TWICE the high-resource rate
    // (plain proportional sampling would give both the same rate)
    val docs = ((0 until 100).map(i => (i.toLong, "x")) ++
      (100 until 500).map(i => (i.toLong, "y"))).toDF("doc_id", "lang")
    val plan = Sampling.mixPlanTemperature(docs, 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(plan.toSeq == Seq(
      ("x", 100L, 10000000L, 33L, 3300L),
      ("y", 400L, 20000000L, 66L, 1650L)))
    // total expected picks ≤ budget (floor losses only)
    assert(plan.map(_._4).sum <= 100L)
    // plan-driven apply ≡ the literal-rate sampler on the same rates
    val viaPlan = Sampling.sampleWithPlan(docs,
      Sampling.mixPlanTemperature(docs, 100L)).collect().toSeq
    val viaRates = Sampling.sampleByStratum(docs,
      Seq("x" -> 3300, "y" -> 1650), defaultBp = 0).collect().toSeq
    assert(viaPlan == viaRates)
    // a stratum absent from the plan drops at rate 0
    val extra = docs.unionByName(Seq((900L, "z")).toDF("doc_id", "lang"))
    val gated = Sampling.sampleWithPlan(extra,
      Sampling.mixPlanTemperature(docs, 100L))
      .filter(col("lang") === "z").collect()
    assert(gated.length == 1 && gated.head.getLong(4) == 0L)
  }

  test("mix planning: budgets to rates, cap and exclusion; apply keeps accordingly (F35)") {
    import graft.ops.Sampling
    // hand-built corpus: en 20 tokens over 2 docs, de 6 tokens, zh 4
    val d = Seq(
      (0L, ("w " * 10).trim, "en"), (1L, ("w " * 10).trim, "en"),
      (2L, ("x " * 6).trim, "de"), (3L, ("y " * 4).trim, "zh")
    ).toDF("doc_id", "text", "lang")
    val plan = Sampling.mixPlan(d, Seq(("en", 5L), ("de", 100L), ("zh", 0L)), 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // en: 5·10000/20 = 2500bp, expected 20·2500/10000 = 5
    assert(plan("en") == ((20L, 5L, 2500L, 5L)))
    // de: budget over supply → rate caps at keep-everything
    assert(plan("de") == ((6L, 100L, 10000L, 6L)))
    // zh: excluded
    assert(plan("zh")._3 == 0L)
    // apply: rate-10000 stratum keeps every doc, rate-0 none — exact,
    // not statistical
    val rates = plan.map { case (l, v) => (l, v._3.toInt) }.toSeq
    val kept = Sampling.sampleByStratum(d, rates, defaultBp = 0)
      .filter(col("keep") === 1L).collect()
      .map(_.getString(1)).groupBy(identity).view.mapValues(_.size).toMap
    assert(kept.getOrElse("de", 0) == 1)
    assert(!kept.contains("zh"))
  }

  test("minhash bucket stats: every bucket honors the df cap; sig mass conserved (F3s)") {
    import graft.dedup.Dedup
    import graft.ops.{LlmQueries => LQ}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val stats = Dedup.minhashBucketStats(spark, docs, LQ.MinhashMaxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the hard bound the 100 TB candidate join rests on
    stats.foreach { case (b, l, _, _, maxDf) =>
      assert(maxDf <= LQ.MinhashMaxDf, s"band $b lvl $l max_df $maxDf over cap")
    }
    // every band accounts for every distinct signature exactly once
    val nSigs = Dedup.minhashBucketStats(spark, docs, LQ.MinhashMaxDf)
      .groupBy("band").sum("n_sigs").collect().map(_.getLong(1)).toSet
    assert(nSigs.size == 1, s"bands disagree on signature mass: $nSigs")
    // an adversarial cap of 1 forces deep widening yet still holds
    val tight = Dedup.minhashBucketStats(spark, docs, 1).collect()
    tight.foreach(r => assert(r.getLong(4) <= 1L))
  }

  test("language id: stopword argmax with unknown fallback (F7)") {
    val d = Seq(
      (0L, "der hund und die katze ist ein tier"),
      (1L, "the cat and the dog is on a mat"),
      (2L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = Analysis.langId(spark, d).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((0L, "de"), (1L, "en"), (2L, "unknown")))
  }

  test("quality: dup ratio and stopword ratio (F8)") {
    val d = Seq((0L, "the the the the")).toDF("doc_id", "text")
    val r = Analysis.quality(d).head
    assert(r.getLong(1) == 4L) // n_tokens
    assert(r.getDouble(2) == 0.75) // dup_ratio: 1 distinct of 4
    assert(r.getDouble(3) == 1.0) // all stopwords
  }

  test("token counts: whitespace vs regex (F9)") {
    val d = Seq((0L, "ab 12 x!y")).toDF("doc_id", "text")
    val r = Analysis.tokenCounts(d).head
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 5L) // ab | 12 | x | ! | y
  }

  test("fingerprint is order-sensitive and deterministic (F10)") {
    val d = Seq((0L, "a b c"), (1L, "c b a"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Analysis.fingerprint(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out(0)._2 == out(2)._2)
    assert(out(0)._2 != out(1)._2)
  }

  test("embed norm stats per label (F11)") {
    val out = Ann.normStats(vecs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0, 2L, 0.9528), (1, 2L, 1.0)))
    // avg(|(1,0)|=1, |(0.9,0.1)|=0.90554) = 0.95277
  }

  test("minhash clusters: keep/drop over the capped graph (F3k)") {
    val out = Dedup.minhashClusters(spark, docs, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L)) // every doc decided
    out.foreach { case (d, c, k) => assert((k == 1L) == (d == c)) }
    // docs 0/1/2 share minhash bands (near/exact dups) → one keeper;
    // doc 3 is unrelated → its own cluster
    assert(out.count(_._3 == 1L) == 2)
    assert(out.filter(_._2 == 0L).map(_._1).toSet == Set(0L, 1L, 2L))
  }

  test("capped minhash equals exact at high cap, subsets at low cap (F3c)") {
    val exact = Dedup.minhashLsh(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val highCap = Dedup.minhashLshCapped(spark, docs, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highCap == exact)
    val lowCap = Dedup.minhashLshCapped(spark, docs, maxDf = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lowCap.subsetOf(exact)) // slot widening only drops candidates
    // identical-sig pairs survive ANY cap (intra-group expansion)
    assert(lowCap.contains((0L, 2L)))
  }

  test("capped minhash keying: hard per-bucket df bound under adversarial collisions (F3c)") {
    // tiny token alphabet → massive shingle sharing → hot level-0 band
    // buckets that FORCE the widening, the 100 TB dup-heavy worst case
    val rnd = new scala.util.Random(42)
    val adv = (0L until 300L).map { i =>
      (i, Seq.fill(12)("t" + rnd.nextInt(6)).mkString(" "))
    }.toDF("doc_id", "text")
    val maxDf = 4
    val distinctSigs = Dedup.minhashSigRows(adv)
      .select(col("mh"), Dedup.minhashSigKey.as("sk"))
      .dropDuplicates("sk")
    val keyed = CappedIndex.keys(CappedIndex.MinHash, distinctSigs, maxDf)
    // THE bound the whole scale argument rests on: no final bucket
    // holds more than maxDf distinct signatures, on ANY corpus
    val hottest = keyed.groupBy(col("band"), col("lvl"), col("bkey"))
      .count().agg(max(col("count"))).head.getLong(0)
    assert(hottest <= maxDf, s"bucket of $hottest > cap $maxDf")
    // and the fixture is genuinely adversarial: widening ENGAGED
    // (level-0 buckets overflowed and were re-keyed)
    assert(keyed.filter(col("lvl") > 0).count() > 0)
    // every signature still carries all 4 bands (widening re-keys,
    // never drops)
    val perSig = keyed.groupBy(col("sk")).count().select(col("count")).distinct().collect()
    assert(perSig.map(_.getLong(0)).toSeq == Seq(4L))
    // drop-only containment holds on the adversarial corpus too
    val capped = Dedup.minhashLshCapped(spark, adv, maxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Dedup.minhashLsh(spark, adv).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(raw))
  }

  test("capped keying recomputes the chosen level's key exactly (r12 hash-agg shape)") {
    // r12: the keying aggregate carries min(LEVEL) (hash-aggregable)
    // and recomputes the level's key from the signature afterward —
    // this pins the recomputation against the schedule's definition
    // (md5 over the level's slot prefix / the level's widened-bits
    // expression) on fixtures where widening actually engages
    val rnd = new scala.util.Random(42)
    val adv = (0L until 300L).map { i =>
      (i, Seq.fill(12)("t" + rnd.nextInt(6)).mkString(" "))
    }.toDF("doc_id", "text")
    val distinctSigs = Dedup.minhashSigRows(adv)
      .select(col("mh"), Dedup.minhashSigKey.as("sk"))
      .dropDuplicates("sk")
    val keyed = CappedIndex.keys(CappedIndex.MinHash, distinctSigs, maxDf = 4)
      .join(distinctSigs, Seq("sk"))
    assert(keyed.filter(col("lvl") > 0).count() > 0) // widening engaged
    def expectedKey(b: Int, j: Int) = md5(concat_ws(",",
      Dedup.minhashKeySlots(b, j)
        .map(i => element_at(col("mh"), i + 1).cast("string")): _*))
    val mismatched = keyed.filter(
      (for (b <- 0 until Dedup.minhashNBands; j <- 0 to Dedup.minhashWidenLevels)
        yield col("band") === b && col("lvl") === j &&
          col("bkey") =!= expectedKey(b, j)).reduce(_ || _)).count()
    assert(mismatched == 0L, s"$mismatched minhash keys diverge from the schedule")
    // simhash twin (the bit-mask prefix recomputation)
    val rnd2 = new scala.util.Random(7)
    val lows = Array(0x1234L, 0x777L, 0x2AAAL)
    val sigs = (0 until 500).map { _ =>
      lows(rnd2.nextInt(3)) | ((rnd2.nextLong() & 0x7FFFL) << 45)
    }.distinct.toDF("simhash")
    val skeyed = CappedIndex.keys(CappedIndex.SimHash, sigs, maxDf = 4)
    assert(skeyed.filter(col("lvl") > 0).count() > 0)
    val smismatched = skeyed.filter(
      (0 to Dedup.simhashWidenLevels).map(j =>
        col("lvl") === j && col("bkey") =!= expr(Dedup.simhashKeyExpr(j)))
        .reduce(_ || _)).count()
    assert(smismatched == 0L, s"$smismatched simhash keys diverge from the schedule")
  }

  test("capped minhash recall vs exact on real documents (F3c)") {
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.minhashLsh(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLshCapped(spark, d, graft.ops.LlmQueries.MinhashMaxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact)) // band widening only under-counts
    val recall = (exact & capped).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall too low (${capped.size}/${exact.size})")
    // the keep/drop signal: every doc that has an exact-F3 dup still has one
    val exactDocs = exact.flatMap(p => Seq(p._1, p._2))
    val cappedDocs = capped.flatMap(p => Seq(p._1, p._2))
    val cover = (exactDocs & cappedDocs).size.toDouble / exactDocs.size
    assert(cover >= 0.95, s"doc coverage $cover too low")
  }

  test("minhash jaccard estimate tracks true jaccard (F3e)") {
    // exact duplicates estimate exactly 1.0 (all 12 slots agree)
    val twin = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val t = Dedup.minhashJaccardEst(spark, twin, 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(t.toSeq == Seq((0L, 1L, 1.0)))
    // on real documents: estimates live on the k/12 grid and track the
    // true 3-shingle jaccard of each candidate pair
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val est = Dedup.minhashJaccardEst(spark, d, graft.ops.LlmQueries.MinhashMaxDf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est.nonEmpty)
    assert(est.values.forall(v => v >= 0.0 && v <= 1.0 &&
      math.abs(v * 12 - math.round(v * 12)) < 0.01))
    val truth = Dedup.ngramJaccard(d, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val errs = est.map { case (p, v) => math.abs(v - truth.getOrElse(p, 0.0)) }
    val mae = errs.sum / errs.size
    info(f"F3e MAE $mae%.3f over ${errs.size} candidate pairs")
    assert(mae <= 0.15, s"MAE $mae over ${errs.size} candidate pairs " +
      "(observed 0.03 — candidates are high-J, so slot variance is small)")
  }

  test("capped minhash: N-doc exact-dup group is ONE band-join row (F3c)") {
    import spark.implicits._
    // 40 identical docs + 2 distinct: the signature table collapses to 3
    // distinct sigs, so the band join sees 3 rows — a df cap of 3 cannot
    // drop the dup group, and all C(40,2) pairs come from intra expansion
    val dup = (0L until 40L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val solo = Seq((100L, "one two three four five six"), (101L, "seven eight nine ten eleven twelve"))
    val d = (dup ++ solo).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshCapped(spark, d, maxDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 40 * 39 / 2)
    assert(pairs.forall { case (x, y) => x < 40 && y < 40 && x < y })
  }

  test("jaccard + embed cluster variants agree with their pair graphs (F2k/F13k)") {
    // jaccard: docs 0/2 identical, 0/1 at 0.75 — tau 0.5 links all three
    val jOut = Dedup.jaccardClusters(docs, 0.5, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(jOut == Seq((0L, 0L, 1L), (1L, 0L, 0L), (2L, 0L, 0L), (3L, 3L, 1L)))
    // embed: pairs (0,1) at cos 0.9939 → 1 joins 0; 2,3 isolated
    val pairs = Dedup.embedCosinePairs(vecs, 0.9)
    val eOut = Dedup.embedCosineClusters(vecs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(eOut.forall { case (v, c, k) => (k == 1L) == (v == c) })
    assert(eOut.map(_._1) == eOut.map(_._1).sorted)
    val linked = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    eOut.filter(_._3 == 0L).foreach { case (v, c, _) =>
      assert(linked.contains((c, v)) || linked.contains((v, c)))
    }
  }

  test("connected components: chains collapse to canonical clusters (F19)") {
    val ids = (0L to 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("x", "y")
    val out = Dedup.ccClusters(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // A–B–C is ONE cluster labeled by the component min (the planted
    // chain the one-step rule under-canonicalizes)
    assert(out.toSeq == Seq((0L, 0L, 1L), (1L, 0L, 0L), (2L, 0L, 0L),
      (3L, 3L, 1L), (4L, 3L, 0L), (5L, 5L, 1L)))
    // the deliberate contrast: one-step min propagation labels C as B
    val one = Dedup.clusterize(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(one.find(_._1 == 2L).get._2 == 1L)
  }

  test("cluster sizes need the fixpoint labels, not one-step stars (F19b)") {
    val ids = (0L to 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("x", "y")
    // fixpoint labels: the A–B–C chain is ONE cluster of size 3 with 2
    // docs removed under keep-the-representative
    val out = Dedup.ccSizes(Dedup.ccClusters(ids, pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 3L, 2L), (3L, 2L, 1L)))
    // the deliberate contrast — the operator's whole point: one-step
    // star labels split the chain (C labeled B, alone in a "cluster"
    // of 1 that the ≥2 filter then hides) and the report reads 2+2
    // removed-1-each instead of one 3-cluster removing 2
    val wrong = Dedup.ccSizes(Dedup.clusterize(ids, pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(wrong.toSeq == Seq((0L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("connected components: deep chain converges; bounded guard throws (F19)") {
    val ids = (0L to 9L).toDF("doc_id")
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("x", "y")
    val out = Dedup.ccClusters(ids, pairs, maxIter = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall(_._2 == 0L)) // 10-node path, all labeled 0
    assertThrows[IllegalArgumentException] {
      Dedup.ccClusters(ids, pairs, maxIter = 3)
    }
  }

  test("bpe: greedy merges with pinned tie-break; merged pairs vanish (F21)") {
    // words: aaab ×4, banana ×3 — hand-computable merge schedule
    val d = Seq((0L, "aaab aaab aaab banana"), (1L, "aaab banana banana"))
      .toDF("doc_id", "text")
    val out = graft.text.Bpe.merges(spark, d, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // step1: (a,a) 8 beats (a,n)/(n,a) 6; step2: (a,n) 6 — the merged
    // (a,a) pair is GONE from aaab's (aa,a,b); step3: tie at 4 between
    // (a,b) and (aa,a) broken by lhs ('a' < 'aa')
    assert(out.toSeq == Seq((1L, "a", "a", 8L), (2L, "a", "n", 6L), (3L, "a", "b", 4L)))
  }

  test("bpe: left-to-right greedy merge handles overlapping runs (F21)") {
    val d = Seq((0L, "aaaa")).toDF("doc_id", "text")
    val out = graft.text.Bpe.merges(spark, d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // 'aaaa' → greedy (aa)(aa), not (aa)a a — step2 must see (aa,aa)
    assert(out.toSeq == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("bpe apply: trained merges tokenize docs, integer compression (F21c)") {
    import graft.text.Bpe
    // the F21 fixture: merge schedule (a,a), (a,n), (a,b) — so aaab
    // tokenizes to (aa)(ab) = 2 and banana to b(an)(an)a = 4
    val d = Seq((0L, "aaab aaab aaab banana"), (1L, "aaab banana banana"))
      .toDF("doc_id", "text")
    val m = Bpe.mergeRows(spark, d, 3).map(t => (t._2, t._3))
    val out = Bpe.applyTokens(d, m).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 3 * 2 + 4L, 3 * 4 + 6L, 18000L),
      (1L, 2 + 2 * 4L, 4 + 2 * 6L, 16000L)))
  }

  test("bpe apply: merges never cross a space; greedy within runs (F21c)") {
    import graft.text.Bpe
    val d = Seq((0L, "a a"), (1L, "aaaa")).toDF("doc_id", "text")
    val out = Bpe.applyTokens(d, Seq(("a", "a"))).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // "a a" stays 2 tokens (bare space breaks the doubled delimiter);
    // "aaaa" greedily pairs to (aa)(aa) = 2
    assert(out.toSeq == Seq((0L, 2L), (1L, 2L)))
    // the tokenize pass is ONE narrow projection: no shuffle anywhere
    val plan = Bpe.applyTokens(d, Seq(("a", "a"), ("aa", "aa")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"apply must be map-only:\n$plan")
  }

  test("bpe train-on-sample: stable under repartition and non-sample growth (F21s)") {
    import graft.ops.LlmQueries
    import graft.text.Bpe
    val docs = Seq(
      (0L, "aaab aaab aaab banana"), (1L, "aaab banana banana"),
      (2L, "cacao cacao beans"), (3L, "beans beans aaab"),
      (4L, "banana cacao aaab aaab"), (5L, "mango mango mango"))
      .toDF("doc_id", "text")
    val t1 = Bpe.mergeRows(spark, LlmQueries.bpeSampleDocs(docs), 3)
    // grow the corpus by docs the salted hash EXCLUDES from the sample
    // (picked dynamically — keep is a pure function of doc_id, so any
    // excluded id stays excluded forever) and repartition: the trained
    // table must not move, the property that lets a production run
    // freeze a tokenizer while the crawl keeps growing
    val candidates = (100L until 140L).map(i => (i, s"zz$i yy$i zz$i"))
      .toDF("doc_id", "text")
    val extra = candidates.except(LlmQueries.bpeSampleDocs(candidates))
    assert(extra.count() > 0)
    val grown = docs.unionByName(extra).repartition(7)
    val t2 = Bpe.mergeRows(spark, LlmQueries.bpeSampleDocs(grown), 3)
    assert(t1 == t2)
    // and the sample is a real subset: full-corpus training sees words
    // the sampled trainer never reads
    assert(LlmQueries.bpeSampleDocs(docs).count() < docs.count())
  }

  test("normalized decontamination catches the leak exact mode misses (F15n)") {
    import graft.dedup.Dedup
    // a benchmark answer pasted with punctuation/spacing edits: exact
    // space-token 5-grams all differ (tokens() already lowercases, so
    // the MISS comes from ",", "--", "!" and the double space), but
    // normalization recovers the identical token stream
    val corpus = Seq(
      (1L, "The quick, brown fox -- jumps over the  lazy dog tonight!"),
      (2L, "completely unrelated text about nothing in particular at all"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("eval_id", "text")
    assert(Dedup.decontaminate(corpus, eval, 5, 1, 64).count() == 0)
    // normalized: all 6 of the 10-token answer's 5-grams surface
    val out = Dedup.decontaminateNormalized(corpus, eval, 5, 3, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 100L, 6L)))
    // the ONE normalization source: Column ≡ JVM twin on tricky input
    val tricky = Seq("A--b  c!!", " MiXeD   spacing\tand\nlines ", "",
      "...", "ümlaut Ö 5")
    val viaCol = tricky.toDF("text")
      .select(graft.text.TextFns.normalizeForMatch(col("text")))
      .as[String].collect().toSeq
    assert(viaCol == tricky.map(graft.text.TextFns.normalizeForMatchJvm))
    // G5 stream gate in normalized mode agrees; exact mode still misses
    val sg = graft.streaming.CarbonStream
      .decontaminateStream(corpus, eval, 5, 3, normalized = true)
      .collect().map(d => d.doc_id -> d.contaminated).toMap
    assert(sg(1L) == 1L && sg(2L) == 0L)
    val sx = graft.streaming.CarbonStream
      .decontaminateStream(corpus, eval, 5, 3)
      .collect().map(d => d.doc_id -> d.contaminated).toMap
    assert(sx(1L) == 0L)
  }

  test("decontaminate overlap: full/none/partial with self-exclusion (F15b)") {
    val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val U = "unique solitary content appearing nowhere else in the corpus today"
    val P = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (0L, T), (3L, T), // eval 0's text duplicated by doc 3
      (1L, U),          // eval 1's only corpus occurrence is itself
      (2L, P),          // eval 2 partially leaked by doc 4
      (4L, "one two three four five six x y z w")
    ).toDF("doc_id", "text")
    val eval = Seq((0L, T), (1L, U), (2L, P)).toDF("eval_id", "text")
    val out = Dedup.decontaminateOverlap(corpus, eval, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 4 shares exactly the first two 5-grams of P → 2/6 → 3333 bp;
    // U's grams exist in corpus doc 1 only, which IS eval 1 → 0 bp
    assert(out.toSeq == Seq(
      (0L, 6L, 6L, 10000L), (1L, 6L, 0L, 0L), (2L, 6L, 2L, 3333L)))
  }

  test("fuzzy decontamination catches a perturbed copy exact 5-grams miss (F15c)") {
    // fixture recorded in SURVEY.md under F15c (seedless md5 arithmetic, so
    // "measured, then pinned" holds forever): a 24-token doc whose
    // adjacent-swap perturbation at positions (5,6), (11,12), (17,18)
    // breaks every 5-token window except starts 0 and 19 — 2 shared
    // 5-grams < minHits 3, F15 provably misses — yet agrees on 9 of
    // the 12 MinHash signature slots including full bands 2 and 3
    val orig = (0 until 24).map(i => s"w24q$i").toVector
    val pert = Seq(5, 11, 17).foldLeft(orig) { (t, p) =>
      t.updated(p, t(p + 1)).updated(p + 1, t(p))
    }
    assert((orig.sliding(5).map(_.mkString(" ")).toSet &
      pert.sliding(5).map(_.mkString(" ")).toSet).size == 2)
    val corpus = Seq(
      (0L, pert.mkString(" ")), // the paraphrased leak
      (1L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, orig.mkString(" "))).toDF("eval_id", "text")
    // the exact 5-gram check at the driver constants finds NOTHING
    assert(Dedup.decontaminate(corpus, eval,
      graft.ops.LlmQueries.DecontamN, graft.ops.LlmQueries.DecontamMinHits,
      graft.ops.LlmQueries.DecontamMaxDf).count() == 0)
    // the fuzzy check surfaces exactly the planted pair at 9/12 slots
    val out = Dedup.decontaminateFuzzy(corpus, eval,
      graft.ops.LlmQueries.FuzzyMinMatches).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 100L, 0.75)))
  }

  test("fuzzy decontamination: exact copy scores 1.0, self excluded (F15c)") {
    val T = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (0L, T),                                                      // exact leak
      (100L, T),                                                    // the eval doc itself
      (2L, "unrelated words that share nothing with the benchmark suite")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, T)).toDF("eval_id", "text")
    val out = Dedup.decontaminateFuzzy(corpus, eval, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 100 (the eval doc in the corpus) is self-excluded by id
    assert(out.toSeq == Seq((0L, 100L, 1.0)))
  }

  test("bigram LM: hand-computed transitions, permutation separated, short docs drop (F23b)") {
    val d = Seq(
      (0L, "a b a b"), // transitions (a,b),(b,a),(a,b)
      (1L, "a a"),     // one (a,a)
      (2L, "x")        // no transition → absent from output
    ).toDF("doc_id", "text")
    // V=2 → vocab {a (tf 4), b (tf 2)}; x → UNK. Corpus counts:
    // cb(a,b)=2, cb(b,a)=1, cb(a,a)=1; ch(a)=3, ch(b)=1; V+1 = 3.
    // lp(a,b) = ln(3/6), lp(b,a) = ln(2/4), lp(a,a) = ln(2/6)
    val out = Analysis.lmScoreBigram(d, vocabV = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((0L, 3L), (1L, 1L)))
    assert(math.abs(out(0)._3 - (-0.6931)) < 5e-5) // mean of 3× ln(0.5)
    assert(math.abs(out(1)._3 - (-1.0986)) < 5e-5) // ln(1/3)
    // the separation F23 cannot make: a doc and its token permutation
    // score identically under the unigram LM but differently here
    val perm = Seq((0L, "the cat sat on the mat"), (1L, "the the cat mat on sat"),
      (2L, "the cat sat on the mat")).toDF("doc_id", "text")
    val uni = Analysis.lmScore(perm, 50).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(uni(0L) == uni(1L)) // unigram: blind to order
    val big = Analysis.lmScoreBigram(perm, 50).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(big(0L) != big(1L)) // bigram: the fluent doc scores higher
    assert(big(0L) > big(1L))
  }

  test("tf-idf keywords: distinctive terms surface, everywhere-terms score 0 (F30)") {
    val d = Seq(
      (0L, "shared apple apple banana"),
      (1L, "shared cherry"),
      (2L, "shared cherry date")
    ).toDF("doc_id", "text")
    // N=3; df: shared 3, apple 1, banana 1, cherry 2, date 1
    // idf: shared ln(4/4)=0; apple/banana/date ln(2); cherry ln(4/3)
    val out = Analysis.keywords(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == Seq(
      (0L, 1L, "apple"), (0L, 2L, "banana"),   // tf2·ln2 > tf1·ln2
      (1L, 1L, "cherry"), (1L, 2L, "shared"),  // 0-scored filler still ranks
      (2L, 1L, "date"), (2L, 2L, "cherry")))   // ln2 > ln(4/3)
    // the everywhere-token's tfidf is EXACTLY zero (idf floor)
    assert(out.find(t => t._1 == 1L && t._3 == "shared").get._5 == 0.0)
    assert(math.abs(out.head._5 - 2 * math.log(2)) < 5e-5)
  }

  test("vocab: tf counts repeats, df counts docs, cutoff deterministic (F17)") {
    val d = Seq(
      (0L, "spark spark spark data"),
      (1L, "spark data"),
      (2L, "zulu alpha")
    ).toDF("doc_id", "text")
    val out = Analysis.vocab(d, topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tf: spark 4, data 2, alpha/zulu 1 each → tie broken by token asc
    assert(out.toSeq == Seq(("spark", 4L, 2L), ("data", 2L, 2L), ("alpha", 1L, 1L)))
    // null text contributes nothing
    val withNull = d.unionByName(Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    assert(Analysis.vocab(withNull, 10).count() == 4)
  }

  test("pii redact: every class replaced, counts audit, clean text untouched (F22)") {
    val d = Seq(
      (0L, "mail me at some.user+tag@sub.example.org thanks"),
      (1L, "call 555-123-4567 or 555-000-1111 today"),
      (2L, "server 192.168.1.200 went down"),
      (3L, "no pii in this one at all"),
      (4L, "mixed a@b.co and 10.0.0.1 and 555-999-0000")
    ).toDF("doc_id", "text")
    val out = Analysis.piiRedact(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 1L, 0L, 0L), (1L, 0L, 2L, 0L),
      (2L, 0L, 0L, 1L), (3L, 0L, 0L, 0L), (4L, 1L, 1L, 1L)))
    // the redacted text witness: placeholders in, originals gone
    val red = d.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(Analysis.EmailRe), lit("<EMAIL>")),
        lit(Analysis.PhoneRe), lit("<PHONE>")),
        lit(Analysis.Ipv4Re), lit("<IP>")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(0L) == "mail me at <EMAIL> thanks")
    assert(red(1L) == "call <PHONE> or <PHONE> today")
    assert(red(2L) == "server <IP> went down")
    assert(red(3L) == "no pii in this one at all")
    assert(red(4L) == "mixed <EMAIL> and <IP> and <PHONE>")
    // planting: doc 0 (divisible by 7, 11, 13) carries all three classes
    val planted = Analysis.piiRedact(Analysis.piiPlanted(
      Seq((0L, "base words"), (77L, "other words")).toDF("doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 77 = 7·11: email + ip planted, no phone (13 ∤ 77)
    assert(planted.toSeq == Seq((0L, 1L, 1L, 1L), (77L, 1L, 0L, 1L)))
  }

  test("lm score: fixed-point mean logprob and oov ratio (F23)") {
    val d = Seq(
      (0L, "a a b"),
      (1L, "c")
    ).toDF("doc_id", "text")
    // V=2 vocab: a(tf 2), b(tf 1) — c is OOV. N=4 total tokens.
    // lp(a)=ln(3/7), lp(b)=ln(2/7), lp(OOV)=ln(1/7); micro-grid longs.
    def lpm(num: Long): Long = math.round(math.log(num / 7.0) * 1e6)
    val exp0 = math.rint(((2 * lpm(3) + lpm(2)).toDouble / (3 * 1e6) - 1e-9) * 1e4) / 1e4
    val exp1 = math.rint((lpm(1).toDouble / 1e6 - 1e-9) * 1e4) / 1e4
    val out = Analysis.lmScore(d, vocabV = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 3L, 0.0, exp0), (1L, 1L, 1.0, exp1)))
    // a doc with no tokens emits no row
    val withNull = d.unionByName(Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    assert(Analysis.lmScore(withNull, 2).count() == 2)
  }

  test("split: stable under corpus growth and repartitioning (F18)") {
    import graft.ops.Sampling
    val w = graft.ops.LlmQueries.SplitWeights
    val small = spark.range(100).selectExpr("id AS doc_id", "'x' AS text")
    val big = spark.range(1000).selectExpr("id AS doc_id", "'y' AS text")
    val a = Sampling.split(small, w).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = Sampling.split(big.repartition(7), w).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // every doc keeps its split when the corpus grows 10x and shuffles
    assert(a.forall { case (id, s) => b(id) == s })
    // all three splits are populated at 1000 docs with 8/1/1 weights
    val counts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // map-only: no exchange anywhere before the output sort
    val p = Sampling.split(big, w).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(500))
  }

  test("stratified sample: rates, fallback, stability, salt (F24)") {
    import graft.ops.Sampling
    val rates = Seq(("en", 10000), ("de", 0))
    val docs = spark.range(1000).selectExpr("id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang")
    val out = Sampling.sampleByStratum(docs, rates, 2500).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
    // boundary rates are exact: 10000bp keeps all, 0bp keeps none
    assert(out.filter(_._2 == "en").forall(_._3 == 1L))
    assert(out.filter(_._2 == "de").forall(_._3 == 0L))
    // an unlisted stratum takes the default rate; 2500bp over 10k docs
    // lands in a loose binomial band around 2500
    val fr = spark.range(10000).selectExpr("id AS doc_id", "'fr' AS lang")
    val kept = Sampling.sampleByStratum(fr, rates, 2500)
      .filter(col("keep") === 1L).count()
    assert(kept > 2100 && kept < 2900, s"fallback kept $kept/10000 at 2500bp")
    // corpus growth + repartition never flips a doc's fate (F18 contract)
    val small = Sampling.sampleByStratum(docs.filter(col("doc_id") < 100), rates, 2500)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val big = Sampling.sampleByStratum(docs.repartition(7), rates, 2500)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(small.forall { case (id, k) => big(id) == k })
    // the '#sample' salt decorrelates the sample bucket from the F18
    // split bucket: the unsalted h60 stream collides only by chance
    val both = docs.select(col("doc_id"),
      (graft.text.TextFns.h60(col("doc_id").cast("string")) % 10000L).as("u"))
      .join(Sampling.sampleByStratum(docs, rates, 2500), "doc_id")
    assert(both.filter(col("u") === col("bucket")).count() < 10)
    // map-only: keep streams out of the scan, no exchange before the sort
    val p = Sampling.sampleByStratum(docs, rates, 2500)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(500))
  }

  test("quality buckets: rank equals global sort, deciles balanced (F29)") {
    import graft.ops.Sampling
    import graft.text.TextFns
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Sampling.qualityBuckets(d, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = out.length
    // the two-level prefix sum must reproduce the one global sort the
    // plan deliberately avoids: rank == position in (score_fp, h, id)
    val expect = out.sortBy(t => (t._2, TextFns.h60Jvm(t._1.toString), t._1))
      .zipWithIndex.map { case (t, i) => (t._1, i + 1L) }.toMap
    assert(out.forall(t => t._3 == expect(t._1)))
    // ranks are a permutation of 1..n; decile sizes differ by ≤ 1
    assert(out.map(_._3).sorted.toSeq == (1L to n).toSeq)
    val sizes = out.groupBy(_._4).map(_._2.length)
    assert(out.map(_._4).forall(b => b >= 0 && b < 10))
    assert(sizes.max - sizes.min <= 1)
    // the corpus-wide window is PARTITIONED (per-(score, sub) groups),
    // never a single global sort: no unpartitioned Window node
    val plan = Sampling.qualityBuckets(d, 10).queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") || !plan.contains(", [], ["),
      s"global unpartitioned window in plan:\n$plan")
  }

  test("quality buckets: one hot score splits across sub-buckets (F29)") {
    import graft.ops.Sampling
    import graft.text.TextFns
    // every doc identical text ⇒ ONE score group for the whole corpus —
    // the adversarial case the h-bit sub-bucketing exists for
    val d = spark.range(300).selectExpr("id AS doc_id",
      "'common boilerplate text every document shares' AS text")
    val out = Sampling.qualityBuckets(d, 10, subBits = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).distinct.length == 1) // truly one score value
    val expect = out.sortBy(t => (TextFns.h60Jvm(t._1.toString), t._1))
      .zipWithIndex.map { case (t, i) => (t._1, i + 1L) }.toMap
    assert(out.forall(t => t._3 == expect(t._1)))
    assert(out.map(_._3).sorted.toSeq == (1L to 300L).toSeq)
    // the ranking window really is split: 2^3 sub-buckets over one
    // score ⇒ multiple partitions (h60 top bits are well-spread)
    val subs = out.map(t => TextFns.h60Jvm(t._1.toString) >>> 57).distinct
    assert(subs.length == 8)
  }

  test("corpus report: slice counts, fixed-point mean, dup attribution (F26)") {
    import graft.ops.Report
    val t1 = "the cat sat on the mat and the dog ran to the park"
    val t2 = "a quick brown fox jumps over a lazy dog in a field"
    val t3 = "der hund lief und die katze sass auf der matte heute"
    val d = Seq(
      (0L, t1, "en", "srcA"), (1L, t2, "en", "srcA"),
      (2L, t1, "en", "srcB"), (3L, t3, "de", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val out = Report.corpusReport(d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(out.keySet == Set(("srcA", "en"), ("srcA", "de"), ("srcB", "en")))
    // the duplicate doc 2 counts against ITS slice, not the keeper's
    assert(out(("srcA", "en"))._4 == 0L && out(("srcB", "en"))._4 == 1L)
    assert(out(("srcA", "en"))._1 == 2L && out(("srcB", "en"))._1 == 1L)
    assert(out(("srcA", "de"))._2 == 11L) // t3 token count
    // single-doc slice: the fixed-point mean IS the doc's 4-dp score
    val score3 = Analysis.quality(d.filter($"doc_id" === 3L))
      .select($"score").head.getDouble(0)
    assert(math.abs(out(("srcA", "de"))._3 - score3) < 5e-5)
  }

  test("two-level coarse routing: valid cells, high flat-argmax agreement (F6d)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.initialCentroids(e, 32)
    val flat = Ann.coarseAssign(e, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = Ann.coarseAssignTwoLevel(e, cents, nSuper = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // total: every vector routes somewhere, exactly once
    assert(two.length == flat.size)
    // agreement floor on the UNSTRUCTURED synthetic corpus: these
    // embeddings are near-uniform random (max pairwise cos ~0.5), so
    // the flat argmax itself is nearly arbitrary and hierarchical
    // routing pays its worst case — measured 0.418 at sf0.001/G=6;
    // pin a floor well under it. The regime the operator exists for
    // is CLUSTERED data, pinned exactly below.
    val agree = two.count { case (v, _, c) => flat(v) == c }
    assert(agree.toDouble / two.length >= 0.30,
      s"agreement ${agree.toDouble / two.length} too low")
    assert(agree < two.length) // a real approximation on random data
  }

  test("two-level routing agrees exactly with flat argmax on clustered data (F6d)") {
    // 4 orthogonal directions; centroids = 2 per direction (K=8, the
    // lowest ids), supers = the 4 pure-basis centroids (G=4). Every
    // data row sits inside one direction's cone, so its true best
    // cell's super IS its own best super — the hierarchy loses nothing
    // when the data is actually clusterable (the K-means premise)
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val rows = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)),
      (2L, v(0, 0, 1, 0)), (3L, v(0, 0, 0, 1)),
      (4L, v(0.9f, 0.1f, 0, 0)), (5L, v(0, 0.9f, 0.1f, 0)),
      (6L, v(0, 0, 0.9f, 0.1f)), (7L, v(0.1f, 0, 0, 0.9f)),
      (10L, v(0.95f, 0.05f, 0, 0)), (11L, v(0.88f, 0.12f, 0, 0)),
      (12L, v(0.02f, 0.97f, 0.03f, 0)), (13L, v(0, 0.85f, 0.15f, 0)),
      (14L, v(0.01f, 0, 0.99f, 0.08f)), (15L, v(0, 0, 0.86f, 0.14f)),
      (16L, v(0.12f, 0, 0, 0.92f)), (17L, v(0.07f, 0, 0, 0.97f)))
    val vecs = rows.toDF("vec_id", "embedding")
    val cents = Ann.initialCentroids(vecs, 8)
    val flat = Ann.coarseAssign(vecs, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = Ann.coarseAssignTwoLevel(vecs, cents, nSuper = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(two.length == rows.length)
    two.foreach { case (vid, _, cell) =>
      assert(cell == flat(vid), s"vec $vid: two-level $cell vs flat ${flat(vid)}")
    }
  }

  test("hierarchical lloyd: nSuper = K degenerates to the flat trainer bit-for-bit (F6f)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def book(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    // with G = K every centroid is its own super (self-cosine 1.0 wins
    // the centroid→super argmax), so level-1 routing IS the flat
    // argmax and level-2 scores exactly the winner — the router
    // provably degenerates to flat assignment, hence identical Lloyd
    // iterations and an identical codebook
    assert(book(Ann.refinedCentroidsTwoLevel(e, 32, 2, nSuper = 32)) ==
      book(Ann.refinedCentroids(e, 32, 2)))
    // at G = √K on near-uniform-random data the routed assignments
    // genuinely differ, so the trained codebook must differ too (else
    // the router seam is dead code in the trainer)
    assert(book(Ann.refinedCentroidsTwoLevel(e, 32, 2, nSuper = 6)) !=
      book(Ann.refinedCentroids(e, 32, 2)))
  }

  test("hierarchical lloyd equals flat training on clustered data (F6f)") {
    // the F6d cone fixture: every row's best cell's super is its own
    // best super, so routed assignment == flat assignment on EVERY
    // iteration ⇒ identical codebooks (the k-means premise regime)
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    val rows = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0)),
      (2L, v(0, 0, 1, 0)), (3L, v(0, 0, 0, 1)),
      (4L, v(0.9f, 0.1f, 0, 0)), (5L, v(0, 0.9f, 0.1f, 0)),
      (6L, v(0, 0, 0.9f, 0.1f)), (7L, v(0.1f, 0, 0, 0.9f)),
      (10L, v(0.95f, 0.05f, 0, 0)), (11L, v(0.88f, 0.12f, 0, 0)),
      (12L, v(0.02f, 0.97f, 0.03f, 0)), (13L, v(0, 0.85f, 0.15f, 0)),
      (14L, v(0.01f, 0, 0.99f, 0.08f)), (15L, v(0, 0, 0.86f, 0.14f)),
      (16L, v(0.12f, 0, 0, 0.92f)), (17L, v(0.07f, 0, 0, 0.97f)))
    val vecs = rows.toDF("vec_id", "embedding")
    def book(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(book(Ann.refinedCentroidsTwoLevel(vecs, 8, 2, nSuper = 4)) ==
      book(Ann.refinedCentroids(vecs, 8, 2)))
  }

  test("routed semantic dedup: drops are a subset of the exact graph's drops (F28b)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val routed = graft.ops.LlmQueries
      .dedupSemanticRouted(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val exact = graft.ops.LlmQueries
      .dedupEmbedCosineClusters(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // a routed drop means an in-cell above-τ pair with a smaller id —
    // a subset of the exact pair graph, so the exact clusters must
    // drop that vector too (the cells only LOSE candidate pairs)
    val droppedRouted = routed.filter(_._2 == 0L).keySet
    val droppedExact = exact.filter(_._2 == 0L).keySet
    assert(droppedRouted.subsetOf(droppedExact),
      s"routed-only drops: ${droppedRouted -- droppedExact}")
    info(s"drops: routed ${droppedRouted.size} ⊆ exact ${droppedExact.size}")
  }

  test("semantic dedup: cluster-then-prune, planted near-dups (F28)") {
    import graft.dedup.Dedup
    // codebook = lowest 4 vec_ids (the e0..e3 basis); 10/11/12 are
    // near-copies of e0 (cos >= 0.97 to vec 0 and each other), 20 is
    // an in-cell member below tau — candidate considered, not paired
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f)),
      (10L, Array(0.99f, 0.1f, 0f, 0f)), (11L, Array(0.99f, 0.1f, 0f, 0f)),
      (12L, Array(0.9f, 0.2f, 0f, 0f)), (20L, Array(0.6f, 0.6f, 0.52f, 0f)))
    val vecs = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticClusters(vecs, tau = 0.9,
      graft.similarity.Ann.initialCentroids(vecs, 4)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the e0 family lands in cell 0 and collapses to cluster 0
    for (id <- Seq(0L, 10L, 11L, 12L)) assert(out(id)._1 == 0L)
    assert(out(0L) == ((0L, 0L, 1L)))
    for (id <- Seq(10L, 11L, 12L)) assert(out(id)._2 == 0L && out(id)._3 == 0L)
    // 20 shares cell 0 (tie to e0/e1 breaks to the lowest cent) but its
    // cosine to every family member is < tau: singleton, kept
    assert(out(20L) == ((0L, 20L, 1L)))
    // untouched basis vectors keep themselves in their own cells
    for (id <- Seq(1L, 2L, 3L)) assert(out(id) == ((id, id, 1L)))
    // subset contract: every pair the prune finds is in the exact graph
    val exact = Dedup.embedCosinePairs(vecs, 0.9)
      .select($"x", $"y").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept = out.filter { case (id, (_, cl, _)) => cl != id }
      .map { case (id, (_, cl, _)) => (cl, id) }.toSet
    assert(kept.subsetOf(exact))
  }

  test("corpus pack: global prefix sum, budget boundaries (F27)") {
    import graft.ops.Packing
    // 40 docs × 7 tokens; verify the bucketed two-pass prefix sum
    // against a sequential replay of the same (h60, doc_id) order
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "'one two three four five six seven' AS text")
    val out = Packing.pack(docs, budget = 20L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40 && out.forall(_._2 == 7L))
    val h = docs.select($"doc_id",
      graft.text.TextFns.h60($"doc_id".cast("string")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedCum = out.map(_._1).sortBy(id => (h(id), id))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) * 7L }.toMap
    assert(out.forall { case (id, _, cum, _) => cum == expectedCum(id) })
    // shard = floor(first-token offset / budget); 7-token docs over a
    // 20-token budget straddle boundaries — still one shard per doc
    assert(out.forall { case (id, n, cum, s) => s == (cum - n) / 20L })
    val shards = out.map(_._4).distinct.sorted
    assert(shards.head == 0L && shards.length == (40 * 7 + 19) / 20)
    // layout is reproducible: same corpus → identical assignment
    val again = Packing.pack(docs.repartition(7), budget = 20L).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out.forall { case (id, _, _, s) => again(id) == s })
  }

  test("corpus curation stages claim docs in order (F14)") {
    import graft.ops.Curation
    // 20+ token english filler keeps quality/language gates open
    val en = "the cat sat on a mat of the house and the dog ran to the park in a fine day"
    val cur = Seq(
      (0L, en),                               // kept (cluster rep)
      // same DISTINCT token set as 0 (simhash is set-based) → identical
      // signature, different bytes: near-dup, not exact-dup
      (1L, en + " the dog"),
      (2L, en),                               // exact dup of 0
      (3L, "der hund und die katze ist ein der die das und ist ein mit von zu auf der die das und ist"), // german
      (4L, "short text only")                 // fails minTokens
    ).toDF("doc_id", "text")
    val out = Curation.curate(spark, cur, minScore = 0.0, minTokens = 15,
        keepLang = "en", maxHamming = 30, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq(
      (0L, 1L, "kept"),
      (1L, 0L, "near_dup"),
      (2L, 0L, "exact_dup"),
      (3L, 0L, "language"),
      (4L, 0L, "quality")))
  }

  test("curation decontamination gate flips only surviving leaks (F14b)") {
    import graft.ops.Curation
    val en = "the cat sat on a mat of the house and the dog ran to the park in a fine day"
    val other = "a bird flew over the green hill and the sun was warm on the quiet lake all morning"
    val cur = Seq(
      (0L, en),                 // kept by base, but leaks the eval text
      (1L, other),              // kept, clean
      (2L, "short text only"),  // quality-fail — stays 'quality' even
                                // though it would never reach stage 5
      (3L, en)                  // exact dup of 0 — stays 'exact_dup'
    ).toDF("doc_id", "text")
    val eval = Seq((100L, en)).toDF("eval_id", "text")
    val base = Curation.curate(spark, cur, 0.0, 15, "en", 30, 64).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(base(0L) == "kept" && base(1L) == "kept")
    val out = Curation.curateWithDecontam(spark, cur, eval,
        0.0, 15, "en", 30, 64, n = 5, minHits = 3, decontamMaxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq(
      (0L, 0L, "contaminated"), // the surviving leak flips
      (1L, 1L, "kept"),
      (2L, 0L, "quality"),      // earlier stages keep their claim
      (3L, 0L, "exact_dup")))
  }

  test("corpus curation on real documents: partition + gate consistency (F14)") {
    val L = graft.ops.LlmQueries
    val out = L.corpusCuration(spark, "/root/testdata/sf0.001")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val d = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(rows.length == d.count()) // exactly one decision per doc
    assert(rows.forall { case (_, k, r) => (k == 1L) == (r == "kept") })
    val byReason = rows.groupBy(_._3).view.mapValues(_.length).toMap
    // every gate fires on the synthetic corpus except exact_dup (the
    // corpus plants near-dups, never byte-identical texts)
    assert(byReason.getOrElse("kept", 0) > 0)
    assert(byReason.getOrElse("quality", 0) > 0)
    assert(byReason.getOrElse("language", 0) > 0)
    assert(byReason.getOrElse("near_dup", 0) > 0)
    // dropped quality docs really are below the gate
    val q = Analysis.quality(d).select(col("doc_id"), col("n_tokens"), col("score"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.filter(_._3 == "quality").foreach { case (id, _, _) =>
      val (n, s) = q(id)
      assert(s < L.CurationMinScore || n < L.CurationMinTokens)
    }
  }

  test("soft dedup: 1/|cluster| weights, singleton weighs 1.0 (F45)") {
    // a 3-member component + a singleton, labels as F19 emits them
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val out = graft.dedup.Dedup.softDedupWeights(labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 0L, 3L, 0.3333), (1L, 0L, 3L, 0.3333), (2L, 0L, 3L, 0.3333),
      (3L, 3L, 1L, 1.0)))
  }

  test("soft dedup on the real corpus: every cluster's mass ≈ 1 (F45)") {
    val out = graft.ops.LlmQueries.dedupSoft(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(out.length == docs.count()) // every doc kept — soft, not hard
    // per-cluster sampling mass = 1 document (up to the 4-dp grid)
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(math.abs(members.map(_._4).sum - 1.0) < 0.01)
      assert(members.map(_._3).distinct.size == 1) // consistent size col
      assert(members.head._3 == members.length)    // size IS the count
    }
    // multi-member clusters exist on the synthetic corpus (planted dups)
    assert(out.exists(_._3 > 1L))
  }

  test("range search: radius membership, ivf ⊆ exact, full probe ≡ exact (F48)") {
    // the synthetic corpus has no true near-dups (max cos ~0.5), so
    // plant one perturbed copy of each query vector — range search's
    // whole regime is "find ALL near-copies", so the planted twin MUST
    // appear in every variant's result
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val planted = e.filter($"vec_id" < 10)
      .select(($"vec_id" + 100000L).as("vec_id"),
        expr("transform(embedding, (v, i) -> cast(v * 1.01f + 0.02f * sin(i) as float))")
          .as("embedding"))
    val corpus = e.unionByName(planted)
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = rows(Ann.bruteRange(q, corpus, 0.95))
    // every planted twin found, radius membership holds
    (0L until 10L).foreach { id =>
      assert(exact.exists(t => t._1 == id && t._2 == id + 100000L)) }
    assert(exact.forall(_._3 >= 0.95 - 1e-4))
    // bucketed candidates are a sound subset with identical scores
    val ivf = rows(Ann.ivfRange(q, corpus, 0.95, 32, 8))
    val exMap = exact.map(t => (t._1, t._2) -> t._3).toMap
    ivf.foreach(t => assert(exMap.get((t._1, t._2)).contains(t._3)))
    // a twin lands in its source's own coarse list ⇒ IVF finds it even
    // at nProbe=8 (the nearest list is always probed first)
    (0L until 10L).foreach { id =>
      assert(ivf.exists(t => t._1 == id && t._2 == id + 100000L)) }
    // probing every list IS brute force — row-for-row, same order
    assert(rows(Ann.ivfRange(q, corpus, 0.95, 32, 32)) == exact)
  }

  test("weighted sampling: eff rate = rate div cluster size (F47)") {
    val docs = Seq((0L, "en"), (1L, "en"), (2L, "en"), (3L, "de"))
      .toDF("doc_id", "lang")
    val weights = Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("doc_id", "size")
    val out = graft.ops.Sampling.sampleWeighted(docs, weights,
      Seq(("en", 9000), ("de", 10000)), 0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // en cluster of 3 at 9000 bp → 3000 each; de singleton at 10000
    out.foreach { case (id, bucket, rate, size, eff, keep) =>
      assert(eff == rate / size)
      assert(keep == (if (bucket < eff) 1L else 0L))
    }
    assert(out.find(_._1 == 0L).get._5 == 3000L)
    assert(out.find(_._1 == 3L).get._5 == 10000L)
    assert(out.find(_._1 == 3L).get._6 == 1L) // full-rate singleton always kept
  }

  test("weighted sampling on the real corpus: subset of the plain sample (F47)") {
    val L = graft.ops.LlmQueries
    val w = L.corpusSampleWeighted(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val plain = L.corpusSample(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(w.keySet == plain.keySet) // one verdict per doc, same corpus
    // eff ≤ rate pointwise ⇒ weighted keeps are a subset of plain keeps
    w.foreach { case (id, (size, _, keep)) =>
      if (keep == 1L) assert(plain(id) == 1L)
      if (size == 1L) assert(keep == plain(id)) // singletons unchanged
    }
    // multi-member clusters exist, so the subset is proper somewhere
    assert(w.values.exists(_._1 > 1L))
  }

  test("count-min: never under-counts, merge ≡ direct, stable (F58)") {
    import graft.ops.Sketch
    val vals = Seq.fill(50)("hot") ++ Seq.fill(5)("warm") ++
      (0 until 200).map("t" + _)
    val df = vals.map(t => ("x", t)).toDF("slice", "v")
    val regs = Sketch.cmsRegisters(df, "slice", col("v"))
    val cand = Seq(("x", "hot"), ("x", "warm"), ("x", "absent"))
      .toDF("slice", "v")
    val est = Sketch.cmsEstimate(regs, cand, "v").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    // the one ABSOLUTE guarantee: collisions only add, never subtract
    assert(est("hot") >= 50L && est("warm") >= 5L && est("absent") >= 0L)
    // 255 distinct values over 4×1024 counters: the hot estimate is
    // within a few collisions of exact
    assert(est("hot") <= 55L, est)
    // merge ≡ direct: elementwise counter sums are bit-exact
    def regMap(r: org.apache.spark.sql.DataFrame) = r.collect()
      .map(x => (x.getString(0), x.getInt(1), x.getLong(2)) -> x.getLong(3))
      .toMap
    val whole = regMap(regs)
    val halves = regMap(Sketch.cmsMerge(
      Sketch.cmsRegisters(df.filter(length(col("v")) % 2 === 0), "slice", col("v")),
      Sketch.cmsRegisters(df.filter(length(col("v")) % 2 =!= 0), "slice", col("v"))))
    assert(whole == halves)
    // order/partitioning-free
    assert(whole == regMap(Sketch.cmsRegisters(df.repartition(7), "slice", col("v"))))
    // r12: the batch pre-aggregated variant (hash per DISTINCT value,
    // weight by occurrence count) builds the BIT-IDENTICAL register
    // table — count-sum associativity, the cmsMerge theorem applied
    // within one sweep
    assert(whole == regMap(Sketch.cmsRegistersBatch(df, "slice", col("v"))))
    // the driver audit on the real corpus: est ≥ exact on every row
    val audit = graft.ops.LlmQueries
      .corpusHeavyHitters(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(audit.nonEmpty)
    audit.foreach { case (t, e, x) => assert(e >= x, s"$t: $e < $x") }
  }

  test("quantile sketch bucket law, merge ≡ direct, accuracy bound (F54)") {
    import graft.ops.Sketch
    // bucket arithmetic on hand-computed cases: e from the binary
    // string, 16 sub-buckets per octave, v<=0 underflows to -1
    val cases = Seq(
      0L -> -1L, -5L -> -1L,
      1L -> 0L,              // e=0, p=1, sub=0
      2L -> 16L, 3L -> 24L,  // e=1: sub = (v-2)*16 div 2
      16L -> 64L,            // e=4, sub 0 — exact power of two
      17L -> 65L, 31L -> 79L,
      1000L -> 159L)         // e=9, p=512: 144 + (488*16) div 512 = 159
    val got = Sketch.qRegisters(
      cases.map { case (v, _) => ("x", v) }.toDF("lang", "v"),
      "lang", col("v"))
      .collect().map(r => r.getLong(1)).toSet
    assert(got == cases.map(_._2).toSet)
    // the estimate is the bucket LOWER BOUND: a single-value slice
    // estimates within 1/16 relative error below the true value
    val one = Sketch.qEstimate(Sketch.qRegisters(
      Seq(("y", 1000L)).toDF("lang", "v"), "lang", col("v")),
      "lang", Seq(5000))
      .collect().head.getLong(2)
    assert(one == 512L + (159L % 16) * 512L / 16) // = 992, <= 1000
    assert(one <= 1000L && one >= 1000L * 15 / 16)
    // merge ≡ direct on the real corpus (count-sum associativity),
    // and registers are repartition-invariant
    val vals = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("lang"),
        size(graft.text.TextFns.tokens(col("text"))).cast("long").as("v"))
    def regMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = regMap(Sketch.qRegisters(vals, "lang", col("v")))
    val halves = regMap(Sketch.qMerge(
      Sketch.qRegisters(vals.filter(col("v") % 2 === 0), "lang", col("v")),
      Sketch.qRegisters(vals.filter(col("v") % 2 =!= 0), "lang", col("v")),
      "lang"))
    assert(whole == halves)
    assert(whole == regMap(Sketch.qRegisters(vals.repartition(7), "lang", col("v"))))
    // estimates bracket the exact percentile within one sub-bucket:
    // q_est <= q_exact and q_exact < q_est * (1 + 1/16) + 1
    val audit = graft.ops.LlmQueries
      .corpusQuantileSketch(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.nonEmpty)
    audit.foreach { case (lang, q, est, exact) =>
      assert(est <= exact && exact <= est + est / 16 + 1,
        s"$lang p$q: est $est vs exact $exact") }
  }

  test("hll rho law: leading-zero-bit extraction from the hex field (F49)") {
    import graft.ops.Sketch
    // rho = leading zero BITS of the 52-bit field + 1, via hex string ops
    val cases = Seq(
      "8000000000000" -> 1L,  // MSB set
      "f000000000000" -> 1L,
      "4000000000000" -> 2L, "7fffafff00001" -> 2L,
      "2000000000000" -> 3L, "3000000000000" -> 3L,
      "1000000000000" -> 4L,
      "0800000000000" -> 5L,  // one zero hex digit, then MSB of next
      "0100000000000" -> 8L,
      "00f0000000000" -> 9L,
      "0000000000001" -> 52L, // minimal nonzero value
      "0000000000000" -> 53L) // all zeros -> sentinel max
    val df = cases.map(_._1).toDF("field")
      .select(col("field"), Sketch.rhoFromField(col("field")).as("rho"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { case (f, want) => assert(got(f) == want, f) }
  }

  test("hll merge = register max = the sketch of the union (F49)") {
    import graft.ops.Sketch
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val tok = docs.select(col("lang"),
      explode(graft.text.TextFns.tokens(col("text"))).as("token"))
    val regs = Sketch.hllRegisters(tok, "lang", "token")
    // merging per-lang sketches (max per bucket) must equal sketching
    // the whole corpus directly — associativity IS the operator
    val merged = Sketch.hllMergeAll(regs, "*", "lang")
      .select("bucket", "register").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Sketch.hllRegisters(
        tok.withColumn("lang", lit("*")), "lang", "token")
      .select("bucket", "register").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct)
    // registers are order-free: repartition changes nothing
    val reparts = Sketch.hllRegisters(tok.repartition(7), "lang", "token")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val plain = regs.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(reparts == plain)
    // r13: the distinct-first batch variant (hash each DISTINCT
    // (slice, value) once) builds the BIT-IDENTICAL register table —
    // max is duplicate-blind (the cmsRegistersBatch theorem's simpler
    // twin)
    val batch = Sketch.hllRegistersBatch(tok, "lang", "token")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch == plain)
    // buckets live in [0, 256)
    assert(plain.keys.forall { case (_, b) => b >= 0L && b < 256L })
  }

  test("hll incremental maintenance: merged halves == fresh full sketch (F49b)") {
    val out = graft.ops.LlmQueries
      .corpusCardinalityIncremental(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(out.nonEmpty)
    // not approximately — IDENTICALLY: registers are maxes, max is
    // associative, so the estimates are the same doubles
    out.foreach { case (lang, merged, full) =>
      assert(merged == full, s"$lang: $merged != $full") }
  }

  test("hll estimate lands within the sketch's error regime (F49)") {
    val out = graft.ops.LlmQueries
      .corpusCardinalityHll(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq("*", "de", "en", "es", "fr", "zh"))
    out.foreach { case (lang, exact, est) =>
      assert(exact > 0)
      val rel = math.abs(est - exact) / exact.toDouble
      // sigma = 1.04/sqrt(256) = 6.5%; 3 sigma = 20%
      assert(rel <= 0.20, s"$lang: est $est vs exact $exact (rel $rel)")
    }
    // '*' exact is the distinct union, >= the largest slice
    val star = out.find(_._1 == "*").get._2
    assert(star >= out.filter(_._1 != "*").map(_._2).max)
  }

  test("url canonicalization: each rule and their composition (F46)") {
    def canon(u: String): String =
      Seq(u).toDF("url").select(graft.text.Urls.canonicalize(col("url")))
        .head.getString(0)
    assert(canon("https://h.com/p#sec2") == "https://h.com/p")
    // authority lowers, path case survives
    assert(canon("HTTPS://H.COM/Path") == "https://h.com/Path")
    assert(canon("https://h.com:443/p") == "https://h.com/p")
    assert(canon("http://h.com:80") == "http://h.com")
    assert(canon("https://h.com:8443/p") == "https://h.com:8443/p") // real port kept
    assert(canon("https://www.h.com/p") == "https://h.com/p")
    assert(canon("https://h.com/p?utm_source=a&id=1&utm_campaign=b")
      == "https://h.com/p?id=1")
    assert(canon("https://h.com/p?utm_source=x&utm_medium=y") == "https://h.com/p")
    assert(canon("https://h.com/p/") == "https://h.com/p")
    assert(canon("https://h.com/") == "https://h.com")
    assert(canon("HTTPS://WWW.H.COM:443/p/?utm_source=x#f") == "https://h.com/p")
    // scheme is identity — never merged
    assert(canon("http://h.com/p") != canon("https://h.com/p"))
  }

  test("url dedup merges variant forms per id-arithmetic class (F46)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val out = graft.ops.LlmQueries.dedupUrl(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // independent arithmetic model of the planted variants' canonical form
    val expected = (0L until n).groupBy { id =>
      val base = s"https://site${id % 5}.example.com/a${id % 11}"
      if (id % 4 == 3) s"$base?id=${id % 5}" else base
    }
    assert(out.keySet == expected.keySet)
    expected.foreach { case (u, ids) =>
      assert(out(u) == ((ids.size.toLong, ids.size.toLong, ids.min)))
    }
    // real multiplicity: some canonical URL unifies ≥2 raw forms
    assert(expected.values.exists(_.size >= 2))
  }

  /** Independent JVM replay of the F42 GD law (same fixed-point grids,
    * fast sigmoid, update order; shares only h60Jvm with main code) —
    * the bit-equality witness for the distributed implementation.
    */
  private def refClassifier(docs: Seq[(String, Double)], iters: Int,
                            eta: Double): (Array[Double], Double) = {
    val D = graft.text.Classifier.Dim
    // Spark's Round(double): BigDecimal.valueOf + HALF_UP
    def rnd(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val toks = docs.map(_._1.toLowerCase(java.util.Locale.ROOT).split(" ", -1))
    val buckets = toks.map(_.map(t => (TextFns.h60Jvm(t) % D).toInt))
    val ys = docs.map(_._2)
    val nD = docs.size * 1e9
    val w = Array.fill(D)(0.0)
    var bias = 0.0
    for (_ <- 0 until iters) {
      val gs = Array.fill(D)(0L)
      var gb = 0L
      for (i <- docs.indices) {
        val n = toks(i).length
        var zs = 0L
        buckets(i).foreach(b => zs += rnd(w(b) / n * 1e12))
        val z = bias + zs.toDouble / 1e12
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val err = p - ys(i)
        buckets(i).foreach(b => gs(b) += rnd(err / n * 1e9))
        gb += rnd(err * 1e9)
      }
      for (b <- 0 until D) w(b) = w(b) - eta * (gs(b).toDouble / nD)
      bias = bias - eta * (gb.toDouble / nD)
    }
    (w, bias)
  }

  test("quality classifier: Spark GD equals the independent JVM model bit-for-bit (F42)") {
    val C = graft.text.Classifier
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val label = when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0)
    val m = C.train(docs, label)
    val rows = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getString(1), if (r.getLong(0) % 2 == 0) 1.0 else 0.0)).toSeq
    val (rw, rb) = refClassifier(rows, C.Iters, C.Eta)
    assert(m.bias == rb) // exact double equality — the fixed-point claim
    assert(m.w.toSeq == rw.toSeq)
    // and the trained model is not the zero model
    assert(m.w.exists(_ != 0.0))
  }

  test("quality classifier: compiled z kernel equals the declarative fold (F42/G16)") {
    // the ClassifierZ codegen kernel replaced the interpreted
    // `aggregate` HOF on the scoring/training hot path (§6 profile) —
    // pin bit-equality on the real corpus plus edge rows (empty text
    // → n=0 never divides; single token; negative weights exercising
    // the HALF_UP-on-shortest-repr rounding both directions)
    val C = graft.text.Classifier
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("text").isNotNull)
      .select(col("doc_id"), graft.text.TextFns.tokens(col("text")).as("toks"))
      .unionByName(Seq(
        (9000001L, Seq.empty[String]), (9000002L, Seq("one")),
        (9000003L, Seq("a", "b", "c", "a"))).toDF("doc_id", "toks"))
    val w = Array.tabulate(C.Dim)(i => (i - 32) * 0.0315 / 7.0)
    val m = C.Model(w, 0.125)
    val n = size(col("toks")).cast("long")
    val both = docs.select(col("doc_id"),
      C.zColDeclarative(col("toks"), n, m).as("zd"),
      (lit(m.bias) + graft.functions.ClassifierZ.zFixed(col("toks"), w)
        .cast("double") / lit(1e12)).as("zk"),
      // r13: the bucket-count path (hash once, fold counts) must be the
      // same longs — every occurrence of a bucket-b token folds the
      // SAME rounded term, so Σ_occ ≡ counts[b]·term exactly
      (lit(m.bias) + graft.functions.ClassifierZ.zFixedCounts(
        graft.functions.ClassifierBuckets.counts(col("toks"), C.Dim), w)
        .cast("double") / lit(1e12)).as("zc"))
    assert(both.count() > 3)
    // exact double equality row-for-row — the fixed-point claim
    assert(both.filter(col("zd") =!= col("zk") ||
      col("zd").isNull =!= col("zk").isNull).count() == 0)
    assert(both.filter(col("zc") =!= col("zk") ||
      col("zc").isNull =!= col("zk").isNull).count() == 0)
    // and the count vector itself: Σ counts = token count per row
    val cs = docs.select(size(col("toks")).cast("long").as("n"),
      graft.functions.ClassifierBuckets.counts(col("toks"), C.Dim).as("c"))
      .select(col("n"), aggregate(col("c"), lit(0L), (a, x) => a + x).as("s"))
    assert(cs.filter(col("n") =!= col("s")).count() == 0)
  }

  test("quality classifier: weights bit-stable under repartition (F42)") {
    val C = graft.text.Classifier
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val label = when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0)
    val m1 = C.train(docs, label)
    val m2 = C.train(docs.repartition(7), label)
    assert(m1.bias == m2.bias)
    assert(m1.w.toSeq == m2.w.toSeq)
  }

  test("quality classifier: separable planted corpus classified perfectly (F42)") {
    val C = graft.text.Classifier
    val docs = (
      (0 until 20).map(i => (i.toLong, "alpha beta alpha")) ++
        (20 until 40).map(i => (i.toLong, "gamma delta gamma"))
      ).toDF("doc_id", "text")
    val label = when(col("text").contains("alpha"), 1.0).otherwise(0.0)
    val m = C.train(docs, label)
    val out = C.score(docs, label, m).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == 40)
    out.foreach { case (_, y, _, pred) => assert(pred == y) }
    // the two classes separate in probability, not just at the 0.5 line
    val pPos = out.filter(_._2 == 1L).map(_._3)
    val pNeg = out.filter(_._2 == 0L).map(_._3)
    assert(pPos.min > pNeg.max)
  }

  test("quality classifier: training beats the p=0.5 start on the real corpus (F42)") {
    val L = graft.ops.LlmQueries
    val out = L.qualityClassifierScore(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // mean |p − y| at iteration 0 is exactly 0.5 (all p = 0.5);
    // a trained model must do strictly better
    val meanErr = out.map { case (y, p) => math.abs(p - y) }.sum / out.length
    assert(meanErr < 0.5)
    // both label directions exist at sf0.001 under the driver threshold
    assert(out.exists(_._1 == 1L) && out.exists(_._1 == 0L))
  }
}
