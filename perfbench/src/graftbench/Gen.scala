package graftbench

import scala.collection.mutable

/** Seeded input generators. Every value is a pure function of the seed
  * and an index, so the plain-Scala references can recompute any input
  * without keeping it, and the same seed always gives the same inputs.
  */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of its argument. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(parts: Long*): Long = parts.foldLeft(0x1234567L)((h, p) => mix(h ^ p))
  /** Uniform in [0, 1) from a hash. */
  def unit(parts: Long*): Double = (hash(parts: _*) >>> 11) * (1.0 / (1L << 53))

  val Day = 86400L
  val Step = 60L

  // ---- metric series -----------------------------------------------------

  val MetricNames: Seq[String] = Seq("cpu.user", "cpu.system", "cpu.idle", "mem.used",
    "mem.free", "net.rx", "net.tx", "disk.read", "disk.write", "load.avg")

  /** `dcs` × `hosts` × 10 metric paths, e.g. `dc1.host07.cpu.user`. */
  def seriesTree(dcs: Int, hosts: Int): IndexedSeq[String] =
    for (d <- 1 to dcs; h <- 1 to hosts; m <- MetricNames)
      yield f"dc$d.host$h%02d.$m"

  /** The value of series `p` at `ts`. Two decimals, so the text form
    * parses back to the same double.
    */
  def point(seed: Long, p: Int, ts: Long): Double = {
    val phase = unit(seed, p, 1)
    val v = 50 + 30 * math.sin(2 * math.Pi * (ts.toDouble / Day + phase)) +
      10 * (unit(seed, p, ts, 3) - 0.5)
    math.round(v * 100) / 100.0
  }

  def line(path: String, v: Double, ts: Long): String = s"$path $v $ts"

  // ---- dashboard requests --------------------------------------------------

  /** One dashboard request: the URL the program sees, plus what the
    * benchmark knows about it for tracing and checking.
    */
  final case class Request(url: String, kind: String, target: String,
                           globs: Seq[String], windowS: Long, format: String,
                           maxDp: Option[Int]) {
    /** Plain csv renders without a point budget are checked in full. */
    def checked: Boolean = kind == "find" || kind == "expand" ||
      (kind == "render" && format == "csv" && maxDp.isEmpty)
  }

  /** Element `i` of a stream that deals `template` in seeded shuffles,
    * one whole template per block: every block holds the template's mix
    * exactly, so short runs see the intended shares.
    */
  def dealt[T](seed: Long, stream: Int, i: Long, template: Seq[T]): T = {
    val block = i / template.size
    val dealt = new scala.util.Random(hash(seed, stream, block)).shuffle(template)
    dealt((i % template.size).toInt)
  }

  private def times[T](xs: (T, Int)*): Seq[T] = xs.flatMap { case (x, n) => Seq.fill(n)(x) }

  /** The `f`-th fresh request of the dashboard mix: 60% plain renders,
    * 25% function pipelines, 15% find/expand, windows
    * 35/30/20/15% for -1h/-6h/-24h/-3d, glob widths from one series up
    * to a whole dc.
    */
  def freshRequest(seed: Long, f: Long, dcs: Int, hosts: Int): Request = {
    def u(k: Int) = unit(seed, f, 1000 + k)
    def host = f"host${1 + (u(1) * hosts).toInt}%02d"
    def dc = s"dc${1 + (u(2) * dcs).toInt}"
    val metric = MetricNames((u(3) * MetricNames.size).toInt)
    val group = metric.takeWhile(_ != '.')
    val glob = dealt(seed, 4, f, times(s"$dc.$host.$metric" -> 8, s"$dc.$host.$group.*" -> 5,
      s"$dc.host*.$metric" -> 3, s"*.host*.$metric" -> 2, s"$dc.*.*.*" -> 2))
    val (wName, wSec) = dealt(seed, 5, f, times(("-1h", 3600L) -> 7, ("-6h", 21600L) -> 6,
      ("-24h", 86400L) -> 4, ("-3d", 259200L) -> 3))
    val fmt = dealt(seed, 6, f, times("csv" -> 3, "json" -> 7))
    val maxDp = dealt(seed, 7, f, times(None -> 2, Some(100) -> 2, Some(200) -> 2, Some(400) -> 2,
      Some(800) -> 2))
    dealt(seed, 9, f, times("render" -> 12, "func" -> 5, "find" -> 3)) match {
      case "find" =>
        val q = dealt(seed, 10, f, times(s"$dc.*" -> 1, s"$dc.$host.*" -> 1, s"*.host*.$group" -> 1,
          s"$dc.host{01,02,03}.*.*" -> 1))
        if (u(11) < 0.5) Request(s"/metrics/find?query=$q&format=treejson", "find", q, Seq(q), 0, "", None)
        else {
          val leaves = u(12) < 0.5
          Request(s"/metrics/expand?query=$q&leavesOnly=${if (leaves) 1 else 0}", "expand",
            q, Seq(q), 0, if (leaves) "leaves" else "all", None)
        }
      case "render" => Request(render(glob, wName, fmt, maxDp), "render", glob, Seq(glob), wSec, fmt, maxDp)
      case _ =>
        val t = dealt(seed, 13, f, Seq(s"sumSeries($glob)", s"movingAverage($glob,5)",
          s"summarize($glob,\"1h\",\"avg\")", s"aliasByNode($glob,1)",
          s"consolidateBy($glob,\"max\")", s"aliasByNode(timeShift($glob,\"1d\"),1)"))
        Request(render(t, wName, fmt, maxDp), "func", t, Seq(glob), wSec, fmt, maxDp)
    }
  }

  private def render(target: String, from: String, fmt: String, maxDp: Option[Int]) =
    s"/render?target=$target&from=$from&format=$fmt" + maxDp.fold("")(m => s"&maxDataPoints=$m")

  /** The request stream: half the requests (five in every ten) repeat
    * an earlier one, picked Zipf-skewed by first appearance; the rest
    * are fresh.
    */
  def requestStream(seed: Long, n: Int, dcs: Int, hosts: Int): IndexedSeq[Request] = {
    val distinct = mutable.ArrayBuffer.empty[Request]
    val weights = mutable.ArrayBuffer.empty[Double]
    var total = 0.0
    (0 until n).map { i =>
      if (distinct.nonEmpty && dealt(seed, 2, i, times(true -> 5, false -> 5))) {
        var x = unit(seed, i, 3) * total
        var k = 0
        while (k < weights.size - 1 && x >= weights(k)) { x -= weights(k); k += 1 }
        distinct(k)
      } else {
        val r = freshRequest(seed, distinct.size, dcs, hosts)
        distinct += r
        val w = 1.0 / math.pow(distinct.size, 1.1)
        weights += w
        total += w
        r
      }
    }
  }

  // ---- dedup corpus --------------------------------------------------------

  final case class Corpus(docs: IndexedSeq[(Long, String)], planted: Seq[(Long, Long)])

  /** `nBase` documents of 20-100 Zipf-drawn words plus `nCopies`
    * near-duplicates of random base documents with 2, 5 or 10% of their
    * words replaced. Doc ids are a seeded permutation, so copies and
    * sources interleave and every fourth id spreads across both.
    */
  def corpus(seed: Long, nBase: Int, nCopies: Int, vocab: Int = 4000): Corpus = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until vocab).map { i =>
      val len = 3 + (unit(seed, i, 11) * 6).toInt
      (0 until len).map(k => ('a' + (unit(seed, i, k, 12) * 26).toInt).toChar).mkString + i.toString.takeRight(1)
    }
    val cdf = {
      val w = (1 to vocab).map(r => 1.0 / r)
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(if (i < 0) -i - 1 else i, vocab - 1))
    }
    val base = (0 until nBase).map(_ => Array.fill(20 + rnd.nextInt(81))(word()))
    val edits = Seq(0.02, 0.05, 0.10)
    val copies = (0 until nCopies).map { _ =>
      val src = rnd.nextInt(nBase)
      val share = edits(rnd.nextInt(edits.size))
      val toks = base(src).clone()
      val nEdit = math.max(1, math.round(toks.length * share).toInt)
      rnd.shuffle(toks.indices.toList).take(nEdit).foreach(j => toks(j) = word())
      (src, toks)
    }
    val ids = rnd.shuffle((0L until (nBase + nCopies).toLong).toVector)
    val docs = base.indices.map(i => ids(i) -> base(i).mkString(" ")) ++
      copies.indices.map(j => ids(nBase + j) -> copies(j)._2.mkString(" "))
    Corpus(docs.sortBy(_._1), copies.indices.map(j => (ids(copies(j)._1), ids(nBase + j))))
  }
}
