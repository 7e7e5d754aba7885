package graftbench

import scala.collection.mutable

import graft.tsdb.Retention

/** Plain-Scala answers computed from the generated inputs alone, to
  * check what the program returns. They follow the Graphite semantics
  * the program documents (whisper archive selection and xFilesFactor
  * propagation, find/expand node rules), written independently of it;
  * only the retention spec's data type is shared.
  */
object Reference {

  /** A dotted glob as a regex: `*` and `?` stay within one level,
    * `{a,b}` is an alternation.
    */
  def globRegex(glob: String, allowDeeper: Boolean): scala.util.matching.Regex = {
    val b = new StringBuilder("^")
    var inBrace = false
    glob.foreach {
      case '*' => b ++= "[^.]*"
      case '?' => b ++= "[^.]"
      case '{' => inBrace = true; b ++= "(?:"
      case '}' => inBrace = false; b ++= ")"
      case ',' if inBrace => b ++= "|"
      case c => b ++= java.util.regex.Pattern.quote(c.toString)
    }
    if (allowDeeper) b ++= "(?:\\..+)?"
    (b ++= "$").toString.r
  }

  def matching(paths: Seq[String], glob: String): Seq[String] = {
    val re = globRegex(glob, allowDeeper = false)
    paths.filter(p => re.matches(p))
  }

  /** /metrics/find: (node, isLeaf) rows at the query's depth. */
  def find(paths: Seq[String], query: String): Set[(String, Long)] = {
    val d = query.split('.').length
    val re = globRegex(query, allowDeeper = true)
    paths.filter(p => re.matches(p)).flatMap { p =>
      val parts = p.split('.')
      Seq(parts.take(d).mkString(".") -> (if (parts.length == d) 1L else 0L))
    }.toSet
  }

  /** /metrics/expand: node paths, branches with a trailing dot. */
  def expand(paths: Seq[String], query: String, leavesOnly: Boolean): Set[String] =
    find(paths, query).collect {
      case (n, 1L) => n
      case (n, 0L) if !leavesOnly => n + "."
    }

  /** Whisper's archive selection: the finest archive whose retention
    * still reaches `from`, after clamping the window to what exists.
    */
  def select(spec: Seq[Retention.Archive], from0: Long, until0: Long, now: Long): Option[(Long, Long, Int)] = {
    def oldest(a: Retention.Archive) = (now - now % a.secondsPerPoint) - a.retention + a.secondsPerPoint
    val oldestAll = oldest(spec.last)
    if (from0 > now || until0 < oldestAll) None
    else {
      val from = math.max(from0, oldestAll)
      val until = math.min(until0, now)
      val idx = spec.indexWhere(a => oldest(a) <= from)
      Some((from, until, if (idx < 0) spec.size - 1 else idx))
    }
  }

  /** Dense average-method fetch of one series: (t, value) on the
    * selected archive's grid. `raw(ts)` gives the stored point.
    */
  def fetchSeries(spec: Seq[Retention.Archive], xff: Double, raw: Long => Option[Double],
                  from0: Long, until0: Long, now: Long): Seq[(Long, Option[Double])] =
    select(spec, from0, until0, now) match {
      case None => Nil
      case Some((from, until, level)) =>
        val memo = mutable.Map.empty[(Int, Long), Option[Double]]
        def value(l: Int, bucket: Long): Option[Double] = memo.getOrElseUpdate((l, bucket), {
          val step = spec(l).secondsPerPoint
          val (childStep, children) =
            if (l == 0) (Gen.Step, (bucket until bucket + step by Gen.Step).map(raw))
            else {
              val cs = spec(l - 1).secondsPerPoint
              (cs, (bucket until bucket + step by cs).map(value(l - 1, _)))
            }
          val known = children.flatten
          if (known.isEmpty) None
          else if (l > 0 && known.size.toDouble / (step / childStep).toDouble < xff) None
          else Some(known.sum / known.size)
        })
        val step = spec(level).secondsPerPoint
        val fromQ = from - from % step
        val untilQ = until - until % step
        (fromQ to untilQ by step).map(t => t -> value(level, t))
    }

  /** Word 3-shingle Jaccard of two documents. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.toLowerCase.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 0.0 else (x & y).size.toDouble / (x | y).size
  }
}
