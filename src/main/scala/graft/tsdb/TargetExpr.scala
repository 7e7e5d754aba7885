package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graphite render-target EXPRESSIONS: `summarize(sumSeries(
  * vera.u1?.click), "1hour", "avg")` — the grammar every Graphite
  * client speaks. The reference's CGI passes targets straight to fetch
  * as globs (graphite_cgi.lua:318-338); this parser/evaluator adds the
  * function layer on top of the same fetch, dispatching to the
  * [[SeriesFunctions]] combinators so a parsed pipeline is exactly the
  * declarative plan a hand-written one would be.
  *
  * Grammar (graphite-web's evaluateTarget subset):
  * {{{
  *   expr   := call | path
  *   call   := ident '(' (arg (',' arg)*)? ')'
  *   arg    := expr | number | string | bool
  *   ident  := [A-Za-z_][A-Za-z0-9_]*     followed by '('
  *   path   := one-or-more glob chars     (no ',' '(' ')' quotes ws)
  * }}}
  */
object TargetExpr {

  /** Driver-list ceiling for the collect-path useSeriesAbove (the
    * TagEnv path never collects). K-row metadata by design; the cap
    * makes "K stayed small" a checked invariant instead of a hope.
    */
  val UseSeriesAboveMaxPaths = 1000

  sealed trait Arg
  final case class SeriesArg(e: Expr) extends Arg
  final case class NumArg(v: Double) extends Arg
  final case class StrArg(s: String) extends Arg
  final case class BoolArg(b: Boolean) extends Arg

  sealed trait Expr
  /** A leaf glob target — fetched, not computed. */
  final case class PathExpr(glob: String) extends Expr
  final case class CallExpr(name: String, args: Seq[Arg]) extends Expr

  /** Canonical text of an expression — the combined-series NAME
    * Graphite gives function outputs (strings re-quote as `"s"`,
    * numbers drop integral `.0`).
    */
  def render(e: Expr): String = e match {
    case PathExpr(g) => g
    case CallExpr(n, args) => args.map {
      case SeriesArg(s) => render(s)
      case NumArg(v) => SeriesFunctions.fmtNum(v)
      case StrArg(s) => "\"" + s + "\""
      case BoolArg(b) => b.toString
    }.mkString(s"$n(", ",", ")")
  }

  // ---- recursive-descent parser ----

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    private def err(msg: String) =
      throw new IllegalArgumentException(s"target parse error at ${i}: $msg in '$s'")

    private def isPathChar(c: Char): Boolean =
      !c.isWhitespace && "(),'\"\u0000".indexOf(c) < 0

    def parseExpr(): Expr = {
      ws()
      val start = i
      // a ',' inside a {a,b} brace alternative belongs to the GLOB,
      // not the argument list — track brace depth while scanning
      var depth = 0
      var scanning = true
      while (i < s.length && scanning) {
        val c = s.charAt(i)
        if (c == '{') { depth += 1; i += 1 }
        else if (c == '}') { if (depth > 0) depth -= 1; i += 1 }
        else if (c == ',' && depth > 0) i += 1
        else if (isPathChar(c)) i += 1
        else scanning = false
      }
      if (i == start) err("expected path or function")
      val word = s.substring(start, i)
      ws()
      if (peek == '(' && word.matches("[A-Za-z_][A-Za-z0-9_]*")) {
        i += 1 // '('
        val args = scala.collection.mutable.ArrayBuffer[Arg]()
        ws()
        if (peek == ')') i += 1
        else {
          var done = false
          while (!done) {
            args += parseArg()
            ws()
            peek match {
              case ',' => i += 1
              case ')' => i += 1; done = true
              case _ => err("expected ',' or ')'")
            }
          }
        }
        CallExpr(word, args.toSeq)
      } else PathExpr(word)
    }

    private def parseArg(): Arg = {
      ws()
      peek match {
        case '\'' | '"' =>
          val q = peek; i += 1
          val start = i
          while (i < s.length && s.charAt(i) != q) i += 1
          if (i >= s.length) err("unterminated string")
          val v = s.substring(start, i); i += 1
          StrArg(v)
        case c if c == '-' || c == '+' || c.isDigit =>
          val start = i
          i += 1
          while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.' ||
            s.charAt(i) == 'e' || s.charAt(i) == 'E' ||
            ((s.charAt(i) == '-' || s.charAt(i) == '+') &&
              (s.charAt(i - 1) == 'e' || s.charAt(i - 1) == 'E')))) i += 1
          val text = s.substring(start, i)
          // a glob like `1min.cpu.*` starts with a digit but is a path
          if (i < s.length && isPathChar(s.charAt(i))) { this.i = start; SeriesArg(parseExpr()) }
          else NumArg(text.toDouble)
        case _ =>
          // true/false keywords, else a nested expression
          val e = parseExpr()
          e match {
            case PathExpr("true") => BoolArg(true)
            case PathExpr("false") => BoolArg(false)
            case other => SeriesArg(other)
          }
      }
    }

    def atEnd: Boolean = { ws(); i >= s.length }
  }

  /** Parse a full target string; trailing garbage is an error. */
  def parse(target: String): Expr = {
    val p = new P(target)
    val e = p.parseExpr()
    if (!p.atEnd)
      throw new IllegalArgumentException(s"trailing input after target expression: '$target'")
    e
  }

  // ---- evaluator ----

  /** What `seriesByTag` needs beyond the glob-fetch closure: the
    * distinct-path universe (the tag index derives from it — K-row
    * metadata, the find-tree order) and a fetch for an explicit path
    * list ([[Fetch.fetchByPaths]]'s broadcast-semi-join shape).
    * Optional because only tagged queries need it; an evaluator
    * without one fails loudly on `seriesByTag`.
    */
  final case class TagEnv(paths: DataFrame,
                          fetchPaths: (DataFrame, Long) => DataFrame)

  /** What the window-GENERATOR functions (`constantLine`, `threshold`,
    * `identity`, `time`) need: they fetch nothing, so the fetch
    * closure gives them no render window to synthesize points over.
    * Optional because only generator targets need it; an evaluator
    * without one fails loudly. Under a `timeShift` subtree the
    * generators synthesize at the SHIFTED window (like a fetch) and
    * the relabel brings them back — graphite's order.
    */
  final case class WindowEnv(spark: org.apache.spark.sql.SparkSession,
                             fromT: Long, untilT: Long)

  /** Evaluate a target expression over `fetch` (glob → fetch frame).
    * Unknown functions and mis-typed arguments fail loudly — a silent
    * fallback would render an empty graph for a typo'd pipeline.
    *
    * `timeShift` under this entry point re-labels only (the fetch
    * closure has a fixed window); use the `(glob, shiftSec)` overload
    * to give shifted subtrees a genuinely shifted fetch window —
    * graphite-web's semantics, where timeShift(x, "1d") DRAWS
    * yesterday's data at today's timestamps.
    */
  def eval(e: Expr, fetch: String => DataFrame): DataFrame =
    evalAt(e, (g, _) => fetch(g), 0L)

  /** Mutable per-evaluation xFilesFactor context — graphite's
    * requestContext['xFilesFactor']: `setXFilesFactor` writes it while
    * its subtree evaluates, and xff-consuming functions called WITHOUT
    * an explicit factor (2-arg `aggregate`, 1-arg `removeEmptySeries`)
    * read it. One instance per evalTargetAt call, so the context never
    * leaks across targets.
    */
  final class XffCtx { var value: Option[Double] = None }

  /** Window-aware evaluation: leaf globs inside a `timeShift` subtree
    * fetch at `shiftSec` relative to the render window (nested shifts
    * accumulate), and the shifted points re-label back into the render
    * window so every series aligns on the output grid. `fetchAt(glob,
    * 0)` must be the unshifted render-window fetch.
    */
  def evalAt(e: Expr, fetchAt: (String, Long) => DataFrame,
             shift: Long, tagEnv: Option[TagEnv] = None,
             winEnv: Option[WindowEnv] = None,
             xffCtx: XffCtx = new XffCtx): DataFrame = e match {
    case PathExpr(g) => fetchAt(g, shift)
    case call @ CallExpr(name, args) =>
      import SeriesFunctions._
      def series(i: Int): DataFrame = args(i) match {
        case SeriesArg(s) => evalAt(s, fetchAt, shift, tagEnv, winEnv, xffCtx)
        case other => badArg(call, i, "series", other)
      }
      def seriesShifted(i: Int, delta: Long): DataFrame = args(i) match {
        case SeriesArg(s) => evalAt(s, fetchAt, shift + delta, tagEnv, winEnv, xffCtx)
        case other => badArg(call, i, "series", other)
      }
      def window(): WindowEnv = winEnv.getOrElse(throw new IllegalArgumentException(
        s"$name: no window environment — evaluate through Api.render or " +
          "pass a TargetExpr.WindowEnv (generator functions synthesize " +
          "points over the render window)"))
      def num(i: Int): Double = args(i) match {
        case NumArg(v) => v
        case other => badArg(call, i, "number", other)
      }
      def str(i: Int): String = args(i) match {
        case StrArg(s) => s
        case other => badArg(call, i, "string", other)
      }
      def intArg(i: Int): Int = {
        val v = num(i)
        require(v == math.rint(v), s"${name}: argument ${i} must be an integer (got $v)")
        v.toInt
      }
      def arity(n: Int): Unit = require(args.length == n,
        s"$name: expected $n arguments, got ${args.length} in '${render(call)}'")
      // the moving* family's windowSize: an int POINT count or an
      // interval STRING (graphite accepts both; Grafana emits strings)
      def movingArg(call: CallExpr, i: Int, byPoints: Int => DataFrame,
                    byTime: (Long, String) => DataFrame): DataFrame =
        args(i) match {
          case NumArg(v) =>
            require(v == math.rint(v),
              s"$name: windowSize must be an integer point count or an interval string (got $v)")
            byPoints(v.toInt)
          case StrArg(sv) =>
            byTime(SeriesFunctions.parseInterval(sv), sv)
          case other => badArg(call, i, "number or interval string", other)
        }
      // an argument's canonical call text — the name fragment per-
      // operand wrappers (divideSeries, asPercent-of) embed per series
      def renderArg(a: Arg): String = a match {
        case SeriesArg(s) => render(s)
        case NumArg(v) => SeriesFunctions.fmtNum(v)
        case StrArg(s) => "\"" + s + "\""
        case BoolArg(b) => b.toString
      }
      val self = render(call)
      name match {
        case "sumSeries" | "sum" => arity(1); sumSeries(series(0), self)
        case "averageSeries" | "avg" => arity(1); averageSeries(series(0), self)
        case "minSeries" => arity(1); minSeries(series(0), self)
        case "maxSeries" => arity(1); maxSeries(series(0), self)
        case "countSeries" => arity(1); combine(series(0), "count", self)
        case "rangeOfSeries" => arity(1); combine(series(0), "range", self)
        case "stddevSeries" => arity(1); combine(series(0), "stddev", self)
        case "exponentialMovingAverage" => arity(2)
          exponentialMovingAverage(series(0), intArg(1))
        case "linearRegression" => arity(1); linearRegression(series(0))
        case "holtWintersForecast" =>
          require(args.length == 1 || args.length == 2,
            s"holtWintersForecast: expected (series[, season]), got ${args.length} args")
          // season as a POINT COUNT (number) or an interval string
          // resolved on the canonical hourly render grid — the frame
          // itself carries no step metadata (operator contract)
          val (pts, seasonText) =
            if (args.length == 1) (24, "1day")
            else args(1) match {
              case NumArg(_) => (intArg(1), SeriesFunctions.fmtNum(num(1)))
              case StrArg(sv) =>
                (math.max(1, (parseInterval(sv) / 3600L).toInt), sv)
              case other => badArg(call, 1, "number or string", other)
            }
          holtWintersForecast(series(0), pts, seasonText)
        case "holtWintersConfidenceBands" =>
          require(args.length == 1 || args.length == 2,
            s"holtWintersConfidenceBands: expected (series[, delta]), got ${args.length} args")
          // season fixed to the canonical 24-point day (the forecast's
          // default); δ defaults to graphite's 3
          holtWintersConfidenceBands(series(0), 24,
            if (args.length == 2) num(1) else 3.0)
        case "holtWintersAberration" =>
          require(args.length == 1 || args.length == 2,
            s"holtWintersAberration: expected (series[, delta]), got ${args.length} args")
          holtWintersAberration(series(0), 24,
            if (args.length == 2) num(1) else 3.0)
        case "group" => SeriesFunctions.group(args.indices.map(series))
        case "alias" => arity(2); SeriesFunctions.alias(series(0), str(1))
        case "aliasByNode" =>
          require(args.length >= 2, s"aliasByNode: needs a series and at least one node index")
          aliasByNode(series(0), (1 until args.length).map(intArg))
        case "aliasByMetric" => arity(1); aliasByMetric(series(0))
        case "groupByNode" => arity(3); groupByNode(series(0), intArg(1), str(2))
        case "integralByInterval" => arity(2)
          integralByInterval(series(0), parseInterval(str(1)), str(1))
        case "hitcount" => arity(2)
          hitcount(series(0), parseInterval(str(1)), str(1))
        case "scale" => arity(2); SeriesFunctions.scale(series(0), num(1))
        case "offset" => arity(2); SeriesFunctions.offset(series(0), num(1))
        case "absolute" => arity(1); absolute(series(0))
        case "derivative" => arity(1); derivative(series(0))
        case "nonNegativeDerivative" =>
          require(args.length == 1 || args.length == 2,
            s"nonNegativeDerivative: expected (series[, maxValue]), got ${args.length} args")
          if (args.length == 1) nonNegativeDerivative(series(0))
          else nonNegativeDerivative(series(0), num(1))
        case "perSecond" =>
          require(args.length == 1 || args.length == 2,
            s"perSecond: expected (series[, maxValue]), got ${args.length} args")
          if (args.length == 1) perSecond(series(0))
          else perSecond(series(0), num(1))
        case "integral" => arity(1); integral(series(0))
        // the moving* family accepts an int POINT count or an interval
        // STRING ("10min" — Grafana's form) for windowSize; the string
        // form is a time-range window (movingWindowTime)
        case "movingAverage" => arity(2)
          movingArg(call, 1, n => movingAverage(series(0), n),
            (sec, txt) => movingWindowTime(series(0), sec, txt, "avg"))
        case "keepLastValue" =>
          require(args.length == 1 || args.length == 2,
            s"keepLastValue: expected (series[, limit]), got ${args.length} args")
          if (args.length == 1) keepLastValue(series(0))
          else keepLastValue(series(0), intArg(1))
        case "timeShift" => arity(2)
          val txt = str(1)
          // graphite's timeShift strings are "-1d"/"+1h"; bare "1d" = back
          val (sign, body) =
            if (txt.startsWith("-")) (-1L, txt.substring(1))
            else if (txt.startsWith("+")) (1L, txt.substring(1))
            else (-1L, txt)
          val delta = sign * parseInterval(body)
          // the subtree fetches at the SHIFTED window; the relabel by
          // −delta brings its points back onto the render grid, so
          // "1d" draws yesterday's data at today's timestamps (a
          // fixed-window fetch closure degrades to relabel-only)
          timeShift(seriesShifted(0, delta), -delta, txt)
        case "consolidateBy" => arity(2); consolidateBy(series(0), str(1))
        // graphite's documented alias: cumulative(s) ≡ consolidateBy(s,'sum')
        case "cumulative" => arity(1); consolidateBy(series(0), "sum")
        // mapSeries declares the grouping reduceSeries re-derives from
        // its reduceNode — identity in the frame model
        case "mapSeries" => arity(2); intArg(1); series(0)
        case "reduceSeries" =>
          require(args.length == 5,
            s"reduceSeries: expected (mapped, func, reduceNode, matcher1, matcher2), got ${args.length} args")
          reduceSeries(series(0), str(1), intArg(2), Seq(str(3), str(4)))
        case "summarize" =>
          require(args.length >= 2 && args.length <= 4,
            s"summarize: expected (series, interval[, func[, alignToFrom]]), got ${args.length} args")
          val func = if (args.length >= 3) str(2) else "sum"
          val align = args.length == 4 && (args(3) match {
            case BoolArg(b) => b
            case other => badArg(call, 3, "boolean", other)
          })
          if (align) summarizeAligned(series(0), parseInterval(str(1)), func, str(1))
          else summarize(series(0), parseInterval(str(1)), func, str(1))
        case "smartSummarize" =>
          require(args.length == 2 || args.length == 3,
            s"smartSummarize: expected (series, interval[, func]), got ${args.length} args")
          val func = if (args.length == 3) str(2) else "sum"
          smartSummarize(series(0), parseInterval(str(1)), func, str(1))
        case "timeStack" => arity(4)
          // (series, interval, start, end): instances shifted by
          // i·interval for i in [start, end], each refetching ITS
          // shifted window and relabeling onto the render grid (the
          // timeShift machinery per instance) — the week-over-week
          // overlay. Bare intervals shift back, graphite's rule.
          val txt = str(1)
          val (sign, body) =
            if (txt.startsWith("-")) (-1L, txt.substring(1))
            else if (txt.startsWith("+")) (1L, txt.substring(1))
            else (-1L, txt)
          val unit = sign * parseInterval(body)
          val i0 = intArg(2); val i1 = intArg(3)
          require(i0 <= i1, s"timeStack: start $i0 > end $i1")
          SeriesFunctions.group((i0 to i1).map { i =>
            val delta = unit * i
            timeShift(seriesShifted(0, delta), -delta, s"$txt,$i")
          })
        case "highest" | "lowest" =>
          // graphite 1.1 generic forms: (series[, n[, func]]),
          // defaults n=1, func='average'; callback names from the one
          // shared seriesStat table
          require(args.length >= 1 && args.length <= 3,
            s"$name: expected (series[, n[, func]]), got ${args.length} args")
          val n0 = if (args.length >= 2) intArg(1) else 1
          val fn0 = if (args.length == 3) str(2) else "average"
          if (name == "highest") highest(series(0), n0, fn0)
          else lowest(series(0), n0, fn0)
        case "sortBy" =>
          require(args.length >= 1 && args.length <= 3,
            s"sortBy: expected (series[, func[, reverse]]), got ${args.length} args")
          val fn0 = if (args.length >= 2) str(1) else "average"
          val rev = args.length == 3 && (args(2) match {
            case BoolArg(b) => b
            case other => badArg(call, 2, "boolean", other)
          })
          sortBySeries(series(0), fn0, rev)
        case "removeEmptySeries" =>
          require(args.length == 1 || args.length == 2,
            s"removeEmptySeries: expected (series[, xFilesFactor]), got ${args.length} args")
          // the 1-arg form reads the setXFilesFactor context (the
          // subtree must evaluate FIRST — that is when the context is
          // written), graphite's requestContext fallback; default 0
          val resEmpty = series(0)
          removeEmptySeries(resEmpty,
            if (args.length == 2) num(1) else xffCtx.value.getOrElse(0.0))
        case "highestCurrent" => arity(2); highestCurrent(series(0), intArg(1))
        case "highestAverage" => arity(2); highestAverage(series(0), intArg(1))
        case "highestMax" => arity(2); highestMax(series(0), intArg(1))
        case "lowestCurrent" => arity(2); lowestCurrent(series(0), intArg(1))
        case "lowestAverage" => arity(2); lowestAverage(series(0), intArg(1))
        case "mostDeviant" => arity(2); mostDeviant(series(0), intArg(1))
        case "aliasSub" => arity(3); aliasSub(series(0), str(1), str(2))
        case "divideSeries" => arity(2)
          divideSeries(series(0), series(1), renderArg(args(1)))
        case "asPercent" =>
          require(args.length == 1 || args.length == 2,
            s"asPercent: expected (series[, total]), got ${args.length} args")
          if (args.length == 1) asPercent(series(0))
          else args(1) match {
            case NumArg(v) => asPercentConst(series(0), v)
            case SeriesArg(_) => asPercentOf(series(0), series(1), renderArg(args(1)))
            case other => badArg(call, 1, "number or series", other)
          }
        case "nPercentile" => arity(2); nPercentile(series(0), num(1))
        case "stdev" => arity(2); stdev(series(0), intArg(1))
        case "sortByMaxima" => arity(1); sortByMaxima(series(0))
        case "sortByMinima" => arity(1); sortByMinima(series(0))
        case "sortByTotal" => arity(1); sortByTotal(series(0))
        case "sortByName" =>
          // (seriesList[, natural[, reverse]]) — natural compares
          // digit runs numerically (s2 before s10), graphite 1.1's arg
          require(args.length >= 1 && args.length <= 3,
            s"sortByName: expected (series[, natural[, reverse]]), got ${args.length} args")
          def boolAt(i: Int): Boolean =
            if (args.length <= i) false
            else args(i) match {
              case BoolArg(b) => b
              case other => badArg(call, i, "boolean", other)
            }
          sortByName(series(0), boolAt(1), boolAt(2))
        case "currentBelow" => arity(2); filterByStat(series(0), "current", "below", num(1))
        case "averageAbove" => arity(2); filterByStat(series(0), "average", "above", num(1))
        case "averageBelow" => arity(2); filterByStat(series(0), "average", "below", num(1))
        case "maximumAbove" => arity(2); filterByStat(series(0), "max", "above", num(1))
        case "maximumBelow" => arity(2); filterByStat(series(0), "max", "below", num(1))
        case "minimumAbove" => arity(2); filterByStat(series(0), "min", "above", num(1))
        case "currentAbove" => arity(2); filterByStat(series(0), "current", "above", num(1))
        case "removeBelowValue" => arity(2); removeBelowValue(series(0), num(1))
        case "removeAboveValue" => arity(2); removeAboveValue(series(0), num(1))
        case "removeAbovePercentile" => arity(2); removeAbovePercentile(series(0), num(1))
        case "removeBelowPercentile" => arity(2); removeBelowPercentile(series(0), num(1))
        case "percentileOfSeries" => arity(2)
          percentileOfSeries(series(0), num(1), self)
        case "transformNull" =>
          require(args.length == 1 || args.length == 2,
            s"transformNull: expected (series[, default]), got ${args.length} args")
          transformNull(series(0), if (args.length == 2) num(1) else 0.0)
        case "isNonNull" => arity(1); isNonNull(series(0))
        case "logarithm" =>
          require(args.length == 1 || args.length == 2,
            s"logarithm: expected (series[, base]), got ${args.length} args")
          logarithm(series(0), if (args.length == 2) num(1) else 10.0)
        case "squareRoot" => arity(1); squareRoot(series(0))
        case "pow" => arity(2); powSeries(series(0), num(1))
        case "invert" => arity(1); invert(series(0))
        case "changed" => arity(1); changed(series(0))
        case "delay" => arity(2); delay(series(0), intArg(1))
        case "substr" =>
          require(args.length == 2 || args.length == 3,
            s"substr: expected (series, start[, stop]), got ${args.length} args")
          substrSeries(series(0), intArg(1), if (args.length == 3) intArg(2) else 0)
        case "diffSeries" => arity(2)
          diffSeries(series(0), series(1), renderArg(args(1)))
        case "multiplySeries" => arity(1); multiplySeries(series(0), self)
        case "offsetToZero" => arity(1); offsetToZero(series(0))
        case "movingSum" => arity(2)
          movingArg(call, 1, n => movingSum(series(0), n),
            (sec, txt) => movingWindowTime(series(0), sec, txt, "sum"))
        case "movingMedian" => arity(2)
          movingArg(call, 1, n => movingMedian(series(0), n),
            (sec, txt) => movingWindowTime(series(0), sec, txt, "median"))
        case "movingWindow" => arity(3)
          movingArg(call, 1, n => movingWindow(series(0), n, str(2)),
            (sec, txt) => movingWindowTime(series(0), sec, txt, str(2)))
        case "weightedAverage" => arity(3)
          weightedAverage(series(0), series(1), intArg(2), self)
        case "grep" => arity(2); grep(series(0), str(1))
        case "exclude" => arity(2); exclude(series(0), str(1))
        case "limit" => arity(2); limitSeries(series(0), intArg(1))
        case "movingMin" => arity(2)
          movingArg(call, 1, n => movingMin(series(0), n),
            (sec, txt) => movingWindowTime(series(0), sec, txt, "min"))
        case "movingMax" => arity(2)
          movingArg(call, 1, n => movingMax(series(0), n),
            (sec, txt) => movingWindowTime(series(0), sec, txt, "max"))
        case "minimumBelow" => arity(2); filterByStat(series(0), "min", "below", num(1))
        case "interpolate" =>
          require(args.length == 1 || args.length == 2,
            s"interpolate: expected (series[, limit]), got ${args.length} args")
          if (args.length == 1) interpolate(series(0))
          else interpolate(series(0), intArg(1))
        case "timeSlice" => arity(3)
          timeSlice(series(0), num(1).toLong, num(2).toLong)
        case "scaleToSeconds" => arity(2); scaleToSeconds(series(0), intArg(1))
        case "aggregateLine" =>
          require(args.length == 1 || args.length == 2,
            s"aggregateLine: expected 1-2 arguments, got ${args.length}")
          aggregateLine(series(0), if (args.length == 2) str(1) else "average")
        case "sumSeriesWithWildcards" =>
          require(args.length >= 2, "sumSeriesWithWildcards: need series + positions")
          aggWithWildcards(series(0), "sum", (1 until args.length).map(intArg))
        case "averageSeriesWithWildcards" =>
          require(args.length >= 2, "averageSeriesWithWildcards: need series + positions")
          aggWithWildcards(series(0), "avg", (1 until args.length).map(intArg))
        case "removeBetweenPercentile" => arity(2)
          removeBetweenPercentile(series(0), num(1))
        case "averageOutsidePercentile" => arity(2)
          averageOutsidePercentile(series(0), num(1))
        case "fallbackSeries" => arity(2); fallbackSeries(series(0), series(1))
        case "aggregate" =>
          // graphite 1.1: (seriesList, func[, xFilesFactor]) — the
          // 3-arg form gates each point on the non-null fraction; the
          // 2-arg form reads the setXFilesFactor context (written
          // while the subtree evaluates — hence series(0) first), and
          // an explicit 3rd argument always beats the context
          require(args.length == 2 || args.length == 3,
            s"aggregate: expected (series, func[, xFilesFactor]), got ${args.length} args")
          val aggIn = series(0)
          val ctxXff = if (args.length == 3) Some(num(2)) else xffCtx.value
          ctxXff match {
            case Some(x) => aggregateSeriesXff(aggIn, str(1), x, self)
            case None => aggregateSeries(aggIn, str(1), self)
          }
        case "setXFilesFactor" | "xFilesFactor" =>
          // graphite 1.1: sets the evaluation context's xFilesFactor
          // (requestContext['xFilesFactor']) and returns the series
          // UNCHANGED — no rename (graphite keeps names here; contrast
          // consolidateBy, whose tag IS the display name). The write
          // happens after the subtree evaluates, matching graphite's
          // evaluation order (args first, then the call).
          arity(2)
          val sxf = series(0)
          val xv = num(1)
          require(xv >= 0.0 && xv <= 1.0,
            s"$name: xFilesFactor must be in [0,1] (got $xv)")
          xffCtx.value = Some(xv)
          sxf
        case "groupByNodes" =>
          require(args.length >= 3,
            "groupByNodes: need series, func, and at least one node index")
          groupByNodes(series(0), str(1), (2 until args.length).map(intArg))
        case "minMax" => arity(1); minMax(series(0))
        case "unique" => arity(1); uniqueSeries(series(0))
        case "secondYAxis" => arity(1); secondYAxis(series(0))
        case "multiplySeriesWithWildcards" =>
          require(args.length >= 2,
            "multiplySeriesWithWildcards: need series + positions")
          multiplyWithWildcards(series(0), (1 until args.length).map(intArg))
        case "seriesByTag" =>
          // graphite 1.1 tagged selection: every argument is one
          // `tag OP spec` expression (=, !=, =~, !=~), ANDed. The tag
          // index resolves them to a K-row path list BEFORE any
          // datapoint scan (the C14 gate pattern), and fetchPaths
          // broadcast-semi-joins that list against the scan — ONE scan
          // regardless of how many series matched, and the plan never
          // grows with the expression count.
          require(args.nonEmpty,
            "seriesByTag: at least one tag expression required")
          val env = tagEnv.getOrElse(throw new IllegalArgumentException(
            "seriesByTag: no tag environment — evaluate through " +
              "Api.render or pass a TargetExpr.TagEnv"))
          val matched = Tags.matchingPaths(env.paths, args.indices.map(str))
          env.fetchPaths(matched, shift)
        case "aliasByTags" =>
          require(args.length >= 2,
            "aliasByTags: need a series and at least one tag name")
          aliasByTags(series(0), (1 until args.length).map(str))
        case "useSeriesAbove" =>
          // graphite: series whose MAX exceeds `value` have
          // search→replace applied to their names and the RESULTING
          // metrics fetched — the draw-response-time-for-busy-servers
          // idiom, and (with applyByNode) the second function that
          // fetches inside the pipeline. With a TagEnv the qualifying
          // set stays a K-row FRAME end-to-end: fetchPaths semi-joins
          // it against the scan — zero driver collect, one scan, no
          // brace expansion. Without one, the list is collected (as
          // graphite itself does) and fetched as ONE brace glob — a
          // single scan when the replaced paths share the dotted
          // shape — capped so a pathological glob can't build an
          // unbounded driver-side list.
          arity(4)
          val base = series(0)
          val thresh = num(1)
          val (search, replace) = (str(2), str(3))
          val qualifyingDf = base.groupBy(col("path"))
            .agg(max(col("value")).as("mx"))
            .filter(round(col("mx"), 6) > thresh)
            .select(regexp_replace(col("path"), search, replace).as("path"))
            .distinct()
          tagEnv match {
            case Some(env) =>
              // fetchPaths grids over the REQUESTED list (a known
              // series keeps its all-null rows), so a replaced path
              // naming a NONEXISTENT metric would emit a phantom
              // all-null series — graphite (and the collect path
              // below, whose brace glob matches only real metrics)
              // drops it. Semi-join against the K-row path universe
              // first: both code paths agree, and the join is
              // K-row-metadata work (ADVICE r9).
              val existing = qualifyingDf
                .join(env.paths, Seq("path"), "left_semi")
              env.fetchPaths(existing, shift)
            case None =>
              val cap = UseSeriesAboveMaxPaths
              val qualifying = qualifyingDf.limit(cap + 1)
                .collect().map(_.getString(0)).sorted
              require(qualifying.length <= cap,
                s"useSeriesAbove: more than $cap qualifying series — " +
                  "evaluate with a TagEnv (Api.render) for the " +
                  "collect-free path, or narrow the input glob")
              qualifying.toList match {
                case Nil => base.filter(lit(false)) // typed empty frame
                case one :: Nil => fetchAt(one, shift)
                case many => fetchAt(s"{${many.mkString(",")}}", shift)
              }
          }
        case "applyByNode" =>
          require(args.length == 3 || args.length == 4,
            s"applyByNode: expected (seriesList, nodeNum, template[, newName]), got ${args.length} args")
          val nodeNum = intArg(1)
          require(nodeNum >= 0, s"applyByNode: nodeNum must be >= 0 (got $nodeNum)")
          val n = nodeNum + 1
          val inputGlob = args(0) match {
            case SeriesArg(PathExpr(g)) => g
            case other => badArg(call, 0, "plain glob target", other)
          }
          val comps = inputGlob.split("\\.")
          require(comps.length >= n,
            s"applyByNode: nodeNum $nodeNum exceeds the depth of '$inputGlob'")
          // the leaf substitution glob: the input glob's own first
          // n+1 components — every template leaf fetches ONCE with
          // '%' → this glob, instead of once per discovered prefix
          val prefixGlob = comps.take(n).mkString(".")
          val tmpl = parse(str(2))
          // graphite's prefix set: the distinct first-(n+1)-node
          // groups of the series the INPUT glob actually matches —
          // a K-row frame (K = #groups), semi-joined below, never
          // collected to the driver
          val prefixes = fetchAt(inputGlob, shift)
            .select(gkeyCol(n).as("gkey")).distinct()
          val out = evalByNode(tmpl, n, prefixGlob, prefixes,
            g => fetchAt(g, shift))
          if (args.length == 4)
            out.select(
              regexp_replace(lit(str(3)), lit("%"), col("gkey")).as("path"),
              col("t"), col("value"))
          else out.select(col("path"), col("t"), col("value"))
        // ---- C16 parity sweep ----
        case "groupByTags" =>
          require(args.length >= 3,
            "groupByTags: need series, func, and at least one tag")
          groupByTags(series(0), str(1), (2 until args.length).map(str))
        case "filterSeries" => arity(4)
          filterSeries(series(0), str(1), str(2), num(3))
        case "aggregateWithWildcards" =>
          require(args.length >= 3,
            "aggregateWithWildcards: need series, func, and at least one position")
          aggWithWildcards(series(0), str(1), (2 until args.length).map(intArg))
        case "divideSeriesLists" => arity(2)
          divideSeriesLists(series(0), series(1))
        case "aggregateSeriesLists" =>
          require(args.length == 3 || args.length == 4,
            s"aggregateSeriesLists: expected (listA, listB, func[, xFilesFactor]), got ${args.length} args")
          aggregateSeriesLists(series(0), series(1), str(2),
            if (args.length == 4) Some(num(3)) else None)
        case "sumSeriesLists" => arity(2)
          aggregateSeriesLists(series(0), series(1), "sum")
        case "diffSeriesLists" => arity(2)
          aggregateSeriesLists(series(0), series(1), "diff")
        case "multiplySeriesLists" => arity(2)
          aggregateSeriesLists(series(0), series(1), "multiply")
        case "round" =>
          require(args.length == 1 || args.length == 2,
            s"round: expected (series[, precision]), got ${args.length} args")
          roundSeries(series(0), if (args.length == 2) intArg(1) else 0)
        case "add" => arity(2); addConstant(series(0), num(1))
        case "exp" => arity(1); expSeries(series(0))
        case "sigmoid" => arity(1); sigmoidSeries(series(0))
        case "logit" => arity(1); logitSeries(series(0))
        case "cactiStyle" => arity(1); cactiStyle(series(0))
        case "legendValue" =>
          require(args.length >= 2,
            "legendValue: need a series and at least one valueType")
          legendValue(series(0), (1 until args.length).map(str))
        case "color" => arity(2); colorSeries(series(0), str(1))
        case "lineWidth" => arity(2); lineWidth(series(0), num(1))
        case "alpha" => arity(2); alphaSeries(series(0), num(1))
        case "dashed" =>
          require(args.length == 1 || args.length == 2,
            s"dashed: expected (series[, dashLength]), got ${args.length} args")
          dashed(series(0), if (args.length == 2) num(1) else 5.0)
        case "stacked" =>
          // graphite's optional stackName is a render-group label with
          // no data effect — accepted and dropped (the threshold-color
          // convention)
          require(args.length == 1 || args.length == 2,
            s"stacked: expected (series[, stackName]), got ${args.length} args")
          if (args.length == 2) str(1)
          stacked(series(0))
        case "drawAsInfinite" => arity(1); drawAsInfinite(series(0))
        case "constantLine" => arity(1)
          val w = window()
          constantLine(w.spark, num(0), w.fromT + shift, w.untilT + shift)
        case "threshold" =>
          // (value[, label[, color]]) — constantLine renamed to the
          // label; color is a display attribute with no data effect
          // (accepted and dropped, the secondYAxis convention: the
          // frame carries no style channel)
          require(args.length >= 1 && args.length <= 3,
            s"threshold: expected (value[, label[, color]]), got ${args.length} args")
          val w = window()
          val line = constantLine(w.spark, num(0), w.fromT + shift, w.untilT + shift)
          if (args.length >= 2) SeriesFunctions.alias(line, str(1)) else line
        case "identity" => arity(1)
          val w = window()
          timeFunction(w.spark, str(0), 60L, w.fromT + shift, w.untilT + shift)
        case "time" | "timeFunction" =>
          require(args.length == 1 || args.length == 2,
            s"$name: expected (name[, step]), got ${args.length} args")
          val w = window()
          timeFunction(w.spark, str(0),
            if (args.length == 2) intArg(1).toLong else 60L,
            w.fromT + shift, w.untilT + shift)
        case "verticalLine" =>
          // (ts[, label[, color]]) — the time marker; ts takes the
          // render time grammar (relative or ISO), must fall inside
          // the render window (graphite raises — a marker that
          // scrolled out of view fails loudly); color is a display
          // attribute, accepted and dropped (the threshold convention).
          // Under timeShift the marker synthesizes at the SHIFTED
          // window and relabels back, exactly like a fetch.
          require(args.length >= 1 && args.length <= 3,
            s"verticalLine: expected (ts[, label[, color]]), got ${args.length} args")
          val w = window()
          val tsArg = str(0)
          val ts = TimeParse.getTime(tsArg, w.untilT).getOrElse(
            throw new IllegalArgumentException(
              s"verticalLine: unparseable timestamp '$tsArg'"))
          verticalLine(w.spark,
            ts + shift, if (args.length >= 2) str(1) else "vertical_line",
            w.fromT + shift, w.untilT + shift)
        case "aliasQuery" =>
          // graphite 1.1 (seriesList, search, replace, newName): each
          // series' name regex-rewrites into a SECOND query whose last
          // non-null value formats into the series' new name — the
          // legend-carries-the-current-total idiom, and (with
          // applyByNode/useSeriesAbove) the third function that
          // fetches inside the pipeline. The C14 discipline verbatim:
          // rewritten names are a K-row metadata list; with a TagEnv
          // the lookup fetch is one collect-free semi-joined scan,
          // without one a capped collect + ONE brace glob. A rewritten
          // query with no data fails loudly (graphite raises too).
          arity(4)
          aliasQuery(series(0), str(1), str(2), str(3), tagEnv,
            g => fetchAt(g, shift), shift)
        case other =>
          throw new IllegalArgumentException(s"unknown render function '$other' in '${self}'")
      }
  }

  /** aliasQuery's lookup-and-format core. The rewritten names are
    * K-row METADATA (the C14 rule): with a TagEnv the lookup is one
    * collect-free semi-joined fetch; without one, a capped collect +
    * one brace glob. Rewrites must name exact metrics — a rewrite with
    * no data (nonexistent metric, or a glob that can't equal any
    * concrete path) fails loudly, which is graphite's own raise. The
    * looked-up LAST non-null value formats into `newName` (exactly one
    * % conversion; %d truncates to integer as python's does).
    */
  private def aliasQuery(base: DataFrame, search: String, replace: String,
                         newName: String, tagEnv: Option[TagEnv],
                         fetchGlob: String => DataFrame,
                         shift: Long): DataFrame = {
    val convs = "%(?:[0-9.+-]*)([dfgs])".r.findAllMatchIn(newName).toSeq
    require(convs.length == 1,
      s"aliasQuery: newName must carry exactly one % conversion (got '$newName')")
    val conv = convs.head.group(1)
    val reqs = base.select(col("path")).distinct()
      .withColumn("rq", regexp_replace(col("path"), search, replace))
    val fetched = tagEnv match {
      case Some(env) => env.fetchPaths(reqs.select(col("rq").as("path")), shift)
      case None =>
        val cap = UseSeriesAboveMaxPaths
        val rqs = reqs.select(col("rq")).distinct().limit(cap + 1)
          .collect().map(_.getString(0)).sorted
        require(rqs.nonEmpty, "aliasQuery: empty series list")
        require(rqs.length <= cap,
          s"aliasQuery: more than $cap rewritten queries — evaluate " +
            "with a TagEnv (Api.render) for the collect-free path")
        if (rqs.length == 1) fetchGlob(rqs.head)
        else fetchGlob(s"{${rqs.mkString(",")}}")
    }
    val looked = fetched.filter(col("value").isNotNull)
      .groupBy(col("path"))
      .agg(max_by(col("value"), col("t")).as("lv"))
      .select(col("path").as("rq"), col("lv"))
    // graphite raises on an empty lookup; the check is K-row metadata
    val missing = reqs.join(looked, Seq("rq"), "left_anti")
      .select(col("rq")).limit(5).collect().map(_.getString(0))
    require(missing.isEmpty,
      s"aliasQuery: no data for rewritten query '${missing.mkString("', '")}'")
    // the formatted stat rides the round(,6) grid first (the
    // filterByStat/cactiStyle discipline: both engines format the
    // identical double); %d truncates toward zero, python's rule
    val lvc = round(col("lv"), 6)
    val fmtCol = conv match {
      case "d" => format_string(newName, lvc.cast("long"))
      case _ => format_string(newName, lvc)
    }
    base.join(broadcast(reqs), Seq("path"))
      .join(broadcast(looked), Seq("rq"))
      .select(fmtCol.as("path"), col("t"), col("value"))
  }

  // ---- applyByNode: per-node-group template evaluation ----

  /** The first `n` dot-components of `path` — the group key. */
  private def gkeyCol(n: Int): Column =
    array_join(slice(split(col("path"), "\\."), 1, n), ".")

  /** Evaluate an applyByNode TEMPLATE once per node group with ONE
    * fetch per template leaf and ONE shuffle per pipeline stage —
    * graphite evaluates the substituted target once per prefix (K
    * fetches, K aggregation passes); here the group key is a COLUMN,
    * so `sumSeries` becomes groupBy(gkey, t) and `divideSeries` an
    * equi-join on (gkey, t): plan size is independent of K, the only
    * shape that survives thousands of groups over 100 TB.
    *
    * Frames carry (gkey, path, t, value). Grouped grammar: '%' leaf
    * globs, the across-series combiners (canonAgg's whole table), and
    * divideSeries; anything per-series inside a template belongs
    * OUTSIDE the applyByNode call (it commutes — per-series functions
    * never cross group boundaries). Series names follow graphite's
    * `target.replace('%', prefix)` rule: the rendered call text with
    * '%' substituted per group.
    */
  private def evalByNode(e: Expr, n: Int, prefixGlob: String,
                         prefixes: DataFrame,
                         fetch: String => DataFrame): DataFrame = e match {
    case PathExpr(g) =>
      require(g.contains("%"),
        s"applyByNode: template leaf '$g' must contain the % placeholder")
      fetch(g.replace("%", prefixGlob))
        .withColumn("gkey", gkeyCol(n))
        .join(prefixes, Seq("gkey"), "left_semi")
        .select(col("gkey"), col("path"), col("t"), col("value"))
    case call @ CallExpr(name, args) =>
      def sub(i: Int): DataFrame = args(i) match {
        case SeriesArg(s) => evalByNode(s, n, prefixGlob, prefixes, fetch)
        case other => badArg(call, i, "series", other)
      }
      // graphite's per-group name: the call text with '%' → prefix
      def nameCol: Column =
        regexp_replace(lit(render(call)), lit("%"), col("gkey"))
      name match {
        case "sumSeries" | "sum" | "averageSeries" | "avg" | "minSeries" |
             "maxSeries" | "countSeries" | "rangeOfSeries" | "stddevSeries" =>
          require(args.length == 1,
            s"applyByNode: $name expects 1 argument in a template")
          val canon = SeriesFunctions.canonAgg(name, "applyByNode")
          sub(0).groupBy(col("gkey"), col("t"))
            .agg(SeriesFunctions.aggExpr(canon).cast("double").as("value"))
            .select(col("gkey"), nameCol.as("path"), col("t"), col("value"))
        case "divideSeries" =>
          require(args.length == 2,
            "applyByNode: divideSeries expects 2 arguments in a template")
          val divisorText = args(1) match {
            case SeriesArg(s) => render(s)
            case other => badArg(call, 1, "series", other)
          }
          // the batch divideSeries law per group: divisor collapsed
          // with safeSum per (gkey, t); zero/absent divisor → null;
          // PER-DIVIDEND naming with the divisor text substituted
          val den = sub(1).groupBy(col("gkey"), col("t"))
            .agg(sum(col("value")).as("dv"))
          sub(0).join(den, Seq("gkey", "t"), "left")
            .select(col("gkey"),
              concat(lit("divideSeries("), col("path"), lit(","),
                regexp_replace(lit(divisorText), lit("%"), col("gkey")),
                lit(")")).as("path"),
              col("t"),
              when(col("dv") =!= 0, col("value") / col("dv")).as("value"))
        case other =>
          throw new IllegalArgumentException(
            s"applyByNode: unsupported function '$other' in a template " +
              "(grouped grammar: across-series combiners, divideSeries; " +
              "apply per-series functions outside the applyByNode call)")
      }
  }

  /** Per-invocation (glob, shift) fetch memo with lineage truncation
    * for REPEATED references — the render-pipeline planning fix (guide
    * §3, very wide unions/joins: planning time itself becomes the
    * bottleneck; materialise an intermediate). A target referencing the
    * same glob through several list functions otherwise embeds one
    * copy of the full archive-cascade subtree PER REFERENCE in one
    * logical plan, and Catalyst planning — not execution — dominated
    * the widest render queries (gfn_agg_lists: 6.3 s plan at sf0.1).
    *
    * Reference-count aware (measured r13: an unconditional
    * localCheckpoint won 0.50–0.76× on multi-reference targets but
    * cost 1.4–1.7× on single-fetch queries — eager materialization
    * breaks stage fusion for a subtree that was only needed once):
    * the FIRST request for a key returns the raw subtree `cachedOnce`
    * (lazy, fuses into its consumer, zero overhead if never reused);
    * a SECOND request materializes that cached frame once
    * (`localCheckpoint`) and every further reference plans over the
    * computed rows. The fetch executes exactly once either way.
    * Results are identical (same rows); the memo lives only inside one
    * query invocation — every bench/verify sample rebuilds it from the
    * parquet inputs (no cross-run reuse).
    */
  def memoFetch(raw: (String, Long) => DataFrame): (String, Long) => DataFrame = {
    import graft.core.Caching._
    val first = scala.collection.mutable.Map.empty[(String, Long), DataFrame]
    val reused = scala.collection.mutable.Map.empty[(String, Long), DataFrame]
    (glob, shift) => {
      val key = (glob, shift)
      first.get(key) match {
        case None =>
          // raw and UNWRAPPED: a single-fetch query keeps its exact
          // pre-memo plan (the pins on gfn_percent_const etc. hold)
          val df = raw(glob, shift)
          first(key) = df
          df
        case Some(df) =>
          // second reference: cache + materialize once. The cachedOnce
          // registers the plan with the CacheManager, so the FIRST
          // reference's inline subtree is cache-substituted at
          // execution too — the fetch runs exactly once
          reused.getOrElseUpdate(key, df.cachedOnce.localCheckpoint())
      }
    }
  }

  /** Parse + evaluate in one step (fixed-window fetch). */
  def evalTarget(target: String, fetch: String => DataFrame): DataFrame =
    eval(parse(target), fetch)

  /** Parse + evaluate with a window-aware fetch — the full `timeShift`
    * semantics.
    */
  def evalTargetAt(target: String,
                   fetchAt: (String, Long) => DataFrame): DataFrame =
    evalAt(parse(target), fetchAt, 0L)

  /** Tagged-capable form: `tagEnv` supplies the path universe and the
    * path-list fetch `seriesByTag` (and the collect-free
    * `useSeriesAbove`) resolve through; `winEnv` supplies the render
    * window the generator functions synthesize over.
    */
  def evalTargetAt(target: String, fetchAt: (String, Long) => DataFrame,
                   tagEnv: Option[TagEnv],
                   winEnv: Option[WindowEnv] = None): DataFrame =
    evalAt(parse(target), fetchAt, 0L, tagEnv, winEnv, new XffCtx)

  /** True when the target is a function pipeline rather than a plain
    * glob — the [[Api.render]] routing test (a bare glob never
    * contains '(' — parens are not metric-name characters).
    */
  def isExpression(target: String): Boolean = target.contains('(')

  private def badArg(call: CallExpr, i: Int, want: String, got: Arg): Nothing =
    throw new IllegalArgumentException(
      s"${call.name}: argument $i must be a $want (got $got) in '${render(call)}'")
}
