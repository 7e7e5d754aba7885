package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload's timed phase reports: the end-to-end metrics under
  * their BENCHMARK.json names, the same numbers under the names the
  * workload's users know them by and, when traced, the per-layer metrics
  * and the tracing overhead (traced minus untraced operations).
  */
final case class Phase(endToEnd: Map[String, Double],
                       named: Seq[(String, Double, String)],
                       layers: Map[String, Double] = Map.empty,
                       overhead: Map[String, Double] = Map.empty)

/** Everything a run tells the caller. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[graftbench] CHECK FAILED $name: $detail")
  }
  def op(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }
  /** Every output check passed; failed operations count in `failed`. */
  def correct: Boolean = checks.forall(_._2)
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, work: Path,
                     out: Outcome, heap: Main.PeakHeap)

/** A workload: a set-up that can be repeated into fresh directories, and
  * a timed phase that can run untraced or traced.
  */
trait Workload {
  type State
  def setupRepeats: Int
  def setup(ctx: Ctx, dir: Path): State
  def discard(ctx: Ctx, s: State): Unit = ()
  def phase(ctx: Ctx, s: State, trace: Trace, counters: Option[SparkCounters]): Phase
  def finish(ctx: Ctx, s: State): Unit
}

object Main {
  val Cores = 4

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded job/stage/task bookkeeping, so the live heap after a
      // collection does not grow with the number of operations run
      .config("spark.ui.retainedJobs", 50)
      .config("spark.ui.retainedStages", 50)
      .config("spark.ui.retainedTasks", 500)
      .config("spark.sql.ui.retainedExecutions", 20)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Largest live heap: used heap right after a full collection, so
    * independent of when young collections ran. Sampled at the end of
    * each set-up and by the workloads at points of the timed phase where
    * the program's state is live, outside the timed regions.
    */
  final class PeakHeap {
    var bytes = 0L
    val samples = mutable.ArrayBuffer.empty[Double]
    def sample(): Unit = synchronized {
      def live() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      // Spark's context cleaner drops broadcast and shuffle state only
      // after a collection has found its owners unreachable, on its own
      // thread: collect again until the heap stops shrinking
      var prev = Long.MaxValue
      var used = live()
      var rounds = 0
      while (rounds < 10 && prev - used > (1L << 20)) {
        Thread.sleep(200)
        prev = used
        used = live()
        rounds += 1
      }
      samples += used / 1048576.0
      bytes = math.max(bytes, used)
    }

    def mb: Double = bytes / 1048576.0
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val outFile = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val workload: Workload = name match {
      case "ingest_live" => new IngestLive
      case "dedup_corpus" => new DedupCorpus
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = new PeakHeap
    val t0 = System.nanoTime()
    val spark = session(work)
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seed, seconds, work, new Outcome, heap)

    // set-up runs several times, each into a fresh directory and after
    // the previous one is torn down; the last is kept, the median reported
    var kept: Option[workload.State] = None
    val setupRuns = (0 until workload.setupRepeats).map { i =>
      kept.foreach(workload.discard(ctx, _))
      val s0 = System.nanoTime()
      kept = Some(workload.setup(ctx, work.resolve(s"setup$i")))
      val dt = (System.nanoTime() - s0) / 1e9
      heap.sample()
      dt
    }
    val state = kept.get
    val setupS = sessionS + median(setupRuns)

    val trace = new Trace(traced)
    val counters = if (traced) Some(new SparkCounters(spark)) else None
    val phase = workload.phase(ctx, state, trace, counters)
    counters.foreach(_.detach())
    val perLayer = Layers.complete(phase.layers ++ phase.overhead.map { case (k, v) => s"trace.overhead.$k" -> v })
    workload.finish(ctx, state)

    val endToEnd = phase.endToEnd ++ Map(
      "setup_s" -> setupS, "peak_heap_mb" -> heap.mb)
    val out = ctx.out
    val named = phase.named ++ Seq(
      ("setup_s", setupS, "s"),
      ("error_rate", if (out.attempted == 0) 0.0 else out.failed.toDouble / out.attempted, "ratio"),
      ("peak_heap_mb", heap.mb, "MB"))
    val doc = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> (if (traced) perLayer else Map.empty[String, Double]),
      "workload_metrics" -> named.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) },
      "inputs" -> out.inputs.toSeq,
      "setup_runs_s" -> setupRuns,
      "heap_samples_mb" -> heap.samples.toSeq,
      "checks" -> out.checks.map { case (n, ok, d) => Json.obj("name" -> n, "ok" -> ok, "detail" -> d) })
    Files.writeString(outFile, Json.render(doc))
    if (traced) {
      val self = trace.selfMs.map { case (sp, v) => sp.id -> v }.toMap
      val t0 = trace.all.map(_.startNs).minOption.getOrElse(0L)
      Files.writeString(Paths.get(outFile.toString.stripSuffix(".json") + ".trace.json"), Json.render(Json.obj(
        "moves" -> Layers.All.map { case (n, u, b, m) => Json.obj("name" -> n, "unit" -> u, "better" -> b, "moves" -> m) },
        "per_layer" -> perLayer,
        "spans" -> trace.all.sortBy(_.startNs).map(sp => Json.obj("id" -> sp.id, "name" -> sp.name,
          "op" -> sp.op, "parent" -> sp.parent, "start_ms" -> (sp.startNs - t0) / 1e6,
          "end_ms" -> (sp.endNs - t0) / 1e6, "self_ms" -> self(sp.id))))))
    }
    spark.stop()
  }
}

/** Minimal JSON rendering for the result documents. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => str(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)))
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      render(Obj(s.map { case (k, x) => k.toString -> x }))
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
