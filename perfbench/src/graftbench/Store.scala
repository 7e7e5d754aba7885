package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.CarbonStream
import graft.tsdb.{MetricStore, Retention}

/** A maintained metric store fed the way carbon feeds it: plaintext
  * batch files published into a directory that
  * `CarbonStream.ingestSinkMaintained` reads one file per trigger.
  */
final class Store(spark: SparkSession, val dir: Path) {
  val hot: String = dir.resolve("hot").toString
  val cold: String = dir.resolve("cold").toString
  private val in = dir.resolve("in")
  private val staging = dir.resolve("staging")
  Files.createDirectories(in)
  Files.createDirectories(staging)

  val query: StreamingQuery = {
    val lines = spark.readStream.option("maxFilesPerTrigger", "1")
      .text(in.toString).withColumnRenamed("value", "line")
    CarbonStream.ingestSinkMaintained(lines, 0L, hot, cold, dir.resolve("checkpoint").toString)
  }

  /** Publish one batch file atomically; returns its path and byte size. */
  def publish(idx: Int, lines: Seq[String]): (Path, Long) = {
    val name = f"batch-$idx%06d.txt"
    val tmp = staging.resolve(name)
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(tmp, bytes)
    val dst = in.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    (dst, bytes.length.toLong)
  }

  /** Block until every published file has been committed. */
  def awaitCommit(): Unit = query.processAllAvailable()

  def read(): DataFrame = MetricStore.readMaintained(spark, hot, cold)

  def stop(): Unit = if (query.isActive) { query.stop(); query.awaitTermination() }

  /** Bytes of parquet data under the store. */
  def parquetBytes: Long = {
    val s = Files.walk(dir)
    try s.filter(p => p.toString.endsWith(".parquet") &&
      (p.startsWith(dir.resolve("hot")) || p.startsWith(dir.resolve("cold"))))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}

object Store {
  /** Retention of the benchmark's stores: 1-minute points for 12 hours,
    * 10-minute for 2 days, hourly for a week, so -1h and -6h windows
    * read the finest archive, -24h the second and -3d the third.
    */
  val spec: Seq[Retention.Archive] = Retention.parse("60s:12h,10m:2d,1h:7d")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
