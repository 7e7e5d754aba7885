package graft
import graft.tools.Harness
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make a strict JSON reader reject the whole oracle_sql.json. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.filter(kv => Harness.wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // per-query cache lifecycle (VERDICT r2 cache hygiene): the
      // 277-query session must not accumulate cached intermediates
      Harness.clean(spark)
    }
    // end-of-run summary so a broken query can't hide mid-scroll
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    val json = SparkEntry.oracleSql.filter(kv => Harness.wanted(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
