package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev loop only; the driver passes 2): comma-separated
    // query names to restrict the dump + oracle json to — lets
    // check_oracle.py gate a single new query without a full catalog run.
    val Array(sfDir, outDir) = args.take(2)
    val keep = Runner.resolveOrExit(args.drop(2).toSeq).map(_._1).toSet
    val spark = Runner.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Per-query cache hygiene: several queries persist() intermediates
      // (MinHash bands, tokenized corpora) that only their own action
      // consumes; without an explicit drop those MEMORY_AND_DISK blocks
      // accumulate across the 100+-query sweep and squeeze later queries'
      // execution memory. Queries are independent, so clearing between
      // them is safe and also prevents accidental cross-query cached-plan
      // reuse from masking a query's real cost. The drain runs the
      // managed cleanup handles the lambda deferred (SessionScope) —
      // here mostly to keep the pending list itself from growing across the
      // sweep; clearCache already reclaims the blocks.
      graft.core.SessionScope.drain(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
