package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the bench's own session, so the correctness pass runs the exact
    // configuration the bench times
    val spark = SparkEntry.harnessSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query filter (the Bench env): fast
    // single-query iteration; the driver's full gate leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(f => SparkEntry.queries.filter {
      case (n, _) => f(n)
    })
    // one Scoped.withCached scope per query, as in the bench: its
    // cached intermediates and scratch dirs are released after the write
    selected.foreach { case (name, fn) =>
      try graft.operators.Scoped.withCached(fn(spark, sfDir))(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // A dynamic-oracle failure must be LOUD: swallowing it would drop
    // q_c11b/q_d4/q_d9 from oracle_sql.json and the gate would "pass"
    // with silently reduced coverage. Rethrow — the Verify run fails.
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] FATAL: dynamic oracle failed: ${e.getMessage}")
        throw e
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
