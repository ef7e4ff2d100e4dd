package graft

import graft.queries.{BQueries, CQueries, DQueries, LogQueries, PipeQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: full log-parse round trip (synthesize → parse → aggregate)
   * on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    LogQueries.queries("q_log_parse_common")(spark, "/root/testdata/sf0.001")

  /** The session graft.Bench and graft.Verify both run on: local mode
   * over `cpus` cores, UTC, ANSI off, and the library's state-store
   * confs — RocksDB provider (r11), changelog checkpointing (r19,
   * 20-30% off stateful rows) and trackTotalNumberOfRows=false (r20,
   * 5-10%); rationale and parity evidence in
   * graft.streaming.StateStoreConf, bit-parity on the hard state shapes
   * in LogStreamSpec. Batch queries never touch the state-store confs. */
  private[graft] def harnessSession(cpus: String): SparkSession = {
    val spark = graft.streaming.StateStoreConf.applyTo(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    BQueries.queries ++ LogQueries.queries ++ CQueries.queries ++ PipeQueries.queries ++
      DQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (every key is covered — full hash checks). */
  def oracleSql: Map[String, String] =
    BQueries.oracleSql ++ LogQueries.oracleSql ++ CQueries.oracleSql ++ PipeQueries.oracleSql ++
      DQueries.oracleSql

  /** Data-dependent oracle entries (literal-VALUES pins computed at
    * Verify time by an independent recomputation on the same tables);
    * Verify merges these over [[oracleSql]] when dumping
    * oracle_sql.json. Currently: q_c11b (learned BPE — the merge loop
    * is not SQL-expressible, the result still is) and q_d4 (the same
    * learned tokenizer proven under micro-batch execution). */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] =
    CQueries.dynamicOracleSql(spark, sfDir) ++ DQueries.dynamicOracleSql(spark, sfDir)
}
