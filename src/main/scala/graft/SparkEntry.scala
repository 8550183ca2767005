package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 is exposed as a named query here (built by
  * the modules under graft.queries, which in turn exercise the engine
  * library: graft.operators / graft.functions / graft.llm / graft.sources /
  * graft.streaming). `oracleSql` carries the DuckDB-equivalent SQL for every
  * SQL-expressible query; the nine xxhash64-family/generator queries
  * (MinHash, SimHash, BPE, HLL, CMS, multimodal features, synthetic
  * events) are golden-gated (committed-snapshot `read_parquet` oracle,
  * QueryDef.goldenGated) with DuckDB-oracled AUDIT twins.
  */
object SparkEntry {

  private val all: Seq[QueryDef] =
    SalesQueries.defs ++ ProductQueries.defs ++ CustomerQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ SourceQueries.defs ++
      CurationQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The daily-sales slice: scan → per-order item totals → daily agg. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_daily_sales")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    all.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
