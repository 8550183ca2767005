package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: a Spark plan function plus the equivalent
  * ANSI SQL that DuckDB runs over the same parquet tables (a
  * `read_parquet` of a committed snapshot for the [[QueryDef.goldenGated]]
  * queries).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))

  /** Queries gated by a committed golden parquet instead of re-expressible
    * SQL (hash-family/ANN/generator algorithms DuckDB cannot reproduce).
    * Their outputs are deterministic by construction, so the oracle is a
    * `read_parquet` of the snapshot — a full rows+schema+hash gate.
    *
    * GUARANTEE (weaker than the DuckDB-oracled queries): the snapshot was
    * generated by this same Spark implementation (`runMain
    * graft.tools.MakeGolden`), so the gate proves DETERMINISM and
    * REGRESSION-FREEDOM — bit-identical output across runs, CPU counts,
    * and code changes — not independent correctness. The independent
    * correctness evidence for these nine lives in the specs (recall vs
    * the exact/brute oracle-green twins, MLlib cross-validation, property
    * tests). GoldenSpec replays the sf0.001 snapshots in CI.
    * (q67 winnowing graduated to a FULL DuckDB oracle in r11 — its
    * fixed k=8 rolling hash has a closed form HUGEINT-mod-2^64 replay.) */
  val goldenGated: Seq[String] = Seq(
    "q38_synthetic_events", "q38b_synthetic_transactions",
    "q43_dedup_minhash_lsh", "q44_dedup_simhash",
    "q61_multimodal_ann", "q61b_multimodal_features",
    "q111_bpe_merges", "q112_hll_sketch_rollup",
    "q115_cms_heavy_hitters")

  /** Snapshot root; per-SF subdirs (sf0.001, sf0.01) are committed. */
  val goldenRoot = "/root/repo/golden"

  /** Oracle SQL for a golden gate at a given scale-factor label. Keyed by
    * SF so verifying a dir with no committed snapshot fails with a clear
    * missing-file error instead of silently comparing against the wrong
    * scale's golden (Verify substitutes the label of the dir it runs on). */
  def goldenOracleSql(name: String, sfLabel: String): String =
    s"SELECT * FROM read_parquet('$goldenRoot/$sfLabel/$name.parquet')"

  def golden(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef = {
    require(goldenGated.contains(name), s"$name missing from goldenGated")
    QueryDef(name, fn, Some(goldenOracleSql(name, "sf0.01")))
  }
}
