package graft

import org.apache.spark.sql.DataFrame

/** The gates built on the tx log's delete, time-travel and batch-ledger
  * calls (q163, q165, q193, q200) return the rows of their own oracle SQL,
  * run here through Spark SQL over an `orders` view. Each gate runs twice
  * in a row and must return the same rows both times, as a rerun of
  * Verify or Bench over the scratch roots of an earlier run does. */
class TxGatesSpec extends SparkSpecBase {

  private def rows(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      df.collect().map(_.toString).toSeq.sorted)

  Seq("q163_soft_deletes", "q165_time_travel", "q193_idempotent_ingest",
      "q200_nightly_batch").foreach { q =>
    test(s"$q matches its oracle SQL on two runs in a row") {
      Tables.orders(spark, sf).createOrReplaceTempView("orders")
      val expected = rows(spark.sql(SparkEntry.oracleSql(q)))
      assert(expected._2.nonEmpty)
      val gate = SparkEntry.queries(q)
      assert(rows(gate(spark, sf)) == expected, "first run")
      assert(rows(gate(spark, sf)) == expected, "second run")
    }
  }
}
