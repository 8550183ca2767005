package perfbench

import org.apache.spark.sql.SparkSession

import graft.sources.Warehouse

/** The count() sink against full materialization, for restating old
  * figures: per query, after one untimed round, alternating rounds of
  * `count()`, a `noop` write of every column, and Warehouse.overwriteTable,
  * each timed with its plan-builder call; the medians of the rounds. */
object Compare {
  final case class Row(query: String, countMs: Double, noopMs: Double, warehouseMs: Double)

  def run(spark: SparkSession, data: String, queries: Seq[String], rounds: Int): Seq[Row] =
    queries.map { q =>
      val d = Workloads.defs(q)
      def time(f: => Unit): Double = {
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
      }
      def round(): (Double, Double, Double) = (
        time(d.fn(spark, data).count()),
        time(d.fn(spark, data).write.format("noop").mode("overwrite").save()),
        time(Warehouse.overwriteTable(d.fn(spark, data), q)))
      round()
      val rs = (0 until rounds).map(_ => round())
      Row(q, Main.median(rs.map(_._1)), Main.median(rs.map(_._2)), Main.median(rs.map(_._3)))
    }
}
