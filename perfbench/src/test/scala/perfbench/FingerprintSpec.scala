package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** The output check: a fingerprint ignores row order and partitioning, and
  * an altered result fails the op that produced it. */
class FingerprintSpec extends SparkSuite {
  private def base = spark.range(0, 5000).select(col("id"), (col("id") % 13).as("g"),
    concat(lit("v"), col("id").cast("string")).as("s"),
    map(col("g"), col("s")).as("m"))

  test("row order and partitioning do not change the fingerprint") {
    val a = Fingerprint.of(base)
    assert(a.rows === 5000)
    assert(Fingerprint.of(base.orderBy(col("s").desc).repartition(7)) === a)
  }

  test("one altered value changes the fingerprint") {
    val altered = base.withColumn("s", when(col("id") === 4321, lit("x")).otherwise(col("s")))
    assert(Fingerprint.of(altered) !== Fingerprint.of(base))
  }

  test("a result that differs from its expectation fails the op") {
    val want = Fingerprint.of(base)
    val altered = base.where(col("id") =!= 17)
    val failures = mutable.ArrayBuffer.empty[String]
    val recs = Main.runOps(Seq(
        Op("q", _ => Some(Fingerprint.of(altered)), Some(want), checked = true),
        Op("q2", _ => Some(Fingerprint.of(base)), Some(want), checked = true)),
      traced = false, new Tracer, failures, Array(0L))
    assert(recs.map(_.ok) === Seq(false, true))
    assert(failures.size === 1 && failures.head.startsWith("q: fingerprint"))
  }
}
