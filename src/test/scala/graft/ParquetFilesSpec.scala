package graft

import graft.sources.ParquetFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ParquetFiles.read` must give exactly what `spark.read.parquet` gives —
  * schema with nullability and metadata, and rows — while resolving the
  * schema from one footer read on the driver, with no Spark job. */
class ParquetFilesSpec extends SparkSpecBase {

  private def freshDir(tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-parquetfiles/$tag"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsInference(path: String): Unit = {
    val (got, jobs) = jobsLaunchedBy(ParquetFiles.read(spark, path))
    assert(jobs.isEmpty, s"reading $path launched jobs ${jobs.mkString(",")}")
    val want = spark.read.parquet(path)
    assert(got.schema === want.schema, s"schema of $path")
    assert(rows(got) === rows(want), s"rows of $path")
  }

  test("the job counter sees the inference job the helper avoids") {
    val (_, jobs) = jobsLaunchedBy(spark.read.parquet(s"$sf/region.parquet"))
    assert(jobs.nonEmpty, "schema inference launched no job: the no-job checks prove nothing")
  }

  test("every sf0.001 table reads with Spark's inferred schema and rows, no job") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => assertSameAsInference(s"$sf/$t.parquet"))
  }

  test("events honours nanosAsLong both ways") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      assertSameAsInference(s"$sf/events.parquet")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  // non-nullable columns (range id, literals) plus nested and exact types:
  // the serialized row schema in the footer carries them
  private def typed = spark.range(0, 60).select(
    col("id"), lit(7).as("seven"),
    (col("id") % 4).cast("string").as("s"),
    (col("id") / 8).cast("decimal(12,3)").as("d"),
    date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("day"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("double")).as("x"),
    array(col("id"), col("id") + 1).as("arr"),
    struct(col("id").as("a"), (col("id") % 3).cast("string").as("b")).as("st"),
    map(lit("k"), col("id")).as("m"))

  test("a Spark-written 3-file directory reads the same, no job") {
    val dir = freshDir("three")
    typed.repartition(3).write.parquet(dir)
    val parts = new java.io.File(dir).list().count(n =>
      n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts === 3)
    assertSameAsInference(dir)
  }

  test("a Hive-partitioned directory reads the same, partition columns included, no job") {
    val dir = freshDir("hive")
    typed.withColumn("p", (col("id") % 3).cast("int"))
      .withColumn("q", when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")))
      .write.partitionBy("p", "q").parquet(dir)
    assertSameAsInference(dir)
  }
}
