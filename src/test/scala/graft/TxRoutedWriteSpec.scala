package graft

import graft.sources.TxLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fires once from inside a merge's own query: the concurrent commit that
  * makes the merge's first attempt lose its conflict check. */
object TxConflictHook {
  @volatile var fire: () => Unit = () => ()
}

/** Copy-on-write DML (MERGE, UPDATE, DELETE) writes its rewritten rows and
  * its change images in ONE routed write: Spark-job budgets (and those of
  * the deletion-vector read, the payload-table metadata calls and a
  * replace), the routed change-file layout, loser cleanup and vacuum
  * retention. Sources are built with an explicit schema, so every counted
  * job is one the tx layer launched. */
class TxRoutedWriteSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txrouted/$tag"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private val schema = StructType.fromDDL("part STRING, k BIGINT, v BIGINT")

  private def rows(xs: (String, Long, Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(xs.map(x => Row(x._1, x._2, x._3)): _*), schema)

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitFile(root: String, v: Long) =
    new Path(root, f"_txlog/v$v%020d.txn")

  /** The change files a commit records (its `c`-rows). */
  private def changesOf(root: String, v: Long): Seq[String] = {
    val in = fsOf(root).open(commitFile(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.startsWith("c\t")).map(_.stripPrefix("c\t")).toList
    finally in.close()
  }

  private def feedRows(df: DataFrame): Set[(String, String, Long, Long, Long)] =
    df.select("_change_type", "part", "k", "v", "_commit_version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def seeded(tag: String): String = {
    val root = freshRoot(tag)
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)),
      root, "part", s"$tag-b1")
    root
  }

  test("job budget: a change-recorded merge runs at most 4 Spark jobs") {
    val root = seeded("jobs-merge")
    val (_, jobs) = jobsLaunchedBy(TxLog.mergeKeyedTx(spark, root,
      rows(("a", 2L, 200L), ("b", 4L, 40L)), "k", changeFeed = true))
    assert(jobs.size <= 4, s"merge launched ${jobs.size} jobs")
    assert(feedRows(TxLog.readChangeFeed(spark, root, 1L)._1.get) === Set(
      ("update_preimage", "a", 2L, 20L, 2L),
      ("update_postimage", "a", 2L, 200L, 2L),
      ("insert", "b", 4L, 40L, 2L)))
  }

  test("job budget: a change-recorded update runs at most 2 Spark jobs") {
    val root = seeded("jobs-update")
    val (_, jobs) = jobsLaunchedBy(TxLog.updateWhereTx(spark, root,
      col("k") === 3L, Map("v" -> lit(300L)), changeFeed = true))
    assert(jobs.size <= 2, s"update launched ${jobs.size} jobs")
    assert(feedRows(TxLog.readChangeFeed(spark, root, 1L)._1.get) === Set(
      ("update_preimage", "b", 3L, 30L, 2L),
      ("update_postimage", "b", 3L, 300L, 2L)))
  }

  test("job budget: building the change feed over DML commits runs no " +
      "Spark job") {
    val root = seeded("jobs-feed")
    TxLog.mergeKeyedTx(spark, root, rows(("a", 2L, 200L), ("b", 4L, 40L)),
      "k", changeFeed = true)
    TxLog.deleteWhereTx(spark, root, col("k") === 1L, changeFeed = true)
    TxLog.deleteWhereDvTx(spark, root, col("k") === 4L, changeFeed = true)
    val (feed, jobs) =
      jobsLaunchedBy(TxLog.readChangeFeed(spark, root, 0L)._1.get)
    assert(jobs.isEmpty, s"building the feed launched ${jobs.size} jobs")
    assert(feed.count() === 8L) // 3 inserts, 3 merge images, 2 deletes
  }

  test("job budget: building readTable over deletion vectors runs no " +
      "Spark job") {
    val root = seeded("jobs-dvread")
    TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    val (df, jobs) = jobsLaunchedBy(TxLog.readTable(spark, root))
    assert(jobs.isEmpty, s"building the read launched ${jobs.size} jobs")
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L))
  }

  /** A driver table whose partition `a` holds two files, one of them
    * carrying a deletion vector (key 2). */
  private def dvSeeded(tag: String): String = {
    val root = seeded(tag)
    TxLog.appendBatchTx(rows(("a", 5L, 50L), ("b", 6L, 60L)), root, "part",
      s"$tag-b2")
    TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    assert(TxLog.snapshot(spark, root).dvs.nonEmpty)
    root
  }

  test("job budget: on a driver table carrying deletion vectors, the " +
      "readers and metadata calls launch no Spark job") {
    val root = dvSeeded("jobs-driver-meta")
    val v = TxLog.currentVersion(spark, root)
    Seq[(String, () => Any)](
      "readTable" -> (() => TxLog.readTable(spark, root)),
      "readTableAt" -> (() => TxLog.readTableAt(spark, root, v)),
      "countRows" -> (() => TxLog.countRows(spark, root)),
      "partitionCounts" -> (() => TxLog.partitionCounts(spark, root)),
      "partitionValues" -> (() => TxLog.partitionValues(spark, root)),
      "tableDetail" -> (() => TxLog.tableDetail(spark, root)),
      "hasData" -> (() => TxLog.hasData(spark, root))
    ).foreach { case (name, call) =>
      val (_, jobs) = jobsLaunchedBy(call())
      assert(jobs.isEmpty, s"$name launched ${jobs.size} jobs")
    }
    assert(TxLog.countRows(spark, root) === Some(4L))
    assert(TxLog.partitionCounts(spark, root) ===
      Map("a" -> Some(2L), "b" -> Some(2L)))
  }

  test("job budget: on a driver table carrying deletion vectors, " +
      "deleteWhereTx, compactBinPackTx and readModifyWriteWhere run their " +
      "recorded job counts") {
    def jobsOf(tag: String, keys: Seq[Long])(dml: String => Any): Int = {
      val root = dvSeeded(tag)
      val (_, jobs) = jobsLaunchedBy(dml(root))
      assert(TxLog.readTable(spark, root).select("k").collect()
        .map(_.getLong(0)).sorted.toSeq === keys, tag)
      jobs.size
    }
    val deleted = jobsOf("jobs-driver-delete", Seq(3L, 5L, 6L))(root =>
      TxLog.deleteWhereTx(spark, root, col("k") === 1L))
    val packed = jobsOf("jobs-driver-binpack", Seq(1L, 3L, 5L, 6L))(root =>
      TxLog.compactBinPackTx(spark, root, "part", smallBytes = 1L << 20))
    val rewritten = jobsOf("jobs-driver-rmw", Seq(1L, 3L, 5L, 6L))(root =>
      TxLog.readModifyWriteWhere(spark, root, "part", select = _ == "a")(
        identity))
    // the driver path's recorded counts, held exactly: a change that
    // adds (or saves) a job here shows up and must say so
    assert((deleted, packed, rewritten) === ((3, 3, 3)))
  }

  test("job budget: a change-recorded deletion-vector delete over a prior " +
      "vector runs its recorded job count") {
    val root = dvSeeded("jobs-driver-dvdelete")
    val (out, jobs) = jobsLaunchedBy(
      TxLog.deleteWhereDvTx(spark, root, col("k") === 1L, changeFeed = true))
    assert(out._2 === 1L)
    assert(TxLog.readTable(spark, root).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(3L, 5L, 6L))
    // the first file of a carries the vector of keys 2 and 1 now: the
    // recorded per-file counts keep the metadata answers exact
    assert(TxLog.countRows(spark, root) === Some(3L))
    assert(TxLog.partitionCounts(spark, root) ===
      Map("a" -> Some(1L), "b" -> Some(2L)))
    assert(feedRows(TxLog.readChangeFeed(spark, root,
      out._1 - 1)._1.get) === Set(("delete", "a", 1L, 10L, out._1)))
    // held exactly, like the counts above
    assert(jobs.size === 5, s"dv delete launched ${jobs.size} jobs")
  }

  test("job budget: on a payload table carrying a post-checkpoint " +
      "deletion vector, the readers and metadata calls run their recorded " +
      "job counts") {
    val root = seeded("jobs-payload-meta")
    TxLog.appendBatchTx(rows(("a", 5L, 50L), ("b", 6L, 60L)), root, "part",
      "jobs-payload-meta-b2")
    val key = "graft.txlog.chkParquetMin"
    spark.conf.set(key, "1")
    try TxLog.checkpoint(spark, root) finally spark.conf.unset(key)
    TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    val counts = Seq[(String, () => Any)](
      "readTable" -> (() => TxLog.readTable(spark, root)),
      "countRows" -> (() => TxLog.countRows(spark, root)),
      "partitionCounts" -> (() => TxLog.partitionCounts(spark, root)),
      "tableDetail" -> (() => TxLog.tableDetail(spark, root))
    ).map { case (name, call) => name -> jobsLaunchedBy(call())._2.size }
    assert(TxLog.tableDetail(spark, root).head.getAs[String](
      "representation") === "parquet-checkpoint")
    assert(TxLog.readTable(spark, root).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 5L, 6L))
    assert(TxLog.countRows(spark, root) === Some(4L))
    assert(TxLog.partitionCounts(spark, root) ===
      Map("a" -> Some(2L), "b" -> Some(2L)))
    assert(TxLog.tableDetail(spark, root).head.getAs[Long](
      "n_deleted_rows") === 1L)
    // held exactly: the payload is read with its fixed schema, so no
    // count includes a schema-inference job
    assert(counts === Seq("readTable" -> 0, "countRows" -> 3,
      "partitionCounts" -> 3, "tableDetail" -> 4))
  }

  test("job budget: a non-empty replaceTableTx on a driver table runs its " +
      "recorded job count") {
    val root = seeded("jobs-replace")
    // a source Spark must run to probe (not a local relation)
    val src = spark.range(7L, 9L).select(
      when(col("id") === 7L, "c").otherwise("d").as("part"),
      col("id").as("k"), (col("id") * 10L).as("v"))
    val (v, jobs) = jobsLaunchedBy(TxLog.replaceTableTx(src, root,
      Seq("part")))
    assert(v === 2L)
    assert(TxLog.readTable(spark, root).select("part", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ===
      Seq(("c", 7L), ("d", 8L)))
    // held exactly: the staging write's shuffle and write stages, with no
    // separate emptiness probe of the source
    assert(jobs.size === 2, s"replace launched ${jobs.size} jobs")
  }

  test("routed layout: data and change files of one DML commit share its " +
      "staging dir; partition values and change type come from the path") {
    val root = freshRoot("layout")
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("b", 2L, 20L)), root, "part",
      "layout-b1")
    TxLog.deleteWhereTx(spark, root, col("k") === 1L, changeFeed = true)
    val changes = changesOf(root, 2L)
    assert(changes.nonEmpty && changes.forall(_.matches(
      "data/txn-[0-9a-f-]+/__route=delete/part=a/[^/]+\\.parquet")), changes)
    // the change file holds the data columns only, like a data file
    assert(spark.read.parquet(s"$root/${changes.head}").columns.toSeq ===
      Seq("k", "v"))
    assert(feedRows(TxLog.readChangeFeed(spark, root, 1L)._1.get) ===
      Set(("delete", "a", 1L, 10L, 2L)))
    assert(TxLog.readTable(spark, root).collect().map(_.getAs[Long]("k"))
      .toSeq === Seq(2L))
  }

  test("a merge that loses its conflict check leaves no data file and no " +
      "change file behind") {
    val root = freshRoot("loser")
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("a", 2L, 20L)), root, "part",
      "loser-b1")
    val rival = TxLog.stage(rows(("a", 5L, 50L)), root, "part")
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TxConflictHook.fire = () =>
      if (fired.compareAndSet(false, true))
        TxLog.commit(spark, root, rival, "append", readVersion = 0L): Unit
    val hooked = udf((k: Long) => { TxConflictHook.fire(); k })
    try {
      val v = TxLog.mergeKeyedTx(spark, root,
        rows(("a", 1L, 100L), ("a", 7L, 70L)).withColumn("k", hooked(col("k"))),
        "k", changeFeed = true)
      assert(fired.get() && v === 3L)
    } finally TxConflictHook.fire = () => ()
    // seed, rival and the winning retry: the losing attempt's staging dir,
    // data and change files alike, is gone
    val dirs = fsOf(root).listStatus(new Path(root, "data"))
      .map(_.getPath.getName).toSet
    assert(dirs.size === 3, dirs)
    assert(dirs.forall(_.startsWith("txn-")))
    assert(changesOf(root, 3L).forall(f => dirs(f.split("/")(1))))
    assert(feedRows(TxLog.readChangeFeed(spark, root, 2L)._1.get) === Set(
      ("update_preimage", "a", 1L, 10L, 3L),
      ("update_postimage", "a", 1L, 100L, 3L),
      ("insert", "a", 7L, 70L, 3L)))
    // the retry's key range [1, 7] covers both the seed and the rival
    // file: exactly those two are rewritten away, nothing else is loose
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L, dryRun = true) === 2)
  }

  test("vacuum keeps the change files of retained commits and reclaims " +
      "them once expireLog drops their commit") {
    val root = freshRoot("vacuum")
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("b", 2L, 20L)), root, "part",
      "vac-b1")
    TxLog.mergeKeyedTx(spark, root, rows(("a", 1L, 100L), ("b", 3L, 30L)),
      "k", changeFeed = true)
    val changes = changesOf(root, 2L)
    val fs = fsOf(root)
    def present = changes.filter(f => fs.exists(new Path(root, f)))
    assert(changes.size === 3, changes) // pre + post in a, insert in b
    TxLog.vacuum(spark, root, minAgeMs = 0L)
    assert(present === changes)
    assert(TxLog.readChangeFeed(spark, root, 1L)._1.get.count() === 3L)
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    TxLog.vacuum(spark, root, minAgeMs = 0L)
    assert(present.isEmpty, present)
    // the live rows in the same staging dir survive
    assert(TxLog.readTable(spark, root).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap ===
      Map(1L -> 100L, 2L -> 20L, 3L -> 30L))
  }

  test("mergeKeyedTx still refuses an empty source; mergeClausesTx still " +
      "makes it a no-op; an all-matching source inserts nothing") {
    val root = freshRoot("edges")
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("b", 2L, 20L)), root, "part",
      "edges-b1")
    val ex = intercept[IllegalArgumentException] {
      TxLog.mergeKeyedTx(spark, root, rows(), "k", changeFeed = true)
    }
    assert(ex.getMessage.contains("staged DataFrame is empty"))
    assert(TxLog.mergeClausesTx(spark, root, rows(), "k",
      Seq(TxLog.MergeClause.updateAll()), changeFeed = true) === 1L)
    assert(TxLog.currentVersion(spark, root) === 1L)
    assert(TxLog.mergeKeyedTx(spark, root,
      rows(("a", 1L, 11L), ("b", 2L, 22L)), "k", changeFeed = true) === 2L)
    assert(feedRows(TxLog.readChangeFeed(spark, root, 1L)._1.get) === Set(
      ("update_preimage", "a", 1L, 10L, 2L), ("update_postimage", "a", 1L, 11L, 2L),
      ("update_preimage", "b", 2L, 20L, 2L), ("update_postimage", "b", 2L, 22L, 2L)))
    assert(TxLog.readTable(spark, root).count() === 2L)
  }

  test("duplicate keys, also across partitions: mergeKeyedTx replaces a " +
      "key's target rows with its source rows; mergeClausesTx pairs each " +
      "target row with each source row of its key") {
    def seed(tag: String): String = {
      val root = freshRoot(tag)
      TxLog.appendBatchTx(rows(("a", 1L, 10L), ("a", 1L, 11L), ("b", 2L, 20L)),
        root, "part", s"$tag-b1")
      root
    }
    def tableRows(root: String) = TxLog.readTable(spark, root)
      .select("part", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def feedSeq(root: String) = TxLog.readChangeFeed(spark, root, 1L)._1.get
      .select("_change_type", "part", "k", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    // key 1 twice in the target, and in two partitions of the source
    val src = rows(("a", 1L, 100L), ("b", 1L, 101L), ("a", 3L, 30L))
    val keyed = seed("dup-keyed")
    TxLog.mergeKeyedTx(spark, keyed, src, "k", changeFeed = true)
    assert(tableRows(keyed) ===
      Seq(("a", 1L, 100L), ("a", 3L, 30L), ("b", 1L, 101L), ("b", 2L, 20L)))
    assert(feedSeq(keyed) === Seq(("insert", "a", 3L, 30L),
      ("update_postimage", "a", 1L, 100L), ("update_postimage", "b", 1L, 101L),
      ("update_preimage", "a", 1L, 10L), ("update_preimage", "a", 1L, 11L)))
    val clauses = seed("dup-clauses")
    TxLog.mergeClausesTx(spark, clauses, src, "k",
      Seq(TxLog.MergeClause.updateAll()), changeFeed = true)
    assert(tableRows(clauses) === Seq(("a", 1L, 100L), ("a", 1L, 100L),
      ("a", 3L, 30L), ("b", 1L, 101L), ("b", 1L, 101L), ("b", 2L, 20L)))
    assert(feedSeq(clauses) === Seq(("insert", "a", 3L, 30L),
      ("update_postimage", "a", 1L, 100L), ("update_postimage", "a", 1L, 100L),
      ("update_postimage", "b", 1L, 101L), ("update_postimage", "b", 1L, 101L),
      ("update_preimage", "a", 1L, 10L), ("update_preimage", "a", 1L, 10L),
      ("update_preimage", "a", 1L, 11L), ("update_preimage", "a", 1L, 11L)))
  }

  test("a change-recorded update that changes no row still serves the " +
      "change feed") {
    val root = freshRoot("nochange")
    TxLog.appendBatchTx(rows(("a", 1L, 10L), ("a", 2L, 20L)), root, "part",
      "nochange-b1")
    // v = 15 lies inside the file's [10, 20] range: the file is a
    // candidate and is rewritten, but no row matches
    val (v, files) = TxLog.updateWhereTx(spark, root, col("v") === 15L,
      Map("v" -> lit(0L)), changeFeed = true)
    assert(v === 2L && files === 1)
    assert(TxLog.readChangeFeed(spark, root, 1L)._1.forall(_.isEmpty))
    assert(feedRows(TxLog.readChangeFeed(spark, root, 0L)._1.get) === Set(
      ("insert", "a", 1L, 10L, 1L), ("insert", "a", 2L, 20L, 1L)))
  }
}
