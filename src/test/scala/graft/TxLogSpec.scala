package graft

import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** Writer-vs-writer safety for the TxLog optimistic-concurrency layer:
  * the q208 driver gate pins one deterministic interleave; these specs
  * cover the protocol itself — a REAL thread race on the version claim,
  * serializability of concurrent read-modify-writes, idempotent batch
  * replay (including a concurrent duplicate submission), and vacuum. */
class TxLogSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txlog/$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def kv(pairs: (String, Long)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("part", "n")
  }

  test("overwrite replaces only staged partitions; reads see the fold") {
    val root = freshRoot("fold")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    TxLog.overwritePartitionsTx(kv("b" -> 20, "c" -> 30), root, "part")
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[String]("part") -> r.getAs[Long]("n")).toMap
    assert(got === Map("a" -> 1L, "b" -> 20L, "c" -> 30L))
    assert(TxLog.snapshot(spark, root).version === 2L)
  }

  test("append extends a partition's files; snapshot read keeps all rows") {
    val root = freshRoot("append")
    TxLog.overwritePartitionsTx(kv("a" -> 1), root, "part")
    TxLog.appendBatchTx(kv("a" -> 2), root, "part", "b1")
    val rows = TxLog.readTable(spark, root)
      .groupBy("part").agg(sum("n").as("s"), count(lit(1)).as("c"))
      .collect().head
    assert(rows.getAs[Long]("s") === 3L && rows.getAs[Long]("c") === 2L)
  }

  test("batch replay is a no-op returning the original version") {
    val root = freshRoot("replay")
    val v1 = TxLog.appendBatchTx(kv("a" -> 5), root, "part", "batch-7")
    val v2 = TxLog.appendBatchTx(kv("a" -> 999), root, "part", "batch-7")
    assert(v1 === v2)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 5L)
    // the replay's staged files were discarded, so vacuum finds nothing
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0)
  }

  test("stale overlapping commit is refused; disjoint one is not") {
    val root = freshRoot("conflict")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    val snap = TxLog.snapshot(spark, root)
    val stagedOverlap = TxLog.stage(kv("b" -> 99), root, "part")
    val stagedDisjoint = TxLog.stage(kv("c" -> 3), root, "part")
    // an intervening commit touches b
    TxLog.overwritePartitionsTx(kv("b" -> 20), root, "part")
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.commit(spark, root, stagedOverlap, "overwrite",
        readVersion = snap.version, conflictCheck = true)
    }
    TxLog.discard(spark, root, stagedOverlap)
    // disjoint partitions commute — same readVersion commits fine
    TxLog.commit(spark, root, stagedDisjoint, "overwrite",
      readVersion = snap.version, conflictCheck = true)
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got === Map("a" -> 1L, "b" -> 20L, "c" -> 3L))
  }

  test("thread race: concurrent read-modify-writes serialize (no lost update)") {
    val root = freshRoot("race")
    TxLog.overwritePartitionsTx(kv("ctr" -> 0), root, "part")
    val writers = 4
    val incsPer = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (1 to writers).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to incsPer).foreach { _ =>
            TxLog.readModifyWrite(spark, root, "part") {
              cur => cur.withColumn("n", col("n") + 1L)
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // every increment survived: the classic lost-update anomaly would
    // leave n < writers*incsPer; the conflict check + retry forbids it
    val n = TxLog.readTable(spark, root).select("n").head.getLong(0)
    assert(n === (writers * incsPer).toLong)
    assert(TxLog.snapshot(spark, root).version === (writers * incsPer + 1).toLong)
  }

  test("thread race: concurrent duplicate batch submissions land once") {
    val root = freshRoot("dupbatch")
    TxLog.overwritePartitionsTx(kv("a" -> 0), root, "part")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val tasks = (1 to 3).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            TxLog.appendBatchTx(kv("a" -> 10), root, "part", "same-batch")
        })
      }
      val versions = tasks.map(_.get()).toSet
      assert(versions.size === 1, s"duplicate batch landed at $versions")
    } finally pool.shutdown()
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 10L)
  }

  test("vacuum removes losers' staging, keeps every live file") {
    val root = freshRoot("vacuum")
    TxLog.overwritePartitionsTx(kv("a" -> 1), root, "part")
    val orphan = TxLog.stage(kv("a" -> 99), root, "part") // never committed
    assert(orphan.parts.nonEmpty)
    // overwritten history (v1's file for a) + the orphan both go;
    // v2's live file stays
    TxLog.overwritePartitionsTx(kv("a" -> 2), root, "part")
    // retention: everything here is seconds old, and a concurrently
    // STAGED-not-yet-committed writer looks exactly like this orphan —
    // the default 1 h age must reclaim NOTHING
    assert(TxLog.vacuum(spark, root) === 0)
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 2)
    assert(TxLog.readTable(spark, root).select("n").head.getLong(0) === 2L)
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0)
  }

  test("checkpoint + expireLog: fold identical, batch ledger survives, " +
      "stale reader conflicts conservatively") {
    val root = freshRoot("chk")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    TxLog.appendBatchTx(kv("a" -> 10), root, "part", "batch-x")
    TxLog.overwritePartitionsTx(kv("b" -> 20), root, "part")
    val preSnap = TxLog.snapshot(spark, root)
    val before = TxLog.readTable(spark, root)
      .groupBy("part").agg(sum("n").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cv = TxLog.checkpoint(spark, root)
    assert(cv === 3L)
    assert(TxLog.expireLog(spark, root) === 3) // three delta files folded
    // the fold from the checkpoint alone is identical
    val after = TxLog.readTable(spark, root)
      .groupBy("part").agg(sum("n").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after === before && after === Map("a" -> 11L, "b" -> 20L))
    assert(TxLog.snapshot(spark, root).version === 3L)
    // the expired batch's id survives in the checkpoint ledger: a replay
    // is still a no-op
    val v = TxLog.appendBatchTx(kv("a" -> 999), root, "part", "batch-x")
    assert(v === 3L)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 31L)
    // a writer whose snapshot predates the checkpoint cannot prove
    // disjointness against expired commits — must conflict, then succeed
    // through the normal retry (re-deriving from the current snapshot)
    val staged = TxLog.stage(kv("c" -> 3), root, "part")
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.commit(spark, root, staged, "overwrite",
        readVersion = 1L, conflictCheck = true)
    }
    TxLog.discard(spark, root, staged)
    TxLog.readModifyWrite(spark, root, "part") { cur =>
      cur.filter(col("part") === "a").withColumn("n", col("n") + 1L)
    }
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 33L)
    // commits continue past the checkpoint; a fresh snapshot sees them
    assert(TxLog.snapshot(spark, root).version === 4L)
    assert(preSnap.version === 3L)
    // a second checkpoint supersedes the first; expire removes BOTH the
    // folded delta and the superseded checkpoint file — the log dir
    // holds exactly one .chk no matter how many maintenance cycles ran
    val cv2 = TxLog.checkpoint(spark, root)
    assert(cv2 === 4L)
    assert(TxLog.expireLog(spark, root) === 2) // the v4 delta + old chk
    val logFiles = new java.io.File(s"$root/_txlog").list().toSeq
    assert(logFiles.count(_.endsWith(".chk")) === 1)
    assert(TxLog.snapshot(spark, root).version === 4L)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 33L)
  }

  test("snapshot read is ONE scan; a partition filter prunes at the " +
      "file index") {
    val root = freshRoot("prune")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2, "c" -> 3), root, "part")
    val full = TxLog.readTable(spark, root)
    val fullScans = full.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the whole table is ONE scan node (no per-partition union branches —
    // a 10k-partition table must not build a 10k-branch plan)
    assert(fullScans.size === 1,
      s"expected a single scan node, got ${fullScans.size}")
    val filtered = TxLog.readTable(spark, root).filter(col("part") === "b")
    assert(filtered.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // the filter reaches the scan as a PARTITION filter: of the three
    // one-file partitions, only b's file is listed (file-index pruning,
    // the claim in TxLog.readSnapshot's scaladoc)
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value === 1L,
      s"partition filter did not prune: ${scan.metrics("numFiles").value} files read")
  }

  test("one-scan read holds at 240 partitions: single scan node, filter " +
      "prunes to one file, driver plan stays flat") {
    import spark.implicits._
    val root = freshRoot("prune240")
    // the ≥200-partition shape: one row per partition value
    TxLog.overwritePartitionsTx(
      spark.range(0, 240).select(concat(lit("p"), col("id")).as("part"),
        col("id").as("n")),
      root, "part")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.parts.size === 240)
    val full = TxLog.readTable(spark, root)
    val scans = full.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1,
      s"240-partition table built ${scans.size} scan nodes")
    assert(full.agg(sum("n")).head.getLong(0) === (0L until 240L).sum)
    val filtered = TxLog.readTable(spark, root)
      .filter(col("part") === "p137")
    assert(filtered.collect().map(_.getLong(0)).toSeq === Seq(137L))
    val scan = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value === 1L,
      s"pruning failed at 240 parts: ${scan.metrics("numFiles").value} files")
  }

  test("data skipping: recorded min/max prunes files a filter proves dead, " +
      "survives checkpoint+expire, and is recomputed by compaction") {
    val root = freshRoot("skip")
    // three appends with disjoint n ranges → 3 one-value files per partition
    TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), root, "part", "s1")
    TxLog.appendBatchTx(kv("a" -> 10, "b" -> 20), root, "part", "s2")
    TxLog.appendBatchTx(kv("a" -> 100, "b" -> 200), root, "part", "s3")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.stats.size === 6, s"expected stats on all 6 files: ${snap.stats}")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(): Unit
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    // point lookup: exactly the one file whose range covers it
    val eq = TxLog.readTable(spark, root).filter(col("n") === 20L)
    assert(eq.select("part").collect().map(_.getString(0)).toSeq === Seq("b"))
    assert(filesRead(eq) === 1L, "n=20 must read exactly one file")
    // range: two files at or above 100
    assert(filesRead(
      TxLog.readTable(spark, root).filter(col("n") >= 100L)) === 2L)
    // provably-dead predicate: zero files, empty result
    val dead = TxLog.readTable(spark, root).filter(col("n") === 55L)
    assert(dead.count() === 0L)
    assert(filesRead(dead) === 0L, "no file range covers 55")
    // stats survive the checkpoint+expire cycle
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    assert(TxLog.snapshot(spark, root).stats === snap.stats)
    assert(filesRead(
      TxLog.readTable(spark, root).filter(col("n") === 20L)) === 1L,
      "skipping must survive log expiry via checkpoint stats")
    // compaction rewrites files — fresh stats for the new files, and the
    // widened per-partition ranges keep exactly the covering files
    TxLog.compactPartitionsTx(spark, root, "part")
    val post = TxLog.snapshot(spark, root)
    val ranges = post.parts.map { case (v, fs) =>
      v -> post.stats(fs.head)("n")
    }
    assert(ranges === Map("a" -> ("1", "100"), "b" -> ("2", "200")))
    val eq2 = TxLog.readTable(spark, root).filter(col("n") === 20L)
    assert(eq2.select("part").collect().map(_.getString(0)).toSeq === Seq("b"))
    // a's compacted range [1,100] covers 20 — conservatively read (2 files)
    assert(filesRead(eq2) === 2L)
    // metadata-only counts: exact, zero scan, partition-selectable,
    // and they tracked the compaction rewrite
    assert(TxLog.countRows(spark, root) === Some(6L))
    assert(TxLog.countRows(spark, root, _ == "a") === Some(3L))
    assert(TxLog.partitionCounts(spark, root) ===
      Map("a" -> Some(3L), "b" -> Some(3L)))
  }

  test("data skipping: stats-less files (opt-out writers, pre-stats logs) " +
      "are never skipped; date and decimal keys prune") {
    val root = freshRoot("skipmixed")
    TxLog.appendBatchTx(kv("a" -> 1), root, "part", "m1")
    // the first commit loses its stats and row-count records: the file a
    // writer without stats (or a pre-stats log) leaves behind
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = new org.apache.hadoop.fs.Path(root,
      f"_txlog/v${1L}%020d.txn")
    val body = {
      val in = fs.open(first)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(body.linesIterator.exists(_.startsWith("s\t")) &&
      body.linesIterator.exists(_.startsWith("f\t")))
    val out = fs.create(first, true)
    try out.write(body.linesIterator
      .filterNot(l => l.startsWith("s\t") || l.startsWith("f\t"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    TxLog.clearLogCache()
    TxLog.appendBatchTx(kv("a" -> 10), root, "part", "m2")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.stats.size === 1, "opt-out file must carry no stats")
    val f = TxLog.readTable(spark, root).filter(col("n") === 999L)
    f.collect(): Unit
    val read = f.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metrics("numFiles").value
    // the stats-bearing file [10,10] is skipped; the opt-out file must
    // still be read (absence of stats can never mean absence of data)
    assert(read === 1L, s"expected only the stats-less file read, got $read")
    // a count over a file without a recorded footer count must refuse
    // the metadata answer (None → caller scans), never estimate
    assert(TxLog.countRows(spark, root) === None)

    // date + decimal ranges
    import spark.implicits._
    val root2 = freshRoot("skiptyped")
    def batch(d: String, m: String) = Seq((d, m)).toDF("ds", "ms")
      .select(lit("x").as("part"), to_date(col("ds")).as("d"),
        col("ms").cast("decimal(9,2)").as("m"))
    TxLog.appendBatchTx(batch("2024-01-15", "1.25"), root2, "part", "t1")
    TxLog.appendBatchTx(batch("2024-07-20", "8.75"), root2, "part", "t2")
    def readCount(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(): Unit
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    assert(readCount(TxLog.readTable(spark, root2)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-06-01")))) === 1L,
      "date range must prune to the covering file")
    assert(readCount(TxLog.readTable(spark, root2)
      .filter(col("m") < lit(new java.math.BigDecimal("5.00")))) === 1L,
      "decimal range must prune to the covering file")
  }

  test("clustered compaction: files land tight disjoint cluster ranges " +
      "and a range predicate reads only the covering files") {
    import spark.implicits._
    val root = freshRoot("cluster")
    // two interleaved batches: every pre-compaction file spans the whole
    // id range, so nothing is skippable until the clustered rewrite
    val all = scala.util.Random.shuffle((1L to 60L).toList)
    val (b1, b2) = all.splitAt(30)
    TxLog.appendBatchTx(b1.toDF("n").select(lit("x").as("part"), col("n")),
      root, "part", "c1")
    TxLog.appendBatchTx(b2.toDF("n").select(lit("x").as("part"), col("n")),
      root, "part", "c2")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(): Unit
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    val pre = TxLog.readTable(spark, root)
      .filter(col("n") >= 5L && col("n") <= 10L)
    assert(filesRead(pre) === 2L, "interleaved batches must not be skippable")
    TxLog.compactClusteredTx(spark, root, "part", Seq(col("n")), files = 6)
    val snap = TxLog.snapshot(spark, root)
    val files = snap.parts("x")
    assert(files.size >= 4, s"clustered rewrite produced ${files.size} files")
    // recorded ranges must be pairwise DISJOINT (the range shuffle's
    // contiguous-slice guarantee) and cover 1..60
    val ranges = files.map(f => snap.stats(f)("n"))
      .map { case (mn, mx) => (mn.toLong, mx.toLong) }.sortBy(_._1)
    assert(ranges.head._1 === 1L && ranges.last._2 === 60L)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo,
        s"overlapping cluster ranges: $ranges")
      case _ =>
    }
    val post = TxLog.readTable(spark, root)
      .filter(col("n") >= 5L && col("n") <= 10L)
    assert(post.count() === 6L)
    assert(filesRead(post) <= 2L,
      "a 6-row range over 6 clustered files must read at most 2 files")
  }

  test("incremental consumption reads exactly the appended window; " +
      "non-append commits refuse unless explicitly skipped") {
    val root = freshRoot("incr")
    TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), root, "part", "i1")
    val (c1, v1) = TxLog.readChangesSince(spark, root, 0L)
    assert(c1.get.collect().map(_.getAs[Long]("n")).sorted.toSeq === Seq(1L, 2L))
    TxLog.appendBatchTx(kv("a" -> 10), root, "part", "i2")
    val (c2, v2) = TxLog.readChangesSince(spark, root, v1)
    assert(c2.get.collect().map(_.getAs[Long]("n")).toSeq === Seq(10L),
      "second window must hold ONLY the new batch")
    // drained: no changes, same checkpoint version back
    val (c3, v3) = TxLog.readChangesSince(spark, root, v2)
    assert(c3.isEmpty && v3 === v2)
    // an overwrite inside the window refuses loudly...
    TxLog.overwritePartitionsTx(kv("a" -> 100), root, "part")
    val ex = intercept[RuntimeException] {
      TxLog.readChangesSince(spark, root, v2)
    }
    assert(ex.getMessage.contains("not appends"))
    // ...unless skipped — then ONLY later appends surface, and an
    // in-window append the overwrite replaced must NOT resurrect
    TxLog.appendBatchTx(kv("b" -> 20), root, "part", "i3")
    val (c4, _) = TxLog.readChangesSince(spark, root, v2,
      skipNonAppend = true)
    assert(c4.get.collect().map(_.getAs[Long]("n")).toSeq === Seq(20L))
    val (c5, _) = TxLog.readChangesSince(spark, root, v1,
      skipNonAppend = true)
    // window holds append(a->10) + overwrite(a->100) + append(b->20):
    // a's appended file is no longer live, so only b's row surfaces
    assert(c5.get.collect().map(_.getAs[Long]("n")).toSeq === Seq(20L),
      "a replaced in-window append must not resurrect dead rows")
  }

  test("the log records its partition column: readTable needs no caller " +
      "partCol; a writer partitioning by a different column is refused") {
    val root = freshRoot("partmeta")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[String]("part") -> r.getAs[Long]("n")).toMap
    assert(got === Map("a" -> 1L, "b" -> 2L))
    // same DATA schema, different partition column: the partition guard
    // (not the schema guard) must refuse terminally and reclaim staging
    import spark.implicits._
    val alien = Seq(("x", 9L)).toDF("other", "n")
    val ex = intercept[IllegalArgumentException] {
      TxLog.overwritePartitionsTx(alien, root, "other")
    }
    assert(ex.getMessage.contains("partition column"))
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0,
      "refused commit must have reclaimed its staged files")
    // the recorded metadata survives checkpoint + log expiry
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    assert(TxLog.readTable(spark, root).count() === 2L)
  }

  test("a commit or checkpoint without the log generation line is " +
      "refused by every reader, the CDF stream and the next commit") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(System.getProperty("java.io.tmpdir"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def lines(p: Path): List[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def logFile(root: String, suffix: String): Path =
      fs.listStatus(new Path(s"$root/_txlog")).map(_.getPath)
        .filter(_.getName.endsWith(suffix)).maxBy(_.getName)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    val key = "graft.txlog.chkParquetMin"
    // (case, chkParquetMin for a checkpoint at v2 (None: no checkpoint),
    // the header of the stripped file, the stripped file)
    Seq[(String, Option[String], String, String => Path)](
      ("first commit", None, "graft-txn-v1",
        root => new Path(root, f"_txlog/v${1L}%020d.txn")),
      ("text checkpoint", Some(TxLog.DefaultChkParquetMin.toString),
        "graft-chk-v1", root => logFile(root, ".chk")),
      ("payload checkpoint", Some("1"), "graft-chk-v2",
        root => logFile(root, ".chk"))
    ).foreach { case (what, chkMin, header, file) =>
      val root = freshRoot(s"gen-${what.replace(' ', '-')}")
      TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), root, "part", "g1") // v1
      TxLog.appendBatchTx(kv("a" -> 3), root, "part", "g2")           // v2
      chkMin.foreach { m =>
        spark.conf.set(key, m)
        try TxLog.checkpoint(spark, root) finally spark.conf.unset(key)
      }
      val p = file(root)
      val body = lines(p)
      assert(body.head === header && body.contains("gen=2"), s"$what: $body")
      val out = fs.create(p, true)
      try out.write(body.filterNot(_.startsWith("gen="))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      TxLog.clearLogCache()
      Seq[(String, () => Any)](
        "readTable" -> (() => TxLog.readTable(spark, root)),
        "readTableAt" -> (() => TxLog.readTableAt(spark, root, 2L)),
        "countRows" -> (() => TxLog.countRows(spark, root)),
        "tableDetail" -> (() => TxLog.tableDetail(spark, root)),
        "readChangeFeed" -> (() => TxLog.readChangeFeed(spark, root, 0L)),
        "readChangesSince" -> (() => TxLog.readChangesSince(spark, root, 0L)),
        "CDF stream" -> (() => {
          val q = spark.readStream.format("txlog")
            .option("readChangeFeed", "true").load(root)
            .writeStream.option("checkpointLocation", s"$root-ckpt")
            .format("noop").start()
          try q.processAllAvailable() finally q.stop()
        }),
        "commit" -> (() =>
          TxLog.appendBatchTx(kv("c" -> 4), root, "part", "g3"))
      ).foreach { case (call, run) =>
        val e = intercept[Exception](run())
        assert(msgs(e).exists(m => m.contains("records no log generation") &&
            m.contains("needs gen=2") && m.contains(root)),
          s"$what / $call: ${msgs(e).mkString(" | ")}")
      }
    }
  }

  test("consumeChanges drives an exactly-once tx-to-tx pipeline: windows " +
      "tagged by version, crash replays absorbed by the downstream ledger") {
    val src = freshRoot("pipe-src")
    val dst = freshRoot("pipe-dst")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-txlog/pipe-ckpt"
    new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(ckpt), false)
    TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), src, "part", "p1")
    def pump(): Int = TxLog.consumeChanges(spark, src, ckpt) {
      (win, v) => TxLog.appendBatchTx(win, dst, "part", s"pipe-$v"): Unit
    }
    assert(pump() === 1)
    // crash-replay simulation: a sink failure AFTER the downstream
    // commit but BEFORE the checkpoint advance — the retry re-delivers
    // the same window under the same tag and the ledger absorbs it
    TxLog.appendBatchTx(kv("a" -> 10), src, "part", "p2")
    var first = true
    intercept[RuntimeException] {
      TxLog.consumeChanges(spark, src, ckpt) { (win, v) =>
        TxLog.appendBatchTx(win, dst, "part", s"pipe-$v"): Unit
        if (first) { first = false; sys.error("crash before checkpoint") }
      }
    }
    assert(pump() === 1, "retry must re-deliver the un-checkpointed window")
    assert(pump() === 0, "drained log must deliver nothing")
    val got = TxLog.readTable(spark, dst)
      .groupBy("part").agg(sum("n").as("s"), count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exactly-once: the replayed window landed ONCE (a=1 and a=10 rows,
    // never a doubled a=10)
    assert(got === Map("a" -> (11L, 2L), "b" -> (2L, 1L)))
  }

  test("snapshotAt time-travels to any retained version; expired versions " +
      "fail loudly") {
    val root = freshRoot("travel")
    TxLog.overwritePartitionsTx(kv("a" -> 1), root, "part")          // v1
    TxLog.overwritePartitionsTx(kv("a" -> 2, "b" -> 5), root, "part") // v2
    TxLog.appendBatchTx(kv("a" -> 10), root, "part", "b1")            // v3
    def sumAt(v: Long) = TxLog.readSnapshot(spark, root,
      TxLog.snapshotAt(spark, root, v), TxLog.tableMeta(spark, root)._2)
      .agg(sum("n")).head.getLong(0)
    assert(sumAt(1) === 1L)
    assert(sumAt(2) === 7L)
    assert(sumAt(3) === 17L)
    intercept[IllegalArgumentException] { TxLog.snapshotAt(spark, root, 4) }
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    // pre-checkpoint versions are no longer enumerable — loud, not wrong
    intercept[RuntimeException] { TxLog.snapshotAt(spark, root, 1) }
    assert(sumAt(3) === 17L) // the checkpointed version itself still serves
  }

  test("removePartitionsTx drops partitions transactionally; retention " +
      "composes; a stale writer cannot resurrect a dropped partition") {
    val root = freshRoot("remove")
    TxLog.overwritePartitionsTx(
      kv("2024-01" -> 1, "2024-02" -> 2, "2024-03" -> 3), root, "part")
    // a writer derives from the pre-removal snapshot...
    val snap = TxLog.snapshot(spark, root)
    val staged = TxLog.stage(kv("2024-01" -> 99), root, "part")
    // ...retention drops the old month...
    assert(TxLog.dropPartitionsWhereTx(spark, root, _ >= "2024-02") === 1)
    val got = TxLog.readTable(spark, root)
      .select("part").collect().map(_.getString(0)).toSet
    assert(got === Set("2024-02", "2024-03"))
    // ...and the stale writer's conflict check refuses the resurrection
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.commit(spark, root, staged, "overwrite",
        readVersion = snap.version, conflictCheck = true)
    }
    TxLog.discard(spark, root, staged)
    // retention replay is a no-op commit-wise; vacuum reclaims the
    // dropped partition's now-unreferenced file
    assert(TxLog.dropPartitionsWhereTx(spark, root, _ >= "2024-02") === 0)
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) >= 1)
    assert(TxLog.readTable(spark, root).count() === 2L)
    // time travel still reproduces the pre-removal state
    assert(TxLog.snapshotAt(spark, root, snap.version).parts.keySet
      .contains("2024-01") === true)
  }

  test("schema guard: retyped/dropped columns are refused; ADD-COLUMN " +
      "and full-overwrite evolution are allowed") {
    import spark.implicits._
    val root = freshRoot("schema")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    // a writer whose column silently changed TYPE must not append
    val retyped = Seq(("a", "nine")).toDF("part", "n")
    val staged = TxLog.stage(retyped, root, "part")
    val ex = intercept[IllegalArgumentException] {
      TxLog.commit(spark, root, staged, "append", readVersion = 0L)
    }
    assert(ex.getMessage.contains("schema"))
    // the TERMINAL refusal discarded its own staged files — no leak
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0)
    // partial overwrite with the retyped schema is refused too
    intercept[IllegalArgumentException] {
      TxLog.overwritePartitionsTx(retyped, root, "part")
    }
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0)
    // ADD-COLUMN evolution: an appended superset schema is legitimate —
    // the recorded schema widens and pre-evolution rows NULL-backfill
    TxLog.appendBatchTx(Seq(("a", 9L, "extra")).toDF("part", "n", "note"),
      root, "part", "evolve-batch")
    val widened = TxLog.readTable(spark, root)
    assert(widened.columns.toSet === Set("part", "n", "note"))
    val notes = widened.orderBy("n").collect()
      .map(r => r.getAs[Long]("n") -> Option(r.getAs[String]("note"))).toMap
    assert(notes === Map(1L -> None, 2L -> None, 9L -> Some("extra")))
    // a SUBSET writer (lost the column) is refused after evolution —
    // its commit would regress the recorded schema
    val subset = TxLog.stage(kv("a" -> 7), root, "part")
    intercept[IllegalArgumentException] {
      TxLog.commit(spark, root, subset, "append", readVersion = 0L)
    }
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0) // refusal self-discarded
    // time travel to the pre-evolution version reads the OLD schema
    val v1 = TxLog.readSnapshot(spark, root,
      TxLog.snapshotAt(spark, root, 1L), TxLog.tableMeta(spark, root)._2)
    assert(!v1.columns.contains("note"))
    // FULL overwrite (every current partition replaced) may still change
    // the schema arbitrarily
    val evolved = Seq(("a", 10L, true), ("b", 20L, false))
      .toDF("part", "n", "flag")
    TxLog.overwritePartitionsTx(evolved, root, "part")
    val got = TxLog.readTable(spark, root)
    assert(got.columns.toSet === Set("part", "n", "flag"))
    assert(got.count() === 2L)
  }

  test("conflict check precedes schema guard: a stale partial writer racing " +
      "an ADD-COLUMN commit gets the RETRYABLE conflict, and RMW re-derives") {
    import spark.implicits._
    val root = freshRoot("schemarace")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    // writer B stages a pre-evolution partial overwrite from v1...
    val snapB = TxLog.snapshot(spark, root)
    val stagedB = TxLog.stage(kv("b" -> 99), root, "part")
    // ...then an ADD-COLUMN append lands on the same partition → v2
    TxLog.appendBatchTx(Seq(("b", 5L, "x")).toDF("part", "n", "note"),
      root, "part", "evolve-race")
    // B's stale commit must fail RETRYABLY (conflict), not terminally
    // (schema guard): its staged schema is now a subset of the evolved
    // table's, but the post-readVersion overlap is checked FIRST
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.commit(spark, root, stagedB, "overwrite",
        readVersion = snapB.version, conflictCheck = true)
    }
    TxLog.discard(spark, root, stagedB)
    // the standard retry path re-derives from the evolved snapshot and
    // commits with the widened schema — no terminal abort, no leak
    TxLog.readModifyWriteWhere(spark, root, "part",
      select = (_: String) == "b") { df =>
      df.withColumn("n", col("n") + 100L)
    }
    val got = TxLog.readTable(spark, root).orderBy("n").collect()
      .map(r => (r.getAs[String]("part"), r.getAs[Long]("n"),
        Option(r.getAs[String]("note"))))
    assert(got.toSeq === Seq(("a", 1L, None), ("b", 102L, None),
      ("b", 105L, Some("x"))))
    // stagedB was discarded (no leak); vacuum reclaims exactly the two
    // SUPERSEDED b files (v1's and the evolve append's), nothing else
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 2)
    assert(TxLog.readTable(spark, root).count() === 3L)
  }

  test("null partition values are refused at stage time") {
    val root = freshRoot("nullpart")
    import spark.implicits._
    val df = Seq((Some("a"), 1L), (None, 2L)).toDF("part", "n")
    intercept[IllegalArgumentException] {
      TxLog.stage(df, root, "part")
    }
  }

  test("LogStore double: lost version races re-read the log and retry at " +
      "the next version; conflict checks see the interloper") {
    val root = freshRoot("logstore")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part")
    // a store that, on the first `loseTimes` publish attempts, lets a
    // competing writer claim the version out from under the caller (the
    // S3-conditional-put-failed shape), then behaves normally; the
    // interloper runs with the override suspended so its own commits use
    // the real store
    class RacingStore(interloper: () => Unit, loseTimes: Int)
        extends graft.sources.LogStore {
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                      tmp: org.apache.hadoop.fs.Path,
                      target: org.apache.hadoop.fs.Path): Boolean = {
        if (target.getName.endsWith(".txn") &&
            losses.getAndIncrement() < loseTimes) {
          TxLog.storeOverride = None
          try interloper() // the competitor wins this version first
          finally TxLog.storeOverride = Some(this)
        }
        graft.sources.LogStore.forScheme(fs.getScheme)
          .putIfAbsent(fs, tmp, target)
      }
    }
    // interloper writes a DISJOINT partition, so a conflict-checked caller
    // must retry the publish (not re-derive) and land one version later
    val store = new RacingStore(
      () => TxLog.overwritePartitionsTx(kv("zz" -> 100), root, "part"): Unit,
      loseTimes = 1)
    TxLog.storeOverride = Some(store)
    try {
      val snap = TxLog.snapshot(spark, root)
      val staged = TxLog.stage(kv("a" -> 10), root, "part")
      // the interloper takes v2 mid-publish; the caller must land at v3
      val v = TxLog.commit(spark, root, staged, "overwrite",
        readVersion = snap.version, conflictCheck = true)
      assert(v === 3L)
    } finally TxLog.storeOverride = None
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[String]("part") -> r.getAs[Long]("n")).toMap
    assert(got === Map("a" -> 10L, "b" -> 2L, "zz" -> 100L))
    // and an OVERLAPPING interloper raises the conflict on the retry path
    val store2 = new RacingStore(
      () => TxLog.overwritePartitionsTx(kv("a" -> 99), root, "part"): Unit,
      loseTimes = 1)
    TxLog.storeOverride = Some(store2)
    try {
      val snap = TxLog.snapshot(spark, root)
      val staged = TxLog.stage(kv("a" -> 55), root, "part")
      intercept[TxLog.ConcurrentWriteException] {
        TxLog.commit(spark, root, staged, "overwrite",
          readVersion = snap.version, conflictCheck = true)
      }
      TxLog.discard(spark, root, staged)
    } finally TxLog.storeOverride = None
    assert(TxLog.readTable(spark, root).filter(col("part") === "a")
      .select("n").head.getLong(0) === 99L)
  }

  test("thread race: readers survive concurrent checkpoint+expireLog " +
      "maintenance (vanished commit files re-list, never throw)") {
    val root = freshRoot("maintrace")
    TxLog.overwritePartitionsTx(kv("x" -> 1), root, "part")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 10).foreach { i =>
          TxLog.appendBatchTx(kv("x" -> (10L * i)), root, "part", s"m$i"): Unit
        }
      })
      val maint = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = while (!stop.get()) {
          TxLog.checkpoint(spark, root)
          TxLog.expireLog(spark, root): Unit
        }
      })
      val reader = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = while (!stop.get()) {
          // snapshot() is the metadata hot path (readLog) — thousands of
          // list+read cycles against the churning maintenance loop
          try { TxLog.snapshot(spark, root); reads.incrementAndGet(): Unit }
          catch { case t: Throwable => readErr.set(t); stop.set(true) }
        }
      })
      writer.get(); stop.set(true); maint.get(); reader.get()
    } finally pool.shutdown()
    assert(readErr.get() === null,
      s"reader threw under maintenance churn: ${readErr.get()}")
    assert(reads.get() > 0L)
    val total = TxLog.readTable(spark, root)
      .agg(sum("n")).head.getLong(0)
    assert(total === 1L + (1 to 10).map(10L * _).sum)
  }

  test("thread race: compaction vs concurrent batch appends loses nothing") {
    val root = freshRoot("compactrace")
    TxLog.overwritePartitionsTx(kv("x" -> 1, "y" -> 2), root, "part")
    val batches = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val appender = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to batches).foreach { i =>
          TxLog.appendBatchTx(kv("x" -> (10L * i), "y" -> (100L * i)),
            root, "part", s"race_batch_$i"): Unit
        }
      })
      val compactor = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 3).foreach { _ =>
          TxLog.compactPartitionsTx(spark, root, "part"): Unit
        }
      })
      appender.get(); compactor.get()
    } finally pool.shutdown()
    // every batch survived the interleaved compactions (serialized
    // application: a compactor whose snapshot went stale re-derived)
    val sums = TxLog.readTable(spark, root)
      .groupBy("part").agg(sum("n").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tri = (1 to batches).map(_.toLong).sum
    assert(sums === Map("x" -> (1L + 10L * tri), "y" -> (2L + 100L * tri)))
    // one more compaction with no competition: exactly one file per part
    TxLog.compactPartitionsTx(spark, root, "part")
    val parts = TxLog.snapshot(spark, root).parts
    assert(parts.values.forall(_.size === 1),
      s"compaction left multi-file partitions: ${parts.view.mapValues(_.size).toMap}")
  }

  test("consumeChanges exactly-once survives a crash WITH a concurrent " +
      "append landing before the restart (capped-intent replay)") {
    val src = freshRoot("intent-src")
    val dst = freshRoot("intent-dst")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-txlog/intent-ckpt"
    val cp = new org.apache.hadoop.fs.Path(ckpt)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, false)
    def pump(n: Int = Int.MaxValue): Int =
      TxLog.consumeChanges(spark, src, ckpt, maxCycles = n) {
        (win, v) => TxLog.appendBatchTx(win, dst, "part", s"ix-$v"): Unit
      }
    TxLog.appendBatchTx(kv("a" -> 1), src, "part", "ib1")
    assert(pump() === 1)
    // window 2: downstream COMMITS, then the consumer crashes before the
    // checkpoint advance — and a NEW source batch lands before restart.
    // Without the intent cap the replayed window would be re-tagged with
    // the new version and double-apply window 2's rows.
    TxLog.appendBatchTx(kv("a" -> 10), src, "part", "ib2")
    intercept[RuntimeException] {
      TxLog.consumeChanges(spark, src, ckpt) { (win, v) =>
        TxLog.appendBatchTx(win, dst, "part", s"ix-$v"): Unit
        sys.error("crash after downstream commit, before checkpoint")
      }
    }
    TxLog.appendBatchTx(kv("a" -> 100), src, "part", "ib3")
    assert(pump() === 2, "restart must deliver the capped replay then the new window")
    val (s, c) = TxLog.readTable(spark, dst)
      .agg(sum("n"), count(lit(1))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert((s, c) === (111L, 3L),
      s"exactly-once violated: sum=$s count=$c (a doubled window 2 gives 121/4)")
  }

  test("consumeChanges re-baselines a consumer stranded behind the " +
      "retention floor when opted in; fails loudly otherwise") {
    val src = freshRoot("rebase-src")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-txlog/rebase-ckpt"
    val cp = new org.apache.hadoop.fs.Path(ckpt)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(cp, false)
    TxLog.appendBatchTx(kv("a" -> 1), src, "part", "rb1")
    var seen = Seq.empty[(Long, Long)]
    def pump(rebase: Boolean): Int =
      TxLog.consumeChanges(spark, src, ckpt, reBaseline = rebase) {
        (win, v) => seen :+= (v, win.agg(sum("n")).head.getLong(0))
      }
    assert(pump(rebase = false) === 1)
    // maintenance advances the floor PAST the consumer's checkpoint
    TxLog.appendBatchTx(kv("a" -> 10), src, "part", "rb2")
    TxLog.appendBatchTx(kv("b" -> 100), src, "part", "rb3")
    TxLog.checkpoint(spark, src)
    TxLog.expireLog(spark, src)
    intercept[RuntimeException] { pump(rebase = false) }
    assert(pump(rebase = true) === 1)
    // the re-baseline window is the FULL snapshot (111), tagged current
    assert(seen.last === ((3L, 111L)),
      s"re-baseline must deliver the full snapshot at the current version: $seen")
    // and the consumer is incremental again afterwards
    TxLog.appendBatchTx(kv("b" -> 1000), src, "part", "rb4")
    assert(pump(rebase = true) === 1)
    assert(seen.last === ((4L, 1000L)))
  }

  test("float data skipping never prunes NaN-bearing files on >-predicates " +
      "and never records NaN bounds") {
    import spark.implicits._
    val root = freshRoot("nanstats")
    val df = Seq(("a", 1.0), ("a", 10.0), ("a", Double.NaN))
      .toDF("part", "x")
    TxLog.overwritePartitionsTx(df, root, "part")
    // Spark SQL orders NaN above every double, so x > 100 matches the NaN
    // row — a max=10 footer bound must not skip the file
    val got = TxLog.readTable(spark, root).filter(col("x") > 100.0)
    assert(got.count() === 1L, "NaN row lost to float upper-bound skipping")
    // lower-bound pruning on floats stays active and stays correct
    assert(TxLog.readTable(spark, root).filter(col("x") < 0.5).count() === 0L)
  }

  test("deleteWhereTx rewrites only files that might match; untouched " +
      "files keep their identity; NULL predicates keep rows") {
    import spark.implicits._
    val root = freshRoot("delwhere")
    // three disjoint key-range batches per partition → per-file bounds
    TxLog.appendBatchTx(Seq(("a", 1L), ("b", 2L)).toDF("part", "n"),
      root, "part", "d1")
    TxLog.appendBatchTx(Seq(("a", 10L), ("b", 20L)).toDF("part", "n"),
      root, "part", "d2")
    TxLog.appendBatchTx(Seq(("a", 100L), ("b", 200L)).toDF("part", "n"),
      root, "part", "d3")
    val before = TxLog.snapshot(spark, root)
    val lowFiles = before.parts.values.flatten.filter { f =>
      before.stats(f)("n")._2.toLong < 10L // the d1 files
    }.toSet
    assert(lowFiles.size === 2)
    // delete the mid band: only d2's two files can match
    val (v, rewritten) = TxLog.deleteWhereTx(spark, root,
      col("n") >= 10L && col("n") < 100L)
    assert(v === before.version + 1 && rewritten === 2,
      s"expected exactly d2's 2 files rewritten, got $rewritten")
    val after = TxLog.snapshot(spark, root)
    assert(lowFiles.subsetOf(after.parts.values.flatten.toSet),
      "files that could not match must survive IDENTICALLY (no rewrite)")
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 1L + 2L + 100L + 200L)
    // a predicate evaluating NULL keeps the row (SQL DELETE semantics)
    val root2 = freshRoot("delnull")
    TxLog.appendBatchTx(
      Seq(("a", Some(1L)), ("a", None), ("a", Some(5L))).toDF("part", "n"),
      root2, "part", "dn1")
    TxLog.deleteWhereTx(spark, root2, col("n") > 2L)
    assert(TxLog.readTable(spark, root2).count() === 2L,
      "NULL-predicate row must survive the delete")
    // a provably-unmatchable predicate commits nothing
    val (v2, r2) = TxLog.deleteWhereTx(spark, root2, col("n") > 1000L)
    assert(r2 === 0 && v2 === TxLog.snapshot(spark, root2).version)
    // deleting EVERYTHING leaves an empty table (pure-removal commit)
    TxLog.deleteWhereTx(spark, root2, lit(true))
    assert(TxLog.snapshot(spark, root2).parts.isEmpty)
  }

  test("mergeKeyedTx upserts: matched keys replaced, new keys inserted, " +
      "non-overlapping files untouched, change feed refuses the rewrite") {
    import spark.implicits._
    val root = freshRoot("merge")
    TxLog.appendBatchTx(
      Seq(("a", 1L, "old1"), ("a", 2L, "old2")).toDF("part", "k", "v"),
      root, "part", "m1")
    TxLog.appendBatchTx(
      Seq(("a", 100L, "old100"), ("b", 101L, "old101"))
        .toDF("part", "k", "v"), root, "part", "m2")
    val before = TxLog.snapshot(spark, root)
    val farFiles = before.parts.values.flatten.filter { f =>
      before.stats(f)("k")._1.toLong >= 100L
    }.toSet
    assert(farFiles.size === 2)
    val (_, feedV) = TxLog.readChangesSince(spark, root, 0L)
    // source: update k=2, insert k=3 — bounds [2,3] overlap only m1's file
    val src = Seq(("a", 2L, "new2"), ("a", 3L, "new3")).toDF("part", "k", "v")
    TxLog.mergeKeyedTx(spark, root, src, "k")
    val after = TxLog.snapshot(spark, root)
    assert(farFiles.subsetOf(after.parts.values.flatten.toSet),
      "files whose key range cannot overlap the source must not rewrite")
    val got = TxLog.readTable(spark, root).orderBy("k")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toSeq
    assert(got === Seq(1L -> "old1", 2L -> "new2", 3L -> "new3",
      100L -> "old100", 101L -> "old101"))
    // a rewrite is NOT expressible as appended rows: the change feed
    // refuses the window unless rewrites are reconciled out of band
    val ex = intercept[RuntimeException] {
      TxLog.readChangesSince(spark, root, feedV)
    }
    assert(ex.getMessage.contains("not appends"))
    // merge is serializable vs itself: two racing merges on the same
    // partition both land (one re-derives after the conflict)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call() = TxLog.mergeKeyedTx(spark, root,
          Seq(("a", 1L, "race1"), ("a", 50L, "ins50"))
            .toDF("part", "k", "v"), "k")
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call() = TxLog.mergeKeyedTx(spark, root,
          Seq(("a", 3L, "race3"), ("a", 60L, "ins60"))
            .toDF("part", "k", "v"), "k")
      })
      assert(Set(f1.get(), f2.get()).size === 2, "merges must serialize")
    } finally pool.shutdown()
    val finalRows = TxLog.readTable(spark, root).orderBy("k")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toSeq
    assert(finalRows === Seq(1L -> "race1", 2L -> "new2", 3L -> "race3",
      50L -> "ins50", 60L -> "ins60", 100L -> "old100", 101L -> "old101"),
      s"racing merges lost an update: $finalRows")
    // rewritten-away files are unreferenced → vacuum reclaims them
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) > 0)
    assert(TxLog.readTable(spark, root).count() === 7L)
  }

  test("change feed serves a multi-append window from ONE scan, " +
      "with each row's _commit_version derived from its file") {
    import spark.implicits._
    val root = freshRoot("cdf1scan")
    def t(rows: (String, Long, Long)*) = rows.toSeq.toDF("part", "k", "v")
    TxLog.appendBatchTx(t(("a", 1L, 10L), ("b", 2L, 20L)), root, "part", "s1")
    TxLog.appendBatchTx(t(("a", 3L, 30L)), root, "part", "s2")
    TxLog.appendBatchTx(t(("b", 4L, 40L), ("c", 5L, 50L)), root, "part", "s3")
    val (feedOpt, v) = TxLog.readChangeFeed(spark, root, 0L)
    assert(v === 3L)
    val feed = feedOpt.get
    // every row carries the version of the commit that wrote its file,
    // and the change type is insert throughout
    assert(feed.collect().map(r => (r.getAs[Long]("k"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
      === Set((1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 2L),
        (4L, "insert", 3L), (5L, "insert", 3L)))
    // column order is the feed's declared one (data…, partition,
    // _change_type, _commit_version)
    assert(feed.columns.toSeq
      === Seq("k", "v", "part", "_change_type", "_commit_version"))
    // plan shape: the whole append window rides ONE relation — planning
    // is O(1) in the window's version count, not one frame per version
    val rels = feed.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rels.size === 1, s"expected one scan for 3 append commits, " +
      s"got ${rels.size}")
    // a capped sub-window still versions per file
    val (capped, cv) = TxLog.readChangeFeed(spark, root, 1L,
      untilVersion = Some(2L))
    assert(cv === 2L && capped.get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("_commit_version"))).toSet
      === Set(3L -> 2L))
  }

  test("row-level change feed: appends surface as inserts, merge as " +
      "pre/post images + inserts, delete as deletes; vacuum retains " +
      "change files while their commits are retained") {
    import spark.implicits._
    val root = freshRoot("cdf")
    def t(rows: (String, Long, Long)*) = rows.toSeq.toDF("part", "k", "v")
    TxLog.appendBatchTx(t(("a", 1L, 10L), ("a", 2L, 20L)), root, "part", "c1")
    TxLog.appendBatchTx(t(("a", 3L, 30L)), root, "part", "c2")
    // merge: update k=2 (v 20→200), insert k=9
    TxLog.mergeKeyedTx(spark, root, t(("a", 2L, 200L), ("a", 9L, 90L)),
      "k", changeFeed = true)
    // delete k=1
    TxLog.deleteWhereTx(spark, root, col("k") === 1L, changeFeed = true)
    val (feedOpt, v) = TxLog.readChangeFeed(spark, root, 0L)
    assert(v === 4L)
    val feed = feedOpt.get.collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Long]("v"), r.getAs[Long]("_commit_version"))).toSet
    assert(feed === Set(
      ("insert", 1L, 10L, 1L), ("insert", 2L, 20L, 1L),
      ("insert", 3L, 30L, 2L),
      ("update_preimage", 2L, 20L, 3L), ("update_postimage", 2L, 200L, 3L),
      ("insert", 9L, 90L, 3L),
      ("delete", 1L, 10L, 4L)), s"feed mismatch: $feed")
    // a capped replay is byte-identical (the consumeChanges intent
    // contract applies to the row-level feed too)
    val (replay, rv) = TxLog.readChangeFeed(spark, root, 0L,
      untilVersion = Some(3L))
    assert(rv === 3L && replay.get.count() === 6L)
    // windowed: only the delete
    val (tail, _) = TxLog.readChangeFeed(spark, root, 3L)
    assert(tail.get.collect().map(_.getAs[String]("_change_type")).toSeq
      === Seq("delete"))
    // the current TABLE state is consistent with the feed
    assert(TxLog.readTable(spark, root).orderBy("k").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toSeq
      === Seq(2L -> 200L, 3L -> 30L, 9L -> 90L))
    // RETENTION CONTRACT: the feed lives under BOTH horizons. A
    // zero-retention vacuum reclaims rewritten-away APPEND files, so
    // append windows stop replaying (the default 1 h window keeps any
    // sanely-lagged consumer safe) — but CHANGE files of retained
    // commits are vacuum-protected, so rewrite-only windows still serve
    TxLog.vacuum(spark, root, minAgeMs = 0L)
    intercept[Exception] {
      TxLog.readChangeFeed(spark, root, 0L)._1.get.count()
    }
    val (cdfOnly, _) = TxLog.readChangeFeed(spark, root, 2L)
    assert(cdfOnly.get.count() === 4L,
      "vacuum reclaimed change files of retained commits")
    // a rewrite WITHOUT a change record refuses the feed loudly
    TxLog.mergeKeyedTx(spark, root, t(("a", 3L, 300L)), "k")
    val ex = intercept[IllegalArgumentException] {
      TxLog.readChangeFeed(spark, root, 4L)
    }
    assert(ex.getMessage.contains("changeFeed"))
    // after checkpoint + expiry the feed's horizon moves with the log
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    intercept[RuntimeException] { TxLog.readChangeFeed(spark, root, 0L) }
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) > 0,
      "expired commits' change files must become reclaimable")
  }

  test("string data skipping: disjoint key-range files prune on point, " +
      "range and IN predicates; truncated bounds stay conservative") {
    import spark.implicits._
    val root = freshRoot("strstats")
    // three batches in disjoint string-key ranges, one file per part each
    def batch(id: String, keys: String*) =
      TxLog.appendBatchTx(keys.toSeq.map(k => ("p", k)).toDF("part", "k"),
        root, "part", id)
    batch("sb1", "apple", "avocado", "banana")
    batch("sb2", "cherry", "date", "fig")
    batch("sb3", "grape", "kiwi", "lemon")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(): Unit
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    val eq = TxLog.readTable(spark, root).filter(col("k") === "date")
    assert(eq.count() === 1L)
    assert(filesRead(eq) === 1L, "point lookup must read exactly one file")
    assert(filesRead(
      TxLog.readTable(spark, root).filter(col("k") >= "grape")) === 1L)
    assert(filesRead(TxLog.readTable(spark, root)
      .filter(col("k").isin("apple", "kiwi"))) === 2L)
    // long values truncate: bounds sharing a >32-cp prefix must widen the
    // max and NEVER skip a file holding a matching longer value
    val long1 = "z" * 40 + "aaa"
    val long2 = "z" * 40 + "zzz"
    batch("sb4", long1, long2)
    val hit = TxLog.readTable(spark, root).filter(col("k") === long2)
    assert(hit.count() === 1L, "truncation must not lose the long-key row")
    assert(filesRead(hit) === 1L, "widened max must still prune the others")
    // hostile values (tabs, newlines, %, =) round-trip the log encoding
    val weird = "k\t1\n%=100x"
    batch("sb5", weird)
    assert(TxLog.readTable(spark, root)
      .filter(col("k") === weird).count() === 1L)
    assert(TxLog.readTable(spark, root).count() === 12L)
  }

  test("string bound truncation/widening is sound at the edges") {
    import graft.sources.TxStats
    assert(TxStats.truncMin("a" * 100) === "a" * 32)
    assert(TxStats.widenMax("abc") === Some("abc"))
    assert(TxStats.widenMax("a" * 40) === Some("a" * 31 + "b"))
    // surrogate gap: U+D7FF widens to U+E000, never into surrogates
    assert(TxStats.widenMax("x" * 31 + "퟿" + "tail")
      === Some("x" * 31 + ""))
    // carry past U+10FFFF into the previous code point
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(TxStats.widenMax("a" + maxCp * 40) === Some("b"))
    assert(TxStats.widenMax(maxCp * 40) === None)
    // supplementary code points count as ONE code point, not two chars
    val supp = new String(Character.toChars(0x1F600))
    assert(TxStats.truncMin(supp * 40) === supp * 32)
    assert(TxStats.widenMax(supp * 40)
      === Some(supp * 31 + new String(Character.toChars(0x1F601))))
  }

  test("timestamp stats are unit-guarded: a MILLIS-writing session records " +
      "no timestamp bounds, so range reads stay correct") {
    import spark.implicits._
    val root = freshRoot("tsmillis")
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      val df = Seq(("a", java.sql.Timestamp.valueOf("2024-06-01 12:00:00")),
                   ("a", java.sql.Timestamp.valueOf("2024-06-02 12:00:00")))
        .toDF("part", "ts")
      TxLog.overwritePartitionsTx(df, root, "part")
      val snap = TxLog.snapshot(spark, root)
      assert(!snap.stats.values.exists(_.contains("ts")),
        "millis-encoded timestamp footer bounds must not be recorded " +
          s"(decoded as micros they are ~1000x off): ${snap.stats}")
      // the range read still answers correctly (no skipping, full scan)
      val n = TxLog.readTable(spark, root)
        .filter(col("ts") > lit(java.sql.Timestamp.valueOf("2024-06-01 23:00:00")))
        .count()
      assert(n === 1L)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---- multi-column partition schemas ------------------------------------

  private def dcKv(rows: (String, String, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("date", "channel", "n")
  }

  test("multi-column partitions: append/read/overwrite fold on the " +
      "composite key; pruning hits either or both columns") {
    val root = freshRoot("mc-fold")
    TxLog.appendBatchTx(dcKv(
      ("2024-01-01", "web", 1), ("2024-01-01", "app", 2),
      ("2024-01-02", "web", 3), ("2024-01-02", "app", 4)),
      root, Seq("date", "channel"), "mc-b1")
    // overwrite one composite partition only
    TxLog.overwritePartitionsTx(dcKv(("2024-01-02", "app", 40)),
      root, Seq("date", "channel"))
    val got = TxLog.readTable(spark, root)
      .collect().map(r => (r.getAs[String]("date"),
        r.getAs[String]("channel")) -> r.getAs[Long]("n")).toMap
    assert(got === Map(("2024-01-01", "web") -> 1L,
      ("2024-01-01", "app") -> 2L, ("2024-01-02", "web") -> 3L,
      ("2024-01-02", "app") -> 40L))
    // partition pruning on the FIRST, SECOND, and BOTH columns — each
    // probe must plan strictly fewer files than the full table holds
    val totalFiles = TxLog.snapshot(spark, root)
      .parts.values.map(_.size).sum
    def filesFor(cond: org.apache.spark.sql.Column): Long = {
      val probe = TxLog.readTable(spark, root).filter(cond)
      graft.tools.PlanCheck.filesRead(probe)
    }
    assert(filesFor(col("date") === "2024-01-01") * 2 <= totalFiles)
    assert(filesFor(col("channel") === "web") * 2 <= totalFiles)
    assert(filesFor(col("date") === "2024-01-02" &&
      col("channel") === "app") * 4 <= totalFiles)
  }

  test("multi-column partitions: composite keys with '/' and '=' in the " +
      "values round-trip (escaped segments keep the separator unambiguous)") {
    val root = freshRoot("mc-esc")
    TxLog.appendBatchTx(dcKv(
      ("a/b", "x=y", 7), ("plain", "x/1", 8)),
      root, Seq("date", "channel"), "mc-esc-b1")
    val got = TxLog.readTable(spark, root)
      .collect().map(r => (r.getAs[String]("date"),
        r.getAs[String]("channel")) -> r.getAs[Long]("n")).toMap
    assert(got === Map(("a/b", "x=y") -> 7L, ("plain", "x/1") -> 8L))
    // pruning still works on the awkward values
    val n = TxLog.readTable(spark, root)
      .filter(col("date") === "a/b").collect()
    assert(n.map(_.getAs[Long]("n")).toSeq === Seq(7L))
  }

  test("multi-column partitions: MERGE, DELETE, compaction and the change " +
      "feed run on the composite key") {
    val root = freshRoot("mc-verbs")
    TxLog.appendBatchTx(dcKv(
      ("d1", "web", 1), ("d1", "app", 2), ("d2", "web", 3)),
      root, Seq("date", "channel"), "mc-v-b1")
    import spark.implicits._
    // MERGE keyed on n: both source keys (10, 4) are new → two inserts,
    // each into a composite partition (one existing, one brand-new)
    val src = Seq(("d1", "web", 10L), ("d2", "app", 4L))
      .toDF("date", "channel", "n")
    TxLog.mergeKeyedTx(spark, root, src, "n", changeFeed = true)
    val got = TxLog.readTable(spark, root)
      .collect().map(r => (r.getAs[String]("date"),
        r.getAs[String]("channel"), r.getAs[Long]("n")))
    assert(got.toSet === Set(("d1", "app", 2L), ("d1", "web", 1L),
      ("d1", "web", 10L), ("d2", "app", 4L), ("d2", "web", 3L)))
    // DELETE on a data predicate
    val (_, rewritten) = TxLog.deleteWhereTx(spark, root, col("n") >= 10,
      changeFeed = true)
    assert(rewritten >= 1)
    assert(TxLog.readTable(spark, root).agg(max("n")).head.getLong(0) < 10)
    // change feed serves the full history through the rewrites (read it
    // BEFORE compaction — a compaction overwrite is not CDC-able)
    val (feed, _) = TxLog.readChangeFeed(spark, root, 0L)
    val classes = feed.get.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes.contains("insert") && classes.contains("delete"))
    // compaction keeps content (partCol names one recorded column — the
    // recorded 2-column schema drives the rewrite)
    TxLog.compactPartitionsTx(spark, root, "date")
    assert(TxLog.readTable(spark, root).count() === 4L)
    // a partCol the log does not record is refused, not restaged under
    Seq[(String, () => Any)](
      "TxLog.readModifyWriteWhere" ->
        (() => TxLog.compactPartitionsTx(spark, root, "n")),
      "TxLog.compactBinPackTx" ->
        (() => TxLog.compactBinPackTx(spark, root, "n", 1L << 20))
    ).foreach { case (who, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$who: [n] is not a partition column") &&
        e.getMessage.contains("recorded: [date, channel]"), e.getMessage)
    }
    assert(TxLog.readTable(spark, root).count() === 4L)
  }

  test("multi-column partitions: parquet-checkpointed payload prunes on " +
      "the SECOND partition column inside the payload scan") {
    val root = freshRoot("mc-big")
    val key = "graft.txlog.chkParquetMin"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      TxLog.appendBatchTx(dcKv(
        ("d1", "web", 1), ("d1", "app", 2),
        ("d2", "web", 3), ("d2", "app", 4)),
        root, Seq("date", "channel"), "mc-big-b1")
      TxLog.checkpoint(spark, root)
      TxLog.expireLog(spark, root)
      // post-checkpoint delta on a new composite partition
      TxLog.appendBatchTx(dcKv(("d3", "web", 5)),
        root, Seq("date", "channel"), "mc-big-b2")
      val df = TxLog.readTable(spark, root)
      // the scan must ride the payload-backed index
      val idx = df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
            .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location
      }.get
      assert(idx.isInstanceOf[graft.sources.TxBigFileIndex])
      val probe = df.filter(col("channel") === "app")
      val read = graft.tools.PlanCheck.filesRead(probe)
      val totalFiles = 5L
      assert(read * 2 <= totalFiles,
        s"payload-side second-column pruning left $read of $totalFiles")
      assert(probe.agg(sum("n")).head.getLong(0) === 6L)
      // merge + delete + vacuum still run on the payload representation
      import spark.implicits._
      TxLog.mergeKeyedTx(spark, root,
        Seq(("d3", "app", 99L)).toDF("date", "channel", "n"), "n")
      val (_, rw) = TxLog.deleteWhereTx(spark, root, col("n") === 99L)
      assert(rw >= 1)
      assert(TxLog.vacuum(spark, root, minAgeMs = 0L) >= 1)
      assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0) === 15L)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("writer-seq ledger: bounded at O(writers) under many batches; " +
      "current-seq replay is idempotent; an out-of-window replay refuses " +
      "loudly instead of double-applying") {
    import spark.implicits._
    val root = freshRoot("wseq")
    def batch(n: Long) = Seq(("a", n)).toDF("part", "n")
    // 30 batches from writer-1, 3 from writer-2, checkpoint+expire every
    // 10 — the ledger must stay at TWO rows, not 33
    var lastV1 = 0L
    (1L to 30L).foreach { i =>
      lastV1 = TxLog.appendBatchSeqTx(batch(i), root, "part", "writer-1", i)
      if (i % 10 == 0) {
        TxLog.checkpoint(spark, root); TxLog.expireLog(spark, root)
      }
    }
    (1L to 3L).foreach { i =>
      TxLog.appendBatchSeqTx(batch(100 + i), root, "part", "writer-2", i)
    }
    TxLog.checkpoint(spark, root); TxLog.expireLog(spark, root)
    // the checkpoint's ledger rows: exactly one per writer
    val dir = new org.apache.hadoop.fs.Path(root, "_txlog")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chkName = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".chk")).sorted.last
    val chkBody = {
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, chkName))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val wRows = chkBody.split("\n").count(_.startsWith("w\t"))
    assert(wRows === 2, s"ledger rows: expected 2 (one per writer), got " +
      s"$wRows in\n$chkBody")
    val total = TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
    // in-window (current-seq) replay: idempotent, returns the ORIGINAL
    // version, applies nothing — even across the checkpoint+expire seam
    val vReplay = TxLog.appendBatchSeqTx(batch(30), root, "part",
      "writer-1", 30L)
    assert(vReplay === lastV1)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === total)
    // out-of-window replay (seq behind the ledger): refuses LOUDLY
    val e = intercept[TxLog.StaleWriterSeqException] {
      TxLog.appendBatchSeqTx(batch(7), root, "part", "writer-1", 7L)
    }
    assert(e.writerId === "writer-1" && e.seq === 7L && e.latestSeq === 30L)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === total)
    // the refused replay's staged files were discarded
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) === 0)
    // a NEW seq still commits
    TxLog.appendBatchSeqTx(batch(31), root, "part", "writer-1", 31L)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === total + 31L)
  }

  test("auto-checkpoint cadence: a 50-commit chain never folds more than " +
      "N commits; sub-floor time travel and lagging consumers stay " +
      "servable until expireLog actually reclaims deltas") {
    import spark.implicits._
    val root = freshRoot("autochk")
    (1L to 50L).foreach { i =>
      TxLog.appendBatchTx(Seq(("a", i)).toDF("part", "n"), root, "part",
        s"ac-b$i")
    }
    val dir = new org.apache.hadoop.fs.Path(root, "_txlog")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val floor = names.filter(_.endsWith(".chk"))
      .map(_.stripPrefix("c").stripSuffix(".chk").toLong).maxOption
      .getOrElse(0L)
    assert(floor === 50L, s"expected auto-checkpoint at v50, floor=$floor")
    val pastFloor = names.count { n =>
      n.endsWith(".txn") && n.stripPrefix("v").stripSuffix(".txn").toLong > floor
    }
    assert(pastFloor <= TxLog.DefaultAutoCheckpointEvery,
      s"$pastFloor commits past the floor — the fold is unbounded")
    // sub-floor reads: a checkpoint deletes nothing, so v5 still folds,
    // and a consumer checkpointed at v3 still reads incrementally
    assert(TxLog.snapshotAt(spark, root, 5L).version === 5L)
    assert(TxLog.readTableAt(spark, root, 5L)
      .agg(sum("n")).head.getLong(0) === 15L)
    val (df3, v3) = TxLog.readChangesSince(spark, root, 3L)
    assert(v3 === 50L)
    assert(df3.get.agg(sum("n")).head.getLong(0) === (4L to 50L).sum)
    // once expireLog RECLAIMS the deltas, sub-floor reads refuse loudly
    TxLog.expireLog(spark, root)
    val e = intercept[Exception] { TxLog.snapshotAt(spark, root, 5L) }
    assert(e.getMessage.contains("expired"))
    // racing committers around checkpoint boundaries: auto-checkpointers
    // converge via putIfAbsent, the table stays consistent
    val root2 = freshRoot("autochk-race")
    TxLog.overwritePartitionsTx(Seq(("seed", 0L)).toDF("part", "n"),
      root2, "part")
    val threads = (1 to 2).map { t =>
      new Thread(() => (1L to 15L).foreach { i =>
        TxLog.appendBatchTx(Seq((s"p$t", i)).toDF("part", "n"), root2,
          "part", s"race-$t-$i")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TxLog.readTable(spark, root2).count() === 31L)
    assert(TxLog.readTable(spark, root2).agg(sum("n")).head.getLong(0)
      === 2L * (1L to 15L).sum)
  }

  test("column mapping: rename is metadata-only — old+new files read " +
      "under one scan, stats skipping prunes on the renamed name, time " +
      "travel to pre-rename reads under the old name") {
    import spark.implicits._
    val root = freshRoot("colmap")
    // two key-range batches → per-file id stats
    TxLog.appendBatchTx(Seq(("a", 1L, 1.0), ("a", 2L, 2.0))
      .toDF("part", "id", "x"), root, "part", "cm-b1")
    TxLog.appendBatchTx(Seq(("a", 10L, 10.0), ("a", 11L, 11.0))
      .toDF("part", "id", "x"), root, "part", "cm-b2")
    val vPre = 2L
    TxLog.renameColumnTx(spark, root, "id", "doc_id")
    // post-rename write through the LOGICAL name lands in the same
    // physical column
    TxLog.appendBatchTx(Seq(("a", 20L, 20.0))
      .toDF("part", "doc_id", "x"), root, "part", "cm-b3")
    val df = TxLog.readTable(spark, root)
    assert(df.columns.toSeq === Seq("doc_id", "x", "part"))
    // one scan over pre- and post-rename files
    assert(df.agg(sum("doc_id")).head.getLong(0) === 44L)
    // stats skipping on the RENAMED name: the probe must NOT read the
    // low-key files
    val probe = df.filter(col("doc_id") >= 10L && col("doc_id") <= 11L)
    val read = graft.tools.PlanCheck.filesRead(probe)
    assert(read === 1L, s"renamed-column skipping read $read files of 3")
    // time travel to pre-rename: the OLD name, the old rows
    val tt = TxLog.readTableAt(spark, root, vPre)
    assert(tt.columns.contains("id") && !tt.columns.contains("doc_id"))
    assert(tt.count() === 4L)
    // merge + delete keyed on the renamed column
    TxLog.mergeKeyedTx(spark, root,
      Seq(("a", 11L, 110.0)).toDF("part", "doc_id", "x"), "doc_id")
    val (_, rw) = TxLog.deleteWhereTx(spark, root, col("doc_id") === 1L)
    assert(rw >= 1)
    assert(TxLog.readTable(spark, root).agg(sum("x")).head.getDouble(0)
      === 2.0 + 10.0 + 110.0 + 20.0)
    // rename-back returns the column to identity
    TxLog.renameColumnTx(spark, root, "doc_id", "id")
    assert(TxLog.readTable(spark, root).columns.contains("id"))
  }

  test("column mapping: drop tombstones the physical name — reads exclude " +
      "it, a writer reusing it is refused, add-column under a fresh name " +
      "works") {
    import spark.implicits._
    val root = freshRoot("coldrop")
    TxLog.appendBatchTx(Seq(("a", 1L, "secret"), ("a", 2L, "classified"))
      .toDF("part", "id", "payload"), root, "part", "cd-b1")
    TxLog.dropColumnTx(spark, root, "payload")
    val df = TxLog.readTable(spark, root)
    assert(df.columns.toSeq.sorted === Seq("id", "part"))
    assert(df.count() === 2L)
    // a writer reusing the dropped physical name is refused loudly
    // (old files would resurrect under it)
    val e = intercept[Exception] {
      TxLog.appendBatchTx(Seq(("a", 3L, "nope")).toDF("part", "id", "payload"),
        root, "part", "cd-b2")
    }
    assert(e.getMessage.contains("DROPPED"))
    // schema evolution under a FRESH name still works
    TxLog.appendBatchTx(Seq(("a", 3L, 7.5)).toDF("part", "id", "score"),
      root, "part", "cd-b3")
    val evolved = TxLog.readTable(spark, root)
    assert(evolved.columns.toSeq.sorted === Seq("id", "part", "score"))
    assert(evolved.filter(col("score").isNull).count() === 2L)
  }

  test("column mapping: survives checkpoint formats (text and parquet " +
      "payload) and expireLog") {
    import spark.implicits._
    val root = freshRoot("colmap-chk")
    val key = "graft.txlog.chkParquetMin"
    val prior = spark.conf.getOption(key)
    try {
      TxLog.appendBatchTx(Seq(("a", 1L), ("b", 2L)).toDF("part", "id"),
        root, "part", "cc-b1")
      TxLog.renameColumnTx(spark, root, "id", "doc_id")
      // text checkpoint first
      TxLog.checkpoint(spark, root); TxLog.expireLog(spark, root)
      assert(TxLog.readTable(spark, root).columns.contains("doc_id"))
      // then the parquet-payload checkpoint
      spark.conf.set(key, "1")
      TxLog.appendBatchTx(Seq(("c", 3L)).toDF("part", "doc_id"),
        root, "part", "cc-b2")
      TxLog.checkpoint(spark, root); TxLog.expireLog(spark, root)
      val df = TxLog.readTable(spark, root)
      assert(df.columns.contains("doc_id"))
      assert(df.agg(sum("doc_id")).head.getLong(0) === 6L)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("CDF stream: follows merge/delete through change files, resumes " +
      "cold at the checkpoint, refuses a non-CDC rewrite loudly") {
    import spark.implicits._
    val base = freshRoot("cdf-stream")
    val root = s"$base/table"; val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    TxLog.appendBatchTx(Seq(("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 3L, 30.0)).toDF("part", "id", "x"), root, "part", "cdf-b1")
    // keyed delete WITH change files
    TxLog.deleteWhereTx(spark, root, col("id") === 2L, changeFeed = true)
    def drain(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    // cold restart drains ONLY the new append window
    TxLog.appendBatchTx(Seq(("b", 4L, 40.0)).toDF("part", "id", "x"),
      root, "part", "cdf-b2")
    drain()
    val got = spark.read.parquet(out)
      .select("_change_type", "id", "_commit_version")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set(("insert", 1L, 1L), ("insert", 2L, 1L),
      ("insert", 3L, 1L), ("delete", 2L, 2L), ("insert", 4L, 3L)))
    // a rewrite WITHOUT change files poisons the next window — loudly
    TxLog.deleteWhereTx(spark, root, col("id") === 3L) // no changeFeed
    val err = intercept[Exception] { drain() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    assert(msgs(err).exists(_.contains("no row-level change record")),
      s"unexpected error: $err")
  }

  test("multi-column partitions: the streaming source follows a " +
      "(date, channel)-partitioned commit log") {
    val base = freshRoot("mc-stream")
    val root = s"$base/table"; val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    TxLog.appendBatchTx(dcKv(("d1", "web", 1), ("d1", "app", 2)),
      root, Seq("date", "channel"), "mc-s-b1")
    TxLog.appendBatchTx(dcKv(("d2", "web", 3)),
      root, Seq("date", "channel"), "mc-s-b2")
    val q = spark.readStream.format("txlog").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[String]("date"),
        r.getAs[String]("channel")) -> r.getAs[Long]("n")).toMap
    assert(got === Map(("d1", "web") -> 1L, ("d1", "app") -> 2L,
      ("d2", "web") -> 3L))
  }

  test("racing pre-drop writer cannot resurrect a dropped column in the " +
      "recorded schema") {
    val root = freshRoot("dropres")
    import spark.implicits._
    TxLog.overwritePartitionsTx(
      Seq(("a", 1L, 10L)).toDF("part", "n", "extra"), root, "part")
    // a second writer stages the full (n, extra) schema BEFORE the drop
    val staged = TxLog.stage(
      Seq(("b", 2L, 20L)).toDF("part", "n", "extra"), root, "part")
    TxLog.dropColumnTx(spark, root, "extra")
    TxLog.commit(spark, root, staged, "append", readVersion = 0L)
    // the column stays dropped: invisible to reads AND absent from the
    // recorded schema (the staged superset was sanitized at commit)
    assert(!TxLog.readTable(spark, root).columns.contains("extra"))
    assert(!TxLog.snapshot(spark, root).schema.get.contains("extra"))
    // the tombstone still refuses physical-name reuse
    val err = intercept[IllegalArgumentException] {
      TxLog.stage(Seq(("c", 3L, 30L)).toDF("part", "n", "extra"),
        root, "part")
    }
    assert(err.getMessage.contains("DROPPED"))
  }

  test("change feed re-maps historical windows through the end mapping") {
    val root = freshRoot("cdfmap")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
        .toDF("part", "k", "v"), root, "part", "b0")
    TxLog.renameColumnTx(spark, root, "v", "val2")
    // change files written BETWEEN the renames (physical names on disk)
    TxLog.mergeKeyedTx(spark, root,
      Seq(("a", 2L, 25.0)).toDF("part", "k", "val2"), "k",
      changeFeed = true)
    TxLog.deleteWhereTx(spark, root, col("k") === 3L, changeFeed = true)
    // a second rename AFTER the change windows — history must re-map
    TxLog.renameColumnTx(spark, root, "k", "key2")
    val (feed, _) = TxLog.readChangeFeed(spark, root, 0L)
    val cols = feed.get.columns.toSet
    assert(cols("val2") && cols("key2") && !cols("v") && !cols("k"), cols)
    val byType = feed.get.groupBy("_change_type").agg(sum("val2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byType === Map("insert" -> 60.0, "update_preimage" -> 20.0,
      "update_postimage" -> 25.0, "delete" -> 30.0))
    // a later DROP removes the column from every historical window too
    TxLog.dropColumnTx(spark, root, "val2")
    val (feed2, _) = TxLog.readChangeFeed(spark, root, 0L)
    val cols2 = feed2.get.columns.toSet
    assert(!cols2("val2") && cols2("key2"), cols2)
    assert(feed2.get.count() === feed.get.count())
  }

  test("deletion vectors: merge-on-read delete moves no data files; " +
      "rewrites materialize them") {
    val root = freshRoot("dv")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0),
          ("b", 4L, 40.0)).toDF("part", "k", "v"), root, "part", "dv-b1")
    val filesBefore = TxLog.snapshot(spark, root).parts
      .map { case (p, fs) => p -> fs.toSet }
    // DV delete: zero data files move
    val (_, n1) = TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    assert(n1 === 1L)
    assert(TxLog.snapshot(spark, root).parts
      .map { case (p, fs) => p -> fs.toSet } === filesBefore)
    val got1 = TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got1 === Set(1L, 3L, 4L))
    // metadata-only COUNT subtracts the vector exactly
    assert(TxLog.countRows(spark, root) === Some(3L))
    // second DV delete on the SAME file: cumulative union
    val (_, n2) = TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)
    assert(n2 === 1L)
    assert(TxLog.countRows(spark, root) === Some(2L))
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // deleting an already-deleted (or absent) row is a no-op, no commit
    val vNow = TxLog.snapshot(spark, root).version
    val (vSame, n3) = TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
    assert(vSame === vNow && n3 === 0L)
    // merge upserts a DELETED key: dv-filtered candidates treat it as
    // new, and the rewrite kills the file's dv entry with the file
    TxLog.mergeKeyedTx(spark, root,
      Seq(("a", 2L, 25.0)).toDF("part", "k", "v"), "k")
    val got2 = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(got2 === Map(2L -> 25.0, 3L -> 30.0, 4L -> 40.0))
    assert(TxLog.snapshot(spark, root).dvs.isEmpty,
      "the merge rewrite must materialize the affected file's vector")
    assert(TxLog.countRows(spark, root) === Some(3L))
    // time travel reads the dv'd states exactly
    assert(TxLog.readTableAt(spark, root, 2L).count() === 3L)
    assert(TxLog.readTableAt(spark, root, 3L).count() === 2L)
    // vacuum reclaims the superseded sidecars (all dvs are gone now)
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) >= 0)
    assert(TxLog.readTable(spark, root).count() === 3L)
  }

  test("deletion vectors: compaction materializes, restore reinstates, " +
      "checkpoint carries them") {
    val root = freshRoot("dv2")
    import spark.implicits._
    spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
    try {
      TxLog.appendBatchTx(
        Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
          .toDF("part", "k", "v"), root, "part", "dv2-b1")
      TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)   // v2
      val vDv = 2L
      // checkpoint folds the vector; reads after expiry still subtract
      TxLog.checkpoint(spark, root)
      TxLog.expireLog(spark, root)
      assert(TxLog.countRows(spark, root) === Some(2L))
      assert(TxLog.readTable(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
      // compaction reads dv-filtered and drops the vectors
      TxLog.compactPartitionsTx(spark, root, "part",
        select = _ == "a")                                   // v3
      assert(TxLog.snapshot(spark, root).dvs.isEmpty)
      assert(TxLog.readTable(spark, root).count() === 2L)
      // restore to the dv'd version reinstates the vector state
      TxLog.restoreTx(spark, root, vDv)                      // v4
      assert(TxLog.snapshot(spark, root).dvs.nonEmpty)
      assert(TxLog.readTable(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
      assert(TxLog.countRows(spark, root) === Some(2L))
    } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
  }

  test("bin-packing merges only small files; fully-dv-deleted smalls " +
      "remove without restage") {
    val root = freshRoot("binpack")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 9L, 9.0))
        .toDF("part", "k", "v"), root, "part", "bp1")
    TxLog.appendBatchTx(Seq(("a", 3L, 3.0)).toDF("part", "k", "v"),
      root, "part", "bp2")
    // partition b has ONE file — below minFiles, never rewritten
    val bFile = TxLog.snapshot(spark, root).parts("b")
    // merge a's two files
    val (_, n1) = TxLog.compactBinPackTx(spark, root, "part",
      smallBytes = Long.MaxValue)
    assert(n1 === 2)
    val snap1 = TxLog.snapshot(spark, root)
    assert(snap1.parts("a").size === 1 && snap1.parts("b") === bFile)
    assert(TxLog.readTable(spark, root).agg(sum("v")).head.getDouble(0)
      === 15.0)
    // a second append + full dv delete of partition a, then bin-pack:
    // the merged read is EMPTY, so the smalls remove without restage
    TxLog.appendBatchTx(Seq(("a", 4L, 4.0)).toDF("part", "k", "v"),
      root, "part", "bp3")
    TxLog.deleteWhereDvTx(spark, root, col("part") === "a")
    val data = new org.apache.hadoop.fs.Path(root, "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def txnDirs = fs.listStatus(data).map(_.getPath.getName)
      .filter(_.startsWith("txn-")).toSet
    val dirsBefore = txnDirs
    val (_, n2) = TxLog.compactBinPackTx(spark, root, "part",
      smallBytes = Long.MaxValue)
    assert(n2 === 2)
    val snap2 = TxLog.snapshot(spark, root)
    assert(!snap2.parts.contains("a") && snap2.dvs.isEmpty)
    assert(TxLog.readTable(spark, root).agg(sum("v")).head.getDouble(0)
      === 9.0)
    // the pure removal leaves no staging dir behind, and nothing more
    // for vacuum to reclaim than the files it unreferenced
    assert(txnDirs === dirsBefore)
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L, dryRun = true) === 6)
  }

  test("a refused empty stage leaves no staging dir behind") {
    val root = freshRoot("emptystage")
    TxLog.appendBatchTx(kv("a" -> 1), root, "part", "es1")
    val data = new org.apache.hadoop.fs.Path(root, "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries = fs.listStatus(data).map(_.getPath.getName).toSet
    val before = entries
    val ex = intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(kv("a" -> 2).filter(lit(false)), root, "part",
        "es2")
    }
    assert(ex.getMessage.contains("staged DataFrame is empty"))
    assert(entries === before)
    assert(TxLog.currentVersion(spark, root) === 1L)
  }

  test("timestamp time travel resolves commit mtimes") {
    val root = freshRoot("tstravel")
    TxLog.appendBatchTx(kv("a" -> 1), root, "part", "ts-b1")
    val t1 = TxLog.history(spark, root).collect().head.getLong(12)
    Thread.sleep(20)
    TxLog.appendBatchTx(kv("a" -> 2), root, "part", "ts-b2")
    assert(TxLog.versionAsOf(spark, root, t1) === 1L)
    assert(TxLog.readTableAsOf(spark, root, t1).count() === 1L)
    assert(TxLog.versionAsOf(spark, root,
      System.currentTimeMillis() + 60000) === 2L)
    // a timestamp before the first retained commit refuses loudly
    intercept[IllegalArgumentException] {
      TxLog.versionAsOf(spark, root, t1 - 3600000)
    }
  }

  test("CHECK constraints: write-time enforcement, DDL guards, " +
      "checkpoint and restore round trips") {
    val root = freshRoot("constraints")
    import spark.implicits._
    def row(v: Option[Double], x: Long = 0L) =
      Seq(("a", v, x)).toDF("part", "v", "x")
    TxLog.appendBatchTx(row(Some(5.0)), root, "part", "c-b1")      // v1
    TxLog.addCheckConstraintTx(spark, root, "v_pos", "v > 0")      // v2
    val vConstrained = 2L
    TxLog.appendBatchTx(row(Some(1.0)), root, "part", "c-b2")      // v3
    // a violating write refuses BEFORE any files are staged
    val err = intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(row(Some(-1.0)), root, "part", "c-bad")
    }
    assert(err.getMessage.contains("v_pos"), err.getMessage)
    // NULL satisfies (SQL CHECK semantics)
    TxLog.appendBatchTx(row(None), root, "part", "c-b3")           // v4
    // adding a constraint the EXISTING data violates refuses
    intercept[IllegalArgumentException] {
      TxLog.addCheckConstraintTx(spark, root, "v_big", "v > 100")
    }
    // renaming/dropping a referenced column refuses
    intercept[IllegalArgumentException] {
      TxLog.renameColumnTx(spark, root, "v", "w")
    }
    intercept[IllegalArgumentException] {
      TxLog.dropColumnTx(spark, root, "v")
    }
    // an unreferenced column still renames freely, and a constraints-only
    // meta commit must NOT clobber that mapping
    TxLog.renameColumnTx(spark, root, "x", "y")                    // v5
    // drop → the violating write lands (through the surviving rename)
    TxLog.dropCheckConstraintTx(spark, root, "v_pos")              // v6
    TxLog.appendBatchTx(row(Some(-2.0)).withColumnRenamed("x", "y"),
      root, "part", "c-b4")                                        // v7
    assert(TxLog.readTable(spark, root).count() === 4L)
    assert(TxLog.readTable(spark, root).columns.contains("y"))
    // RESTORE to the constrained version reinstates constraint AND
    // pre-rename names
    TxLog.restoreTx(spark, root, vConstrained)                     // v8
    assert(TxLog.tableConstraints(spark, root) === Map("v_pos" -> "v > 0"))
    assert(TxLog.readTable(spark, root).count() === 1L)
    assert(TxLog.readTable(spark, root).columns.contains("x"))
    intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(row(Some(-3.0)), root, "part", "c-bad3")
    }
    // constraints survive a checkpoint + expiry round trip
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root)
    assert(TxLog.tableConstraints(spark, root) === Map("v_pos" -> "v > 0"))
    intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(row(Some(-4.0)), root, "part", "c-bad4")
    }
  }

  test("conditional MERGE: clause precedence, conditions, pass-through, " +
      "insert filtering") {
    val root = freshRoot("mergeclauses")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0),
          ("b", 9L, 90.0)).toDF("part", "k", "v"),
      root, "part", "mc-b1")
    // source: k=1 (negative → delete clause), k=2 (positive → update
    // adds), k=5 (new, positive → insert), k=6 (new, negative → insert
    // condition drops it); k=3 and k=9 untouched (pass through)
    val src = Seq(("a", 1L, -1.0), ("a", 2L, 5.0), ("a", 5L, 50.0),
      ("a", 6L, -6.0)).toDF("part", "k", "v")
    TxLog.mergeClausesTx(spark, root, src, "k",
      whenMatched = Seq(
        TxLog.MergeClause.delete(Some("s.v < 0")),
        TxLog.MergeClause.update(Map("v" -> "t.v + s.v"))),
      whenNotMatched = Seq(TxLog.MergeClause.insertAll(Some("s.v > 0"))))
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(got === Map(2L -> 25.0, 3L -> 30.0, 5L -> 50.0, 9L -> 90.0))
    // SET on a partition column refuses
    intercept[IllegalArgumentException] {
      TxLog.mergeClausesTx(spark, root, src, "k",
        whenMatched = Seq(TxLog.MergeClause.update(Map("part" -> "'c'"))))
    }
    // a non-final unconditional clause refuses (dead clauses)
    intercept[IllegalArgumentException] {
      TxLog.mergeClausesTx(spark, root, src, "k",
        whenMatched = Seq(TxLog.MergeClause.delete(None),
          TxLog.MergeClause.updateAll()))
    }
    // change-feed variant records all four classes
    val src2 = Seq(("a", 2L, -1.0), ("a", 3L, 3.0), ("a", 7L, 70.0))
      .toDF("part", "k", "v")
    val vBefore = TxLog.snapshot(spark, root).version
    TxLog.mergeClausesTx(spark, root, src2, "k",
      whenMatched = Seq(
        TxLog.MergeClause.delete(Some("s.v < 0")),
        TxLog.MergeClause.update(Map("v" -> "t.v + s.v"))),
      changeFeed = true)
    val (feed, _) = TxLog.readChangeFeed(spark, root, vBefore)
    val classes = feed.get.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(classes === Map("delete" -> 1L, "update_preimage" -> 1L,
      "update_postimage" -> 1L, "insert" -> 1L), classes)
    assert(TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v"))
      .toMap === Map(3L -> 33.0, 5L -> 50.0, 7L -> 70.0, 9L -> 90.0))
  }

  test("UPDATE WHERE: SET applies to matching rows only, NULL predicate " +
      "leaves rows, partition SET refuses") {
    val root = freshRoot("updatewhere")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, Some(10.0)), ("a", 2L, Some(20.0)), ("b", 3L, None))
        .toDF("part", "k", "v"), root, "part", "uw-b1")
    val (_, n) = TxLog.updateWhereTx(spark, root, col("v") > 15.0,
      Map("v" -> (col("v") + 1.0)))
    assert(n >= 1)
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[Long]("k") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    // v=10 unmatched, v=20 updated, v=NULL (predicate NULL) unchanged
    assert(got === Map(1L -> Some(10.0), 2L -> Some(21.0), 3L -> None))
    intercept[IllegalArgumentException] {
      TxLog.updateWhereTx(spark, root, col("k") === 1L,
        Map("part" -> lit("c")))
    }
    // an unmatchable predicate commits nothing
    val vNow = TxLog.snapshot(spark, root).version
    val (vSame, n2) = TxLog.updateWhereTx(spark, root, col("k") === 99L,
      Map("v" -> lit(0.0)))
    assert(vSame === vNow && n2 === 0)
  }

  test("constraint added between stage and commit refuses the stale " +
      "validation; meta commits conflict with concurrent commits") {
    val root = freshRoot("metarace")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", -5.0)).toDF("part", "v"),
      root, "part", "mr-b1")
    // writer stages (validated against ZERO constraints) ...
    val staged = TxLog.stage(Seq(("a", -1.0)).toDF("part", "v"),
      root, "part")
    // ... a racing writer cleans the data and adds a constraint ...
    TxLog.deleteWhereTx(spark, root, col("v") < 0)
    TxLog.appendBatchTx(Seq(("a", 5.0)).toDF("part", "v"),
      root, "part", "mr-b2")
    TxLog.addCheckConstraintTx(spark, root, "v_pos", "v > 0")
    // ... so the stale validation must refuse at commit, loudly
    val err = intercept[IllegalArgumentException] {
      TxLog.commit(spark, root, staged, "append", readVersion = 0L)
    }
    assert(err.getMessage.contains("constraints changed"), err.getMessage)
    assert(TxLog.readTable(spark, root).count() === 1L)
    // a restage re-validates against the NEW set and refuses there
    intercept[IllegalArgumentException] {
      TxLog.stage(Seq(("a", -1.0)).toDF("part", "v"), root, "part")
    }
    // meta commits conflict with ANY commit after their read version —
    // a stale metadata snapshot can never clobber a racing DDL
    val vStale = TxLog.snapshot(spark, root).version - 1
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.commit(spark, root,
        TxLog.Staged(Map.empty, mapping = Some(Map.empty),
          constraints = Some(Map.empty)),
        "meta", readVersion = vStale, conflictCheck = true)
    }
    // the retry-looped DDL front door still lands (re-derives fresh)
    TxLog.dropCheckConstraintTx(spark, root, "v_pos")
    assert(TxLog.tableConstraints(spark, root).isEmpty)
  }

  test("tableDetail reports operational facts on both representations") {
    val root = freshRoot("detail")
    import spark.implicits._
    spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
    try {
      TxLog.appendBatchTx(
        Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
          .toDF("part", "k", "v"), root, "part", "dt-b1")
      TxLog.renameColumnTx(spark, root, "v", "amount")
      TxLog.addCheckConstraintTx(spark, root, "k_pos", "k > 0")
      TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)
      val d = TxLog.tableDetail(spark, root).collect().head
      assert(d.getAs[String]("representation") === "inline")
      assert(d.getAs[Long]("n_partitions") === 2L)
      assert(d.getAs[Long]("n_files") === 2L)
      assert(d.getAs[Long]("n_deleted_rows") === 1L)
      assert(d.getAs[Long]("n_renamed_columns") === 1L)
      assert(d.getAs[Long]("n_constraints") === 1L)
      assert(d.getAs[Long]("size_bytes") > 0L)
      // cross to the parquet payload: the same facts, one metadata job
      val key = "graft.txlog.chkParquetMin"
      spark.conf.set(key, "1")
      try { TxLog.checkpoint(spark, root): Unit }
      finally spark.conf.unset(key)
      val d2 = TxLog.tableDetail(spark, root).collect().head
      assert(d2.getAs[String]("representation") === "parquet-checkpoint")
      assert(d2.getAs[Long]("n_partitions") === 2L)
      assert(d2.getAs[Long]("n_files") === 2L)
      assert(d2.getAs[Long]("n_deleted_rows") === 1L)
      assert(d2.getAs[Long]("n_constraints") === 1L)
      // a post-checkpoint dv override counts once
      TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
      val d3 = TxLog.tableDetail(spark, root).collect().head
      assert(d3.getAs[Long]("n_deleted_rows") === 2L)
    } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
  }

  test("maintainTx bundles bin-pack + checkpoint + expiry + vacuum; " +
      "a second run reports zeros") {
    val root = freshRoot("maintain")
    import spark.implicits._
    spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
    try {
      (1 to 2).foreach { i =>
        TxLog.appendBatchTx(Seq(("a", i.toLong)).toDF("part", "n"),
          root, "part", s"mt-b$i")
      }
      // an overwritten partition leaves orphans for the vacuum step ...
      TxLog.overwritePartitionsTx(
        (1 to 2).map(i => ("a", i.toLong)).toDF("part", "n"), root, "part")
      // ... and two trickle appends leave smalls for the bin-pack step
      TxLog.appendBatchTx(Seq(("a", 3L)).toDF("part", "n"), root, "part",
        "mt-b3")
      TxLog.appendBatchTx(Seq(("a", 4L)).toDF("part", "n"), root, "part",
        "mt-b4")
      val r = TxLog.maintainTx(spark, root, "part",
        smallBytes = Long.MaxValue, vacuumAgeMs = 0L).collect().head
      assert(r.getAs[Long]("files_packed") === 3L) // overwrite + 2 trickles
      assert(r.getAs[Long]("checkpoint_version") > 0L)
      assert(r.getAs[Long]("log_files_expired") > 0L)
      // the overwrite's 2 orphans + the bin-pack's 3 replaced smalls
      assert(r.getAs[Long]("data_files_vacuumed") >= 2L)
      assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
        === 10L)
      assert(TxLog.snapshot(spark, root).parts("a").size === 1)
      // idempotent: the second run finds nothing to do
      val r2 = TxLog.maintainTx(spark, root, "part",
        smallBytes = Long.MaxValue, vacuumAgeMs = 0L).collect().head
      assert(r2.getAs[Long]("files_packed") === 0L &&
        r2.getAs[Long]("data_files_vacuumed") === 0L)
    } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
  }

  test("streaming source: startingTimestamp resolves through the " +
      "commit clock") {
    val base = freshRoot("ts-stream")
    import spark.implicits._
    val root = s"$base/table"; val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "n"), root, "part",
      "tss-b1")
    val t1 = TxLog.history(spark, root).collect().head.getLong(12)
    Thread.sleep(20)
    TxLog.appendBatchTx(Seq(("a", 2L)).toDF("part", "n"), root, "part",
      "tss-b2")
    // baseline = state AS OF t1 (v1); the stream delivers only b2
    val q = spark.readStream.format("txlog")
      .option("startingTimestamp", t1.toString).load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).select("n")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(2L))
  }

  test("deletion vectors: URI-hostile partition values (spaces, percent, " +
      "plus) relativize to the log's rel-path space") {
    val root = freshRoot("dv-esc")
    import spark.implicits._
    // `_metadata.file_path` is URL-encoded (space→%20, Hive's %25→%2525,
    // `+` kept raw); the log keys files by the DECODED on-disk rel path.
    // Each of these values breaks a naive normalization some way: the
    // space broke the old [^ ]+ regex, `%` breaks a double decode, `+`
    // breaks form-decoding (url_decode would turn it into a space).
    TxLog.appendBatchTx(
      Seq(("NORTH AMERICA", 1L), ("NORTH AMERICA", 2L), ("EU%25:x", 3L),
          ("a+b", 4L), ("plain", 5L)).toDF("part", "k"),
      root, "part", "dve-b1")
    val (_, n1) = TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)
    assert(n1 === 1L)
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L, 4L, 5L))
    val (_, n2) =
      TxLog.deleteWhereDvTx(spark, root, col("k") === 3L || col("k") === 4L)
    assert(n2 === 2L)
    assert(TxLog.countRows(spark, root) === Some(2L))
    // the vectors key LIVE files (not "" or an encoded variant), so the
    // checkpoint fold carries them instead of dropping them as non-live
    TxLog.checkpoint(spark, root)
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(2L, 5L))
    assert(TxLog.readTable(spark, root)
      .filter(col("part") === "NORTH AMERICA").count() === 1L)
  }

  test("restore refuses retryably when a checkpoint crosses the table " +
      "to a parquet payload mid-flight") {
    val root = freshRoot("restore-race")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "rr-b1")                                                       // v1
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "rr-b2")                                                       // v2
    // reproduce the post-race state deterministically: restoreTx derived
    // its staging from the driver snapshot...
    val target = TxLog.snapshotAt(spark, root, 1L)
    val snap = TxLog.snapshot(spark, root)
    val gone = (snap.parts.keySet -- target.parts.keySet).toSeq
    val staged = TxLog.Staged(
      target.parts ++ gone.map(_ -> Seq.empty[String]),
      target.schema, target.stats, target.rows, target.partSchema,
      mapping = Some(target.mapping), dvs = target.dvs,
      constraints = Some(target.constraints))
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    try {
      // ...then a standalone maintenance checkpoint crossed to a parquet
      // payload WITHOUT publishing a commit (no version moved) —
      TxLog.checkpoint(spark, root)
      // — so the version race never fires; without the payload re-check
      // this restore would land and make every subsequent fold throw
      intercept[TxLog.ConcurrentWriteException] {
        TxLog.commit(spark, root, staged, "restore",
          readVersion = snap.version, conflictCheck = true)
      }
      // the table stays readable, at its pre-restore content
      assert(TxLog.readTable(spark, root).count() === 2L)
    } finally spark.conf.unset("graft.txlog.chkParquetMin")
  }

  test("a driver-shape restore that ESCAPES the payload re-check (chk " +
      "written between re-check and publish) folds as a payload " +
      "supersession — never a brick") {
    // the race spec (TxRaceSpec) finds this interleaving mechanically;
    // here the escaped-race log is reproduced DETERMINISTICALLY by
    // transplanting the restore commit a pre-crossing clone produced
    val root = freshRoot("restore-escape")
    val clone = freshRoot("restore-escape-clone")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "re-b1")                                                       // v1
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "re-b2")                                                       // v2
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(root), fs,
      new org.apache.hadoop.fs.Path(clone), false, false,
      spark.sparkContext.hadoopConfiguration)
    // the crossing happens at the REAL table...
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    try TxLog.checkpoint(spark, root)
    finally spark.conf.unset("graft.txlog.chkParquetMin")
    // ...while the restore lands against the still-driver-shape clone
    // (identical log + identical rel file paths), then its commit file
    // transplants into the crossed log — byte-exactly the state the
    // escaped race publishes
    assert(TxLog.restoreTx(spark, clone, 1L) === 3L)
    val logOf = (r: String) => fs.listStatus(
      new org.apache.hadoop.fs.Path(r, "_txlog"))
      .map(_.getPath.getName).toSet
    val newFiles = logOf(clone) -- logOf(root)
    assert(newFiles.size === 1, s"expected one restore commit, got $newFiles")
    val f = newFiles.head
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$clone/_txlog/$f"), fs,
      new org.apache.hadoop.fs.Path(s"$root/_txlog/$f"), false, false,
      spark.sparkContext.hadoopConfiguration)
    // the payload is SUPERSEDED by the restore's inventory: reads, counts
    // and enumeration serve the restore target, not a brick
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(TxLog.countRows(spark, root) === Some(1L))
    assert(TxLog.partitionValues(spark, root) === Set("a"))
    // the table keeps working: appends land, the next checkpoint folds
    // everything into a fresh payload, reads survive it
    TxLog.appendBatchTx(Seq(("c", 9L)).toDF("part", "k"), root, "part",
      "re-b3")                                                       // v4
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    try TxLog.checkpoint(spark, root)
    finally spark.conf.unset("graft.txlog.chkParquetMin")
    assert(TxLog.readTable(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet === Set(1L, 9L))
    assert(TxLog.partitionValues(spark, root) === Set("a", "c"))
  }

  test("streaming sink: Complete mode truncates when the result table " +
      "goes empty") {
    val base = freshRoot("complete-empty")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"$base/table"; val ckpt = s"$base/ckpt"
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    // a Complete-mode result CAN shrink to empty: a post-agg filter
    // drops groups as their counts grow past the bound
    val counts = mem.toDF().toDF("part", "v")
      .groupBy("part").agg(count(lit(1)).as("n"))
      .filter(col("n") < 2)
    val q = counts.writeStream.format("txlog")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").partitionBy("part")
      .option("path", root).start()
    try {
      mem.addData(("a", 1L))
      q.processAllAvailable()
      assert(TxLog.readTable(spark, root).count() === 1L)
      mem.addData(("a", 2L))
      q.processAllAvailable()
      // count(a) reached 2 → the complete result is EMPTY → the batch is
      // the entire table contents: stale rows must not stand
      assert(TxLog.partitionValues(spark, root).isEmpty,
        "an empty Complete batch must truncate, not skip")
    } finally q.stop()
  }

  test("maintainTx routes dv-heavy files into the rewrite: steady state " +
      "goes dv-free where the deleted fraction crossed the threshold, " +
      "stays merge-on-read elsewhere") {
    val root = freshRoot("dv-maint")
    import spark.implicits._
    spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
    try {
      // partition a: 3 rows in one file; partition b: 4 rows in one file
      TxLog.appendBatchTx(
        Seq(("a", 1L), ("a", 2L), ("a", 3L),
            ("b", 4L), ("b", 5L), ("b", 6L), ("b", 7L))
          .toDF("part", "k"), root, "part", "dvm-b1")
      // delete 1/3 of a (0.33 ≥ 0.3 → rewrite) and 1/4 of b (0.25 < 0.3
      // → stays merge-on-read)
      val (_, n1) = TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)
      val (_, n2) = TxLog.deleteWhereDvTx(spark, root, col("k") === 4L)
      assert(n1 === 1L && n2 === 1L)
      val bFile = TxLog.snapshot(spark, root).parts("b").head
      val rep = TxLog.maintainTx(spark, root, "part",
        smallBytes = 1L, vacuumAgeMs = 0L).head
      assert(rep.getAs[Long]("files_packed") === 1L,
        s"exactly a's dv-heavy file must rewrite, got $rep")
      val snap = TxLog.snapshot(spark, root)
      // a's vector materialized away with the rewrite; b's survives —
      // and b's FILE is untouched (same physical file)
      assert(snap.dvs.keySet === Set(bFile), snap.dvs.keySet)
      assert(snap.parts("b").head === bFile)
      assert(TxLog.readTable(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet === Set(2L, 3L, 5L, 6L, 7L))
      assert(TxLog.countRows(spark, root) === Some(5L))
      // idempotent: a second pass finds nothing above the threshold
      val rep2 = TxLog.maintainTx(spark, root, "part",
        smallBytes = 1L, vacuumAgeMs = 0L).head
      assert(rep2.getAs[Long]("files_packed") === 0L)
    } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
  }

  test("order-stable schema recording: reordered writers never churn " +
      "the recorded column order; evolution appends new columns") {
    val root = freshRoot("order")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L, 10.0)).toDF("part", "k", "v"),
      root, "part", "ord-b1")
    assert(TxLog.readTable(spark, root).columns.toSeq ===
      Seq("k", "v", "part"))
    // a REORDERED writer (v before k) lands, but the recorded order
    // must not churn
    TxLog.appendBatchTx(Seq(("a", 20.0, 2L)).toDF("part", "v", "k"),
      root, "part", "ord-b2")
    assert(TxLog.readTable(spark, root).columns.toSeq ===
      Seq("k", "v", "part"))
    assert(TxLog.readTable(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      Map(1L -> 10.0, 2L -> 20.0))
    // an evolving writer with the NEW column FIRST: the new column
    // APPENDS to the recorded schema, never adopts the writer's order
    TxLog.appendBatchTx(
      Seq((99.9, "a", 3L, 30.0)).toDF("extra", "part", "k", "v"),
      root, "part", "ord-b3")
    assert(TxLog.readTable(spark, root).columns.toSeq ===
      Seq("k", "v", "extra", "part"))
    assert(TxLog.readTable(spark, root).filter(col("k") === 3L)
      .head.getAs[Double]("extra") === 99.9)
    assert(TxLog.readTable(spark, root).filter(col("k") === 1L)
      .head.getAs[java.lang.Double]("extra") === null)
  }

  test("sealBatchLedgerTx: the string ledger retires to O(writers) — " +
      "sealed-id replays refuse loudly, adopted writer-seq replays " +
      "resolve through the bounded gate") {
    val root = freshRoot("seal")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root, "part",
      "seal-b1")                                                     // v1
    TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root, "part",
      "seal-b2")                                                     // v2
    TxLog.renameColumnTx(spark, root, "k", "key")                    // v3
    // seal, adopting this writer at seq baseline 7
    val sv = TxLog.sealBatchLedgerTx(spark, root,
      adopt = Some(("w1", 7L)))                                      // v4
    assert(sv === 4L)
    // the mapping survived the seal (meta snapshot carried it)
    assert(TxLog.readTable(spark, root).columns.toSet ===
      Set("part", "key"))
    // old-style replay of a SEALED id refuses loudly (so does any new
    // string id — the set is gone, replay can't be told apart)
    val err = intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(Seq(("a", 9L)).toDF("part", "key"), root,
        "part", "seal-b1")
    }
    assert(err.getMessage.contains("SEALED"), err.getMessage)
    // writer-seq replays resolve through the bounded gate: AT the
    // adopted baseline → idempotent return of the seal version
    assert(TxLog.appendBatchSeqTx(Seq(("a", 9L)).toDF("part", "key"),
      root, "part", "w1", 7L) === sv)
    // BELOW it → stale, loud
    intercept[TxLog.StaleWriterSeqException] {
      TxLog.appendBatchSeqTx(Seq(("a", 9L)).toDF("part", "key"),
        root, "part", "w1", 6L)
    }
    // ABOVE it → lands
    assert(TxLog.appendBatchSeqTx(Seq(("c", 3L)).toDF("part", "key"),
      root, "part", "w1", 8L) === 5L)
    // the checkpoint drops the b-lines forever: O(writers), not
    // O(batches) — and the seal survives it
    TxLog.checkpoint(spark, root)
    val chkTxt = {
      val dir = new org.apache.hadoop.fs.Path(root, "_txlog")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val n = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".chk")).head
      val in = fs.open(n)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(chkTxt.contains("sealed=1") &&
      !chkTxt.linesIterator.exists(_.startsWith("b\t")), chkTxt)
    assert(TxLog.expireLog(spark, root) > 0)
    // post-checkpoint: string ids still refuse (the flag rides the chk)
    intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(Seq(("d", 4L)).toDF("part", "key"), root,
        "part", "seal-b9")
    }
    // and the table serves normally
    assert(TxLog.readTable(spark, root).count() === 3L)
  }

  test("streaming sink: a mid-stream ADD COLUMN lands via recorded " +
      "evolution; a column-losing stream refuses loudly — no silent drop") {
    val base = freshRoot("sink-evolve")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"$base/table"
    // stream A: the original two-column schema
    val memA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val qA = memA.toDF().toDF("part", "k").writeStream.format("txlog")
      .option("checkpointLocation", s"$base/ckptA")
      .outputMode("append").partitionBy("part").option("path", root).start()
    try { memA.addData(("a", 1L)); qA.processAllAvailable() }
    finally qA.stop()
    // stream B (restarted upstream, one more column): the additive
    // schema guard records the evolution; old rows NULL-backfill
    val memB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val qB = memB.toDF().toDF("part", "k", "extra").writeStream
      .format("txlog")
      .option("checkpointLocation", s"$base/ckptB")
      .outputMode("append").partitionBy("part").option("path", root).start()
    try { memB.addData(("b", 2L, 9.5)); qB.processAllAvailable() }
    finally qB.stop()
    val df = TxLog.readTable(spark, root)
    assert(df.columns.toSet === Set("part", "k", "extra"))
    val got = df.collect()
      .map(r => r.getAs[Long]("k") ->
        Option(r.getAs[java.lang.Double]("extra"))).toMap
    assert(got === Map(1L -> None, 2L -> Some(9.5)))
    // stream C LOST a column: the batch must refuse loudly (a silent
    // drop would regress the recorded schema for every reader)
    val memC = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val qC = memC.toDF().toDF("part", "k").writeStream.format("txlog")
      .option("checkpointLocation", s"$base/ckptC")
      .outputMode("append").partitionBy("part").option("path", root).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      memC.addData(("c", 3L)); qC.processAllAvailable()
    }
    qC.stop()
    assert(err.getMessage.contains("ADD-COLUMN") ||
      Option(err.getCause).exists(_.getMessage.contains("ADD-COLUMN")),
      err.getMessage)
    // and nothing landed
    assert(TxLog.readTable(spark, root).count() === 2L)
  }

  test("restore rolls back data, schema and mapping; history stays " +
      "until vacuumed") {
    val root = freshRoot("restore")
    import spark.implicits._
    TxLog.appendBatchTx(
      Seq(("a", 1L, 10.0), ("b", 2L, 20.0)).toDF("part", "k", "v"),
      root, "part", "r-b1")                                          // v1
    TxLog.renameColumnTx(spark, root, "v", "amount")                 // v2
    val vTarget = 2L
    // post-target mutations a restore must undo: a second rename, a
    // keyed merge, a brand-new partition
    TxLog.renameColumnTx(spark, root, "amount", "amt2")              // v3
    TxLog.mergeKeyedTx(spark, root,
      Seq(("a", 1L, 99.0)).toDF("part", "k", "amt2"), "k")           // v4
    TxLog.appendBatchTx(Seq(("c", 5L, 50.0)).toDF("part", "k", "amt2"),
      root, "part", "r-b2")                                          // v5
    TxLog.restoreTx(spark, root, vTarget)                            // v6
    val df = TxLog.readTable(spark, root)
    assert(df.columns.toSet === Set("part", "k", "amount"), df.columns.toSeq)
    val got = df.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("amount")).toMap
    assert(got === Map(1L -> 10.0, 2L -> 20.0)) // merge undone, `c` gone
    // the in-between history still time-travels (restore deletes nothing)
    assert(TxLog.readTableAt(spark, root, 5L).count() === 3L)
    // vacuum keeps the restored (re-referenced) files live, reclaims the
    // undone merge rewrite + the dropped partition's files
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) > 0)
    assert(TxLog.readTable(spark, root).count() === 2L)
    // a version whose files are vacuumed refuses restore loudly
    val err = intercept[Exception] { TxLog.restoreTx(spark, root, 4L) }
    assert(err.getMessage.contains("no longer restorable"), err.getMessage)
  }

  test("auto-seal nudge: checkpoint warns past the string-id threshold, " +
      "stays silent below; maintainTx(sealLedger=true) seals + adopts") {
    val root = freshRoot("sealnudge")
    import spark.implicits._
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val prior = TxLog.warnSink
    TxLog.warnSink = msg => captured.synchronized { captured += msg }: Unit
    try {
      spark.conf.set("graft.txlog.sealNudgeIds", "3")
      (1 to 3).foreach { i =>
        TxLog.appendBatchTx(Seq(("a", i.toLong)).toDF("part", "k"),
          root, "part", s"nudge-b$i")
      }
      TxLog.checkpoint(spark, root)
      assert(!captured.exists(_.contains("sealBatchLedgerTx")),
        s"below the threshold the checkpoint must stay silent: $captured")
      TxLog.appendBatchTx(Seq(("a", 99L)).toDF("part", "k"),
        root, "part", "nudge-b4")
      TxLog.checkpoint(spark, root)
      assert(captured.exists(m => m.contains("sealBatchLedgerTx") &&
        m.contains("4 string batch ids")),
        s"past the threshold the checkpoint must name the fix: $captured")
      // one-call migration via the maintenance bundle, with an adopted
      // writer-seq baseline
      TxLog.maintainTx(spark, root, "part", smallBytes = 1L << 20,
        sealLedger = true, adopt = Some(("mig-writer", 4L))): Unit
      // sealed: string-id writes refuse loudly...
      val e = intercept[IllegalArgumentException] {
        TxLog.appendBatchTx(Seq(("a", 100L)).toDF("part", "k"),
          root, "part", "nudge-b5")
      }
      assert(e.getMessage.contains("SEALED"), e.getMessage)
      // ...the adopted baseline replays idempotently...
      val before = TxLog.readTable(spark, root).count()
      TxLog.appendBatchSeqTx(Seq(("a", 4L)).toDF("part", "k"),
        root, "part", "mig-writer", 4L)
      assert(TxLog.readTable(spark, root).count() === before,
        "an in-window replay at the adopted baseline must be a no-op")
      // ...and the next seq lands
      TxLog.appendBatchSeqTx(Seq(("a", 101L)).toDF("part", "k"),
        root, "part", "mig-writer", 5L)
      assert(TxLog.readTable(spark, root).count() === before + 1)
      // the nudge never fires again: the sealed checkpoint has no b-lines
      captured.clear()
      TxLog.checkpoint(spark, root)
      assert(!captured.exists(_.contains("sealBatchLedgerTx")),
        s"a sealed ledger must not nudge: $captured")
    } finally {
      TxLog.warnSink = prior
      spark.conf.unset("graft.txlog.sealNudgeIds")
    }
  }

  test("parsed-log cache: hot reads re-list but never re-parse or " +
      "re-fold; a new commit is picked up and re-parses only the new " +
      "file; a recreated table never serves stale state (both " +
      "representations)") {
    import org.apache.spark.sql.functions._
    val root = freshRoot("logcache")
    TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), root, "part", "lc-b1") // v1
    TxLog.appendBatchTx(kv("a" -> 3), root, "part", "lc-b2")           // v2
    val c1 = TxLog.readTable(spark, root).count()
    val (p0, f0) = (TxLog.logFilesParsed.get(), TxLog.logFolds.get())
    (1 to 5).foreach(_ =>
      assert(TxLog.readTable(spark, root).count() === c1))
    assert(TxLog.logFilesParsed.get() === p0,
      "hot reads of an unchanged table must not re-parse any log file")
    assert(TxLog.logFolds.get() === f0,
      "hot reads of an unchanged table must not re-fold")
    // a new commit invalidates through the LISTING (any writer — foreign
    // or own): the next read reflects it, re-parsing only the new file
    TxLog.appendBatchTx(kv("c" -> 4), root, "part", "lc-b3")           // v3
    assert(TxLog.readTable(spark, root).count() === c1 + 1)
    val (p1, f1) = (TxLog.logFilesParsed.get(), TxLog.logFolds.get())
    (1 to 3).foreach(_ =>
      assert(TxLog.readTable(spark, root).count() === c1 + 1))
    assert(TxLog.logFilesParsed.get() === p1 &&
      TxLog.logFolds.get() === f1)
    // RECREATED table at the same root: the rebuild's own first commit
    // observes the missing _txlog dir and drops the entry — never stale
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TxLog.appendBatchTx(kv("z" -> 100), root, "part", "lc-r1")
    val fresh = TxLog.readTable(spark, root)
    assert(fresh.count() === 1L)
    assert(fresh.select("n").head.getLong(0) === 100L)
    // PAYLOAD representation: cross to a parquet checkpoint, same story
    val prior = spark.conf.getOption("graft.txlog.chkParquetMin")
    try {
      spark.conf.set("graft.txlog.chkParquetMin", "1")
      TxLog.checkpoint(spark, root)
      val cAfter = TxLog.readTable(spark, root).count()
      val (p2, f2) = (TxLog.logFilesParsed.get(), TxLog.logFolds.get())
      (1 to 3).foreach(_ =>
        assert(TxLog.readTable(spark, root).count() === cAfter))
      assert(TxLog.logFilesParsed.get() === p2 &&
        TxLog.logFolds.get() === f2,
        "payload-table hot reads must not re-parse or re-fold either")
      TxLog.appendBatchTx(kv("z" -> 101), root, "part", "lc-r2")
      assert(TxLog.readTable(spark, root).count() === cAfter + 1)
    } finally prior match {
      case Some(v) => spark.conf.set("graft.txlog.chkParquetMin", v)
      case None => spark.conf.unset("graft.txlog.chkParquetMin")
    }
  }

  test("addColumnTx declares a column ahead of data: NULL backfill, " +
      "refusals (exists/partition/tombstone/renamed-shadow), constraint " +
      "and drop interactions, subset writers stay refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = freshRoot("addcol")
    TxLog.appendBatchTx(Seq(("a", 1L, 10.0), ("b", 2L, 20.0))
      .toDF("part", "k", "v"), root, "part", "ac-b1")               // v1
    TxLog.addColumnTx(spark, root, "note",
      org.apache.spark.sql.types.StringType)                        // v2
    // metadata-only: pre-add rows NULL-backfill; schema appends
    val t = TxLog.readTable(spark, root)
    assert(t.columns.toSeq === Seq("k", "v", "note", "part"))
    assert(t.filter(col("note").isNotNull).isEmpty)
    // refusals: existing column, partition column, duplicate in one call
    assert(intercept[IllegalArgumentException] {
      TxLog.addColumnTx(spark, root, "v",
        org.apache.spark.sql.types.DoubleType)
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      TxLog.addColumnTx(spark, root, "part",
        org.apache.spark.sql.types.StringType)
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      TxLog.addColumnsTx(spark, root, Seq(
        "x" -> org.apache.spark.sql.types.LongType,
        "x" -> org.apache.spark.sql.types.StringType))
    }.getMessage.contains("duplicate"))
    // a SUBSET writer (not carrying the declared column) stays refused —
    // indistinguishable from one that silently lost it
    val subset = TxLog.stage(Seq(("a", 4L, 40.0)).toDF("part", "k", "v"),
      root, "part")
    assert(intercept[IllegalArgumentException] {
      TxLog.commit(spark, root, subset, "append", readVersion = 0L)
    }.getMessage.contains("schema"))
    // a constraint may reference the added column; writers then carry it
    TxLog.addCheckConstraintTx(spark, root, "note_len",
      "length(note) < 10")                                          // v3
    intercept[IllegalArgumentException] {
      TxLog.appendBatchTx(Seq(("a", 3L, 30.0, "waaaaay too long"))
        .toDF("part", "k", "v", "note"), root, "part", "ac-bad")
    }
    TxLog.appendBatchTx(Seq(("a", 3L, 30.0, "ok"))
      .toDF("part", "k", "v", "note"), root, "part", "ac-b2")       // v4
    // a subset writer missing a CONSTRAINED column refuses at STAGE
    // time with the constraint named (not a raw unresolved-column error)
    assert(intercept[IllegalArgumentException] {
      TxLog.stage(Seq(("a", 5L, 50.0)).toDF("part", "k", "v"),
        root, "part")
    }.getMessage.contains("note_len"))
    // drop the added column (constraint first — it references it) →
    // its name is tombstoned → re-add refuses
    TxLog.dropCheckConstraintTx(spark, root, "note_len")            // v5
    TxLog.dropColumnTx(spark, root, "note")                         // v6
    assert(intercept[IllegalArgumentException] {
      TxLog.addColumnTx(spark, root, "note",
        org.apache.spark.sql.types.StringType)
    }.getMessage.contains("DROPPED"))
    // rename v → amount, then adding a NEW column named "v" must refuse:
    // its files would land under the live physical column "v" and read
    // back as "amount"
    TxLog.renameColumnTx(spark, root, "v", "amount")
    assert(intercept[IllegalArgumentException] {
      TxLog.addColumnTx(spark, root, "v",
        org.apache.spark.sql.types.DoubleType)
    }.getMessage.contains("shadows"))
    // the same shadow refused at STAGE time for write-time evolution
    assert(intercept[IllegalArgumentException] {
      TxLog.stage(Seq(("a", 5L, 50.0, 1.0))
        .toDF("part", "k", "amount", "v"), root, "part")
    }.getMessage.contains("shadows"))
    // time travel: pre-add (v1) serves the original schema, the add-era
    // (v4) serves note, current serves the rename
    assert(TxLog.readTableAt(spark, root, 1L).columns.toSeq ===
      Seq("k", "v", "part"))
    assert(TxLog.readTableAt(spark, root, 4L).columns.contains("note"))
    assert(TxLog.readTable(spark, root).columns.toSeq ===
      Seq("k", "amount", "part"))
  }

  test("table properties: set merges, unset removes, survive checkpoints " +
      "on both representations, restore reinstates, DESCRIBE DETAIL shows") {
    val root = freshRoot("props")
    TxLog.overwritePartitionsTx(kv("a" -> 1, "b" -> 2), root, "part") // v1
    assert(TxLog.tableProperties(spark, root) === Map.empty)
    TxLog.setTablePropertiesTx(spark, root,
      Map("team.owner" -> "data-eng"))                                // v2
    TxLog.setTablePropertiesTx(spark, root,
      Map("graft.vacuum.retentionMs" -> "0"))                         // v3
    // merge semantics: the second SET keeps the first key
    assert(TxLog.tableProperties(spark, root) ===
      Map("team.owner" -> "data-eng", "graft.vacuum.retentionMs" -> "0"))
    // the inline checkpoint carries the snapshot (fold-from-chk path) —
    // deltas kept so the restore below can still time-travel to v2
    TxLog.checkpoint(spark, root)
    assert(TxLog.tableProperties(spark, root)("team.owner") === "data-eng")
    // DESCRIBE DETAIL renders the canonical sorted k=v string
    assert(TxLog.tableDetail(spark, root).head.getAs[String]("properties")
      === "graft.vacuum.retentionMs=0, team.owner=data-eng")
    // unset removes; unsetting an absent key is an idempotent no-op
    TxLog.unsetTablePropertiesTx(spark, root,
      Seq("team.owner", "never.was"))                                 // v4
    assert(TxLog.tableProperties(spark, root) ===
      Map("graft.vacuum.retentionMs" -> "0"))
    // restore to v2 reinstates THAT version's property set
    TxLog.restoreTx(spark, root, 2L)                                  // v5
    assert(TxLog.tableProperties(spark, root) ===
      Map("team.owner" -> "data-eng"))
    // checkpoint + expire: props now come from the chk snapshot alone
    TxLog.checkpoint(spark, root)
    TxLog.expireLog(spark, root): Unit
    assert(TxLog.tableProperties(spark, root) ===
      Map("team.owner" -> "data-eng"))
    // parquet-checkpointed representation: props ride the v2 header
    val key = "graft.txlog.chkParquetMin"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      TxLog.checkpoint(spark, root)
      assert(TxLog.tableProperties(spark, root) ===
        Map("team.owner" -> "data-eng"))
      // a props change ON the payload representation folds + restores
      TxLog.setTablePropertiesTx(spark, root, Map("tier" -> "gold"))
      TxLog.checkpoint(spark, root)
      assert(TxLog.tableProperties(spark, root) ===
        Map("team.owner" -> "data-eng", "tier" -> "gold"))
      assert(TxLog.tableDetail(spark, root).head
        .getAs[String]("properties").contains("tier=gold"))
    } finally {
      prior.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("table properties drive the auto-checkpoint cadence and the seal " +
      "nudge threshold over the session defaults") {
    val root = freshRoot("props-cadence")
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def chkCount: Int = {
      val dir = new org.apache.hadoop.fs.Path(root, "_txlog")
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).map(_.getPath.getName)
        .count(_.endsWith(".chk"))
    }
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    val priorSink = TxLog.warnSink
    TxLog.warnSink = msg => captured.synchronized { captured += msg }: Unit
    try {
      // session cadence OFF — only the table property can fold one in
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      TxLog.overwritePartitionsTx(kv("a" -> 1), root, "part")        // v1
      TxLog.setTablePropertiesTx(spark, root,
        Map("graft.autoCheckpoint.every" -> "3",
            "graft.seal.nudgeIds" -> "1"))                           // v2
      assert(chkCount === 0)
      TxLog.appendBatchTx(kv("a" -> 2), root, "part", "pc-b1")       // v3
      assert(chkCount === 1,
        "the recorded cadence property must fold a checkpoint at v3")
      // nudge threshold from the property (session default is 4096):
      // two string ids > 1 fires the warning
      TxLog.appendBatchTx(kv("a" -> 3), root, "part", "pc-b2")       // v4
      captured.clear()
      TxLog.checkpoint(spark, root)
      assert(captured.exists(m => m.contains("sealBatchLedgerTx") &&
        m.contains("threshold 1")),
        s"the property-driven threshold must fire the nudge: $captured")
    } finally {
      TxLog.warnSink = priorSink
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("property-driven maintainTx reads the recorded policy") {
    val root = freshRoot("props-maintain")
    TxLog.overwritePartitionsTx(kv("a" -> 1), root, "part")
    (1 to 3).foreach(i =>
      TxLog.appendBatchTx(kv("a" -> i.toLong), root, "part", s"pm-b$i"))
    TxLog.setTablePropertiesTx(spark, root,
      Map("graft.binpack.smallBytes" -> (1L << 20).toString,
          "graft.vacuum.retentionMs" -> "0"))
    // the 3-arg overload: policy comes from the table, not the call site
    val rep = TxLog.maintainTx(spark, root, "part").head
    assert(rep.getAs[Long]("files_packed") >= 4L,
      "the recorded smallBytes threshold must bin-pack the small files")
    assert(rep.getAs[Long]("data_files_vacuumed") >= 4L,
      "the recorded zero retention must vacuum the superseded files now")
    assert(TxLog.readTable(spark, root)
      .agg(sum("n")).head.getLong(0) === 1L + 1L + 2L + 3L)
  }

  test("replaceTableTx: ONE commit supersedes data, mapping, " +
      "constraints and properties; time travel keeps the old table") {
    val root = freshRoot("replace")
    import spark.implicits._
    // the OLD definition, fully decorated
    TxLog.appendBatchTx(Seq(("a", 1L), ("b", 2L)).toDF("part", "k"),
      root, "part", "rp-b1")                                         // v1
    TxLog.renameColumnTx(spark, root, "k", "key")                    // v2
    TxLog.addCheckConstraintTx(spark, root, "pos", "key > 0")        // v3
    TxLog.setTablePropertiesTx(spark, root, Map("tier" -> "old"))    // v4
    // the replacement: new schema, new rows, new properties — one commit
    val v = TxLog.replaceTableTx(
      Seq(("z", "n1"), ("z", "n2")).toDF("part", "label"),
      root, Seq("part"), Map("tier" -> "new"))                       // v5
    assert(v === 5L)
    val now = TxLog.readTable(spark, root)
    assert(now.columns.toSet === Set("part", "label"))
    assert(now.count() === 2L)
    assert(TxLog.partitionValues(spark, root) === Set("z"))
    assert(TxLog.tableProperties(spark, root) === Map("tier" -> "new"))
    val detail = TxLog.tableDetail(spark, root).head
    assert(detail.getAs[Long]("n_renamed_columns") === 0L,
      "the replace must reset the column mapping")
    assert(detail.getAs[Long]("n_constraints") === 0L,
      "the replace must reset the constraints")
    // the OLD constraint must not police NEW-definition writers
    TxLog.appendBatchTx(Seq(("z", "n3")).toDF("part", "label"),
      root, "part", "rp-b2")                                         // v6
    // time travel pre-replace serves the old definition unchanged
    val old = TxLog.readTableAt(spark, root, 4L)
    assert(old.columns.toSet === Set("part", "key"))
    assert(old.count() === 2L)
    // an EMPTY replacement records the declared schema only
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "x BIGINT, part STRING"))
    TxLog.replaceTableTx(empty, root, Seq("part"))                   // v7
    val after = TxLog.readTable(spark, root)
    assert(after.count() === 0L && after.columns.toSet === Set("x", "part"))
    // partitioning is the one FIXED axis: a location has one layout
    val e = intercept[IllegalArgumentException] {
      TxLog.replaceTableTx(Seq((1L, "a")).toDF("x", "other"),
        root, Seq("other"))
    }
    assert(e.getMessage.contains("ONE partitioning"), e.getMessage)
    // absent table: replace CREATES at v1 (the CREATE OR REPLACE path)
    val root2 = freshRoot("replace-fresh")
    assert(TxLog.replaceTableTx(Seq(("a", 1L)).toDF("part", "n"),
      root2, Seq("part")) === 1L)
    assert(TxLog.readTable(spark, root2).count() === 1L)
  }

  test("replaceTableTx on a parquet-checkpointed table: payload-shape " +
      "replacement, same contract") {
    val root = freshRoot("replace-big")
    import spark.implicits._
    TxLog.appendBatchTx(Seq(("a", 1L), ("b", 2L)).toDF("part", "k"),
      root, "part", "rb-b1")                                         // v1
    TxLog.setTablePropertiesTx(spark, root, Map("tier" -> "old"))    // v2
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    try {
      TxLog.checkpoint(spark, root) // cross to the parquet payload
      val v = TxLog.replaceTableTx(
        Seq(("z", "n1")).toDF("part", "label"),
        root, Seq("part"), Map("tier" -> "new"))                     // v3
      assert(v === 3L)
      val now = TxLog.readTable(spark, root)
      assert(now.columns.toSet === Set("part", "label"))
      assert(now.count() === 1L)
      assert(TxLog.tableProperties(spark, root) === Map("tier" -> "new"))
      // the payload table keeps working post-replace: append + read
      TxLog.appendBatchTx(Seq(("y", "n2")).toDF("part", "label"),
        root, "part", "rb-b2")                                       // v4
      assert(TxLog.readTable(spark, root).count() === 2L)
      // time travel across the replace still serves the checkpoint state
      assert(TxLog.readTableAt(spark, root, 2L).columns.toSet ===
        Set("part", "k"))
      // a declared-EMPTY replacement (plain REPLACE TABLE) works on the
      // payload representation too: empty inventory, new schema
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "x BIGINT, part STRING"))
      TxLog.replaceTableTx(empty, root, Seq("part"))                 // v5
      val fin = TxLog.readTable(spark, root)
      assert(fin.count() === 0L && fin.columns.toSet === Set("x", "part"))
      TxLog.appendBatchTx(Seq(("w", 5L)).toDF("part", "x"), root,
        "part", "rb-b3")                                             // v6
      assert(TxLog.readTable(spark, root).count() === 1L)
    } finally spark.conf.unset("graft.txlog.chkParquetMin")
  }
}
