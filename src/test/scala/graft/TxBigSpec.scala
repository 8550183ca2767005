package graft

import graft.sources.{TxBigFileIndex, TxLog}
import org.apache.spark.sql.functions._

/** The 100-TB transaction-log metadata path: parquet-payload checkpoints,
  * the distributed snapshot fold, and [[TxBigFileIndex]] reads where
  * partition pruning + per-file stats skipping run INSIDE a Spark job
  * over the payload — the driver holds survivors only, never the table's
  * file list. */
class TxBigSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txbig/$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def withTinyThreshold[A](body: => A): A = {
    val key = "graft.txlog.chkParquetMin"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def kv(pairs: (String, Long)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("part", "n")
  }

  private def bigIndexOf(df: org.apache.spark.sql.DataFrame): TxBigFileIndex =
    df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location
    }.get.asInstanceOf[TxBigFileIndex]

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect(): Unit
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head.metrics("numFiles").value
  }

  test("parquet-checkpointed table: full lifecycle — reads, skipping, " +
      "appends, merge, delete, compaction, change feed, vacuum, " +
      "re-checkpoint — all without a driver fold") { withTinyThreshold {
    val root = freshRoot("lifecycle")
    // three key-range batches over two partitions → 6 files with bounds
    TxLog.appendBatchTx(kv("a" -> 1, "b" -> 2), root, "part", "g1")
    TxLog.appendBatchTx(kv("a" -> 10, "b" -> 20), root, "part", "g2")
    TxLog.appendBatchTx(kv("a" -> 100, "b" -> 200), root, "part", "g3")
    assert(TxLog.checkpoint(spark, root) === 3L)
    assert(TxLog.expireLog(spark, root) === 3)
    // the table is now parquet-checkpointed: driver folds REFUSE…
    val ex = intercept[RuntimeException] { TxLog.snapshot(spark, root) }
    assert(ex.getMessage.contains("parquet-checkpointed"))
    // …and the read path rides TxBigFileIndex with correct content
    val all = TxLog.readTable(spark, root)
    assert(bigIndexOf(all) ne null)
    assert(all.agg(sum("n")).head.getLong(0) === 333L)
    // data skipping inside the payload scan: a point probe reads 1 file
    val probe = TxLog.readTable(spark, root).filter(col("n") === 20L)
    assert(probe.select("part").collect().map(_.getString(0)).toSeq
      === Seq("b"))
    assert(filesRead(probe) === 1L, "payload-side skipping must prune to 1")
    // partition pruning inside the payload scan
    assert(filesRead(TxLog.readTable(spark, root)
      .filter(col("part") === "a")) === 3L)
    // writes continue post-checkpoint: append, metadata counts
    TxLog.appendBatchTx(kv("a" -> 1000, "c" -> 3000), root, "part", "g4")
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 4333L)
    assert(TxLog.countRows(spark, root) === Some(8L))
    assert(TxLog.partitionCounts(spark, root)
      === Map("a" -> Some(4L), "b" -> Some(3L), "c" -> Some(1L)))
    // batch idempotence across the parquet ledger (the expired commit's
    // id survives in the checkpoint; its version stands in on replay)
    val gv = TxLog.appendBatchTx(kv("a" -> 9999), root, "part", "g2")
    assert(gv === 3L, "pre-checkpoint batch id must replay as a no-op")
    // incremental consumption over the delta
    val (changes, _) = TxLog.readChangesSince(spark, root, 3L)
    assert(changes.get.agg(sum("n")).head.getLong(0) === 4000L)
    // keyed delete: only covering files rewrite
    val (_, rewritten) = TxLog.deleteWhereTx(spark, root,
      col("n") >= 10L && col("n") < 100L)
    assert(rewritten === 2, s"delete rewrote $rewritten files, wanted 2")
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 4303L)
    // keyed merge on the big path: re-assert one key, insert a new one
    TxLog.mergeKeyedTx(spark, root, kv("a" -> 1000, "a" -> 1001), "n")
    assert(TxLog.readTable(spark, root)
      .filter(col("n").isin(1000L, 1001L)).count() === 2L)
    // partition-scoped compaction through the payload query
    TxLog.compactPartitionsTx(spark, root, "part",
      select = v => v == "a")
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 4303L + 1001L)
    // time travel on the payload representation
    assert(TxLog.readTableAt(spark, root, 3L)
      .agg(sum("n")).head.getLong(0) === 333L)
    // v2 → v2 re-checkpoint folds the delta into a fresh payload
    val v2 = TxLog.checkpoint(spark, root)
    assert(TxLog.expireLog(spark, root) > 0)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 5304L)
    assert(TxLog.countRows(spark, root).nonEmpty)
    // distributed vacuum reclaims the compacted/rewritten-away files
    assert(TxLog.vacuum(spark, root, minAgeMs = 0L) > 0)
    assert(TxLog.readTable(spark, root).agg(sum("n")).head.getLong(0)
      === 5304L)
    // the retention floor moved with the re-checkpoint
    assert(TxLog.readChangesSince(spark, root, v2)._2 === v2)
  }}

  test("z-order compaction makes BOTH keys skippable: range probes on " +
      "either dimension prune files 1-D clustering would scan") {
    import spark.implicits._
    val root = freshRoot("zorder")
    // 4096 rows over a 64x64 keyspace, landed in interleaved batches so
    // every pre-compaction file spans both full ranges (nothing skips)
    val base = spark.range(4096)
    (0 until 2).foreach { i =>
      val slice = base.filter(col("id") % 2 === i).select(
        lit("p").as("part"),
        (col("id") % 64).as("k1"),
        (col("id") / 64).cast("long").as("k2"))
      TxLog.commit(spark, root, TxLog.stage(slice, root, "part"),
        "append", 0L)
    }
    def filesFor(c: String, lo: Long, hi: Long): Long =
      filesRead(TxLog.readTable(spark, root)
        .filter(col(c) >= lo && col(c) < hi))
    TxLog.compactZorderTx(spark, root, "part", Seq("k1", "k2"), files = 16)
    val total = TxLog.snapshot(spark, root).parts.values.map(_.size).sum
    assert(total >= 8, s"z-rewrite produced only $total files")
    // an eighth-of-keyspace slice in EITHER dimension reads at most half
    val r1 = filesFor("k1", 0L, 8L)
    val r2 = filesFor("k2", 0L, 8L)
    assert(r1 * 2 <= total, s"k1 slice scanned $r1 of $total z-files")
    assert(r2 * 2 <= total, s"k2 slice scanned $r2 of $total z-files")
    // content survived the rewrite bit-for-bit
    assert(TxLog.readTable(spark, root)
      .agg(sum(col("k1") + col("k2") * 64)).head.getLong(0)
      === (0L until 4096L).sum)
  }

  test("a 100k-file inventory plans a selective scan holding only " +
      "survivors on the driver (bounded memory by construction)") {
    withTinyThreshold {
      val root = freshRoot("hundredk")
      import spark.implicits._
      TxLog.appendBatchTx(
        Seq(("real", 1L), ("real", 2L), ("real", 3L)).toDF("part", "n"),
        root, "part", "r1")
      assert(TxLog.checkpoint(spark, root) === 1L)
      // grow the payload inventory to >100k files: synthetic entries in
      // 1000 partitions, each with key ranges DISJOINT from the probe —
      // the format contract is the payload parquet itself, so appending
      // rows to the payload dir is exactly what a 100k-file checkpoint
      // would have written (their data files never get opened: stats
      // prune them before any status is even fabricated)
      val logDir = new org.apache.hadoop.fs.Path(root, "_txlog")
      val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val payloadDir = fs.listStatus(logDir)
        .map(_.getPath).find(_.getName.endsWith(".chkpq")).get
      val synthetic = spark.range(100000).select(
        concat(lit("s"), (col("id") % 1000)).as("part"),
        concat(lit("data/fake/f"), col("id"), lit(".parquet")).as("file"),
        lit(1000L).as("size"),
        lit(0L).as("mtime"),
        lit(10L).as("rows"),
        map(lit("n"), struct(
          (col("id") * 100 + 1000000).cast("string").as("mn"),
          (col("id") * 100 + 1000050).cast("string").as("mx"))).as("stats"))
      synthetic.coalesce(4).write.mode("append").parquet(payloadDir.toString)
      // the inventory is now 100k+ files; a selective probe must read
      // ONLY the real partition's files — survivors are the only thing
      // the driver ever materializes
      val probe = TxLog.readTable(spark, root).filter(col("n") === 2L)
      val idx = bigIndexOf(probe)
      val survivors = probe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(probe.collect().map(_.getAs[Long]("n")).toSeq === Seq(2L))
      assert(survivors.metrics("numFiles").value === 1L,
        "100k-entry inventory must prune to the single covering file")
      // the index itself reports the pruned slice, not the inventory
      val sel = idx.survivorParts(Seq.empty, Seq.empty)
      assert(sel.valuesIterator.map(_.size).sum >= 100001,
        "sanity: the full inventory IS 100k+ when nothing prunes")
      val selPruned = idx.survivorParts(Seq.empty, Seq(
        org.apache.spark.sql.catalyst.expressions.EqualTo(
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "n", org.apache.spark.sql.types.LongType)(),
          org.apache.spark.sql.catalyst.expressions.Literal(2L))))
      assert(selPruned.valuesIterator.map(_.size).sum === 1,
        s"stats pruning over the payload left ${selPruned.size} parts")
      // metadata-only counts aggregate the payload distributedly
      val counts = TxLog.partitionCounts(spark, root)
      assert(counts("real") === Some(3L) && counts.size === 1001)
    }
  }

  test("deletion vectors on a parquet-checkpointed table: dv commits, " +
      "payload folding, counts, materialization") {
    withTinyThreshold {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val root = freshRoot("dv")
      TxLog.appendBatchTx(
        Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0),
            ("b", 4L, 40.0)).toDF("part", "k", "v"),
        root, "part", "bigdv-b1")
      // cross to a parquet checkpoint BEFORE any vector exists
      TxLog.checkpoint(spark, root)
      intercept[RuntimeException] { TxLog.snapshot(spark, root) } // payload
      // a dv delete lands as a post-checkpoint override
      val (_, n1) = TxLog.deleteWhereDvTx(spark, root, col("k") === 1L)
      assert(n1 === 1L)
      assert(TxLog.readTable(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet === Set(2L, 3L, 4L))
      assert(TxLog.countRows(spark, root) === Some(3L))
      // the next checkpoint folds the vector INTO the payload columns
      TxLog.checkpoint(spark, root)
      TxLog.expireLog(spark, root)
      assert(TxLog.readTable(spark, root).count() === 3L)
      assert(TxLog.countRows(spark, root) === Some(3L))
      // a SECOND dv delete on the same file: cumulative over the
      // payload-recorded vector
      val (_, n2) = TxLog.deleteWhereDvTx(spark, root, col("k") === 2L)
      assert(n2 === 1L)
      assert(TxLog.countRows(spark, root) === Some(2L))
      assert(TxLog.readTable(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet === Set(3L, 4L))
      // a keyed MERGE over a dv'd candidate reads dv-filtered and the
      // rewrite materializes that file's vector away
      TxLog.mergeKeyedTx(spark, root,
        Seq(("b", 3L, 33.0)).toDF("part", "k", "v"), "k")
      assert(TxLog.readTable(spark, root)
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v"))
        .toMap === Map(3L -> 33.0, 4L -> 40.0))
      // the fully-dv-deleted partition materializes away through a
      // rewrite delete (copy-on-write handles the empty remainder;
      // its dv entry dies with the file)
      val (_, rewritten) = TxLog.deleteWhereTx(spark, root,
        col("part") === "a")
      assert(rewritten === 1)
      assert(TxLog.readTable(spark, root).count() === 2L)
      assert(TxLog.countRows(spark, root) === Some(2L))
      // vacuum keeps live sidecars, reclaims superseded ones
      assert(TxLog.vacuum(spark, root, minAgeMs = 0L) >= 0)
      assert(TxLog.readTable(spark, root).count() === 2L)
    }
  }

  test("bounded checkpoint header: above the value cap the header is " +
      "O(1) and every consumer derives values payload-side") {
    withTinyThreshold {
      val root = freshRoot("novals")
      import spark.implicits._
      spark.conf.set("graft.txlog.chkMaxHeaderValues", "3")
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        // 6 partitions > cap 3 → the header must omit the value list
        TxLog.appendBatchTx(
          kv("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4, "e" -> 5, "f" -> 6),
          root, "part", "nv-b1")
        assert(TxLog.checkpoint(spark, root) === 1L)
        val chkTxt = {
          val dir = new org.apache.hadoop.fs.Path(root, "_txlog")
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val n = fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.endsWith(".chk")).head
          val in = fs.open(n)
          try scala.io.Source.fromInputStream(in).mkString finally in.close()
        }
        assert(chkTxt.contains("novals=1") &&
          !chkTxt.linesIterator.exists(_.startsWith("v\t")), chkTxt)
        // reads + partition pruning keep working (the payload's partv
        // column drives pruning, never the header)
        assert(TxLog.readTable(spark, root).count() === 6L)
        assert(filesRead(TxLog.readTable(spark, root)
          .filter(col("part") === "c")) === 1L)
        // explicit enumeration derives from the payload
        assert(TxLog.partitionValues(spark, root) ===
          Set("a", "b", "c", "d", "e", "f"))
        // emptiness-dependent front doors keep working
        TxLog.mergeKeyedTx(spark, root,
          Seq(("c", 3L)).toDF("part", "n"), "part")
        assert(TxLog.readTable(spark, root).count() === 6L)
        // DESCRIBE DETAIL's partition count is payload-derived
        val det = TxLog.tableDetail(spark, root).head
        assert(det.getAs[Long]("n_partitions") === 6L)
        // a concurrent-writer conflict on ONE partition still detects:
        // the conflict protocol never needed the header's value set
        val v0 = TxLog.currentVersion(spark, root)
        TxLog.appendBatchTx(kv("c" -> 30), root, "part", "nv-race")
        intercept[TxLog.ConcurrentWriteException] {
          TxLog.commit(spark, root,
            TxLog.stage(kv("c" -> 31), root, Seq("part"), Nil, 0),
            "append", readVersion = v0, conflictCheck = true)
        }
        // a FULL overwrite with a changed schema passes the payload-side
        // cover test (the fullReplace predicate without a header set)
        TxLog.commit(spark, root,
          TxLog.stage(
            Seq(("a", "x"), ("b", "x"), ("c", "x"), ("d", "x"),
                ("e", "x"), ("f", "x")).toDF("part", "s"),
            root, Seq("part"), Nil, 0),
          "overwrite", readVersion = 0L)
        assert(TxLog.readTable(spark, root).columns.toSet ===
          Set("part", "s"))
        // retention by predicate still works payload-side
        assert(TxLog.dropPartitionsWhereTx(spark, root,
          keep = v => v <= "c") === 3)
        assert(TxLog.partitionValues(spark, root) === Set("a", "b", "c"))
        // and the NEXT checkpoint (small again) re-records the values
        assert(TxLog.checkpoint(spark, root) > 1L)
        assert(TxLog.readTable(spark, root).count() === 3L)
      } finally {
        spark.conf.unset("graft.txlog.chkMaxHeaderValues")
        spark.conf.unset("graft.txlog.autoCheckpointEvery")
      }
    }
  }

  test("a 100k-PARTITION inventory re-checkpoints with an O(1) header; " +
      "conflicts still detect and selective reads still prune") {
    withTinyThreshold {
      val root = freshRoot("hundredk-parts")
      import spark.implicits._
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        TxLog.appendBatchTx(
          Seq(("real", 1L), ("real", 2L)).toDF("part", "n"),
          root, "part", "hp1")
        assert(TxLog.checkpoint(spark, root) === 1L)
        // grow the inventory to >100k PARTITIONS (one synthetic file
        // each — the payload parquet IS the format contract, so these
        // rows are exactly what a 100k-partition checkpoint would have
        // written; their files never open: everything prunes them)
        val logDir = new org.apache.hadoop.fs.Path(root, "_txlog")
        val fs = logDir.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val payloadDir = fs.listStatus(logDir)
          .map(_.getPath).find(_.getName.endsWith(".chkpq")).get
        spark.range(100000).select(
          concat(lit("s"), col("id")).as("part"),
          concat(lit("data/fake/f"), col("id"), lit(".parquet")).as("file"),
          lit(1000L).as("size"), lit(0L).as("mtime"), lit(10L).as("rows"),
          map(lit("n"), struct(
            (col("id") * 100 + 1000000).cast("string").as("mn"),
            (col("id") * 100 + 1000050).cast("string").as("mx")))
            .as("stats"))
          .coalesce(4).write.mode("append").parquet(payloadDir.toString)
        // a delta commit, then the fold: the re-checkpoint sees 100k+1
        // distinct values — above the default header cap — and must
        // write an O(1) header (novals), never an O(partitions) one
        TxLog.appendBatchTx(Seq(("real", 3L)).toDF("part", "n"),
          root, "part", "hp2")
        assert(TxLog.checkpoint(spark, root) === 2L)
        val chkTxt = {
          val n = fs.listStatus(logDir).map(_.getPath)
            .filter(_.getName == f"c${2L}%020d.chk").head
          val in = fs.open(n)
          try scala.io.Source.fromInputStream(in).mkString
          finally in.close()
        }
        assert(chkTxt.contains("novals=1") &&
          !chkTxt.linesIterator.exists(_.startsWith("v\t")), chkTxt.take(400))
        assert(chkTxt.length < 4096,
          s"header must be O(1), got ${chkTxt.length} bytes")
        // selective reads keep pruning through the payload scan
        val probe = TxLog.readTable(spark, root)
          .filter(col("part") === "real")
        assert(probe.select("n").collect().map(_.getLong(0)).toSet ===
          Set(1L, 2L, 3L))
        assert(filesRead(probe) <= 2L)
        // a concurrent-writer conflict on ONE partition still detects
        val v0 = TxLog.currentVersion(spark, root)
        TxLog.appendBatchTx(Seq(("real", 4L)).toDF("part", "n"),
          root, "part", "hp3")
        intercept[TxLog.ConcurrentWriteException] {
          TxLog.commit(spark, root,
            TxLog.stage(Seq(("real", 5L)).toDF("part", "n"), root,
              Seq("part"), Nil, 0),
            "append", readVersion = v0, conflictCheck = true)
        }
        // front doors relying on emptiness probes keep working
        TxLog.mergeKeyedTx(spark, root,
          Seq(("real", 4L)).toDF("part", "n"), "n")
        assert(TxLog.readTable(spark, root)
          .filter(col("part") === "real").count() === 4L)
      } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("streaming window over a payload RESTORE (skipNonAppend): " +
      "restored-away appends drop, re-referenced ones survive — decided " +
      "by the restore payload, not guesswork") {
    withTinyThreshold {
      val root = freshRoot("stream-over-restore")
      import spark.implicits._
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root,
          "part", "sor-b1")                                          // v1
        assert(TxLog.checkpoint(spark, root) === 1L) // cross to payload
        TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root,
          "part", "sor-b2")                                          // v2
        TxLog.appendBatchTx(Seq(("c", 3L)).toDF("part", "k"), root,
          "part", "sor-b3")                                          // v3
        // payload restore to v2: b survives, c is restored away
        assert(TxLog.restoreTx(spark, root, 2L) === 4L)              // v4
        TxLog.appendBatchTx(Seq(("d", 4L)).toDF("part", "k"), root,
          "part", "sor-b4")                                          // v5
        // the incremental window (1, 5]: b (re-referenced by the
        // restore's payload) and d (post-restore) stream; c must not
        val (changes, v) = TxLog.readChangesSince(spark, root, 1L,
          skipNonAppend = true)
        assert(v === 5L)
        assert(changes.get.select("k").collect().map(_.getLong(0)).toSet
          === Set(2L, 4L))
      } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("a payload RESTORE conflicts with every snapshot-derived writer " +
      "that read before it — empty commit parts notwithstanding") {
    withTinyThreshold {
      val root = freshRoot("restore-conflicts")
      import spark.implicits._
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root,
          "part", "rc-b1")                                           // v1
        assert(TxLog.checkpoint(spark, root) === 1L)
        TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root,
          "part", "rc-b2")                                           // v2
        val v0 = TxLog.currentVersion(spark, root)
        // a writer stages from the v2 snapshot...
        val staged = TxLog.stage(Seq(("a", 9L)).toDF("part", "k"), root,
          Seq("part"), Nil, 0)
        // ...a payload restore resets the table to v1...
        assert(TxLog.restoreTx(spark, root, 1L) === 3L)
        // ...and the stale writer MUST conflict, even though the restore
        // commit itself carries no parts (its payload bakes in the table)
        intercept[TxLog.ConcurrentWriteException] {
          TxLog.commit(spark, root, staged, "overwrite",
            readVersion = v0, conflictCheck = true)
        }
        assert(TxLog.readTable(spark, root).select("k")
          .collect().map(_.getLong(0)).toSet === Set(1L))
      } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("payload RESTORE races a concurrent writer: some serialized " +
      "order wins, the log stays readable, nothing is lost silently") {
    withTinyThreshold {
      val root = freshRoot("restore-race-thread")
      import spark.implicits._
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        TxLog.appendBatchTx(Seq(("a", 1L)).toDF("part", "k"), root,
          "part", "rrt-b1")                                          // v1
        assert(TxLog.checkpoint(spark, root) === 1L) // cross to payload
        TxLog.appendBatchTx(Seq(("b", 2L)).toDF("part", "k"), root,
          "part", "rrt-b2")                                          // v2
        // a REAL race: restore-to-v1 vs a third append
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val restoreF = pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = TxLog.restoreTx(spark, root, 1L)
          })
        val appendF = pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = TxLog.appendBatchTx(
              Seq(("c", 3L)).toDF("part", "k"), root, "part", "rrt-b3")
          })
        val (rv, av) = (restoreF.get(), appendF.get())
        pool.shutdown()
        assert(rv != av, "the two commits must serialize to distinct versions")
        // both serialized orders are legal; the FINAL state must equal
        // whichever committed last applied to the other's result
        val ks = TxLog.readTable(spark, root).select("k")
          .collect().map(_.getLong(0)).toSet
        if (rv > av) assert(ks === Set(1L),
          s"restore committed last → v1 content only, got $ks")
        else assert(ks === Set(1L, 3L),
          s"append committed last → v1 content + the append, got $ks")
        // the log keeps folding and maintaining after the race
        assert(TxLog.checkpoint(spark, root) === math.max(rv, av))
        assert(TxLog.readTable(spark, root).select("k")
          .collect().map(_.getLong(0)).toSet === ks)
      } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("payload-table RESTORE: a parts-free commit with a payload " +
      "pointer reinstates data, schema, mapping and deletion vectors " +
      "without driver-materializing the file list") {
    withTinyThreshold {
      val root = freshRoot("restore")
      import spark.implicits._
      spark.conf.set("graft.txlog.autoCheckpointEvery", "0")
      try {
        TxLog.appendBatchTx(
          Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0))
            .toDF("part", "k", "v"), root, "part", "pr-b1")          // v1
        assert(TxLog.checkpoint(spark, root) === 1L) // crosses to payload
        val (_, nDel) = TxLog.deleteWhereDvTx(spark, root,
          col("k") === 2L)                                           // v2
        assert(nDel === 1L)
        TxLog.renameColumnTx(spark, root, "v", "amount")             // v3
        TxLog.mergeKeyedTx(spark, root,
          Seq(("a", 1L, 99.0)).toDF("part", "k", "amount"), "k")     // v4
        TxLog.appendBatchTx(Seq(("c", 5L, 50.0))
          .toDF("part", "k", "amount"), root, "part", "pr-b2")       // v5
        // restore to v2: pre-rename schema, dv state of v2, no merge, no c
        val rv = TxLog.restoreTx(spark, root, 2L)                    // v6
        assert(rv === 6L)
        val df = TxLog.readTable(spark, root)
        assert(df.columns.toSet === Set("part", "k", "v"))
        assert(df.select("k", "v").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
          Map(1L -> 10.0, 3L -> 30.0)) // k=2's dv delete reinstated
        assert(TxLog.countRows(spark, root) === Some(2L))
        // in-between history still time-travels (restore deletes nothing;
        // v5 = k1 merged to 99, k2 dv-deleted, k3, plus c's k5 → 3 rows)
        assert(TxLog.readTableAt(spark, root, 5L).count() === 3L)
        // writes continue after the restore, and so does maintenance
        TxLog.appendBatchTx(Seq(("d", 7L, 70.0)).toDF("part", "k", "v"),
          root, "part", "pr-b3")                                     // v7
        assert(TxLog.readTable(spark, root).count() === 3L)
        assert(TxLog.checkpoint(spark, root) === 7L)
        assert(TxLog.readTable(spark, root).count() === 3L)
        // restoring below the checkpoint floor refuses loudly
        val errFloor = intercept[Exception] {
          TxLog.restoreTx(spark, root, 1L)
        }
        assert(errFloor.getMessage.contains("predates the latest parquet"),
          errFloor.getMessage)
        // vacuum reclaims the undone merge/append files; a restore whose
        // target files are vacuumed refuses via the DISTRIBUTED probe
        assert(TxLog.vacuum(spark, root, minAgeMs = 0L) > 0)
        assert(TxLog.expireLog(spark, root) > 0)
        assert(TxLog.readTable(spark, root).count() === 3L)
      } finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }
}
