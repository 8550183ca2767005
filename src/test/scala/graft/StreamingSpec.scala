package graft

import graft.streaming.Events
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** ST1: the streaming surface computes the same answers as batch — the same
  * windowed-agg plan is run over a MemoryStream and over the identical rows
  * as a batch DataFrame, and the results must match (SURVEY §2.10 plan). */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 00:10:00"), "click", 1.0, 100L, 1L),
    (ts("2024-01-01 05:00:00"), "click", 2.0, 100L, 2L),
    (ts("2024-01-01 09:30:00"), "view",  3.0, 101L, 3L),
    (ts("2024-01-02 00:00:01"), "click", 4.0, 101L, 4L),
    (ts("2024-01-02 12:00:00"), "view",  5.0, 100L, 5L)
  )

  test("windowedTypeCounts: streaming result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    val q = Events.toMemorySink(
      Events.windowedTypeCounts(streamDf, "1 day", "1 hour"), "stream_counts").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_counts")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = Events.windowedTypeCounts(
          rows.toDF("ts", "event_type", "value", "user_id", "event_id"), "1 day", "1 hour")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("windowedUserActivity runs on a stream with watermark state bounds") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    val q = Events.toMemorySink(
      Events.windowedUserActivity(streamDf, "1 hour", "1 hour"), "stream_user").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("stream_user").collect()
      assert(got.length == 5)  // each event in its own (hour, user) cell here
      assert(got.forall(_.getAs[Long]("total_events") == 1L))
    } finally q.stop()
  }

  test("parquet sink: watermark-closed windows are appended exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test/stream_sink"
    val cp  = s"$dir-cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    val q = Events.toParquetSink(
      Events.windowedTypeCounts(streamDf, "1 day", "1 hour"), dir, cp).start()
    try {
      mem.addData(rows.take(3): _*)       // all in day 1 window (+ one 09:30)
      q.processAllAvailable()
      // advance event time far past day-1 + watermark -> closes day-1 window
      mem.addData((ts("2024-01-05 00:00:00"), "click", 9.0, 102L, 9L))
      q.processAllAvailable()
      val written = spark.read.parquet(dir)
      val day1 = written.filter(col("window_start") === ts("2024-01-01 00:00:00"))
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("events")).toMap
      assert(day1 == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("parquet sink survives a restart from checkpoint without duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test/restart_sink_${System.nanoTime}"
    val cp  = s"$dir-cp"
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    def start() = Events.toParquetSink(
      Events.windowedTypeCounts(streamDf, "1 day", "1 hour"), dir, cp).start()

    val q1 = start()
    try {
      mem.addData(rows.take(3): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // second incarnation resumes from the checkpoint: day-1 state is
    // recovered, the window closes when the watermark passes, and the
    // already-committed offsets are not re-emitted
    val q2 = start()
    try {
      mem.addData((ts("2024-01-05 00:00:00"), "click", 9.0, 102L, 9L))
      q2.processAllAvailable()
      val day1 = spark.read.parquet(dir)
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("events")).toMap
      assert(day1 == Map("click" -> 2L, "view" -> 1L))  // exactly once, post-restart
    } finally q2.stop()
  }

  test("session_window: stream equals batch on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val sess = Seq(
      (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L),
      (ts("2024-01-01 12:00:00"), 1L),   // new session after 110-min gap
      (ts("2024-01-01 10:05:00"), 2L)
    )
    val mem = MemoryStream[(Timestamp, Long)]
    val streamDf = mem.toDF().toDF("ts", "user_id")
    val q = graft.streaming.Sessionize.sessionWindows(streamDf).writeStream
      .format("memory").queryName("sessions_stream").outputMode("complete").start()
    try {
      mem.addData(sess: _*)
      q.processAllAvailable()
      val streamed = spark.table("sessions_stream")
        .orderBy("user_id", "session_start").collect().toSeq
      val batch = graft.streaming.Sessionize.sessionWindows(
          sess.toDF("ts", "user_id"))
        .orderBy("user_id", "session_start").collect().toSeq
      assert(streamed == batch)
      assert(batch.length == 3)  // user1 x2 sessions, user2 x1
      assert(batch.head.getAs[Long]("events") == 2L)
    } finally q.stop()
  }

  test("sessionsWithState: event-time timeout closes sessions (custom state)") {
    import graft.streaming.Sessionize
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Sessionize.Click]
    val q = Sessionize.sessionsWithState(mem.toDS(), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("state_sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        Sessionize.Click(1L, ts("2024-01-01 10:00:00")),
        Sessionize.Click(1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // jump event time far ahead: watermark passes 10:10+gap -> timeout fires
      mem.addData(Sessionize.Click(2L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData(Sessionize.Click(3L, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      val closed = spark.table("state_sessions").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Timestamp]("session_start"), r.getAs[Int]("events"))).toMap
      assert(closed.contains(1L))
      assert(closed(1L)._1 == ts("2024-01-01 10:00:00"))
      assert(closed(1L)._2 == 2)
    } finally q.stop()
  }

  test("toUpsertSink: existing keys win across micro-batches; idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val table = "graft_test_stream_upsert"
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-test/upsert_ckpt_${System.nanoTime}"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val mem = MemoryStream[(Long, String)]
    val q = Events.toUpsertSink(mem.toDF().toDF("k", "v"), table, Seq("k"), ckpt).start()
    try {
      mem.addData(1L -> "a1", 2L -> "a2")
      q.processAllAvailable()
      // key 2 conflicts: the existing row must win (ON CONFLICT DO NOTHING)
      mem.addData(2L -> "b2", 3L -> "b3")
      q.processAllAvailable()
      val got = spark.table(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a1", 2L -> "a2", 3L -> "b3"))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("attributionJoin: stream-stream result equals batch result; window enforced") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      (100L, ts("2024-01-01 10:00:00"), "view"),
      (100L, ts("2024-01-01 12:00:00"), "click"),
      (200L, ts("2024-01-01 10:00:00"), "view"))
    val purchases = Seq(
      (100L, ts("2024-01-01 10:10:00"), 50.0),  // within 30 min of 10:00 view
      (100L, ts("2024-01-01 11:00:00"), 60.0),  // no click within 30 min
      (200L, ts("2024-01-01 10:40:00"), 70.0))  // outside 30 min of 10:00
    val memC = MemoryStream[(Long, Timestamp, String)]
    val memP = MemoryStream[(Long, Timestamp, Double)]
    val joined = Events.attributionJoin(
      memC.toDF().toDF("user_id", "ts", "event_type"),
      memP.toDF().toDF("user_id", "ts", "amount"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      memC.addData(clicks: _*)
      memP.addData(purchases: _*)
      q.processAllAvailable()
      val streamed = spark.table("attrib")
        .orderBy("user_id", "purchase_ts").collect().toSeq
      val batch = Events.attributionJoin(
          clicks.toDF("user_id", "ts", "event_type"),
          purchases.toDF("user_id", "ts", "amount"))
        .orderBy("user_id", "purchase_ts").collect().toSeq
      assert(streamed == batch)
      assert(batch.length == 1)   // only the 10:10 purchase attributes
      assert(batch.head.getAs[Double]("amount") == 50.0)
    } finally q.stop()
  }

  test("stream-static enrichment join equals batch; dim stays broadcast per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((100L, "gold"), (101L, "silver")).toDF("d_user", "segment")
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    // stream-static join: the static side is re-resolved per micro-batch —
    // the standard dimension-enrichment shape (no state store involved)
    def enrich(df: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(dim), df("user_id") === dim("d_user"), "left")
        .select(col("event_id"), col("user_id"), coalesce(col("segment"), lit("none")).as("segment"))
    val q = enrich(streamDf).writeStream.format("memory")
      .queryName("stream_enriched").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_enriched").orderBy("event_id").collect().toSeq
      val batch = enrich(rows.toDF("ts", "event_type", "value", "user_id", "event_id"))
        .orderBy("event_id").collect().toSeq
      assert(streamed == batch && streamed.size == rows.size)
      assert(streamed.forall(_.getString(2) != null))
    } finally q.stop()
  }

  test("toJdbcUpsertSink lands micro-batches in Derby idempotently") {
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.system.home",
      s"${System.getProperty("java.io.tmpdir")}/graft-test/derby")
    val url = "jdbc:derby:memory:graftstream;create=true"
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val df = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-test/jdbc_sink_ckpt_${System.nanoTime}"
    val q = Events.toJdbcUpsertSink(
      df.select("event_id", "event_type", "value"), url, "landed",
      keys = Seq("event_id"), checkpoint = ckpt).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // second batch: 2 replayed keys + 1 new — replays must not duplicate
      mem.addData(rows.take(2) :+ ((ts("2024-01-03 00:00:00"), "view", 9.0, 102L, 6L)): _*)
      q.processAllAvailable()
      val landed = graft.sources.Jdbc.read(spark, url, "landed")
      assert(landed.count() == rows.size + 1)
      assert(landed.select("event_id").distinct().count() == rows.size + 1)
    } finally q.stop()
  }

  test("toTxLogSink lands micro-batches exactly once through the commit " +
      "ledger and coexists with a concurrent batch writer") {
    import graft.sources.TxLog
    implicit val sqlCtx = spark.sqlContext
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txlog/stream_sink"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "event_type", "value")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-test/txsink_ckpt_${System.nanoTime}"
    val q = Events.toTxLogSink(df, root, "event_type", ckpt).start()
    try {
      mem.addData((1L, "click", 1.0), (2L, "view", 2.0))
      q.processAllAvailable()
      mem.addData((3L, "click", 3.0))
      q.processAllAvailable()
      // at-least-once replay of epoch 0: the ledger makes it a no-op
      val replay = Seq((99L, "click", 9999.0)).toDF("event_id", "event_type", "value")
      val v = TxLog.appendBatchTx(replay, root, "event_type", "epoch-0")
      assert(v === 1L) // the ORIGINAL epoch-0 commit's version
      // a concurrent batch writer on another partition coexists
      TxLog.overwritePartitionsTx(
        Seq((50L, "purchase", 5.0)).toDF("event_id", "event_type", "value"),
        root, "event_type")
      val got = TxLog.readTable(spark, root)
        .collect().map(r => r.getAs[Long]("event_id")).toSet
      assert(got === Set(1L, 2L, 3L, 50L)) // no poison row, nothing lost
    } finally q.stop()
  }

  test("txlog streaming source: micro-batches follow the commit log, " +
      "restart resumes at the checkpointed version, rewrites refuse " +
      "unless skipped") {
    import graft.sources.TxLog
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-test/txsrc_${System.nanoTime}"
    val root = s"$tmp/table"; val ckpt = s"$tmp/ckpt"; val out = s"$tmp/out"
    import spark.implicits._
    def batch(id: String, rows: (String, Long)*) =
      TxLog.appendBatchTx(rows.toSeq.toDF("part", "n"), root, "part", id)
    batch("s1", "a" -> 1L, "b" -> 2L)
    def drainOnce(opts: Map[String, String] = Map.empty): Unit = {
      val q = spark.readStream.format("txlog").options(opts).load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    drainOnce()
    assert(spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("part") -> r.getAs[Long]("n")).toSet
      === Set("a" -> 1L, "b" -> 2L))
    // two more commits land; a COLD restart from the checkpoint reads
    // EXACTLY the new window (offsets are log versions)
    batch("s2", "a" -> 10L)
    batch("s3", "c" -> 100L)
    drainOnce()
    assert(spark.read.parquet(out).agg(sum("n")).head.getLong(0) === 113L)
    assert(spark.read.parquet(out).count() === 4L,
      "restart re-read an already-streamed window")
    // a rewrite commit cannot stream as appends: the source refuses...
    TxLog.deleteWhereTx(spark, root, col("n") === 1L)
    val ex = intercept[Exception] { drainOnce() }
    assert(ex.getMessage != null)
    // ...unless rewrites are reconciled out of band (skipNonAppend), in
    // which case later appends still flow and the skipped rewrite's
    // effect never duplicates rows
    batch("s4", "b" -> 1000L)
    drainOnce(Map("skipNonAppend" -> "true"))
    assert(spark.read.parquet(out).agg(sum("n")).head.getLong(0) === 1113L)
    assert(spark.read.parquet(out).count() === 5L)
    // a fresh checkpoint with startingVersion skips history
    val ckpt2 = s"$tmp/ckpt2"; val out2 = s"$tmp/out2"
    val q2 = spark.readStream.format("txlog")
      .option("startingVersion", "4").load(root)
      .writeStream.option("checkpointLocation", ckpt2)
      .format("parquet").option("path", out2).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out2).collect()
      .map(_.getAs[Long]("n")).toSet === Set(1000L),
      "startingVersion=4 must stream only the post-v4 append window")
  }

  test("engine restart: a crash after the downstream tx commit but before " +
      "the checkpoint commit replays the epoch on a COLD query; the " +
      "ledger absorbs it (no dup, no loss)") {
    import graft.sources.TxLog
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-test/restart_${System.nanoTime}"
    val srcDir = s"$tmp/src"; val root = s"$tmp/table"; val ckpt = s"$tmp/ckpt"
    new java.io.File(srcDir).mkdirs()
    import spark.implicits._
    def emit(i: Int, rows: Seq[(Long, String, Double)]): Unit = {
      val staged = s"$tmp/b$i"
      rows.toDF("event_id", "event_type", "value")
        .coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"b$i.parquet").toPath): Unit
    }
    emit(0, Seq((1L, "click", 1.0), (2L, "view", 2.0)))
    val schema = spark.read.parquet(srcDir).schema
    // each run is a BRAND-NEW query instance resumed from the checkpoint
    // dir — the engine-restart surface (all recovery state is the
    // checkpoint's offsets/commits plus the downstream ledger)
    def runOnce(): Unit = {
      val q = Events.toTxLogSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir), root, "event_type", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // epoch 0
    emit(1, Seq((3L, "click", 3.0)))
    runOnce() // a clean restart picks up epoch 1
    // the crash window: downstream COMMITTED epoch 1, but the engine died
    // before recording the checkpoint commit — on restart Spark replays
    // epoch 1 under the SAME id, which the tx ledger must absorb
    val marker = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.exists(marker), "test setup: expected commit marker commits/1")
    // hadoop delete clears the checksum sidecar too — a stale .crc would
    // make the replayed epoch's commit write throw FileAlreadyExists
    assert(mfs.delete(marker, false))
    emit(2, Seq((4L, "view", 4.0)))
    runOnce() // restart: replays epoch 1 (no-op), then lands epoch 2
    val got = TxLog.readTable(spark, root)
      .collect().map(r => r.getAs[Long]("event_id")).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L),
      s"restart replay duplicated or lost rows: ${got.mkString(",")}")
    // exactly 3 data-bearing commits: the replay never landed
    assert(TxLog.snapshot(spark, root).version === 3L)
  }

  test("engine restart: the JDBC staged-commit ledger absorbs a replayed " +
      "epoch across a cold query restart") {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-test/jrestart_${System.nanoTime}"
    val srcDir = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
    new java.io.File(srcDir).mkdirs()
    System.setProperty("derby.system.home", s"$tmp/derby")
    val url = s"jdbc:derby:memory:jrestart_${System.nanoTime};create=true"
    import spark.implicits._
    def emit(i: Int, rows: Seq[(Long, String, Double)]): Unit = {
      val staged = s"$tmp/b$i"
      rows.toDF("event_id", "event_type", "value")
        .coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"b$i.parquet").toPath): Unit
    }
    emit(0, Seq((1L, "click", 1.0)))
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = {
      val q = Events.toJdbcExactlyOnceSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir), url, "jrestart", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    emit(1, Seq((2L, "view", 2.0)))
    runOnce()
    val marker = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.exists(marker) && mfs.delete(marker, false))
    emit(2, Seq((3L, "click", 3.0)))
    runOnce() // replays epoch 1 against the ledger, lands epoch 2
    val landed = graft.sources.Jdbc.read(spark, url, "jrestart")
    assert(landed.count() === 3L)
    assert(landed.select("event_id").distinct().count() === 3L,
      "replayed epoch double-landed through the JDBC ledger")
    assert(graft.sources.Jdbc.read(spark, url, "jrestart_commits")
      .count() === 3L)
  }

  test("toJdbcExactlyOnceSink: staged commit lands each batch exactly once") {
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.system.home",
      s"${System.getProperty("java.io.tmpdir")}/graft-test/derby")
    val url = "jdbc:derby:memory:graftexactly;create=true"
    val mem = MemoryStream[(Timestamp, String, Double, Long, Long)]
    val df = mem.toDF().toDF("ts", "event_type", "value", "user_id", "event_id")
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft-test/eo_sink_ckpt_${System.nanoTime}"
    val q = Events.toJdbcExactlyOnceSink(
      df.select("event_id", "event_type", "value"), url, "exactly", ckpt).start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val landed = graft.sources.Jdbc.read(spark, url, "exactly")
      assert(landed.count() == rows.size)
      assert(landed.select("event_id").distinct().count() == rows.size)

      // replay of an already-committed epoch is a no-op: this is exactly
      // the sink's foreachBatch body re-run with a committed batch id
      assert(graft.sources.Jdbc.isBatchCommitted(url, "exactly_commits", 0L))
      assert(graft.sources.Jdbc.isBatchCommitted(url, "exactly_commits", 1L))
      assert(!graft.sources.Jdbc.isBatchCommitted(url, "exactly_commits", 2L))

      // atomicity: a commit that fails mid-transaction (bad staging table)
      // leaves BOTH the target and the ledger untouched
      intercept[Exception] {
        graft.sources.Jdbc.commitStaged(url, "exactly", "no_such_staging",
          "exactly_commits", 99L)
      }
      assert(graft.sources.Jdbc.read(spark, url, "exactly").count() == rows.size)
      assert(!graft.sources.Jdbc.isBatchCommitted(url, "exactly_commits", 99L))

      // committed epochs drop their per-epoch staging tables afterwards
      assert(!graft.sources.Jdbc.tableExists(url, "exactly_stage_0"))
      assert(!graft.sources.Jdbc.tableExists(url, "exactly_stage_1"))

      // double-commit of the same epoch (a zombie re-staging epoch 1):
      // the ledger PRIMARY KEY rejects it and the transaction rolls
      // back — the target does not double-append
      graft.sources.Jdbc.write(
        spark.range(1).selectExpr("99999 AS event_id",
          "'zombie' AS event_type", "0.0 AS value"),
        url, "exactly_stage_1", org.apache.spark.sql.SaveMode.Overwrite)
      intercept[Exception] {
        graft.sources.Jdbc.commitStaged(url, "exactly", "exactly_stage_1",
          "exactly_commits", 1L)
      }
      assert(graft.sources.Jdbc.read(spark, url, "exactly").count() == rows.size)

      // the LIKE-wildcard trap: a table whose name matches the pattern
      // 'exactly_stage_1' with '_' as a wildcard must NOT satisfy the
      // existence probe for a differently-named table
      assert(graft.sources.Jdbc.tableExists(url, "exactly_stage_1"))
      assert(!graft.sources.Jdbc.tableExists(url, "exactlyXstageX1"))
    } finally q.stop()
  }

  test("Pii.scrub runs unchanged on a stream and matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = Seq(
      1L -> "mail me: a@b.co or dial 555-123-9999",
      2L -> "nothing sensitive here")
    val q = graft.llm.Pii.scrub(mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_stream").orderBy("doc_id").collect().toSeq
      val batch = graft.llm.Pii.scrub(docs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch && streamed.size == 2)
      assert(streamed.head.getAs[String]("redacted") == "mail me: [EMAIL] or dial [PHONE]")
    } finally q.stop()
  }

  test("hashedLinearScore runs unchanged on a stream and matches the batch result") {
    // the scorer is a stateless projection (per-row HOFs, no shuffle), so
    // the SAME plan builder serves batch scoring and a streaming ingest
    // filter — the quality-gate-at-ingest deployment shape
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = Seq(1L -> "the cat sat on the mat", 2L -> "zq zq zq zq")
    val q = graft.llm.Scoring.hashedLinearScore(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("score_stream")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("score_stream").orderBy("doc_id").collect().toSeq
      val batch = graft.llm.Scoring.hashedLinearScore(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch && streamed.size == 2)
    } finally q.stop()
  }

  test("dsirScore scores a stream against frozen models, matching batch") {
    // the deployment shape for importance-weighting at ingest: models are
    // FIT once on static target/raw corpora (dsirModels), frozen, and the
    // ingest stream is scored by the stateless projection (dsirScore is a
    // pure projection + one 1-row broadcast crossJoin, so the SAME plan
    // builder serves batch scoring and the stream)
    implicit val sqlCtx = spark.sqlContext
    val target = (1L to 10L).map(i => (i, "aa bb aa bb")).toDF("doc_id", "text")
    val rawFit = Seq((101L, "aa bb cc dd"), (102L, "zz qq zz ww"))
      .toDF("doc_id", "text")
    val models = graft.llm.Scoring.dsirModels(target, rawFit, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val incoming = Seq(201L -> "aa bb aa", 202L -> "zz qq pp", 203L -> "mm nn")
    val q = graft.llm.Scoring.dsirScore(
        mem.toDF().toDF("doc_id", "text"), models, "doc_id", "text")
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_stream").orderBy("doc_id").collect().toSeq
      val batch = graft.llm.Scoring.dsirScore(
          incoming.toDF("doc_id", "text"), models, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch && streamed.size == 3)
      // target-like beats alien on the frozen models, in the stream too
      assert(streamed.head.getAs[Double]("log_ratio") >
        streamed(1).getAs[Double]("log_ratio"))
    } finally q.stop()
  }

  test("gopherRules gates an ingest stream via foreachBatch, matching batch") {
    // gopherRules joins a projection with repetitionStats' per-doc
    // aggregations, so append-mode streaming proper can't host it; the
    // deployment shape is foreachBatch — each micro-batch is a static
    // frame and the SAME plan builder runs unchanged
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val good = "the quick brown fox jumps over a lazy dog and then " +
      (1 to 45).map(i => s"word$i").mkString(" ")
    val docs = Seq(1L -> good, 2L -> "zq zq", 3L -> ("#### " * 40 + good))
    val out = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        out ++= graft.llm.TextStats.gopherRules(b.toDF(), "doc_id", "text").collect()
        ()
      }.start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val streamed = out.sortBy(_.getAs[Long]("doc_id")).toSeq
      val batch = graft.llm.TextStats.gopherRules(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch && streamed.size == 3)
      assert(streamed.head.getAs[Boolean]("kept"))      // passes every rule
      assert(!streamed(1).getAs[Boolean]("kept"))       // too short, no stopwords
      assert(!streamed(2).getAs[Boolean]("kept"))       // symbol ratio over 0.1
    } finally q.stop()
  }

  test("removeSpansWith scrubs a stream against a frozen span model, matching batch") {
    // the dsirModels/dsirScore split applied to exact-substring dedup:
    // the duplicated-gram set is mined ONCE on a static reference corpus
    // (dupSpanModel), frozen, and each ingest micro-batch is rebuilt
    // against it in foreachBatch — reference boilerplate is stripped
    // from incoming docs without re-mining
    implicit val sqlCtx = spark.sqlContext
    val boiler = "this content is provided as is without warranty of any kind"
    val ref = Seq(
      (1L, s"alpha doc body $boiler"),
      (2L, s"$boiler beta doc body"),
      (3L, "gamma doc with its own unique text")).toDF("doc_id", "text")
    val model = graft.llm.TextStats.dupSpanModel(ref, "doc_id", "text",
      n = 8, minDocs = 2)
    val incoming = Seq(
      10L -> s"fresh unique document opening $boiler fresh unique closing words",
      11L -> "entirely novel text with no shared spans at all here")
    val mem = MemoryStream[(Long, String)]
    val out = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        out ++= graft.llm.TextStats.removeSpansWith(b.toDF(), model, "doc_id", "text")
          .collect()
        ()
      }.start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = out.sortBy(_.getAs[Long]("doc_id")).toSeq
      val batch = graft.llm.TextStats.removeSpansWith(
          incoming.toDF("doc_id", "text"), model, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch && streamed.size == 2)
      val scrubbed = streamed.head.getAs[String]("deduped_text")
      assert(!scrubbed.contains("without warranty"))    // boilerplate removed
      assert(scrubbed.startsWith("fresh unique document opening"))
      assert(streamed.head.getAs[Long]("removed_tokens") > 0)
      assert(streamed(1).getAs[Long]("removed_tokens") == 0)  // novel doc verbatim
    } finally q.stop()
  }

  test("dedupStream drops duplicate content keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val withHash = mem.toDF().toDF("ts", "text")
      .withColumn("text_hash", md5(col("text").cast("binary")))
    val q = Events.dedupStream(withHash, Seq("text_hash"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        ts("2024-01-01 10:00:00") -> "same doc",
        ts("2024-01-01 10:05:00") -> "same doc",     // dup within watermark
        ts("2024-01-01 10:10:00") -> "another doc")
      q.processAllAvailable()
      mem.addData(ts("2024-01-01 10:20:00") -> "same doc")  // dup, later batch
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").collect().map(_.getAs[String]("text")).toSeq
      assert(texts.sorted == Seq("another doc", "same doc"))
    } finally q.stop()
  }

  test("rate-source click stream is a valid streaming plan") {
    val s = graft.sources.Generator.clickStream(spark, rowsPerSecond = 10, seed = 1)
    assert(s.isStreaming)
    assert(s.columns.toSeq == Seq("event_id", "customer_id", "event_type", "ts"))
  }

  test("incrementalNearDedupe gates a stream of micro-batches against a frozen index == batch") {
    // the q139 deployment shape: the corpus LSH index freezes ONCE, then
    // each arriving micro-batch is gated by the same plan builder inside
    // foreachBatch (the scoring path ends in distinct + anti-join, so it
    // runs as a per-batch job, not an append-mode continuous plan). The
    // gate compares incoming docs to the FROZEN index only — no
    // cross-batch state — so stream output must equal the one-shot batch
    // gate over the union, regardless of how rows split across batches.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (1L, (1 to 40).map(i => s"alpha$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val index = graft.llm.Dedup.minhashBucketIndex(corpus, "doc_id", "text")
      .cache()  // frozen artifact: score every micro-batch off one build
    val b1 = Seq(
      10L -> (1 to 40).map(i => s"alpha$i").mkString(" "),  // exact dup of corpus 1
      11L -> "entirely novel content with its own vocabulary and phrasing today")
    val b2 = Seq(
      12L -> (1 to 40).map(i => s"beta$i").mkString(" "),   // exact dup of corpus 2
      13L -> "another fresh document about completely unrelated matters here")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got ++= graft.llm.Dedup.incrementalNearDedupe(index, df,
            "doc_id", "text", threshold = 0.7)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val batchKept = graft.llm.Dedup.incrementalNearDedupe(
          index, (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
          threshold = 0.7)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.toSet == batchKept && got.size == got.toSet.size)
      assert(got.toSet == Set(11L, 13L))  // dups dropped, novels kept
    } finally q.stop()
  }

  test("VectorIndex.ingest drains a vector stream via foreachBatch, matching one-shot") {
    // the q139 deployment shape on the VECTOR side: the stored index is
    // frozen once; each micro-batch runs the SAME ingest (frozen-centroid
    // assignment + frozen-bounds encode + partition append) unchanged —
    // after any micro-batching, the stored table equals the one-shot ingest
    import graft.llm.VectorIndex
    implicit val sqlCtx = spark.sqlContext
    graft.sources.Warehouse.ensureDatabase(spark, "graft_test")
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 10 < 8)
    val incoming = emb.filter($"vec_id" % 10 >= 8)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    VectorIndex.write(base, "label", "graft_test.vidx_stream")
    VectorIndex.write(base, "label", "graft_test.vidx_oneshot")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        VectorIndex.ingest(b.toDF(), "graft_test.vidx_stream")
        ()
      }.start()
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      VectorIndex.ingest(
        incoming.toSeq.toDF("vec_id", "embedding"), "graft_test.vidx_oneshot")
      def snap(t: String) = spark.table(t)
        .select("vec_id", "codes", "cell").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSeq
      val streamed = snap("graft_test.vidx_stream_vectors")
      val oneshot = snap("graft_test.vidx_oneshot_vectors")
      assert(streamed == oneshot && streamed.nonEmpty)
    } finally q.stop()
  }

  test("Cdc.applyToState drains a change stream via foreachBatch, matching one-shot") {
    // the CDC deployment shape: each micro-batch of the change feed is
    // folded into the running state with the SAME applyToState plan
    // (state pinned per batch — the iterative-lineage rule); after any
    // micro-batching the state equals the one-shot applyLog over the
    // whole feed, because applyToState(applyLog(a), b) == applyLog(a++b)
    // when the slices arrive in (ts, seq) order
    import graft.operators.Cdc
    implicit val sqlCtx = spark.sqlContext
    val keys = Seq("k"); val attrs = Seq("status", "price")
    val b1 = Seq(
      (1L, ts("2024-01-01 00:00:00"), 0, "I", "a", 10.0),
      (2L, ts("2024-01-01 00:00:00"), 1, "I", "b", 20.0),
      (2L, ts("2024-01-01 05:00:00"), 2, "U", "b2", 21.0))
    val b2 = Seq(
      (1L, ts("2024-01-02 00:00:00"), 3, "D", null.asInstanceOf[String], 0.0),
      (3L, ts("2024-01-02 01:00:00"), 4, "I", "c", 30.0),
      (2L, ts("2024-01-02 02:00:00"), 5, "U", "b3", 22.0))
    val cols = Seq("k", "ts", "seq", "op", "status", "price")
    var state: org.apache.spark.sql.DataFrame =
      Seq.empty[(Long, java.sql.Timestamp, String, Double)]
        .toDF("k", "ts", "status", "price")
        .select("k", "status", "price", "ts")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Int, String, String, Double)]
    val q = mem.toDF().toDF(cols: _*).writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        state = Cdc.applyToState(state, df.toDF(), keys, attrs).localCheckpoint()
        ()
      }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val oneShot = Cdc.applyLog((b1 ++ b2).toDF(cols: _*), keys, attrs)
      val got = state.select("k", "status", "price", "ts").collect().toSet
      assert(got == oneShot.select("k", "status", "price", "ts").collect().toSet)
      assert(got.map(_.getLong(0)) == Set(2L, 3L)) // 1 deleted in batch 2
    } finally q.stop()
  }

  test("Ivm rollup state maintained via foreachBatch equals one-shot, " +
      "sketches included") {
    // the q148/q152/q158 refresh loop as a STREAM: each micro-batch is
    // aggregated to its state and merged into the running state table;
    // after any batching the finalized rollup is bit-equal to the
    // one-shot rollup over all rows (decimal sums associative, min/max
    // semilattice, HLL register-max and histogram-count merges
    // slicing-invariant)
    import graft.operators.Ivm
    implicit val sqlCtx = spark.sqlContext
    val o = Tables.orders(spark, sf)
      .select($"o_orderpriority", $"o_totalprice", $"o_custkey")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val keys = Seq("o_orderpriority"); val sums = Seq("o_totalprice")
    val dc = Seq("o_custkey")
    val hc = Seq(Ivm.HistCol("o_totalprice", 0.0, 600000.0, 600))
    def fin(st: org.apache.spark.sql.DataFrame) =
      Ivm.finalizeState(st, keys, sums, avgCols = sums, distinctCols = dc,
          histCols = hc, histQuantiles = Seq(0.5))
        .orderBy("o_orderpriority").collect().toSeq
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[(String, Double, Long)]
    val q = mem.toDF().toDF("o_orderpriority", "o_totalprice", "o_custkey")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val slice = Ivm.rollupState(df.toDF(), keys, sums,
          distinctCols = dc, histCols = hc)
        state = Some((state match {
          case None => slice
          case Some(st) => Ivm.mergeStates(Seq(st, slice), keys, sums,
            distinctCols = dc, histCols = hc)
        }).localCheckpoint())
        ()
      }.start()
    try {
      val (s1, rest) = o.splitAt(o.length / 3)
      val (s2, s3) = rest.splitAt(rest.length / 2)
      Seq(s1, s2, s3).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val oneShot = fin(Ivm.rollupState(
        o.toIndexedSeq.toDF("o_orderpriority", "o_totalprice", "o_custkey"),
        keys, sums, distinctCols = dc, histCols = hc))
      assert(fin(state.get) == oneShot)
    } finally q.stop()
  }

  test("Checks.withViolations gates an ingest stream via foreachBatch, " +
      "matching batch") {
    // the q166 quarantine routing as an ingest gate: the same rules run
    // unchanged per micro-batch (pure projection — no cross-batch state),
    // so stream verdicts must equal the one-shot batch verdicts
    import graft.operators.Checks
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(
      "present" -> col("ck").isNotNull,
      "non_negative" -> (col("price") >= 0))
    val rows = Seq(
      (1L, java.lang.Long.valueOf(1L), 5.0),
      (2L, null.asInstanceOf[java.lang.Long], 5.0),
      (3L, java.lang.Long.valueOf(3L), -1.0),
      (4L, java.lang.Long.valueOf(4L), 4.0))
    val mem = MemoryStream[(Long, java.lang.Long, Double)]
    val got = scala.collection.mutable.Map.empty[Long, String]
    val q = mem.toDF().toDF("k", "ck", "price").writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Checks.withViolations(df.toDF(), rules)
          .select("k", "failed_rules").collect()
          .foreach(r => got(r.getLong(0)) = r.getString(1))
        ()
      }.start()
    try {
      val (b1, b2) = rows.splitAt(2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val batch = Checks.withViolations(rows.toDF("k", "ck", "price"), rules)
        .select("k", "failed_rules").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.toMap == batch)
      assert(got(2L) == "present" && got(3L) == "non_negative" && got(1L) == "")
    } finally q.stop()
  }
}
