package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.queries._
import graft.sources.{TxLog, Warehouse}

/** What every operation can reach: the session, the read-only fixtures,
  * the run's scratch directory and the tracer. */
final case class Ctx(spark: SparkSession, data: String, work: String, tracer: Tracer)

/** One timed operation, as a caller sees it. `run` materializes the whole
  * result through its sink, timing its write and read phases in `Phases`,
  * and returns the result's fingerprint when the op has one to check
  * against `expect`; a `checked` op without an expectation fails. */
final case class Op(name: String, run: Phases => Option[Fingerprint],
                    expect: Option[Fingerprint] = None, checked: Boolean = false)

/** The time an op spent writing and reading; None for a phase it has not. */
final class Phases {
  var writeMs: Option[Double] = None
  var readMs: Option[Double] = None
  private def timed[T](body: => T)(add: Double => Unit): T = {
    val t = System.nanoTime()
    try body finally add((System.nanoTime() - t) / 1e6)
  }
  def write[T](body: => T): T = timed(body)(ms => writeMs = Some(writeMs.getOrElse(0.0) + ms))
  def read[T](body: => T): T = timed(body)(ms => readMs = Some(readMs.getOrElse(0.0) + ms))
}

trait Workload {
  /** Preparation of the workload's inputs, done once in every run's set-up. */
  def prepare(): Unit = ()
  /** One repetition of the table seeding done before the warm-up. */
  def seed(rep: Int): Unit
  /** The warm-up: the ops of a pass or two, untimed. */
  def warmup(): Seq[Op]
  def pass(): Seq[Op]
  /** Bookkeeping between passes, outside every op's timing. */
  def afterPass(i: Int): Unit = ()
  /** A mismatch of the final state against its model, if any. */
  def finalCheck(): Option[String] = None
  /** Drops what the benchmark itself holds, before the live heap is read. */
  def release(): Unit = ()
  def storageAmp(): Double
  /** Directories whose files count as this workload's storage. */
  def storageRoot: String
  def txRoot: Option[String] = None
  /** True once a run has done the least work that makes its figures
    * whole; the run goes on passing until this holds and --seconds are up. */
  def enough(passes: Int): Boolean
  /** False once the inputs cannot supply another whole pass. */
  def canPass: Boolean = true
}

object Workloads {
  val names = Seq("star_etl", "llm_curation", "tx_ingest")

  /** dim_* and fact_* tables of three of the reference's four DAGs:
    * customer (q12, q13, q14), sales (q05) and product (q06). Kept to five
    * so that a run fits its time budget at sf0.1 on 4 cores. */
  val starEtl = Seq(
    "q12_customer_dim", "q13_location_agg", "q14_customer_behavior",
    "q05_customer_ltv", "q06_product_performance")

  /** Near-duplicate detection (q43 MinHash-LSH, q44 SimHash), ANN search
    * (q46 exact top-k, q137 SQ8) and text statistics (q48): the codegen'd
    * TextExprs and VectorExprs kernels. Five, for the same budget. */
  val llmCuration = Seq(
    "q43_dedup_minhash_lsh", "q44_dedup_simhash", "q46_ann_brute_topk",
    "q137_ann_sq8", "q48_text_stats")

  lazy val defs: Map[String, QueryDef] =
    (SalesQueries.defs ++ ProductQueries.defs ++ CustomerQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ CurationQueries.defs ++
      SourceQueries.defs).map(d => d.name -> d).toMap

  def queries(workload: String): Seq[String] = workload match {
    case "star_etl" => starEtl
    case "llm_curation" => llmCuration
  }

  /** The fixture tables each query workload reads. */
  private def tables(workload: String): Seq[String] = workload match {
    case "star_etl" => Seq("customer", "nation", "region", "orders", "lineitem", "part")
    case "llm_curation" => Seq("documents", "embeddings")
  }

  def apply(name: String, ctx: Ctx, seed: Long,
            expected: Map[String, Fingerprint]): Workload = name match {
    case "tx_ingest" => new TxIngest(ctx, seed, s"${ctx.work}/tx_src")
    case q => new QueryWorkload(ctx, queries(q).map(defs), tables(q), seed, expected)
  }

  /** Regular files under a local directory with their sizes. Walked with
    * java.nio: Hadoop's local listing forks a process per file to read
    * permissions. */
  def localFiles(root: String): Seq[(java.nio.file.Path, Long)] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f -> java.nio.file.Files.size(f)).toList
      finally walk.close()
    }
  }
}

/** star_etl and llm_curation: each op builds one query, replaces its
  * warehouse table with the full result (the reference's
  * `to_sql(if_exists='replace')`, the write phase), then scans the table
  * back and fingerprints it (the read phase) against the recorded,
  * oracle-validated expectation. */
final class QueryWorkload(ctx: Ctx, defs: Seq[QueryDef], tables: Seq[String],
                          seedArg: Long, expected: Map[String, Fingerprint])
    extends Workload {
  import ctx._
  private val rnd = new Random(seedArg)
  def enough(passes: Int): Boolean = passes >= 1

  def storageRoot: String = new Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath

  private def ops(order: Seq[QueryDef]): Seq[Op] = order.map { d =>
    Op(d.name, ph => {
      ph.write {
        val df = tracer.span("queries", d.name)(d.fn(spark, data))
        tracer.span("sources.warehouse", "overwriteTable")(
          Warehouse.overwriteTable(df, d.name))
      }
      Some(ph.read(tracer.span("action", "fingerprint")(
        Fingerprint.of(spark.table(d.name)))))
    }, expected.get(d.name), checked = true)
  }

  // the extract step's schema work: the footers of the fixtures read
  def seed(rep: Int): Unit =
    tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  // three passes: op times still fall by 10-20% over the first three
  def warmup(): Seq[Op] = {
    val r = new Random(seedArg ^ 0x5eed)
    ops(defs) ++ ops(r.shuffle(defs)) ++ ops(r.shuffle(defs))
  }
  def pass(): Seq[Op] = ops(rnd.shuffle(defs))

  def storageAmp(): Double = {
    val files = Workloads.localFiles(storageRoot)
    files.map(_._2).sum.toDouble / files.collect { case (f, n)
      if f.getFileName.toString.startsWith("part-") &&
         f.getFileName.toString.endsWith(".parquet") => n }.sum
  }
}

/** tx_ingest: a seeded sequence of TxLog writes and reads on one table.
  * Batches are slices of lineitem, bucketed by a hash of the order key and
  * staged as parquet (the landing zone) in every run's set-up. A model of
  * the table is kept with plain DataFrame ops and compared with the final
  * table. */
final class TxIngest(ctx: Ctx, seedArg: Long, srcDir: String) extends Workload {
  import ctx._
  import TxIngest._
  private var measured: TxRun = _
  private var ampAt: Option[Double] = None

  /** Three passes are done and three auto-checkpoint cycles (one every 10
    * commits) are behind the measured table. */
  def enough(passes: Int): Boolean =
    passes >= AmpPass + 1 && measured.version >= 3L * TxLog.DefaultAutoCheckpointEvery

  def storageRoot: String = s"$work/tx_table"
  override def txRoot: Option[String] = Some(storageRoot)

  private def batch(b: Int): DataFrame =
    spark.read.parquet(s"$srcDir/b=$b").withColumn("b", lit(b)).select(Cols.map(col): _*)

  override def canPass: Boolean = measured == null || measured.freshLeft >= FreshPerPass

  /** Stages the buckets a run can land as the landing zone. Every run does
    * it, so set-up time never depends on what an earlier run left behind. */
  override def prepare(): Unit = {
    val bucket = pmod(xxhash64(col("l_orderkey")), lit(Buckets)).cast("int")
    graft.Tables.lineitem(spark, data)
      .select(
        // the bucket leads the key, so a bucket's rows sit in a narrow key
        // range and file statistics can skip the other buckets' files
        (bucket.cast("long") * KeySpan + col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
        bucket.as("b"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_discount").as("disc"), col("l_returnflag").as("flag"),
        year(col("l_shipdate")).cast("string").as("part"))
      .where(col("b") < StagedBuckets)
      .write.partitionBy("b").parquet(srcDir)
  }

  private def seedTable(root: String): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TxLog.appendBatchTx(spark.read.parquet(srcDir).where(col("b") < SeedBuckets)
      .select(Cols.map(col): _*), root, "part", "seed")
  }

  // reps 0 and 1 build the warm-up and the measured table, rep 2 a
  // throwaway copy
  def seed(rep: Int): Unit = {
    seedTable(Seq(s"$work/tx_warm", storageRoot, s"$work/tx_spare")(rep))
    if (rep == 2) {
      val p = new Path(s"$work/tx_spare")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def warmup(): Seq[Op] = new TxRun(s"$work/tx_warm", new Random(seedArg ^ 0x5eed)).pass()

  def pass(): Seq[Op] = {
    if (measured == null) measured = new TxRun(storageRoot, new Random(seedArg))
    measured.pass()
  }

  override def afterPass(i: Int): Unit = {
    measured.checkpointModel()
    if (i == AmpPass) ampAt = Some(amp())
  }

  private def amp(): Double = {
    val root = java.nio.file.Paths.get(storageRoot)
    val live = TxLog.snapshot(spark, storageRoot).parts.valuesIterator.flatten
      .map(f => root.resolve(f).normalize).toSet
    val files = Workloads.localFiles(storageRoot)
    files.map(_._2).sum.toDouble / files.collect { case (f, n) if live(f.normalize) => n }.sum
  }

  /** Measured at the end of the third pass, a fixed point of the seeded
    * sequence, so the value does not grow with the passes a fast run fits
    * in. */
  def storageAmp(): Double = ampAt.getOrElse(amp())

  override def release(): Unit = measured.release()

  override def finalCheck(): Option[String] = {
    val got = Fingerprint.of(TxLog.readTable(spark, storageRoot).select(Cols.map(col): _*))
    val want = Fingerprint.of(measured.model.select(Cols.map(col): _*))
    if (got == want) None else Some(s"tx table $got != model $want")
  }

  /** One table's op sequence and its model. */
  private final class TxRun(root: String, rnd: Random) {
    private val modelOps = scala.collection.mutable.ArrayBuffer.empty[DataFrame => DataFrame]
    var model: DataFrame = spark.read.parquet(srcDir).where(col("b") < SeedBuckets)
      .select(Cols.map(col): _*)
    var version = 1L
    private var cdcFrom = 1L
    private val fresh = scala.collection.mutable.Queue.from(
      rnd.shuffle((SeedBuckets until StagedBuckets).toList))
    private val landed = scala.collection.mutable.ArrayBuffer.empty[Int]
    // (seed bucket, key residue) slices, each deleted once
    private val oldSlices = scala.collection.mutable.Queue.from(
      rnd.shuffle(for (b <- 0 until SeedBuckets; r <- 0 until 3) yield (b, r)))
    private var checkpointed: Option[DataFrame] = None

    private def tx[T](name: String)(body: => T): T = tracer.span("sources.txlog", name)(body)

    private def write(name: String)(body: => Long): Op = Op(name, ph => {
      version = math.max(version, ph.write(body))
      None
    })

    private def read(name: String)(body: => Option[DataFrame]): Op = Op(name, ph =>
      ph.read(body.map(df => tracer.span("action", "fingerprint")(Fingerprint.of(df)))))

    private def takeFresh(): Int = { val b = fresh.dequeue(); landed += b; b }
    def freshLeft: Int = fresh.size

    /** Updates and merges correct one of the (up to four) buckets landed
      * last in this pass (late corrections to recent batches; an
      * assumption, see the README). Those sit in small files of their own,
      * so what a change rewrites does not hinge on the seed. */
    private def recent(): Int = landed(landed.size - 1 - rnd.nextInt(math.min(4, landed.size)))

    private val append = write("appendBatchTx") {
      val b = takeFresh()
      val v = tx("appendBatchTx")(TxLog.appendBatchTx(batch(b), root, "part", s"batch-$b"))
      modelOps += (_.unionByName(batch(b)))
      v
    }

    private val merge = write("mergeKeyedTx") {
      val y = recent()
      val r = rnd.nextInt(4)
      val z = takeFresh()
      val src = batch(y).where(col("k") % 4 === r)
        .withColumn("price", col("price") + 1.0).withColumn("qty", col("qty") + 1.0)
        .unionByName(batch(z).where(col("k") % 2 === 0))
      val v = tx("mergeKeyedTx")(TxLog.mergeKeyedTx(spark, root, src, "k", changeFeed = true))
      modelOps += (_.join(src.select("k"), Seq("k"), "left_anti").unionByName(src))
      v
    }

    /** Deletes a third of a seed bucket, a slice no earlier pass deleted. */
    private val delete = write("deleteWhereDvTx") {
      val (b, r) = oldSlices.dequeue()
      val cond = col("b") === b && col("k") % 3 === r
      val v = tx("deleteWhereDvTx")(TxLog.deleteWhereDvTx(spark, root, cond, changeFeed = true))._1
      modelOps += (_.filter(!cond))
      v
    }

    private val update = write("updateWhereTx") {
      val cond = col("b") === recent() && col("k") % 5 === rnd.nextInt(5)
      val sets = Map("price" -> round(col("price") * 1.05, 2), "flag" -> lit("U"))
      val v = tx("updateWhereTx")(TxLog.updateWhereTx(spark, root, cond, sets, changeFeed = true))._1
      modelOps += (_.select(Cols.map(c =>
        sets.get(c).fold(col(c))(e => when(cond, e).otherwise(col(c))).as(c)): _*))
      v
    }

    private val compact = write("compactBinPackTx") {
      val v = tx("compactBinPackTx")(TxLog.compactBinPackTx(spark, root, "part", SmallBytes))._1
      // a rewrite without change records closes the change-feed window
      cdcFrom = math.max(version, v)
      v
    }

    private val readTable = read("readTable")(Some(tx("readTable")(TxLog.readTable(spark, root))))

    // time travel three commits back
    private val readTableAt = read("readTableAt")(Some(tx("readTableAt")(
      TxLog.readTableAt(spark, root, math.max(1L, version - 3)))))

    private val countRows = read("countRows") { tx("countRows")(TxLog.countRows(spark, root)); None }

    private val changeFeed = read("readChangeFeed")(tx("readChangeFeed")(
      TxLog.readChangeFeed(spark, root, cdcFrom)._1))

    /** The op shares follow the call sites of these TxLog calls in the
      * engine's tx gates (SourceQueries), with at least one op of each
      * kind a pass; see the README. Compaction opens the pass,
      * materializing the last pass's deletion vectors. An append comes
      * next, so the pass has a bucket to correct, and one comes last, so
      * the next compaction has small files to merge; the seed permutes the
      * writes between, and a read follows every second write. A merge or
      * an update rewrites every file it might touch, which here is every
      * partition, so the delete (whose vectors those rewrites would drop)
      * follows the writes and is read once; the change feed over the
      * pass's DML closes the pass. Which reads meet deletion vectors thus
      * does not hinge on the seed. Fourteen commits a pass make three
      * passes span three auto-checkpoint cycles. */
    def pass(): Seq[Op] = {
      landed.clear()
      val writes = (append +: rnd.shuffle(Seq.fill(7)(append) ++ Seq(merge, merge, update)) :+
        append).grouped(2).toSeq
      val reads = Seq(readTable, readTable, readTableAt, readTable, countRows)
      Seq(compact) ++ writes.zip(reads).flatMap { case (w, r) => w :+ r } ++ writes.last ++
        Seq(delete, readTable, changeFeed)
    }

    def release(): Unit = { checkpointed.foreach(_.unpersist()); checkpointed = None }

    /** Applies the pass's writes to the model, outside every op's timing,
      * and cuts its lineage so later passes do not replan it whole. */
    def checkpointModel(): Unit = {
      model = modelOps.foldLeft(model)((m, f) => f(m)).localCheckpoint()
      modelOps.clear()
      checkpointed.foreach(_.unpersist())
      checkpointed = Some(model)
    }
  }
}

object TxIngest {
  val Cols = Seq("k", "b", "qty", "price", "disc", "flag", "part")
  val AmpPass = 2
  // ~3000 lineitem rows per bucket; the seed table holds 10 buckets, and a
  // pass lands 11 fresh ones (9 appends, 2 merges), so a run stops after at
  // most 8 passes (3 take about 27 s on 4 cores)
  val Buckets = 200
  val SeedBuckets = 10
  val FreshPerPass = 11
  val StagedBuckets: Int = SeedBuckets + 8 * FreshPerPass
  val KeySpan = 100000000L
  val SmallBytes: Long = 1L << 20
}
