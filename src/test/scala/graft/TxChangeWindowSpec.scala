package graft

import graft.sources.TxLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The batch change readers ([[TxLog.readChangesSince]],
  * [[TxLog.readChangeFeed]]) and the streaming source's window planners
  * (`appendWindowFiles`, `changeFeedWindowFiles`) over ONE log: for every
  * window they select the same files, or refuse it alike. Building the
  * batch frames launches no Spark job, so only the setup writes run. */
class TxChangeWindowSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txwindow/$tag"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private val schema = StructType.fromDDL("part STRING, k BIGINT, v BIGINT")

  private def rows(xs: (String, Long, Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(xs.map(x => Row(x._1, x._2, x._3)): _*), schema)

  test("batch change reads and stream planners select the same files and " +
      "refuse the same windows") {
    val root = freshRoot("parity")
    var batches = 0
    def append(xs: (String, Long, Long)*): Long = {
      batches += 1
      TxLog.appendBatchTx(rows(xs: _*), root, "part", s"w$batches")
    }
    assert(append(("a", 1L, 1L), ("a", 2L, 2L)) === 1L)
    append(("b", 3L, 3L))
    append(("a", 4L, 4L))
    TxLog.checkpoint(spark, root) // floor 3; v1..v3 stay on disk
    append(("a", 5L, 5L)) // v4: its file dies at v5
    // v5: a rewrite WITH change files (removes v4's file)
    TxLog.mergeKeyedTx(spark, root, rows(("a", 5L, 50L)), "k",
      changeFeed = true)
    append(("b", 6L, 6L)) // v6
    // v7: a rewrite WITHOUT change files
    assert(TxLog.deleteWhereTx(spark, root, col("k") === 3L)._1 === 7L)
    assert(append(("a", 7L, 7L)) === 8L)

    def rel(f: String): String = f.substring(f.indexOf(root) + root.length + 1)
    def files(df: Option[DataFrame]): Set[String] =
      df.toSeq.flatMap(_.inputFiles).map(rel).toSet
    def outcome(f: => Set[String]): Either[String, Set[String]] =
      try Right(f) catch { case e: RuntimeException => Left(e.getMessage) }

    /** Both append readers over (since, until]; the agreed outcome. */
    def appends(since: Long, until: Option[Long],
                skip: Boolean = false): Either[String, Set[String]] = {
      val batch = outcome(files(TxLog.readChangesSince(spark, root, since,
        skipNonAppend = skip, untilVersion = until)._1))
      val stream = outcome(TxLog.appendWindowFiles(spark, root, since,
        until.getOrElse(8L), skip).map(_._2).toSet)
      assert(batch.isLeft === stream.isLeft,
        s"append window ($since, $until]: batch $batch, stream $stream")
      batch.foreach(b => assert(Right(b) === stream))
      batch
    }
    def feed(since: Long, until: Option[Long]): Either[String, Set[String]] = {
      val batch = outcome(files(
        TxLog.readChangeFeed(spark, root, since, until)._1))
      val stream = outcome(TxLog.changeFeedWindowFiles(spark, root, since,
        until.getOrElse(8L)).map(_.rel).toSet)
      assert(batch.isLeft === stream.isLeft,
        s"feed window ($since, $until]: batch $batch, stream $stream")
      batch.foreach(b => assert(Right(b) === stream))
      batch
    }
    def refused(e: Either[String, Set[String]], why: String): Unit =
      assert(e.left.exists(_.contains(why)), e)
    def selected(e: Either[String, Set[String]], n: Int): Unit =
      assert(e.exists(_.size == n), e)

    // past the checkpoint, uncapped: the last append alone
    selected(appends(7L, None), 1)
    selected(feed(7L, None), 1)
    // below the floor, commits retained: v2..v4's appends
    selected(appends(1L, Some(4L)), 3)
    selected(feed(1L, Some(4L)), 3)
    // capped past the checkpoint: v4 append, v5 rewrite, v6 append
    refused(appends(3L, Some(6L)), "not appends")
    val capped = feed(3L, Some(6L))
    assert(capped.exists(fs => fs.size > 2 &&
      fs.exists(_.contains("__route=update_postimage"))), capped)
    selected(feed(5L, Some(6L)), 1)
    // a skipped rewrite: v4's file died at v5, so only v6's file is live
    selected(appends(3L, Some(6L), skip = true), 1)
    selected(appends(3L, None, skip = true), 2)
    // a rewrite without change files
    refused(appends(6L, Some(8L)), "not appends")
    refused(feed(6L, Some(8L)), "no row-level change record")
    // an uncommitted cap: both batch readers refuse it (the stream planners
    // take their cap from committed offsets and do not check it)
    Seq(outcome(files(TxLog.readChangesSince(spark, root, 3L,
        untilVersion = Some(99L))._1)),
      outcome(files(TxLog.readChangeFeed(spark, root, 3L, Some(99L))._1)))
      .foreach(refused(_, "was never committed"))
    // an expired window
    assert(TxLog.expireLog(spark, root) > 0)
    refused(appends(1L, Some(4L)), "predates the latest")
    refused(feed(1L, Some(4L)), "predates the latest")
  }
}
