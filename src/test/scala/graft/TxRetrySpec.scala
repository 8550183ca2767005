package graft

import graft.sources.{LogStore, TxLog}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one conflict-retry loop every conflict-checked TxLog front door
  * runs ([[TxLog.retryOnConflict]]): its bound, its per-attempt cleanup
  * and a front door's terminal exit. No test here launches a Spark job:
  * attempts are plain closures, and the staged file of the terminal-exit
  * test is written by hand over a driver-state log. */
class TxRetrySpec extends SparkSpecBase {

  private def conflict = new TxLog.ConcurrentWriteException(1L, Seq("p"))

  test("an always-conflicting attempt ends after exactly the bound, " +
      "cleaning up every lost attempt and giving up once") {
    var tries = 0
    var lost = 0
    var gaveUp = 0
    val err = intercept[RuntimeException] {
      TxLog.retryOnConflict("/t", "TxLog.someTx", giveUp = () => gaveUp += 1) {
        tries += 1
        TxLog.Attempt[Long](() => throw conflict, () => lost += 1)
      }
    }
    assert(tries === TxLog.MaxConflictRetries)
    assert(lost === tries && gaveUp === 1)
    assert(err.getMessage === s"TxLog.someTx: ${TxLog.MaxConflictRetries} " +
      "consecutive conflicts at /t — pathological contention, back off at " +
      "the caller")
  }

  test("cleanup runs once per lost attempt and never for the winner; " +
      "other failures escape at once") {
    var lost = Seq.empty[Int]
    var tries = 0
    val out = TxLog.retryOnConflict("/t", "TxLog.someTx",
        giveUp = () => fail("gave up")) {
      tries += 1
      val me = tries
      TxLog.Attempt(() => if (me < 3) throw conflict else me * 10L,
        () => lost :+= me)
    }
    assert(out === 30L && lost === Seq(1, 2))
    var cleaned = false
    intercept[IllegalStateException] {
      TxLog.retryOnConflict("/t", "TxLog.someTx") {
        TxLog.Attempt[Long](() => throw new IllegalStateException("boom"),
          () => cleaned = true)
      }
    }
    assert(!cleaned)
  }

  test("overwriteTableTx's terminal exit leaves no data/txn-* staging dir") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txretry/terminal"
    val fs =
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    val rel = s"data/txn-${java.util.UUID.randomUUID()}/part=a/f.parquet"
    fs.create(new Path(root, rel)).close()
    // every publish lands but reports a lost race, so each attempt re-reads
    // a commit overlapping its own partitions: a conflict every time
    val linkThenLose = new LogStore {
      def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean = {
        LogStore.LocalLink.putIfAbsent(fs, tmp, target)
        false
      }
    }
    TxLog.storeOverride = Some(linkThenLose)
    val (err, jobs) =
      try jobsLaunchedBy(intercept[RuntimeException] {
        TxLog.overwriteStagedTx(spark, root,
          TxLog.Staged(Map("a" -> Seq(rel))), writerSeq = None)
      })
      finally TxLog.storeOverride = None
    assert(err.getMessage.startsWith(
      s"TxLog.overwriteTableTx: ${TxLog.MaxConflictRetries} consecutive " +
        s"conflicts at $root"), err.getMessage)
    assert(TxLog.currentVersion(spark, root) === TxLog.MaxConflictRetries,
      "one publish per attempt")
    assert(fs.listStatus(new Path(root, "data")).isEmpty,
      "the staged files outlived the terminal exit")
    assert(jobs.isEmpty, s"launched Spark jobs $jobs")
  }
}
