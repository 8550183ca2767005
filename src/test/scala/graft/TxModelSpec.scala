package graft

import graft.sources.TxLog
import org.apache.spark.sql.functions._

/** Model-based fuzz of the transaction layer: a SEEDED random op
  * sequence (append / rewrite-delete / dv-delete / keyed merge / restore
  * / checkpoint / log expiry / vacuum) runs against both the real table
  * and an in-memory model, and after EVERY op the table's full content,
  * metadata-only count, per-partition counts and partition enumeration
  * must equal the model's. The table crosses to the parquet-payload
  * representation mid-sequence (chkParquetMin=1) with the O(1) header
  * forced on (chkMaxHeaderValues=2), so the sequence exercises the one
  * fold from both a text checkpoint and a payload base, the payload
  * restore reset, novals-derived enumeration, and the maintenance ops'
  * interplay — the op-INTERLEAVINGS no single hand-written spec covers.
  * Deterministic seeds: failures reproduce. */
class TxModelSpec extends SparkSpecBase {

  private def freshRoot(tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-txmodel/$tag"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  /** model: key → (part, value); part derives from the key (stable per
    * key — the merge contract). */
  private def partOf(k: Long): String = s"p${math.abs(k % 4)}"

  private def runSequence(seed: Long, ops: Int): Unit = {
    import spark.implicits._
    val root = freshRoot(s"seq$seed")
    val rnd = new scala.util.Random(seed)
    var model = Map.empty[Long, Double]
    var nextKey = 0L
    // the value column's CURRENT logical name (renames toggle it; a
    // restore reinstates the name as of the target — column mapping is
    // part of the modeled state)
    var vName = "v"
    // retained history for restore targets: version → (model, vName)
    var history = Vector.empty[(Long, Map[Long, Double], String)]
    var batch = 0
    // the string batch-id ledger seals at most once per sequence; after
    // it, appends must ride the bounded writer-seq gate
    var ledgerSealed = false

    def df(rows: Map[Long, Double]) =
      rows.toSeq.map { case (k, v) => (partOf(k), k, v) }
        .toDF("part", "k", vName)

    def check(tag: String): Unit = {
      val t = TxLog.readTable(spark, root)
      assert(t.columns.toSet === Set("part", "k", vName),
        s"[$tag seed=$seed] schema diverged: ${t.columns.toSeq} vs " +
          s"expected value column [$vName]")
      val got = t.select("part", "k", vName)
        .collect().map(r => r.getLong(1) -> (r.getString(0), r.getDouble(2)))
        .toMap
      val want = model.map { case (k, v) => k -> (partOf(k), v) }
      assert(got === want, s"[$tag seed=$seed] content diverged: " +
        s"extra=${(got.keySet -- want.keySet).take(5)} " +
        s"missing=${(want.keySet -- got.keySet).take(5)}")
      assert(TxLog.countRows(spark, root) === Some(model.size.toLong),
        s"[$tag seed=$seed] metadata count diverged")
      // per-partition metadata counts: a partition with live rows counts
      // exactly those; any other enumerated partition (fully dv-deleted)
      // counts 0
      val counts = TxLog.partitionCounts(spark, root)
      val live = model.keys.groupBy(partOf).map { case (p, ks) =>
        p -> ks.size.toLong }
      assert(live.keySet.subsetOf(counts.keySet),
        s"[$tag seed=$seed] a live-row partition has no count: " +
          s"${live.keySet -- counts.keySet}")
      counts.foreach { case (p, n) =>
        assert(n === Some(live.getOrElse(p, 0L)),
          s"[$tag seed=$seed] partition $p counts $n, model has " +
            s"${live.getOrElse(p, 0L)}")
      }
      // partition enumeration is FILE-level metadata (the Delta SHOW
      // PARTITIONS contract): a fully-dv-deleted partition still holds
      // live files and rightly enumerates (its rows are gone — the
      // content and count checks above prove that) until a rewrite or
      // maintenance materializes the delete. So: every partition with
      // live rows MUST enumerate; nothing outside the written universe
      // may.
      val parts = TxLog.partitionValues(spark, root)
      assert(model.keySet.map(partOf).subsetOf(parts),
        s"[$tag seed=$seed] a live-row partition is missing from " +
          s"enumeration: ${model.keySet.map(partOf) -- parts}")
      assert(parts.subsetOf(Set("p0", "p1", "p2", "p3")),
        s"[$tag seed=$seed] phantom partition: $parts")
    }

    def snap(): Unit =
      history :+= ((TxLog.currentVersion(spark, root), model, vName))

    // seed batch so merge/delete have content
    val seedRows = (0 until 8).map { _ =>
      val k = nextKey; nextKey += 1; k -> rnd.nextInt(100).toDouble
    }.toMap
    TxLog.appendBatchTx(df(seedRows), root, "part", s"m$seed-b$batch")
    batch += 1
    model = seedRows
    snap(); check("seed")

    (1 to ops).foreach { i =>
      rnd.nextInt(15) match {
        case 14 => // FULL-table overwrite: kept subset + fresh rows IS
          // the table afterward — absent partitions drop atomically
          val kept = model.filter { case (k, _) => math.abs(k % 3) != 0 }
          val fresh = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val k = nextKey; nextKey += 1; k -> rnd.nextInt(100).toDouble
          }.toMap
          val next = kept ++ fresh
          if (next.nonEmpty) {
            TxLog.overwriteTableTx(df(next), root, Seq("part"))
            model = next
            snap()
          }
        case 0 | 1 => // append fresh keys (ledger style follows the seal)
          val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
            val k = nextKey; nextKey += 1; k -> rnd.nextInt(100).toDouble
          }.toMap
          if (ledgerSealed)
            TxLog.appendBatchSeqTx(df(rows), root, "part",
              s"fuzz$seed", batch.toLong)
          else
            TxLog.appendBatchTx(df(rows), root, "part", s"m$seed-b$batch")
          batch += 1
          model ++= rows
          snap()
        case 2 => // rewrite delete on a key-range predicate
          val m = 2 + rnd.nextInt(4)
          val r = rnd.nextInt(m)
          TxLog.deleteWhereTx(spark, root, col("k") % m === r)
          model = model.filter { case (k, _) => math.abs(k % m) != r }
          snap()
        case 3 => // merge-on-read position delete, change-recorded on
          // some draws (derived from m and r, so no extra random draw)
          val m = 2 + rnd.nextInt(4)
          val r = rnd.nextInt(m)
          TxLog.deleteWhereDvTx(spark, root, col("k") % m === r,
            changeFeed = (m + r) % 2 == 0)
          model = model.filter { case (k, _) => math.abs(k % m) != r }
          snap()
        case 4 | 5 => // keyed merge: update some existing + insert new
          val updates = model.keySet.toSeq.sorted
            .take(1 + rnd.nextInt(3)).map(k => k -> rnd.nextInt(100).toDouble)
          val inserts = (0 until rnd.nextInt(2)).map { _ =>
            val k = nextKey; nextKey += 1; k -> rnd.nextInt(100).toDouble
          }
          val rows = (updates ++ inserts).toMap
          if (rows.nonEmpty && model.nonEmpty) {
            TxLog.mergeKeyedTx(spark, root, df(rows), "k")
            model ++= rows
            snap()
          }
        case 6 => // restore to a retained version (or verify refusal)
          if (history.size > 1) {
            val (v, m0, n0) = history(rnd.nextInt(history.size))
            if (m0.nonEmpty) {
              try {
                TxLog.restoreTx(spark, root, v)
                model = m0
                vName = n0 // the mapping as of the target reinstates
                snap()
              } catch {
                // vacuumed target or below the payload floor: refusal
                // must be loud AND leave the table untouched
                case e: Exception
                  if e.getMessage.contains("no longer restorable") ||
                     e.getMessage.contains("predates the latest") =>
                  history = history.filterNot(_._1 == v)
              }
            }
          }
        case 7 => // checkpoint (crosses to payload under the tiny min)
          TxLog.checkpoint(spark, root)
        case 8 =>
          TxLog.checkpoint(spark, root)
          TxLog.expireLog(spark, root)
        case 9 =>
          // vacuum reclaims unreferenced history — older versions may
          // stop being restorable (the catch above handles it)
          TxLog.vacuum(spark, root, minAgeMs = 0L)
        case 10 => // RENAME the value column (column mapping, zero files)
          val next = if (vName == "v") "w" else "v"
          TxLog.renameColumnTx(spark, root, vName, next)
          vName = next
          snap()
        case 13 => // the one-call maintenance bundle: dv-aware bin-pack
          // (small files merge, dv-heavy files materialize dv-free) +
          // checkpoint + expiry + vacuum — content must be invariant
          TxLog.maintainTx(spark, root, "part", smallBytes = 1L << 20,
            vacuumAgeMs = 0L): Unit
        case 12 => // seal the string ledger ONCE; sealed-id replays
          // must refuse loudly from then on, whatever else interleaves
          if (!ledgerSealed) {
            TxLog.sealBatchLedgerTx(spark, root)
            ledgerSealed = true
          } else {
            val err = intercept[IllegalArgumentException] {
              TxLog.appendBatchTx(df(Map(nextKey -> 1.0)), root, "part",
                s"m$seed-b0")
            }
            assert(err.getMessage.contains("SEALED"), err.getMessage)
          }
        case 11 => // the SQL DML surface is the same front door
          val m = 2 + rnd.nextInt(4)
          val r = rnd.nextInt(m)
          spark.sql(s"UPDATE txlog.`$root` SET $vName = $vName + 1 " +
            s"WHERE k % $m = $r")
          model = model.map { case (k, v) =>
            k -> (if (math.abs(k % m) == r) v + 1 else v) }
          snap()
      }
      check(s"op$i")
    }
  }

  test("40-op random sequences match the model on both representations " +
      "(seed 7)") {
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    spark.conf.set("graft.txlog.chkMaxHeaderValues", "2")
    spark.conf.set("graft.txlog.autoCheckpointEvery", "5")
    try runSequence(seed = 7L, ops = 40)
    finally {
      spark.conf.unset("graft.txlog.chkParquetMin")
      spark.conf.unset("graft.txlog.chkMaxHeaderValues")
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("40-op random sequences match the model on both representations " +
      "(seed 23)") {
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    spark.conf.set("graft.txlog.chkMaxHeaderValues", "2")
    spark.conf.set("graft.txlog.autoCheckpointEvery", "5")
    try runSequence(seed = 23L, ops = 40)
    finally {
      spark.conf.unset("graft.txlog.chkParquetMin")
      spark.conf.unset("graft.txlog.chkMaxHeaderValues")
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("40-op random sequences match the model on both representations " +
      "(seed 42)") {
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    spark.conf.set("graft.txlog.chkMaxHeaderValues", "2")
    spark.conf.set("graft.txlog.autoCheckpointEvery", "3")
    try runSequence(seed = 42L, ops = 40)
    finally {
      spark.conf.unset("graft.txlog.chkParquetMin")
      spark.conf.unset("graft.txlog.chkMaxHeaderValues")
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("40-op random sequences match the model on both representations " +
      "(seed 99)") {
    spark.conf.set("graft.txlog.chkParquetMin", "1")
    spark.conf.set("graft.txlog.chkMaxHeaderValues", "2")
    spark.conf.set("graft.txlog.autoCheckpointEvery", "4")
    try runSequence(seed = 99L, ops = 40)
    finally {
      spark.conf.unset("graft.txlog.chkParquetMin")
      spark.conf.unset("graft.txlog.chkMaxHeaderValues")
      spark.conf.unset("graft.txlog.autoCheckpointEvery")
    }
  }

  test("a 60-op sequence stays model-consistent on the DRIVER " +
      "representation too (seed 101, no payload crossing)") {
    // high parquet threshold: the table never crosses, so the same op
    // mix exercises the driver-resident fold/restore/maintenance paths
    spark.conf.set("graft.txlog.autoCheckpointEvery", "7")
    try runSequence(seed = 101L, ops = 60)
    finally spark.conf.unset("graft.txlog.autoCheckpointEvery")
  }
}
