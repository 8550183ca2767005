package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpecBase {
  /** One-time (per test JVM) wipe of the scratch warehouse: the catalog is
    * in-memory per JVM but `spark.sql.warehouse.dir` persists on disk, so
    * managed-table directories from a previous (possibly killed) run are
    * ORPHANS the fresh catalog knows nothing about — a raw `saveAsTable`
    * then dies with LOCATION_ALREADY_EXISTS. The Warehouse helpers clean
    * orphan locations themselves; tests using plain writers need a clean
    * slate. Runs before the shared session exists, so nothing can hold
    * references into the wiped tree. */
  private lazy val cleanWarehouse: Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"))
  }
}

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * reuses it, so the suite pack pays Spark startup once). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSpecBase.cleanWarehouse
    Sessions.local("4")
  }
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the ids of the Spark jobs it launched from this
    * thread, counted through a job group. The status store is fed by the
    * listener bus asynchronously and in order, so a marker job in a second
    * group is awaited first: once it shows, every job of `body` does too. */
  def jobsLaunchedBy[A](body: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "jobs counted by a spec")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
           System.nanoTime < deadline) Thread.sleep(5)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty,
      "marker job never reached the status store")
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }
}
