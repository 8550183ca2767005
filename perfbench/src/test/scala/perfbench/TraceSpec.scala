package perfbench

import org.apache.spark.BusAccess

/** Spans nest: every span lies inside its parent's interval, and the layer
  * self times of an op add up to its wall time. */
class TraceSpec extends SparkSuite {

  private def checkNesting(ot: OpTrace): Unit = {
    val byId = ot.spans.map(s => s.id -> s).toMap
    ot.spans.filterNot(_ eq ot.op).foreach { s =>
      val p = byId.get(s.parent)
      assert(p.nonEmpty, s"$s has no parent in its op")
      assert(p.get.contains(s), s"$s escapes its parent ${p.get}")
    }
  }

  test("listener intervals hang under the innermost containing span, clipped") {
    val op = Span(0, -1, "op", "q", 0L, 100000L)
    val build = Span(1, 0, "queries", "q", 1000L, 20000L)
    val sink = Span(2, 0, "sources.warehouse", "overwriteTable", 20000L, 99000L)
    val ots = Trace.assemble(Seq(build, sink, op),
      // two overlapping jobs (one stretch of Spark time) and one that
      // overruns the sink call by less than the clock tolerance
      jobs = Seq((30000L, 60000L), (40000L, 70000L), (80000L, 100500L)),
      phases = Seq((7L, "analysis", 21000L, 24000L), (7L, "planning", 25000L, 29000L)))
    assert(ots.size === 1)
    val ot = ots.head
    checkNesting(ot)
    val jobs = ot.spans.filter(_.layer == "spark")
    assert(jobs.map(_.name).sorted === Seq("jobs:1", "jobs:2"))
    assert(jobs.forall(_.parent === 2))
    assert(ot.selfUs("spark") === 40000L + 19000L)
    assert(ot.selfUs("plans") === 7000L)
    assert(ot.actions === 1)
    assert(ot.accounted())
  }

  test("an interval straddling two sibling spans is caught by the accounting check") {
    val op = Span(0, -1, "op", "q", 0L, 100000L)
    val a = Span(1, 0, "queries", "q", 0L, 50000L)
    val b = Span(2, 0, "sources.warehouse", "w", 50000L, 100000L)
    val ot = Trace.assemble(Seq(a, b, op), jobs = Seq((10000L, 90000L)), phases = Nil).head
    checkNesting(ot)
    assert(!ot.accounted())
  }

  test("a traced op on a real session nests and accounts for its wall time") {
    val tracer = new Tracer
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    tracer.on = true
    tracer.span("op", "agg") {
      val df = tracer.span("queries", "agg")(
        spark.range(0, 200000).selectExpr("id % 7 AS k", "id").groupBy("k").count())
      tracer.span("action", "fingerprint")(Fingerprint.of(df))
    }
    tracer.on = false
    BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    val ots = Trace.assemble(tracer.take(), rec.jobs.map(j => (j.startUs, j.endUs)).toSeq,
      rec.phases.map(p => (p.qe, p.name, p.startUs, p.endUs)).toSeq)
    assert(ots.size === 1)
    val ot = ots.head
    checkNesting(ot)
    assert(ot.selfUs.getOrElse("spark", 0L) > 0, ot.selfUs)
    assert(ot.actions >= 1)
    assert(ot.accounted(), s"layers ${ot.accountedUs} us vs wall ${ot.wallUs} us")
  }
}
