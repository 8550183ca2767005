package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Runs one workload in a closed loop: one client thread, each op starting
  * when the previous one has finished, every op's full result materialized
  * through its sink and every timed op counted (no retry, no min-of-N).
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --expected FILE --result FILE
  *        [--trace-out FILE]
  *   Main --record FILE --workload W ...   (fingerprints for expected/)
  *   Main --compare q1,q2 --rounds N --workload W ...   (count() vs full)
  *
  * Untraced runs report the end-to-end metrics; traced runs alternate
  * untraced and traced passes and report the per-layer metrics. */
object Main {
  private val json = new ObjectMapper()

  /** One op's latencies as measured, and the factor that scales them to
    * the reference box's speed (see HostProbe). */
  final case class Rec(name: String, ms: Double, writeMs: Option[Double],
                       readMs: Option[Double], ok: Boolean, traced: Boolean,
                       scale: Double = 1.0) {
    def scaledMs: Double = ms * scale
    def scaledWriteMs: Option[Double] = writeMs.map(_ * scale)
    def scaledReadMs: Option[Double] = readMs.map(_ * scale)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(a.contains("compare") || Workloads.names.contains(workload),
      s"unknown workload [$workload]")
    val spark = graft.Sessions.local(graft.Sessions.defaultCpus)
    val sessionReadyUs = Clock.nowUs
    try {
      if (a.contains("compare")) compare(spark, a)
      else if (a.contains("record")) record(spark, workload, a)
      else run(spark, workload, a, sessionReadyUs)
    } finally {
      spark.stop()
      System.err.println(f"[perfbench] stopped at ${(Clock.nowUs - sessionReadyUs) / 1e6}%.1f s since session start")
    }
  }

  private def loadExpected(file: String, workload: String): Map[String, Fingerprint] = {
    val f = new File(file)
    if (!f.exists) Map.empty
    else Option(json.readTree(f).get(workload)).toSeq
      .flatMap(_.properties.asScala.map(e => e.getKey -> Fingerprint.parse(e.getValue.asText)))
      .toMap
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def fsStatsNow(): Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "read_ops" -> st.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      "write_ops" -> st.map(_.getWriteOps.toLong).sum,
      "bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }

  /** Executes ops back to back; a thrown op and a fingerprint that differs
    * from its expectation both count as failed. With a HostScale, the host
    * is probed after each op, outside its timing. */
  private[perfbench] def runOps(ops: Seq[Op], traced: Boolean, tracer: Tracer,
                     failures: mutable.Buffer[String], driverGc: Array[Long],
                     host: Option[HostScale] = None): Seq[Rec] =
    ops.map { op =>
      val gc0 = gcMs()
      val ph = new Phases
      val t0 = System.nanoTime()
      val ok =
        try {
          val got = tracer.span("op", op.name)(op.run(ph))
          (op.expect, got) match {
            case (Some(want), Some(fp)) if want != fp =>
              failures += s"${op.name}: fingerprint $fp != expected $want"; false
            case (None, _) if op.checked =>
              failures += s"${op.name}: no recorded fingerprint (got ${got.orNull})"; false
            case _ => true
          }
        } catch {
          case e: Exception =>
            failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
        }
      val ms = (System.nanoTime() - t0) / 1e6
      driverGc(0) += gcMs() - gc0
      Rec(op.name, ms, ph.writeMs, ph.readMs, ok, traced, host.fold(1.0)(_.afterOp()))
    }

  private def run(spark: SparkSession, workload: String, a: Map[String, String],
                  sessionReadyUs: Long): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val tracer = new Tracer
    val ctx = Ctx(spark, a("data"), a("work"), tracer)
    val expected = loadExpected(a("expected"), workload)
    val wl = Workloads(workload, ctx, seed, expected)
    val failures = mutable.ArrayBuffer.empty[String]
    val noGc = Array(0L)

    // set-up: JVM and session start and input preparation once, the table
    // seeding three times (the median counts), then the warm-up that fills
    // the codegen and JIT caches; every run does all of it
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val prepT = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - prepT) / 1e9
    val seedS = (0 until 3).map { r =>
      val t = System.nanoTime(); wl.seed(r); (System.nanoTime() - t) / 1e9
    }
    val warmT = System.nanoTime()
    val warmFailures = mutable.ArrayBuffer.empty[String]
    runOps(wl.warmup(), traced = false, tracer, warmFailures, noGc)
    val setupS = (sessionReadyUs - jvmStartUs) / 1e6 + prepS + median(seedS) +
      (System.nanoTime() - warmT) / 1e9
    HostProbe.warm()
    val host = new HostScale

    val recorder = new Recorder
    val recs = mutable.ArrayBuffer.empty[Rec]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val opTraces = mutable.ArrayBuffer.empty[(Int, OpTrace)]
    // (traced, pass wall as measured, pass wall at the reference speed)
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    val startUs = Clock.nowUs
    var p = 0
    // a traced run needs an untraced and a traced pass; a pass never
    // starts past 120 s, so the process ends within its limit
    def minimumDone = wl.enough(p) && (!trace || p >= 2)
    while ((!minimumDone || (Clock.nowUs - startUs) / 1e6 < seconds) &&
           (Clock.nowUs - jvmStartUs) / 1e6 < 120 && wl.canPass) {
      val traced = trace && p % 2 == 1
      val ops = wl.pass()
      val driverGc = Array(0L)
      val before = if (traced) Some(LayerProbe.take(spark, wl)) else None
      if (traced) {
        recorder.reset()
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        tracer.on = true
      }
      val rs = tracer.span("workload", s"pass$p")(
        runOps(ops, traced, tracer, failures, driverGc, Some(host)))
      recs ++= rs
      passWall += ((traced, rs.map(_.ms).sum, rs.map(_.scaledMs).sum))
      if (traced) {
        tracer.on = false
        BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
        val spans = tracer.take()
        val ots = recorder.synchronized(Trace.assemble(spans,
          recorder.jobs.map(j => (j.startUs, j.endUs)).toSeq,
          recorder.phases.map(f => (f.qe, f.name, f.startUs, f.endUs)).toSeq))
        opTraces ++= ots.map(p -> _)
        val snapshotMs = wl.txRoot.fold(0.0) { r =>
          val t = System.nanoTime()
          graft.sources.TxLog.snapshot(spark, r)
          (System.nanoTime() - t) / 1e6
        }
        layerRows += LayerProbe.row(before.get, LayerProbe.take(spark, wl), ots, spans,
          recorder, driverGc(0), spark.sparkContext.defaultParallelism, snapshotMs)
      }
      wl.afterPass(p)
      System.err.println(f"[perfbench] pass $p traced=$traced wall ${rs.map(_.ms).sum}%.0f ms " +
        f"(${rs.map(_.scaledMs).sum}%.0f ms at the reference speed), " +
        f"at ${(Clock.nowUs - jvmStartUs) / 1e6}%.1f s since JVM start")
      p += 1
    }

    // a run cut short measured another shape of work, so it is not correct
    val short = if (minimumDone) None
      else Some(s"run stopped after $p passes, short of the workload's minimum")
    val checkT = System.nanoTime()
    val mismatch = wl.finalCheck() ++ short
    System.err.println(f"[perfbench] final check ${(System.nanoTime() - checkT) / 1e9}%.2f s")
    failures ++= mismatch
    val amp = wl.storageAmp()
    wl.release()
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val measured = recs.filterNot(_.traced)
    // the final state check counts as one more op, and a run cut short as
    // a failed one; a failed warm-up op makes the run incorrect without
    // counting as a measured op
    val failed = recs.count(!_.ok) + mismatch.size
    val attempted = recs.size + (if (wl.txRoot.nonEmpty) 1 else 0) + short.size
    (warmFailures.map("warm-up " + _) ++ failures)
      .foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    measured.groupBy(_.name).toSeq.sortBy(-_._2.map(_.ms).sum).foreach { case (n, rs) =>
      System.err.println(f"[perfbench] op $n%-34s n=${rs.size}%3d median ${median(rs.map(_.ms).toSeq)}%9.1f ms")
    }
    System.err.println(f"[perfbench] passes ${passWall.size} setup ${setupS}%.2f s " +
      f"(session ${(sessionReadyUs - jvmStartUs) / 1e6}%.2f, prepare $prepS%.2f, seed ${seedS.mkString(",")})")

    val untracedWall = passWall.collect { case (false, t, _) => t }.toSeq
    System.err.println(f"[perfbench] host probe median ${median(host.probes.toSeq)}%.3f ms " +
      f"(reference ${HostProbe.RefMs}%.2f); as measured: pass wall median ${median(untracedWall)}%.0f ms, " +
      f"op p50 ${quantile(measured.map(_.ms).toSeq, 0.5)}%.1f ms")
    val metrics: Seq[(String, Double)] =
      if (!trace) endToEnd(setupS, passWall.collect { case (false, _, t) => t }.toSeq,
        measured.toSeq, heapMb, amp)
      else {
        val misses = opTraces.filterNot(_._2.accounted())
        misses.foreach { case (pp, o) =>
          System.err.println(f"[perfbench] accounting miss: pass $pp ${o.op.name} " +
            f"wall ${o.wallUs / 1000.0}%.1f ms, layers ${o.accountedUs / 1000.0}%.1f ms")
        }
        a.get("trace-out").foreach(f => TraceFile.write(f, workload, seed, opTraces.toSeq, misses.size))
        perLayer(layerRows.toSeq, passWall.collect { case (true, t, _) => t }.toSeq,
          untracedWall, misses.size, median(host.probes.toSeq))
      }

    val units = (Metrics.endToEnd ++ Metrics.perLayer).map(m => m.name -> m.unit).toMap
    val out = json.createObjectNode()
    out.put("correct", failed == 0 && warmFailures.isEmpty)
    out.put("attempted", attempted)
    out.put("failed", failed)
    val m = out.putObject("metrics")
    metrics.foreach { case (n, v) =>
      val o = m.putObject(n)
      o.put("value", v)
      o.put("unit", units(n))
    }
    json.writeValue(new File(a("result")), out)
  }

  /** The end-to-end metrics of the untraced passes: a pass's wall time is
    * the sum of its ops' latencies; op percentiles cover whole ops, write
    * and read percentiles the ops' write and read phases; failed ops count
    * too. Latencies are at the reference speed; set-up time is as
    * measured. */
  def endToEnd(setupS: Double, passMs: Seq[Double], recs: Seq[Rec], heapMb: Double,
               amp: Double): Seq[(String, Double)] = {
    val ms = recs.map(_.scaledMs)
    val w = recs.flatMap(_.scaledWriteMs)
    val r = recs.flatMap(_.scaledReadMs)
    Seq(
      "setup_s" -> setupS,
      "wall_s" -> median(passMs) / 1000,
      "op_p50_ms" -> quantile(ms, 0.5),
      "op_p90_ms" -> quantile(ms, 0.9),
      "heap_live_mb" -> heapMb,
      "write_p50_ms" -> quantile(w, 0.5),
      "write_p90_ms" -> quantile(w, 0.9),
      "read_p50_ms" -> quantile(r, 0.5),
      "read_p90_ms" -> quantile(r, 0.9),
      "storage_amp" -> amp)
  }

  /** The per-layer metrics, as measured: the median over traced passes of
    * each pass's figure, plus the tracing overhead (median traced minus
    * median untraced pass wall), the ops that failed the accounting check
    * and the median host probe. */
  def perLayer(rows: Seq[Map[String, Double]], tracedMs: Seq[Double],
               untracedMs: Seq[Double], misses: Int, probeMs: Double): Seq[(String, Double)] =
    Metrics.perLayer.map(_.name).map {
      case n @ "host.probe_ms" => n -> probeMs
      case n @ "trace.overhead_ms" => n -> (median(tracedMs) - median(untracedMs))
      case n @ "trace.accounting_misses" => n -> misses.toDouble
      case n => n -> median(rows.map(_(n)))
    }

  private def compare(spark: SparkSession, a: Map[String, String]): Unit = {
    val out = json.createArrayNode()
    Compare.run(spark, a("data"), a("compare").split(",").toSeq, a("rounds").toInt).foreach { r =>
      val o = out.addObject()
      o.put("query", r.query); o.put("count_ms", r.countMs)
      o.put("noop_ms", r.noopMs); o.put("warehouse_ms", r.warehouseMs)
    }
    json.writeValue(new File(a("result")), out)
  }

  /** Runs every op of the workload twice, requires both fingerprints to
    * agree, and writes them with the oracle SQL of each query, so that
    * record.py can validate the written tables against DuckDB. */
  private def record(spark: SparkSession, workload: String, a: Map[String, String]): Unit = {
    val ctx = Ctx(spark, a("data"), a("work"), new Tracer)
    val wl = Workloads(workload, ctx, 0L, Map.empty)
    def fps(): Map[String, Fingerprint] = wl.warmup().flatMap { op =>
      op.run(new Phases).map(fp => op.name -> fp)
    }.toMap
    val first = fps()
    val second = fps()
    val unstable = first.keys.filter(k => first(k) != second(k))
    require(unstable.isEmpty, s"unstable fingerprints: ${unstable.mkString(",")}")
    val out = json.createObjectNode()
    val f = out.putObject("fingerprints")
    first.toSeq.sortBy(_._1).foreach { case (k, v) => f.put(k, v.toString) }
    val sql = out.putObject("oracle_sql")
    Workloads.queries(workload).foreach { q =>
      Workloads.defs(q).oracle.foreach(s => sql.put(q, s))
    }
    out.put("warehouse", wl.storageRoot)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(a("record")), out)
  }
}

/** Per-pass counters sampled around a traced pass. */
object LayerProbe {
  final case class Sample(fs: Map[String, Long], files: Set[String], compiles: Long,
                          compileNs: Long, logFiles: Set[String], version: Long)

  def take(spark: SparkSession, wl: Workload): Sample = {
    def names(dir: String) = Workloads.localFiles(dir).map(_._1.toString).toSet
    val log = wl.txRoot.map(r => names(s"$r/_txlog")).getOrElse(Set.empty)
    Sample(Main.fsStatsNow(), names(wl.storageRoot),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      log, log.flatMap(n => "v(\\d+)\\.txn$".r.findFirstMatchIn(n).map(_.group(1).toLong))
        .maxOption.getOrElse(0L))
  }

  def row(b: Sample, e: Sample, ots: Seq[OpTrace], spans: Seq[Span], rec: Recorder,
          driverGcMs: Long, cores: Int, snapshotMs: Double): Map[String, Double] = {
    val s = rec.sums
    def ms(us: Long): Double = us / 1000.0
    def phase(n: String): Double = ms(rec.phases.filter(_.name == n).map(p => p.endUs - p.startUs).sum)
    def spanMs(layer: String): Double = ms(spans.filter(_.layer == layer).map(_.durUs).sum)
    val jobWallMs = ms(ots.map(_.jobUnionUs).sum)
    def self(l: String): Double = ms(ots.map(_.selfUs.getOrElse(l, 0L)).sum)
    Map(
      "queries.build_ms" -> spanMs("queries"),
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimizer_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.actions" -> ots.map(_.actions).sum.toDouble / math.max(1, ots.size),
      "plans.codegen_compiles" -> (e.compiles - b.compiles).toDouble,
      "plans.codegen_compile_ms" -> (e.compileNs - b.compileNs) / 1e6,
      "spark.jobs" -> rec.jobs.size.toDouble,
      "spark.job_wall_ms" -> jobWallMs,
      "spark.task_run_ms" -> s.runMs.toDouble,
      "spark.task_cpu_ms" -> s.cpuNs / 1e6,
      "spark.sched_delay_ms" -> s.schedDelayMs.toDouble,
      "spark.shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
      "spark.shuffle_fetch_wait_ms" -> s.fetchWaitMs.toDouble,
      "spark.spill_bytes" -> s.spillBytes.toDouble,
      "spark.gc_ms" -> s.gcMs.toDouble,
      "spark.input_rows" -> s.inputRows.toDouble,
      "spark.output_rows" -> s.outputRows.toDouble,
      "spark.rows_in_per_row_out" -> s.inputRows.toDouble / math.max(1L, s.outputRows),
      "spark.core_util" -> (if (jobWallMs > 0) s.runMs / (jobWallMs * cores) else 0.0),
      "spark.failed_tasks" -> s.failedTasks.toDouble,
      "driver.gap_ms" -> ms(ots.map(o => o.wallUs - o.jobUnionUs).sum),
      "driver.gc_ms" -> driverGcMs.toDouble,
      "sources.txlog.meta_ms" -> ms(ots.map(_.txMetaUs).sum),
      "sources.txlog.snapshot_ms" -> snapshotMs,
      "sources.txlog.log_files" -> e.logFiles.size.toDouble,
      "sources.txlog.versions" -> (e.version - b.version).toDouble,
      "sources.txlog.checkpoints" -> (e.logFiles -- b.logFiles).count(_.endsWith(".chk")).toDouble,
      "sources.fs.read_ops" -> (e.fs("read_ops") - b.fs("read_ops")).toDouble,
      "sources.fs.write_ops" -> (e.fs("write_ops") - b.fs("write_ops")).toDouble,
      "sources.fs.bytes_read" -> (e.fs("bytes_read") - b.fs("bytes_read")).toDouble,
      "sources.fs.bytes_written" -> (e.fs("bytes_written") - b.fs("bytes_written")).toDouble,
      "sources.fs.files_created" -> (e.files -- b.files).size.toDouble,
      "sources.fs.files_deleted" -> (b.files -- e.files).size.toDouble,
      "sources.warehouse.write_ms" -> spanMs("sources.warehouse"),
      "self.queries_ms" -> self("queries"),
      "self.plans_ms" -> self("plans"),
      "self.spark_ms" -> self("spark"),
      "self.sources.txlog_ms" -> self("sources.txlog"),
      "self.sources.warehouse_ms" -> self("sources.warehouse"),
      "self.driver_ms" -> self("driver"))
  }
}

/** The traced run's spans and per-op layer self times, written once at
  * the end of the run. */
object TraceFile {
  def write(file: String, workload: String, seed: Long, ots: Seq[(Int, OpTrace)],
            misses: Int): Unit = {
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    root.put("accounting_misses", misses)
    val ops = root.putArray("ops")
    ots.foreach { case (pass, o) =>
      val n = ops.addObject()
      n.put("pass", pass)
      n.put("op", o.op.name)
      n.put("wall_ms", o.wallUs / 1000.0)
      n.put("layers_ms", o.accountedUs / 1000.0)
      n.put("accounted", o.accounted())
      val self = n.putObject("self_ms")
      Trace.Layers.foreach(l => self.put(l, o.selfUs.getOrElse(l, 0L) / 1000.0))
      val spans = n.putArray("spans")
      o.spans.sortBy(_.startUs).foreach { s =>
        val j: ObjectNode = spans.addObject()
        j.put("id", s.id); j.put("parent", s.parent); j.put("layer", s.layer)
        j.put("name", s.name); j.put("start_us", s.startUs); j.put("end_us", s.endUs)
      }
    }
    val f = new File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    json.writeValue(f, root)
  }
}
