package perfbench

import scala.collection.mutable

/** A fixed piece of CPU work, timed next to every measured op, that tells
  * how fast the host runs at that moment. The host is shared: its speed
  * drifts by 15-25% over tens of seconds (a plain CPU loop with no engine
  * at all shows the same drift), so wall-clock figures of whole runs spread
  * by that much whatever the benchmark does. Every measured latency is
  * therefore scaled to the reference box's speed by the probes taken just
  * before and just after its op; the raw figures go to stderr.
  *
  * The probe is the geometric mean of two kernels, each the fastest of
  * three tries, so that work the engine leaves running between ops slows
  * it only if it keeps every core busy: dependent multiply-adds (core
  * speed) and dependent random reads over a 4 MiB table (cache and memory
  * speed). Neither touches the engine, so an engine change that makes an
  * op slower shows in full. */
object HostProbe {
  /** A typical probe on the reference box, a 4-core 2.1 GHz Xeon VM on a
    * shared host (run medians there are 3.5-5.1 ms). */
  val RefMs = 3.75

  private val Mask = (1 << 19) - 1
  private val table = Array.tabulate(Mask + 1)(i => i.toLong * 0x9E3779B97F4A7C15L)
  @volatile private var sink = 0L

  private def timed(body: => Long): Double = {
    val t = System.nanoTime()
    sink = body
    (System.nanoTime() - t) / 1e6
  }

  private def compute(): Double = timed {
    var h = 1L
    var i = 0
    while (i < 1500000) { h = h * 6364136223846793005L + 1442695040888963407L + (h >>> 29); i += 1 }
    h
  }

  private def memory(): Double = timed {
    var h = 1L
    var i = 0
    while (i < 150000) { h = h * 6364136223846793005L + table((h >>> 40).toInt & Mask); i += 1 }
    h
  }

  private def best(kernel: () => Double): Double = (0 until 3).map(_ => kernel()).min

  /** One probe, in ms. */
  def sample(): Double = math.sqrt(best(() => compute()) * best(() => memory()))

  /** Compiles the kernels before the first probe that counts. */
  def warm(): Unit = (0 until 40).foreach(_ => sample())
}

/** The scale of each measured op: the reference probe over the mean of
  * the probes just before and just after the op. */
final class HostScale(probe: () => Double = () => HostProbe.sample()) {
  private var before = probe()
  val probes: mutable.Buffer[Double] = mutable.ArrayBuffer(before)

  def afterOp(): Double = {
    val after = probe()
    probes += after
    val s = HostProbe.RefMs / ((before + after) / 2)
    before = after
    s
  }
}
