package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HostProbeSpec extends AnyFunSuite {
  test("each op is scaled by the reference over the mean of the probes around it") {
    val probes = Iterator(3.0, 5.0, 7.5)
    val host = new HostScale(() => probes.next())
    assert(host.afterOp() === HostProbe.RefMs / 4.0)
    assert(host.afterOp() === HostProbe.RefMs / 6.25)
    assert(host.probes.toSeq === Seq(3.0, 5.0, 7.5))
  }

  test("the probe measures a few milliseconds of work") {
    HostProbe.warm()
    val ms = (0 until 5).map(_ => HostProbe.sample())
    assert(ms.forall(m => m > 0.1 && m < 100), ms)
  }
}
