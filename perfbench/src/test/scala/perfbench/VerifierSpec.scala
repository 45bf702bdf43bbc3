package perfbench

import org.scalatest.funsuite.AnyFunSuite

class VerifierSpec extends AnyFunSuite {
  private val seed = 7L
  private val len = 64 << 10

  test("the point_rw verifier passes the current version byte for byte") {
    val buf = Content.bytes(Content.key(seed, 3, 2), len)
    assert(PointRwWorkload.check(seed, 3, 2, 0L, buf, 0, len).isEmpty)
    // a window at an unaligned offset checks against the same file
    assert(PointRwWorkload.check(seed, 3, 2, 1001L, buf, 1001, 5000).isEmpty)
  }

  test("a corrupted buffer counts as a failed op and fails the run") {
    val buf = Content.bytes(Content.key(seed, 3, 2), len)
    buf(12345) = (buf(12345) ^ 0x1).toByte
    val err = PointRwWorkload.check(seed, 3, 2, 0L, buf, 0, len)
    assert(err.exists(_.contains("differs at +12345")))
    val bad = PointRwWorkload.verified("read", 1000L, Seq(None, err))
    assert(!bad.ok)
    val good = PointRwWorkload.verified("read", 1000L, Seq(None))
    val line = Main.result(Seq(good, bad), Seq(("op_p50_ms", 1.0, "ms")))
    assert(line.contains("\"correct\": false"))
    assert(line.contains("\"attempted\": 2"))
    assert(line.contains("\"failed\": 1"))
  }

  test("bytes of an older version fail the check") {
    val stale = Content.bytes(Content.key(seed, 3, 1), len)
    assert(PointRwWorkload.check(seed, 3, 2, 0L, stale, 0, len).isDefined)
  }
}
