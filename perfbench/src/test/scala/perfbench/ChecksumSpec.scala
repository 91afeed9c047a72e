package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {

  test("equal checksums pass") {
    assert(Checksum.mismatch("op", Checksum(3, 42), Checksum(3, 42)).isEmpty)
  }

  test("a row count or hash difference fails and says which op") {
    val rows = Checksum.mismatch("IntervalJoin.sweepJoin", Checksum(3, 42), Checksum(4, 42))
    assert(rows.exists(_.startsWith("IntervalJoin.sweepJoin:")))
    assert(rows.exists(_.contains("(rows=3, hash=42)")))
    assert(Checksum.mismatch("op", Checksum(3, 42), Checksum(3, 43)).nonEmpty)
  }
}
