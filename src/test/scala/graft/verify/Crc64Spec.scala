package graft.verify

import org.scalatest.funsuite.AnyFunSuite

class Crc64Spec extends AnyFunSuite {

  private def bytes(s: String) = s.getBytes("UTF-8")

  test("matches the published CRC-64/XZ check value") {
    // standard check string for CRC-64/XZ (ECMA poly, reflected):
    assert(Crc64.checksum(bytes("123456789")) === 0x995DC9BBDF1939FAL)
  }

  test("empty input") {
    assert(Crc64.checksum(Array.emptyByteArray) === 0L)
  }

  test("streaming update equals one-shot") {
    val all = bytes("hello graft checksum world")
    val (a, b) = all.splitAt(7)
    assert(Crc64.update(Crc64.checksum(a), b) === Crc64.checksum(all))
  }

  test("distinct inputs produce distinct checksums") {
    assert(Crc64.checksum(bytes("a")) !== Crc64.checksum(bytes("b")))
  }

  test("slice-by-8 equals the bytewise kernel on every length 0-300 and alignment") {
    val poly = 0xC96C5795D7870F42L
    def bytewise(b: Array[Byte]): Long = {
      var c = -1L
      b.foreach { x =>
        c ^= x & 0xFFL
        (0 until 8).foreach(_ => c = if ((c & 1L) == 1L) (c >>> 1) ^ poly else c >>> 1)
      }
      ~c
    }
    val rnd = new scala.util.Random(64L)
    for (len <- 0 to 300) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      assert(Crc64.checksum(b) === bytewise(b), s"len=$len")
      val (x, y) = b.splitAt(len / 3)
      assert(Crc64.update(Crc64.checksum(x), y) === bytewise(b), s"split len=$len")
    }
  }
}
