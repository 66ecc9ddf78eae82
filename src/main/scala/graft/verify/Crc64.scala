package graft.verify

import org.apache.spark.unsafe.Platform

/** CRC-64 in the ECMA-182 reflected variant (poly 0xC96C5795D7870F42,
  * init/xorout 0xFFFFFFFFFFFFFFFF) — the same public algorithm the
  * reference uses for its KV checksum (Go `hash/crc64` with the ECMA
  * table; see reference `lightning/verification/checksum.go:27-93`).
  *
  * Slice-by-8: eight 256-entry tables fold one little-endian 8-byte
  * word per step (`tables(k)(b)` is the CRC of byte `b` followed by k
  * zero bytes), the tail goes bytewise through `tables(0)`.
  * Allocation-free; safe to call from executor threads.
  */
object Crc64 {
  private val Poly = 0xC96C5795D7870F42L

  private val tables: Array[Array[Long]] = {
    val t = Array.ofDim[Long](8, 256)
    var i = 0
    while (i < 256) {
      var crc = i.toLong
      var j = 0
      while (j < 8) {
        crc = if ((crc & 1L) == 1L) (crc >>> 1) ^ Poly else crc >>> 1
        j += 1
      }
      t(0)(i) = crc
      i += 1
    }
    for (k <- 1 until 8; b <- 0 until 256)
      t(k)(b) = (t(k - 1)(b) >>> 8) ^ t(0)((t(k - 1)(b) & 0xFF).toInt)
    t
  }
  private val t0 = tables(0)
  private val t1 = tables(1)
  private val t2 = tables(2)
  private val t3 = tables(3)
  private val t4 = tables(4)
  private val t5 = tables(5)
  private val t6 = tables(6)
  private val t7 = tables(7)

  private val bigEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  /** CRC of a full byte array. */
  def checksum(bytes: Array[Byte]): Long = update(0L, bytes)

  /** Streaming update: `crc` is the running value returned by a prior
    * call (0 for a fresh stream). Init/final inversion handled here so
    * chaining `update` calls over concatenated chunks is equivalent to
    * one call over the concatenation.
    */
  def update(crc: Long, bytes: Array[Byte]): Long = {
    var c = ~crc
    var i = 0
    val n = bytes.length
    val words = n - 7
    while (i < words) {
      val w = Platform.getLong(bytes, Platform.BYTE_ARRAY_OFFSET + i)
      c ^= (if (bigEndian) java.lang.Long.reverseBytes(w) else w)
      c = t7((c & 0xFF).toInt) ^ t6(((c >>> 8) & 0xFF).toInt) ^
        t5(((c >>> 16) & 0xFF).toInt) ^ t4(((c >>> 24) & 0xFF).toInt) ^
        t3(((c >>> 32) & 0xFF).toInt) ^ t2(((c >>> 40) & 0xFF).toInt) ^
        t1(((c >>> 48) & 0xFF).toInt) ^ t0((c >>> 56).toInt)
      i += 8
    }
    while (i < n) {
      c = t0(((c ^ bytes(i).toLong) & 0xFF).toInt) ^ (c >>> 8)
      i += 1
    }
    ~c
  }
}
