package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Md5

/** The corpus-derived simhash band width (the pre-wired resize the
  * round-17 funnel probe priced): 14 md5 hex digits (56-bit, 4×14-bit
  * bands) below [[DedupQueries.SimhashWideTrigger]], 15 (60-bit,
  * 4×15-bit bands — 2× the slots) at it. What the oracle can't pin,
  * this does: the width formula's threshold, the generalized hash
  * kernel's bit-for-bit parity with the 56-bit one AND with DuckDB's
  * 15-hex parse, the pigeonhole guarantee at BOTH widths (4 bands
  * cover hamming ≤3 at any per-band width — the one property the
  * resize must never lose), and the layout's width stamp.
  */
class SimhashBandWidthSpec extends SparkSpec {

  test("width derivation: 14 hex below the trigger, 15 at it") {
    assert(DedupQueries.simhashHexCharsFor(0L) === 14)
    assert(DedupQueries.simhashHexCharsFor(
      DedupQueries.SimhashWideTrigger - 1) === 14)
    assert(DedupQueries.simhashHexCharsFor(
      DedupQueries.SimhashWideTrigger) === 15)
  }

  test("md5 longHex generalizes long56 bit-for-bit; the 15-hex value matches DuckDB") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val b = rnd.nextString(12).getBytes("UTF-8")
      assert(Md5.longHex(b, 14) === Md5.long56(b))
    }
    // cross-engine pin, value from DuckDB:
    //   SELECT CAST(('0x' || substr(md5('tok7'), 1, 15)) AS BIGINT)
    assert(Md5.longHex("tok7".getBytes("UTF-8"), 15) === 596076830023395080L)
  }

  test("pigeonhole holds at BOTH widths: every hamming<=3 pair shares a band") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (hex <- Seq(14, 15)) {
      val bits = 4 * hex
      val rows = (0 until 200).map { i =>
        val v = rnd.nextLong() & ((1L << bits) - 1)
        val flips = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(bits)).distinct
        (i.toLong, v, flips.foldLeft(v)((a, j) => a ^ (1L << j)))
      }
      val left = DedupQueries.simBands(
        rows.map(r => (r._1, r._2)).toDF("doc_id", "simhash"), hex)
      val right = DedupQueries.simBands(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "simhash"), hex)
      val sharing = left.as("x").join(right.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.b") === col("y.b") &&
            col("x.band_val") === col("y.band_val"))
        .select(col("x.doc_id")).distinct().count()
      assert(sharing === rows.size.toLong,
        s"hex=$hex: a hamming<=3 pair escaped every band — recall broken")
    }
  }

  test("the standing layout stamps its width; today's corpora stamp 14") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bw").toString
    graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 60)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupQueries.dedupSimhashPairs(spark, dir).count() >= 0)
    val stamp = java.nio.file.Files.readString(java.nio.file.Paths.get(
      graft.GraftSession.fixtureRoot(dir),
      DedupQueries.SimhashDir, "_BAND_HEX")).trim
    assert(stamp === "14")
  }
}
