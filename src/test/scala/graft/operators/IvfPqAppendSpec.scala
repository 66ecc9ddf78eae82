package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental IVF-PQ maintenance: appended codes must be
  * bit-identical to a from-scratch encode of the union with the same
  * frozen codebooks, and the probe over the appended index must
  * surface the appended vectors.
  */
class IvfPqAppendSpec extends SparkSpec {

  test("append equals from-scratch encode with frozen books; probe sees appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_append").toString
    SimilarityQueries.buildIvfPq(spark, sf(), dir)
    val baseCodes = spark.read.parquet(s"$dir/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getAs[Number](r.fieldIndex("cell")).longValue)).toSet

    // append shifted copies of the 50 best-known vectors
    val newVecs = graft.GraftSession.table(spark, sf(), "embeddings")
      .where(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    SimilarityQueries.ivfPqAppend(spark, sf(), dir, newVecs)

    val afterCodes = spark.read.parquet(s"$dir/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getAs[Number](r.fieldIndex("cell")).longValue)).toSet
    // standing codes untouched, appended rows present
    assert(baseCodes.subsetOf(afterCodes))
    assert(afterCodes.size === baseCodes.size + 50)
    // equivalence: an exact copy of vec v carries exactly v's codes and
    // cell (pqEncode is deterministic and books are frozen), so the
    // appended rows are the base rows of ids 0..49 with shifted ids
    val shifted = baseCodes.filter(_._1 < 50)
      .map { case (id, c0, c1, c2, c3, cell) => (id + 100000, c0, c1, c2, c3, cell) }
    assert(afterCodes -- baseCodes === shifted)

    // the probe over the appended index + grown corpus returns the
    // copy of the query vector (vec_id 0's copy scores identically to
    // vec_id 0 itself)
    val grown = graft.GraftSession.table(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .unionByName(newVecs)
    val top = SimilarityQueries.annIvfPqAt(spark, sf(), dir, grown).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top.contains(100000L), s"appended copy missing from ${top.keySet}")
    assert(top(100000L) === top(0L))
  }

  test("two concurrent staged appends both commit; union == one-writer appends") {
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_race").toString
    SimilarityQueries.buildIvfPq(spark, sf(), dir)
    def codes(): Set[(Long, Int, Int, Int, Int, Long)] =
      spark.read.parquet(s"$dir/codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getAs[Number](r.fieldIndex("cell")).longValue)).toSet
    val base = codes()
    def batch(lo: Int, hi: Int, shift: Long) =
      graft.GraftSession.table(spark, sf(), "embeddings")
        .where(col("vec_id") >= lo && col("vec_id") < hi)
        .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    // the race: two appenders in flight at once, distinct tags — each
    // stages privately, so neither can eat the other's task files
    val f1 = Future(SimilarityQueries.ivfPqAppend(
      spark, sf(), dir, batch(0, 40, 100000L), Some("w1")))
    val f2 = Future(SimilarityQueries.ivfPqAppend(
      spark, sf(), dir, batch(40, 80, 200000L), Some("w2")))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    val raced = codes()
    assert(base.subsetOf(raced), "a racing appender clobbered standing codes")
    assert(raced.size === base.size + 80,
      "a concurrent appender's codes were lost or doubled")
    // pqEncode is deterministic with frozen books: the raced rows are
    // exactly the base rows of the copied ids, shifted
    val expected = base.filter(_._1 < 40)
      .map { case (id, c0, c1, c2, c3, cell) => (id + 100000, c0, c1, c2, c3, cell) } ++
      base.filter(t => t._1 >= 40 && t._1 < 80)
        .map { case (id, c0, c1, c2, c3, cell) => (id + 200000, c0, c1, c2, c3, cell) }
    assert(raced -- base === expected)
    // retry idempotence: the same tag re-staged sweeps its own files
    SimilarityQueries.ivfPqAppend(spark, sf(), dir, batch(0, 40, 100000L), Some("w1"))
    assert(codes() === raced, "a retried tag doubled its rows")
    // the claim refuses a crashed attempt's leftover stage
    val stale = java.nio.file.Paths.get(dir, ".append_stage_w9")
    java.nio.file.Files.createDirectory(stale)
    val ex = intercept[IllegalArgumentException] {
      SimilarityQueries.ivfPqAppend(spark, sf(), dir, batch(0, 5, 300000L), Some("w9"))
    }
    assert(ex.getMessage.contains("delete that directory to retry"))
    assert(codes() === raced)
  }
}
