package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental maintenance of the derived mutual/ranks relations
  * (`knnSpliceDerived`): an edge mutation invalidates the marker and
  * records its changed ids, and the next consumer SPLICES — pairs
  * with neither endpoint in the delta carry over, pairs touching it
  * re-enumerate from fresh lists — instead of re-deriving the whole
  * graph (full derivation re-aggregates all n lists and self-joins
  * k·n rows; the splice scans edges filtered to ≤k·|Δ| groups). The
  * spec pins splice == full derivation after an append AND after a
  * forget, that the ensure path actually takes the splice when the
  * preconditions hold, and the fallback to a full rebuild when the
  * delta is missing.
  */
class KnnDerivedSpliceSpec extends SparkSpec {

  private def mutualSet(layout: String): Set[(Long, Long)] =
    SimilarityQueries.knnMutualRead(spark, layout).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ranksSet(layout: String): Set[(Long, Long)] =
    SimilarityQueries.knnRanksRead(spark, layout).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def fullDerivation(layout: String): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val pairs = SimilarityQueries.knnMutualEdgesAt(spark, layout)
    val m = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rk = SimilarityQueries.knnRanksFrom(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (m, rk)
  }

  test("splice == full derivation after append and forget; ensure picks the path") {
    import spark.implicits._
    val all = graft.GraftSession.table(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    // duplicates guarantee mutual pairs exist on both sides of the cut
    val dup = all.where(col("vec_id") < 30)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_splice").toString
    all.where(col("vec_id") < 300).unionByName(dup)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // first consume → FULL derivation (no prior generation)
    val c0 = SimilarityQueries.knnClusters(spark, dir).collect()
    assert(c0.nonEmpty)
    val layout = SimilarityQueries.knnLayoutPath(dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK")))
    val gen0 = mutualSet(layout)
    assert(gen0.nonEmpty, "fixture produced no mutual pairs")

    // an append invalidates the marker, KEEPS the dirs, records delta
    val batch = all.where(col("vec_id") >= 300 && col("vec_id") < 320)
      .unionByName(all.where(col("vec_id") < 10)
        .select((col("vec_id") + 800000L).as("vec_id"), col("embedding")))
    SimilarityQueries.knnAppend(spark, dir, batch)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "mutual/_SUCCESS")),
      "the append must keep the old generation as splice input")
    assert(spark.read.parquet(s"$layout/derived_delta").count() > 0)

    // the SPLICE itself (policy bypassed — at this corpus size a
    // batch's ring spans most buckets, so the adaptive ensure below
    // rightly prefers the full derivation): splice == full derivation
    // over the grown graph, mutual AND ranks
    SimilarityQueries.knnSpliceDerived(spark, layout)
    val (fullM, fullR) = fullDerivation(layout)
    assert(mutualSet(layout) === fullM,
      "spliced mutual diverged from the full derivation after append")
    assert(ranksSet(layout) === fullR,
      "spliced ranks diverged from the full derivation after append")
    assert(mutualSet(layout) !== gen0,
      "the append's duplicates must have changed the mutual relation")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"), "1")

    // a forget records (victims ∪ affected); the splice handles it
    val victims = Seq(3L, 700003L) // a duplicate pair: both sides go
    SimilarityQueries.knnForgetAt(spark, layout, victims)
    assert(spark.read.parquet(s"$layout/derived_delta").count() > 0)
    SimilarityQueries.knnSpliceDerived(spark, layout)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"), "1")
    val (fullM2, fullR2) = fullDerivation(layout)
    assert(mutualSet(layout) === fullM2,
      "spliced mutual diverged from the full derivation after forget")
    assert(ranksSet(layout) === fullR2)
    assert(!mutualSet(layout).exists(p =>
      victims.contains(p._1) || victims.contains(p._2)))

    // the ADAPTIVE ensure policy, both ends: a SMALL delta (under half
    // the corpus) splices; a corpus-spanning one re-derives
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"))
    import spark.implicits._
    Seq(0L, 1L, 2L).toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(s"$layout/derived_delta")
    assert(SimilarityQueries.knnEnsureDerived(spark, layout) === true,
      "a 3-id delta must take the splice")
    assert(mutualSet(layout) === fullM2,
      "a no-change splice must leave the relation intact")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"))
    spark.read.parquet(s"$layout/vecs").select("vec_id")
      .write.mode("append").parquet(s"$layout/derived_delta")
    assert(SimilarityQueries.knnEnsureDerived(spark, layout) === false,
      "a corpus-spanning delta must take the full derivation")
    assert(mutualSet(layout) === fullM2)

    // fallback: an invalidation WITHOUT a delta (e.g. a crash took it)
    // falls back to the full rebuild and still converges
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(layout, "_DERIVED_OK"))
    graft.GraftSession.deleteRec(
      java.nio.file.Paths.get(s"$layout/derived_delta"))
    assert(SimilarityQueries.knnEnsureDerived(spark, layout) === false,
      "no delta — ensure must take the full rebuild")
    assert(mutualSet(layout) === fullM2)

    // consumer-level parity: clusters over the maintained layout ==
    // clusters over a from-scratch corpus rebuild
    val dirT = java.nio.file.Files.createTempDirectory("graft_splice_t").toString
    spark.read.parquet(s"$dir/embeddings.parquet").unionByName(batch)
      .where(!col("vec_id").isin(victims: _*))
      .write.mode("overwrite").parquet(s"$dirT/embeddings.parquet")
    val cA = SimilarityQueries.knnClusters(spark, dir).collect().map(_.toSeq).toSeq
    val cT = SimilarityQueries.knnClusters(spark, dirT).collect().map(_.toSeq).toSeq
    assert(cA.nonEmpty && cA === cT,
      "maintained-layout clusters diverged from the corpus rebuild")
  }

  test("a no-op forget (absorbed retry) keeps the derived marker — no spurious re-derivation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_noopf").toString
    graft.GraftSession.table(spark, sf(), "embeddings")
      .where(col("vec_id") < 150)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(SimilarityQueries.knnClusters(spark, dir).count() >= 0)
    val layout = SimilarityQueries.knnLayoutPath(dir)
    val ok = java.nio.file.Paths.get(layout, "_DERIVED_OK")
    assert(java.nio.file.Files.exists(ok))

    val victims = Seq(4L, 9L)
    assert(SimilarityQueries.knnForgetAt(spark, layout, victims) === 2L)
    assert(!java.nio.file.Files.exists(ok),
      "a changing forget must invalidate the derived marker")
    SimilarityQueries.knnClusters(spark, dir) // re-ensure
    assert(java.nio.file.Files.exists(ok))

    // the HTTP retry path: same cohort again → dn = 0 → the marker
    // stays and no delta lands, so the next consumer pays nothing
    assert(SimilarityQueries.knnForgetAt(spark, layout, victims) === 0L)
    assert(java.nio.file.Files.exists(ok),
      "a no-op forget must not invalidate the derived marker")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(layout, "derived_delta")),
      "a no-op forget must not record a delta")
  }
}
