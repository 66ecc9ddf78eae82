package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion propagation into the standing text index
  * (`invIndexForget`): tombstoned documents vanish from retrieval
  * with BM25 EXACTLY equal to an index rebuilt over the remaining
  * corpus (the negative stats partial keeps idf/avgdl true, not just
  * the row set), a retried request never double-subtracts, and
  * compaction applies the delete physically — victim rows gone from
  * the postings, tombstones retired, served rows invariant.
  */
class InvIndexForgetSpec extends SparkSpec {

  test("forget == rebuild-over-remaining; idempotent; compaction makes it physical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_iforget").toString
    val docs = graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 400)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val before = TextQueries.bm25Topk(spark, dir).collect()
      .map(_.getLong(0)).toSeq
    assert(before.nonEmpty)
    val victims = before.take(2)

    val (dn, dt) = TextQueries.invIndexForget(spark, dir, victims)
    assert(dn === 2L && dt > 0L)

    // the ground truth: a fresh index over the corpus minus victims
    val truth = java.nio.file.Files
      .createTempDirectory("graft_iforget_truth").toString
    docs.where(!col("doc_id").isin(victims: _*))
      .write.mode("overwrite").parquet(s"$truth/documents.parquet")
    def rows(d: String) = TextQueries.bm25Topk(spark, d).collect()
      .map(_.toSeq).toSeq
    val served = rows(dir)
    assert(served.nonEmpty)
    assert(!served.exists(r => victims.contains(r.head)))
    assert(served === rows(truth),
      "tombstoned serve diverged from the rebuild-over-remaining " +
        "(stats delta wrong → idf/avgdl skew shows here)")

    // idempotent: re-forgetting the same cohort changes nothing
    val (dn2, dt2) = TextQueries.invIndexForget(spark, dir, victims)
    assert(dn2 === 0L && dt2 === 0L)
    assert(rows(dir) === served)

    // compaction: deletes go physical, tombstones retire, serve
    // rows invariant
    val layout = TextQueries.invIndexCompact(spark, dir)
    val remaining = spark.read.parquet(s"$layout/postings")
      .where(col("doc_id").isin(victims: _*)).count()
    assert(remaining === 0L, "compaction left physical victim rows")
    // consumed tombstones retired; the dir may stand EMPTY (deleting
    // it raced a concurrent forget's staged move — see
    // retireTombstones) and reads as no-tombstones everywhere
    assert(!graft.GraftSession.hasVisibleData(
      java.nio.file.Paths.get(s"$layout/tombstones")))
    assert(rows(dir) === served, "compaction changed served rows")
  }

  test("a crash between the tombstone and stats moves keeps the stage: retry refuses loudly, compact heals") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_iforget_crash").toString
    val docs = graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 300)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val before = TextQueries.bm25Topk(spark, dir).collect()
      .map(_.getLong(0)).toSeq
    val victims = before.take(2)
    val tag = graft.GraftSession.forgetTag(victims)
    val layout = TextQueries.invIndexLayout(spark, dir)
    // crash exactly in the documented window: tombstones moved in,
    // stats not
    graft.GraftSession.afterLegMoveSeam = p =>
      if (p.endsWith("tombstones")) throw new RuntimeException("boom between moves")
    val thrown = try {
      intercept[RuntimeException] {
        TextQueries.invIndexForget(spark, dir, victims)
      }
    } finally graft.GraftSession.afterLegMoveSeam = _ => ()
    assert(thrown.getMessage === "boom between moves")

    // the claim stands (stage kept with its measured stats leg) and a
    // retry refuses loudly instead of silently under-counting
    val stage = java.nio.file.Paths.get(layout, s".forget_stage_$tag")
    assert(java.nio.file.Files.isDirectory(stage),
      "crashed forget must keep its stage for inspection")
    assert(java.nio.file.Files.exists(stage.resolve("stats")),
      "kept stage must still hold the measured stats leg")
    val refused = intercept[IllegalArgumentException] {
      TextQueries.invIndexForget(spark, dir, victims)
    }
    assert(refused.getMessage.contains("delete"), refused.getMessage)

    // the documented recovery: delete-to-retry clears the claim, and
    // compaction (the stats healer of record) recomputes from the
    // surviving postings — serve equals the rebuild-over-remaining
    graft.GraftSession.deleteRec(stage)
    TextQueries.invIndexCompact(spark, dir)
    val truth = java.nio.file.Files
      .createTempDirectory("graft_iforget_crash_truth").toString
    docs.where(!col("doc_id").isin(victims: _*))
      .write.mode("overwrite").parquet(s"$truth/documents.parquet")
    def rows(d: String) = TextQueries.bm25Topk(spark, d).collect()
      .map(_.toSeq).toSeq
    assert(rows(dir) === rows(truth),
      "post-crash compact did not heal the stats skew")
  }
}
