package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DedupQueries, SimilarityQueries, TextQueries}

/** The governance dispatch over a corpus where ALL FOUR per-document
  * layouts stand: one `applyForget` call reports per-layout counts in
  * a fixed order, `pendingForgets` shows every layout's tombstones,
  * and the compaction verbs drain them to zero — the full-surface
  * twin of the doc-layouts-only HTTP round trip.
  */
class GovernanceSpec extends SparkSpec {

  test("applyForget and pendingForgets cover all four standing layouts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gov").toString
    graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 300)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.GraftSession.table(spark, sf(), "embeddings")
      .where(col("vec_id") < 300)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // stand all four layouts up
    assert(TextQueries.bm25Topk(spark, dir).count() > 0)
    assert(DedupQueries.dedupSimhashPairs(spark, dir).count() >= 0)
    assert(SimilarityQueries.annIvfPq(spark, dir).count() > 0)
    assert(SimilarityQueries.knnGraphIndexed(spark, dir).count() > 0)

    val ids = Seq(3L, 7L) // present in both id spaces
    val applied = Governance.applyForget(spark, dir, ids)
    assert(applied.map(_._1) === Seq("invindex", "simhash", "ivfpq", "knn_r1"),
      s"dispatch order/coverage changed: $applied")
    assert(applied.toMap.apply("simhash") === """{"docs":2}""")
    assert(applied.toMap.apply("ivfpq") === """{"vectors":2}""")
    assert(applied.toMap.apply("knn_r1") === """{"vectors":2}""")

    val pending = Governance.pendingForgets(spark, dir).toMap
    assert(pending === Map("invindex" -> 2L, "simhash" -> 2L,
      "ivfpq" -> 2L, "knn_r1" -> 2L), s"pending: $pending")

    // a retry is absorbed everywhere
    val again = Governance.applyForget(spark, dir, ids).toMap
    assert(again("invindex") === """{"docs":0,"tokens":0}""")
    assert(again("knn_r1") === """{"vectors":0}""")

    // the physical deletes drain the counters
    TextQueries.invIndexCompact(spark, dir)
    DedupQueries.simhashCompact(spark, dir)
    SimilarityQueries.ivfPqCompact(spark, dir)
    SimilarityQueries.knnCompact(spark, dir)
    val drained = Governance.pendingForgets(spark, dir).toMap
    assert(drained === Map("invindex" -> 0L, "simhash" -> 0L,
      "ivfpq" -> 0L, "knn_r1" -> 0L), s"after compact: $drained")
  }

  test("forget ledger lifecycle: compaction keeps rows bit-identical with fewer files; CSV dump round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_govlog").toString
    graft.GraftSession.table(spark, sf(), "documents")
      .where(col("doc_id") < 200)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupQueries.dedupSimhashPairs(spark, dir).count() >= 0)
    // three distinct cohorts → three staged-moved ledger files (one
    // per applyForget call): the fragmentation the lifecycle solves
    Governance.applyForget(spark, dir, Seq(3L))
    Governance.applyForget(spark, dir, Seq(7L))
    Governance.applyForget(spark, dir, Seq(13L, 17L))
    val logDir = java.nio.file.Paths.get(
      graft.GraftSession.fixtureRoot(dir), "forget_log")
    def files(): Seq[String] = {
      val l = java.nio.file.Files.list(logDir)
      try {
        val b = Seq.newBuilder[String]
        l.forEach(f => if (java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith(".")) b += f.getFileName.toString)
        b.result()
      } finally l.close()
    }
    def rows(): Set[(Long, String, Int, String, String)] =
      Governance.forgetLog(spark, dir).collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
          r.getString(4))).toSet
    val before = rows()
    assert(files().size === 3, s"one file per request: ${files()}")
    assert(before.size === 3, s"one simhash record per call: $before")

    assert(Governance.forgetLogCompact(spark, dir))
    assert(files().size === 1, s"compacted to one file: ${files()}")
    assert(rows() === before, "ledger rows must be bit-identical after")
    // a ledger record logged AFTER the compaction appends beside it
    Governance.applyForget(spark, dir, Seq(19L))
    assert(rows().size === 4 && before.subsetOf(rows()))

    // CSV export round-trip (the --checkpoint-dump shape) — into a
    // dir that ALREADY holds prior evidence, which must survive: the
    // export is non-destructive by contract (a mode("overwrite")
    // write pointed at the dir would have deleted it wholesale)
    val out = java.nio.file.Files
      .createTempDirectory("graft_govdump").toString + "/ledger_csv"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "prior_evidence.txt"), "keep")
    assert(Governance.forgetLogDump(spark, dir, out) === 4L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "prior_evidence.txt")) === "keep",
      "a pre-existing file in outDir must survive the export")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$out/forget_log.csv")
    assert(back.count() === 4L)
    assert(back.columns.sorted === Array("applied", "cohort", "layout", "n_ids", "ts"))
    val backSet = back.collect().map(r =>
      (r.getAs[Long]("ts"), r.getAs[String]("cohort"),
        r.getAs[Int]("n_ids"), r.getAs[String]("layout"),
        r.getAs[String]("applied"))).toSet
    assert(backSet === rows(), "CSV dump must round-trip the ledger")
    // a re-dump of the same name refuses loudly — evidence is never
    // silently clobbered
    val refused = intercept[IllegalArgumentException] {
      Governance.forgetLogDump(spark, dir, out)
    }
    assert(refused.getMessage.contains("exists"), refused.getMessage)
    // a missing ledger reports, never invents (and writes nothing)
    val bare = java.nio.file.Files.createTempDirectory("graft_govnone").toString
    assert(!Governance.forgetLogCompact(spark, bare))
    assert(Governance.forgetLogDump(spark, bare,
      bare + "/none_csv") === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(bare, "none_csv", "forget_log.csv")))
  }

  test("a forget reaches knn layouts at BOTH standing radii, not just the session's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gov2").toString
    graft.GraftSession.table(spark, sf(), "embeddings")
      .where(col("vec_id") < 200)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // stand knn layouts at r1 (session default) AND r2 — the
    // operator-switched-the-conf-between-sessions shape
    assert(SimilarityQueries.knnGraphIndexed(spark, dir).count() > 0)
    spark.conf.set("spark.graft.knn.probeRadius", "2")
    try assert(SimilarityQueries.knnGraphIndexed(spark, dir).count() > 0)
    finally spark.conf.set("spark.graft.knn.probeRadius", "1")

    // session radius is back at 1; the dispatch must still reach r2
    val ids = Seq(5L, 11L)
    val applied = Governance.applyForget(spark, dir, ids).toMap
    assert(applied === Map("knn_r1" -> """{"vectors":2}""",
      "knn_r2" -> """{"vectors":2}"""), s"applied: $applied")
    val pending = Governance.pendingForgets(spark, dir).toMap
    assert(pending === Map("knn_r1" -> 2L, "knn_r2" -> 2L),
      s"pending: $pending")

    // neither radius serves a victim, and neither radius lets one
    // linger in a survivor's list
    for (r <- SimilarityQueries.KnnLegalRadii) {
      val g = SimilarityQueries.knnGraphAtRadius(spark, dir, r)
      val bad = g.where(col("vec_id").isin(5L, 11L) ||
        col("neighbor_id").isin(5L, 11L)).count()
      assert(bad === 0, s"radius $r still serves a forgotten vector")
    }

    // APPEND asymmetry is a documented contract, and its lag must be
    // VISIBLE: an idempotent append feeds only the session radius
    // (r1), so with both radii standing the surface shows r1 at the
    // batch id and r2 at −1 (no streamed append ever committed there)
    // — the operator's signal to run the maintainer at r2 or retire
    // the layout.
    assert(Governance.appendLag(dir).toMap ===
      Map("knn_r1" -> -1L, "knn_r2" -> -1L))
    val newVecs = graft.GraftSession.table(spark, sf(), "embeddings")
      .where(col("vec_id") >= 200 && col("vec_id") < 210)
      .select("vec_id", "embedding")
    assert(SimilarityQueries.knnAppendOnce(spark, dir, newVecs, 42L))
    val lag = Governance.appendLag(dir).toMap
    assert(lag === Map("knn_r1" -> 42L, "knn_r2" -> -1L),
      s"append lag must be visible per radius: $lag")

    // `index-compact knn` retires the tombstones at EVERY standing
    // radius, not only the session's — pending drains at both
    assert(StandingLayouts.compact(spark, dir, "knn") ===
      Seq("knn_r1", "knn_r2"))
    val drained = Governance.pendingForgets(spark, dir).toMap
    assert(drained === Map("knn_r1" -> 0L, "knn_r2" -> 0L),
      s"after index-compact knn: $drained")
  }
}
