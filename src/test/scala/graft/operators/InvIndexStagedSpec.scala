package graft.operators

import scala.concurrent.duration.DurationInt
import scala.concurrent.{Await, Future}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Job-scoped staged appends on the inverted index: TWO writers
  * appending CONCURRENTLY must both commit — union == from-scratch
  * rebuild — because each stages under its own claim dir and moves
  * files in under deterministic names (no shared `_temporary`). Plus
  * the claim rule (same tag refused while in progress / after a
  * crash) and stats-partial compaction invariance.
  */
class InvIndexStagedSpec extends SparkSpec {

  private def docsDF(rowsIn: Seq[(Long, String)]) = {
    import spark.implicits._
    rowsIn.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def postings(layout: String): Seq[Seq[Any]] =
    spark.read.parquet(s"$layout/postings")
      .select("tok", "doc_id", "dl", "tf", "positions", "tb")
      .collect().toSeq.map(_.toSeq)
      .sortBy(r => (r(0).toString, r(1).toString.toLong))

  private def statsOf(layout: String): (Long, Long) = {
    val r = spark.read.parquet(s"$layout/stats")
      .agg(sum(col("n_docs")), sum(col("t_tokens"))).head
    (r.getLong(0), r.getLong(1))
  }

  test("a forget racing a staged append: both commit, result == sequential") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val base = (0L until 60L).map(i => i -> s"base doc $i spark data merge")
    val batch = (100L until 130L).map(i => i -> s"late batch doc $i spark")
    val victims = Seq(3L, 7L, 11L) // base docs — disjoint from the append
    val dir = java.nio.file.Files.createTempDirectory("graft_inv_fr").toString
    docsDF(base).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextQueries.invIndexLayout(spark, dir)
    // the race: a staged append and a forget in flight at once — the
    // forget's writes are staged+moved too, so neither sees the
    // other's `_temporary`; the cohort is base-only, so the outcome
    // is order-independent
    val fa = Future(TextQueries.invIndexAppend(spark, dir, docsDF(batch), Some("late")))
    val ff = Future(TextQueries.invIndexForget(spark, dir, victims))
    val layout = Await.result(fa, 5.minutes)
    val (dn, dt) = Await.result(ff, 5.minutes)
    assert(dn === victims.size.toLong && dt > 0L)
    // ground truth: (base ∪ batch) minus victims, built sequentially
    val tDir = java.nio.file.Files.createTempDirectory("graft_inv_fr_t").toString
    docsDF((base ++ batch).filterNot(d => victims.contains(d._1)))
      .write.mode("overwrite").parquet(s"$tDir/documents.parquet")
    val tLayout = TextQueries.invIndexLayout(spark, tDir)
    def bm(d: String) = TextQueries.bm25Topk(spark, d).collect().map(_.toSeq).toSeq
    assert(bm(dir).nonEmpty && bm(dir) === bm(tDir),
      "racing forget+append diverged from the sequential result " +
        "(lost write or skewed stats)")
    // the tombstoned serve hides victims while the appended docs serve
    val toks = spark.read.parquet(s"$layout/postings")
      .where(col("doc_id").isin((victims ++ Seq(105L)): _*))
    assert(toks.where(col("doc_id") === 105L).count() > 0)
  }

  test("two concurrent staged appends both commit; union == rebuild") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val a = Seq(1L -> "spark merge data", 2L -> "data data spark")
    val b1 = (10L until 40L).map(i => i -> s"batch one doc $i spark")
    val b2 = (50L until 80L).map(i => i -> s"batch two doc $i merge")
    val incDir = java.nio.file.Files.createTempDirectory("graft_inv_race").toString
    docsDF(a).write.mode("overwrite").parquet(s"$incDir/documents.parquet")
    TextQueries.invIndexLayout(spark, incDir) // base build before the race
    // the race: two appenders in flight at once, distinct tags
    val f1 = Future(TextQueries.invIndexAppend(spark, incDir, docsDF(b1), Some("w1")))
    val f2 = Future(TextQueries.invIndexAppend(spark, incDir, docsDF(b2), Some("w2")))
    val layout = Await.result(f1, 5.minutes)
    assert(Await.result(f2, 5.minutes) === layout)
    val fullDir = java.nio.file.Files.createTempDirectory("graft_inv_race_full").toString
    docsDF(a ++ b1 ++ b2).write.mode("overwrite")
      .parquet(s"$fullDir/documents.parquet")
    val fullLayout = TextQueries.invIndexLayout(spark, fullDir)
    assert(postings(layout) === postings(fullLayout),
      "a concurrent appender's postings were lost or doubled")
    assert(statsOf(layout) === statsOf(fullLayout))
    // the probes read both appenders' rows
    val hits = spark.read.parquet(s"$layout/postings")
      .where(col("tok") === "spark").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 10L, 39L).subsetOf(hits))
    // stats partials compact back to one row, sums invariant
    val before = statsOf(layout)
    TextQueries.invIndexCompact(spark, incDir)
    assert(statsOf(layout) === before)
    assert(spark.read.parquet(s"$layout/stats").count() === 1L)
    assert(postings(layout) === postings(fullLayout))
  }

  test("simhash: two concurrent staged appends both commit; union == rebuild") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val a = Seq(1L -> "spark merge data rows", 2L -> "data data spark words")
    val b1 = (10L until 30L).map(i => i -> s"first writer document $i body")
    val b2 = (50L until 70L).map(i => i -> s"second writer document $i text")
    val incDir = java.nio.file.Files.createTempDirectory("graft_sh_race").toString
    docsDF(a).write.mode("overwrite").parquet(s"$incDir/documents.parquet")
    val fp = DedupQueries.simhashLayout(spark, incDir)
    val f1 = Future(DedupQueries.simhashAppend(spark, incDir, docsDF(b1), Some("w1")))
    val f2 = Future(DedupQueries.simhashAppend(spark, incDir, docsDF(b2), Some("w2")))
    assert(Await.result(f1, 5.minutes) === fp)
    assert(Await.result(f2, 5.minutes) === fp)
    val fullDir = java.nio.file.Files.createTempDirectory("graft_sh_race_full").toString
    docsDF(a ++ b1 ++ b2).write.mode("overwrite")
      .parquet(s"$fullDir/documents.parquet")
    val fullFp = DedupQueries.simhashLayout(spark, fullDir)
    def rows(p: String): Set[Seq[Any]] =
      spark.read.parquet(p).collect().map(_.toSeq).toSet
    assert(rows(fp) === rows(fullFp),
      "a concurrent appender's fingerprints were lost or doubled")
    // retry idempotence: the same tag re-staged sweeps its own files
    DedupQueries.simhashAppend(spark, incDir, docsDF(b1), Some("w1"))
    assert(rows(fp) === rows(fullFp), "a retried tag doubled its rows")
  }

  test("hyphenated tags never interfere: retrying tag X leaves tag X-*'s files") {
    // tags allow '-' (date tags): the retry sweep for '2026-08' must
    // match EXACTLY append-2026-08-<digits>.parquet, or it would
    // silently delete the committed files of the legal tag
    // '2026-08-15' — data loss inside the API whose contract is that
    // distinct tags never interfere.
    val live = java.nio.file.Files.createTempDirectory("graft_move_live")
    val mkStage = (name: String, body: String) => {
      val d = java.nio.file.Files.createTempDirectory(name)
      java.nio.file.Files.writeString(d.resolve("part-0.parquet"), body)
      d
    }
    graft.GraftSession.moveStagedInto(
      mkStage("graft_move_s1", "long-tag-bytes"), live, "2026-08-15")
    graft.GraftSession.moveStagedInto(
      mkStage("graft_move_s2", "short-tag-bytes-v1"), live, "2026-08")
    // the short tag RETRIES (crashed attempt re-staged): only its own
    // file may be swept; the long tag's committed file must survive
    graft.GraftSession.moveStagedInto(
      mkStage("graft_move_s3", "short-tag-bytes-v2"), live, "2026-08")
    val names = java.nio.file.Files.list(live)
    val kept = try {
      val b = Seq.newBuilder[String]
      names.forEach(p => b += p.getFileName.toString)
      b.result().sorted
    } finally names.close()
    assert(kept === Seq("append-2026-08-0.parquet",
      "append-2026-08-15-0.parquet"),
      "the tag-X retry sweep deleted (or duplicated) a tag-X-* file")
    assert(java.nio.file.Files.readString(
      live.resolve("append-2026-08-15-0.parquet")) === "long-tag-bytes")
    assert(java.nio.file.Files.readString(
      live.resolve("append-2026-08-0.parquet")) === "short-tag-bytes-v2")
  }

  test("the stage claim refuses a duplicate tag and a crashed leftover") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inv_claim").toString
    docsDF(Seq(1L -> "spark merge data")).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val layout = TextQueries.invIndexLayout(spark, dir)
    // plant a crashed attempt's stage dir: the claim must refuse with
    // the delete-to-retry message, and the live tree must be untouched
    val stale = java.nio.file.Paths.get(layout, ".append_stage_w9")
    java.nio.file.Files.createDirectory(stale)
    val before = postings(layout)
    val ex = intercept[IllegalArgumentException] {
      TextQueries.invIndexAppend(spark, dir,
        docsDF(Seq(5L -> "fresh doc")), Some("w9"))
    }
    assert(ex.getMessage.contains("delete that directory to retry"))
    assert(postings(layout) === before)
    // operator clears the leftover → the retry lands exactly once
    graft.GraftSession.deleteRec(stale)
    TextQueries.invIndexAppend(spark, dir,
      docsDF(Seq(5L -> "fresh doc")), Some("w9"))
    val after = postings(layout)
    assert(after.exists(r => r(1) == 5L))
    // a RE-STAGED retry (crash after some moves) sweeps its own prefix
    // instead of doubling: same tag again after clearing is refused
    // only while in progress — here it must refuse nothing but also
    // must not double rows
    TextQueries.invIndexAppend(spark, dir,
      docsDF(Seq(5L -> "fresh doc")), Some("w9"))
    assert(postings(layout) === after, "a retried tag doubled its rows")
    // invalid tags are rejected before touching the layout
    intercept[IllegalArgumentException] {
      TextQueries.invIndexAppend(spark, dir,
        docsDF(Seq(6L -> "x")), Some("../evil"))
    }
  }
}
