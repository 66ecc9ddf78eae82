package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextQueries

/** Distribution-drift gate: the live per-batch audit must match the
  * batch computation over the same slices (ONE shared driftOf), a
  * representative batch passes while a single-language batch flags,
  * and a replayed batchId is a no-op.
  */
case class DriftDoc(doc_id: Long, text: String, lang: String)

class DriftGateStreamSpec extends SparkSpec {

  test("stream audit rows == batch driftOf; skewed batch flags, balanced passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: 50/50 en/de
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    (1 to 40).map(i =>
      DriftDoc(i.toLong, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    // batch 0 mirrors the mix (L1 = 0); batch 1 is all-en (L1 = 1M)
    val balanced = Seq(DriftDoc(100, "a", "en"), DriftDoc(101, "b", "de"))
    val skewed = (110 to 119).map(i => DriftDoc(i.toLong, "x", "en"))

    val outDir = java.nio.file.Files.createTempDirectory("graft_drift_out").toString
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftGateStream(input.toDF(), corpusDir, outDir).start()
    try {
      input.addData(balanced: _*)
      q.processAllAvailable()
      input.addData(skewed: _*)
      q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(outDir)
      .orderBy("batch_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("l1_ppm"), r.getAs[Boolean]("drifted")))
    assert(audit.length === 2)
    assert(audit(0) === ((0L, 2L, 0L, false)),
      "a batch mirroring the corpus mix has zero L1 and passes")
    assert(audit(1) === ((1L, 10L, 1000000L, true)),
      "an all-one-language batch drifts by the full de share, flagged")

    // parity: the shared computation gives the same rows directly
    val hist = TextQueries.langStats.read(spark, corpusDir)
    val direct = TextQueries.driftOf(skewed.toDF(), hist).head()
    assert((direct.getLong(0), direct.getLong(1), direct.getBoolean(2))
      === ((10L, 1000000L, true)))

    // replayed batchId is a no-op (at-least-once recovery)
    assert(!graft.GraftSession.appliedOnce(
      java.nio.file.Paths.get(outDir, "_LAST_BATCH"), 1L) {
      fail("body must not run for a replayed batch")
    })
  }

  test("empty standing histogram: batches flag loudly instead of crashing the stream") {
    import spark.implicits._
    // bootstrap / regenerated-empty corpus: no reference distribution
    // exists, so the batch's whole mass counts as drift — the routing
    // stream must get a verdict, never a null-propagating NPE
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_drift0").toString
    Seq.empty[DriftDoc].toDF()
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val hist = TextQueries.langStats.read(spark, corpusDir)
    assert(hist.count() === 0)
    val batch = (1 to 10).map(i => DriftDoc(i.toLong, "x", "en"))
    val v = TextQueries.driftOf(batch.toDF(), hist).head()
    assert((v.getLong(0), v.getLong(1), v.getBoolean(2))
      === ((10L, 1000000L, true)))
    // and the degenerate empty-vs-empty case stays well-defined
    val v0 = TextQueries.driftOf(Seq.empty[DriftDoc].toDF(), hist).head()
    assert((v0.getLong(0), v0.getLong(1), v0.getBoolean(2)) === ((0L, 0L, false)))
  }

  test("quarantineRelease feeds a cleared batch to passed exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_qr").toString
    (1 to 20).map(i => DriftDoc(i.toLong, s"doc $i", "en"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val doorDir = java.nio.file.Files.createTempDirectory("graft_qr_door").toString
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir).start()
    try {
      input.addData((100 to 104).map(i => DriftDoc(i.toLong, "x", "zz")): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$doorDir/quarantined").count() === 5)
    assert(spark.read.schema(
      Seq.empty[(Long, String, String, Long)]
        .toDF("doc_id", "text", "lang", "batch_id").schema)
      .parquet(s"$doorDir/passed").count() === 0)

    // inspection clears the batch: release it to the passed flow
    assert(StreamingOps.quarantineRelease(spark, doorDir, 0L) === 5L)
    assert(spark.read.parquet(s"$doorDir/passed")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (100L to 104L))
    // the audit trail records the release beside the routing verdict —
    // an operator reading the alarm feed must not see "quarantined"
    // forever after the batch was fed back
    val auditRows = spark.read.parquet(s"$doorDir/audit")
      .orderBy("event").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("event"),
        r.getAs[Long]("n_docs")))
    assert(auditRows.toSeq === Seq((0L, "released", 5L), (0L, "routed", 5L)))
    // the release's audit row lands under a deterministic name via the
    // private stage — never through a shared audit/_temporary with a
    // live door's committer
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, "audit", "release-audit-0.parquet")))
    assert(spark.read.parquet(s"$doorDir/audit")
      .where(col("event") === "released")
      .select("axes").head().isNullAt(0),
      "a release is an operator decision, not a verdict — the axes map is null")
    // the historical record stays; a double release refuses loudly
    assert(spark.read.parquet(s"$doorDir/quarantined").count() === 5)
    val dup = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, doorDir, 0L)
    }
    assert(dup.getMessage.contains("already released"))
    // a stage dir left by a crash BETWEEN marker and claim drop is
    // litter of a COMMITTED release: the refusal sweeps it
    val litter = java.nio.file.Paths.get(doorDir, ".release_stage_0")
    java.nio.file.Files.createDirectories(litter)
    val dup2 = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, doorDir, 0L)
    }
    assert(dup2.getMessage.contains("already released"))
    assert(!java.nio.file.Files.exists(litter))
    // releasing a batch that was never quarantined refuses too — and
    // the failed attempt drops its marker claim, so it stays retryable
    val missing = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, doorDir, 7L)
    }
    assert(missing.getMessage.contains("no quarantined rows"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, "released", "7")))
    // ...and drops its staging-dir claim, so nothing lingers
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, ".release_stage_7")))

    // a fresh door (quarantined dir exists but is EMPTY — its normal
    // bootstrap state) refuses with the friendly message, not a
    // parquet schema-inference crash
    val fresh = java.nio.file.Files.createTempDirectory("graft_qr2").toString
    val q2 = StreamingOps.driftRouteStream(
      MemoryStream[DriftDoc].toDF(), corpusDir, fresh)
    val empty = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, fresh, 0L)
    }
    assert(empty.getMessage.contains("no quarantined rows"))
  }

  test("a crashed release attempt can never misreport the batch as released") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_qr_crash").toString
    (1 to 20).map(i => DriftDoc(i.toLong, s"doc $i", "en"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val doorDir = java.nio.file.Files.createTempDirectory("graft_qr_crash_door").toString
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir).start()
    try {
      input.addData((200 to 204).map(i => DriftDoc(i.toLong, "x", "zz")): _*)
      q.processAllAvailable()
    } finally q.stop()

    // simulate a kill -9 mid-release: the staging-dir claim exists and
    // one partial file already moved into passed/, but the released
    // marker (written LAST) does not
    val stage = java.nio.file.Paths.get(doorDir, ".release_stage_0")
    java.nio.file.Files.createDirectories(stage)
    val stalePartial = java.nio.file.Paths.get(doorDir, "passed", "release-0-0.parquet")
    java.nio.file.Files.createDirectories(stalePartial.getParent)
    java.nio.file.Files.writeString(stalePartial, "torn partial, not parquet")

    // a retry refuses LOUDLY with the recovery instruction — it does
    // NOT claim the batch was already released (the r11 wedge)
    val crashed = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, doorDir, 0L)
    }
    assert(crashed.getMessage.contains("in progress"), crashed.getMessage)
    assert(crashed.getMessage.contains(stage.toString), crashed.getMessage)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, "released", "0")),
      "the marker means COMMITTED; a crashed attempt must not plant it")

    // the prescribed recovery: delete the staging dir, rerun — the
    // release-<id>-* sweep absorbs the crashed attempt's partial file
    graft.GraftSession.deleteRec(stage)
    assert(StreamingOps.quarantineRelease(spark, doorDir, 0L) === 5L)
    assert(spark.read.parquet(s"$doorDir/passed")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (200L to 204L), "the torn partial must be swept, not read")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, "released", "0")))
    val dup = intercept[IllegalArgumentException] {
      StreamingOps.quarantineRelease(spark, doorDir, 0L)
    }
    assert(dup.getMessage.contains("already released"))
  }

  private def mergedHist(corpusDir: String): Map[String, Long] =
    TextQueries.langStats.read(spark, corpusDir)
      .groupBy("lang").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One axis's (l1_ppm, drifted) from a v2 audit row's axes map. */
  private def axisOf(r: org.apache.spark.sql.Row, name: String): (Long, Boolean) = {
    val m = r.getAs[Map[String, org.apache.spark.sql.Row]]("axes")
    val a = m(name)
    (a.getAs[Long]("l1_ppm"), a.getAs[Boolean]("drifted"))
  }

  test("door-maintained histogram == rebuild over seed ∪ passed; quarantine never feeds it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_hist").toString
    val seed = (1 to 20).map(i =>
      DriftDoc(i.toLong, s"doc $i", if (i % 2 == 0) "en" else "de"))
    seed.toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val doorDir = java.nio.file.Files.createTempDirectory("graft_hist_door").toString
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir).start()
    val passed0 = Seq(DriftDoc(100, "a", "en"), DriftDoc(101, "b", "de"))
    val rejected = (110 to 119).map(i => DriftDoc(i.toLong, "x", "zz"))
    val passed2 = Seq(DriftDoc(120, "c", "en"), DriftDoc(121, "d", "de"),
      DriftDoc(122, "e", "en"), DriftDoc(123, "f", "de"))
    try {
      input.addData(passed0: _*); q.processAllAvailable()
      input.addData(rejected: _*); q.processAllAvailable()
      input.addData(passed2: _*); q.processAllAvailable()
    } finally q.stop()

    // the standing reference must equal a batch rebuild over what the
    // door accepted — seed ∪ passed, never the quarantined batch
    val expected = (seed ++ passed0 ++ passed2)
      .groupBy(_.lang).map { case (l, ds) => l -> ds.size.toLong }
    assert(mergedHist(corpusDir) === expected)
    assert(!mergedHist(corpusDir).contains("zz"),
      "a quarantined batch must never walk the reference distribution")

    // the maintenance high-water mark lives in the DOOR's dir, not the
    // layout's: the checkpoint-reset contract (clear the door dir,
    // batchIds restart) clears it together with the door's own marker
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(doorDir, "_LANGSTATS_LAST_BATCH")))
    // ...so a SECOND door (fresh outDir, batchIds restarting at 0)
    // maintains the same layout instead of silently no-oping against
    // the first door's high-water mark — the post-reset freeze bug
    val doorDir2 = java.nio.file.Files.createTempDirectory("graft_hist_door2").toString
    val input2 = MemoryStream[DriftDoc]
    val q2 = StreamingOps.driftRouteStream(input2.toDF(), corpusDir, doorDir2).start()
    val passed3 = Seq(DriftDoc(130, "g", "en"), DriftDoc(131, "h", "de"))
    try { input2.addData(passed3: _*); q2.processAllAvailable() }
    finally q2.stop()
    val expected2 = expected.map { case (l, n) => l -> (n + 1) }
    assert(mergedHist(corpusDir) === expected2,
      "a fresh door's batch 0 must append despite the first door's mark")

    // SEMANTIC compaction: append partials collapse to one row per
    // lang; verdicts invariant; an append landing mid-compaction
    // survives. (The seed never fragments — compaction is an appends
    // concern, seed rows stay untouched beside the compacted partials.)
    assert(TextQueries.langStats.read(spark, corpusDir).count() >
      TextQueries.langStats.read(spark, corpusDir)
        .select("lang").distinct().count(),
      "the door's appends must have produced multiple partials per lang")
    val probe = (200 to 209).map(i => DriftDoc(i.toLong, "x", "en"))
    val before = TextQueries.driftOf(probe.toDF(),
      TextQueries.langStats.read(spark, corpusDir)).head()
    val late = Seq(DriftDoc(300, "g", "en"), DriftDoc(301, "h", "de"))
    TextQueries.langStats.compact(spark, corpusDir,
      () => { TextQueries.langStats.append(spark, corpusDir, late.toDF()); () })
    assert(mergedHist(corpusDir) ===
      expected2.map { case (l, n) => l -> (n + 1) },
      "the mid-compaction append must survive the swap")
    val after = TextQueries.driftOf(
      probe.toDF(), TextQueries.langStats.read(spark, corpusDir)).head()
    assert(before.getLong(1) !== 0L)
    assert(after.getBoolean(2) === before.getBoolean(2))
    TextQueries.langStats.compact(spark, corpusDir)
    assert(TextQueries.langStats.read(spark, corpusDir).count() === 4,
      "a quiet compaction collapses to seed row + one compacted partial per lang")
    assert(mergedHist(corpusDir) === expected2.map { case (l, n) => l -> (n + 1) })
  }

  test("langStatsAppendOnce: detached maintenance is batchId-idempotent") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_hist_once").toString
    (1 to 10).map(i => DriftDoc(i.toLong, "t", "en"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val batch = Seq(DriftDoc(50, "u", "en"), DriftDoc(51, "v", "fr")).toDF()
    assert(TextQueries.langStats.appendOnce(spark, corpusDir, batch, batchId = 0L))
    assert(!TextQueries.langStats.appendOnce(spark, corpusDir, batch, batchId = 0L),
      "a replayed batch must not double the counts")
    assert(mergedHist(corpusDir) === Map("en" -> 11L, "fr" -> 1L))

    // switching to a door-scoped marker VOIDS the layout-local mark it
    // supersedes: the door's batch 0 must append (not freeze against
    // the detached scheme's high-water), and the stale mark is gone
    val doorMark = java.nio.file.Files.createTempDirectory("graft_hist_mark")
      .resolve("_LANGSTATS_LAST_BATCH")
    val one = Seq(DriftDoc(60, "w", "fr")).toDF()
    assert(TextQueries.langStats.appendOnce(spark, corpusDir, one, 0L, Some(doorMark)))
    assert(mergedHist(corpusDir) === Map("en" -> 11L, "fr" -> 2L))
    val layoutLocal = java.nio.file.Paths.get(
      TextQueries.langStats.dir(corpusDir)).resolve("_LAST_BATCH")
    assert(!java.nio.file.Files.exists(layoutLocal),
      "the superseded layout-local mark must not booby-trap a later switch back")
  }

  test("a gradual legitimate shift is absorbed; a frozen door would flag it forever") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def enFr(base: Int, nEn: Int, nFr: Int): Seq[DriftDoc] =
      (0 until nEn).map(i => DriftDoc((base + i).toLong, "x", "en")) ++
        (0 until nFr).map(i => DriftDoc((base + nEn + i).toLong, "y", "fr"))
    val seed = (1 to 20).map(i => DriftDoc(i.toLong, s"doc $i", "en"))

    // the frozen reference: same seed corpus, nothing maintained
    val frozenDir = java.nio.file.Files.createTempDirectory("graft_frozen").toString
    seed.toDF().write.mode("overwrite").parquet(s"$frozenDir/documents.parquet")
    val frozenHist = TextQueries.langStats.read(spark, frozenDir)

    // the maintained door: three passing 10%-fr batches ramp the
    // source in, then a 15%-fr batch arrives
    val liveDir = java.nio.file.Files.createTempDirectory("graft_live").toString
    seed.toDF().write.mode("overwrite").parquet(s"$liveDir/documents.parquet")
    val doorDir = java.nio.file.Files.createTempDirectory("graft_live_door").toString
    val shifted = enFr(500, 17, 3) // 15% fr
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), liveDir, doorDir).start()
    try {
      input.addData(enFr(100, 18, 2): _*); q.processAllAvailable()
      input.addData(enFr(200, 18, 2): _*); q.processAllAvailable()
      input.addData(enFr(300, 18, 2): _*); q.processAllAvailable()
      input.addData(shifted: _*); q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(s"$doorDir/audit").orderBy("batch_id")
      .collect().map(r => r.getAs[Boolean]("drifted")).toSeq
    assert(audit === Seq(false, false, false, false),
      "once the ramp is absorbed, the 15%-fr batch passes the maintained door")
    // the same batch against the day-one snapshot: flagged — exactly
    // the staleness the maintenance exists to fix
    val frozen = TextQueries.driftOf(shifted.toDF(), frozenHist).head()
    assert((frozen.getLong(1), frozen.getBoolean(2)) === ((300000L, true)))
  }

  test("two-axis door: junk-script batch quarantined though its language mix is perfect") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: all-latin text, 50/50 en/de
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_axes").toString
    val seed = (1 to 40).map(i =>
      DriftDoc(i.toLong, "alpha beta", if (i % 2 == 0) "en" else "de"))
    seed.toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val doorDir = java.nio.file.Files.createTempDirectory("graft_axes_door").toString
    val clean = Seq(DriftDoc(100, "alpha beta", "en"), DriftDoc(101, "alpha beta", "de"))
    // the lang-axis blind spot: perfect language mix, all-digit bodies
    val junk = Seq(DriftDoc(110, "0123 4567", "en"), DriftDoc(111, "0123 4567", "de"))
    // ...and the converse: clean text, unknown language
    val wrongLang = Seq(DriftDoc(120, "alpha beta", "zz"), DriftDoc(121, "alpha beta", "zz"))
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(
      input.toDF(), corpusDir, doorDir, scriptAxis = true).start()
    try {
      input.addData(clean: _*); q.processAllAvailable()
      input.addData(junk: _*); q.processAllAvailable()
      input.addData(wrongLang: _*); q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(s"$doorDir/audit").orderBy("batch_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), axisOf(r, "lang")._2,
        axisOf(r, "script")._2, r.getAs[Boolean]("drifted")))
    assert(audit.toSeq === Seq(
      (0L, false, false, false), // clean: passes both axes
      (1L, false, true, true),   // junk script: ONLY the script axis catches it
      (2L, true, false, true)),  // wrong lang: ONLY the lang axis catches it
      audit.mkString(", "))
    assert(spark.read.parquet(s"$doorDir/passed")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(100L, 101L))
    assert(spark.read.parquet(s"$doorDir/quarantined")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(110L, 111L, 120L, 121L))

    // maintenance feeds BOTH standing references with the passed batch
    assert(mergedHist(corpusDir) === Map("en" -> 21L, "de" -> 21L))
    def scriptHist(): Map[String, Long] =
      TextQueries.scriptStats.read(spark, corpusDir)
        .groupBy("script").agg(sum("n").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "alpha beta" = 9 latin codepoints × (40 seed + 2 passed) docs
    assert(scriptHist() === Map("latin" -> 378L, "cjk" -> 0L, "cyr" -> 0L,
      "digit" -> 0L, "other" -> 0L))

    // detached-append idempotence + semantic compaction, script twin
    assert(TextQueries.scriptStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(200, "x 5", "en")).toDF(), batchId = 7L))
    assert(!TextQueries.scriptStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(200, "x 5", "en")).toDF(), batchId = 7L))
    assert(TextQueries.scriptStats.present(corpusDir))
    TextQueries.scriptStats.compact(spark, corpusDir)
    assert(TextQueries.scriptStats.read(spark, corpusDir).count() === 10,
      "compaction collapses appends to one partial per script beside the 5 seed rows")
    assert(scriptHist()
      === Map("latin" -> 379L, "cjk" -> 0L, "cyr" -> 0L,
        "digit" -> 1L, "other" -> 0L))
  }

  test("three-axis door: truncated batch quarantined though lang AND script mix are perfect") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: latin text with a STATIONARY length mix (bucket 2 + 3)
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_len").toString
    val seed = (1 to 40).map { i =>
      val body = if (i % 2 == 0) "alpha beta gamma " * 8 else "alpha beta gam" // 136 / 14 chars
      DriftDoc(i.toLong, body, if (i % 2 == 0) "en" else "de")
    }
    seed.toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val doorDir = java.nio.file.Files.createTempDirectory("graft_len_door").toString
    def batch(base: Int, truncated: Boolean): Seq[DriftDoc] =
      (0 until 4).map { i =>
        val body =
          if (truncated) "alpha beta gamma alpha beta gamma alpha "         // 40 chars: bucket 2
          else if (i % 2 == 0) "alpha beta gamma " * 8 else "alpha beta gam"
        DriftDoc((base + i).toLong, body, if (i % 2 == 0) "en" else "de")
      }
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir,
      scriptAxis = true, lenAxis = true).start()
    try {
      input.addData(batch(100, truncated = false): _*); q.processAllAvailable()
      // the truncation adversary: same langs, same (all-latin) script
      // mix, every doc cut to one length bucket
      input.addData(batch(200, truncated = true): _*); q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(s"$doorDir/audit").orderBy("batch_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), axisOf(r, "lang")._2,
        axisOf(r, "script")._2, axisOf(r, "len")._2, r.getAs[Boolean]("drifted")))
    assert(audit.toSeq === Seq(
      (0L, false, false, false, false), // representative: passes all three
      (1L, false, false, true, true)),  // truncated: ONLY the length axis sees it
      audit.mkString(", "))
    assert(spark.read.parquet(s"$doorDir/quarantined")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (200L to 203L))

    // the passed batch fed the length reference; the quarantined one
    // did not (seed 20+20 docs + 4 passed, len buckets 2/3)
    def lenHist(): Map[Long, Long] =
      TextQueries.lenStats.read(spark, corpusDir)
        .groupBy("len_bucket").agg(sum("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lenHist() === Map(2L -> 22L, 3L -> 22L))

    // full maintenance symmetry: batchId-deduped detached append +
    // semantic compaction + presence probe, the lang/script twins
    assert(TextQueries.lenStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(300, "abc", "en")).toDF(), batchId = 9L))
    assert(!TextQueries.lenStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(300, "abc", "en")).toDF(), batchId = 9L))
    assert(TextQueries.lenStats.present(corpusDir))
    TextQueries.lenStats.compact(spark, corpusDir)
    assert(lenHist() === Map(1L -> 1L, 2L -> 22L, 3L -> 22L))
  }

  test("four-axis door: stripped batch quarantined though lang, script AND length are perfect") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: two stationary lengths (buckets 2 + 3), mean token
    // length ~4-5 chars — tok bucket 1 everywhere
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_tok").toString
    val long = "alpha beta gamma " * 8 // 136 chars, bucket 3
    val short = "alpha beta gam" // 14 chars, bucket 2
    val seed = (1 to 40).map { i =>
      DriftDoc(i.toLong, if (i % 2 == 0) long else short,
        if (i % 2 == 0) "en" else "de")
    }
    seed.toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val doorDir = java.nio.file.Files.createTempDirectory("graft_tok_door").toString
    // the strip adversary: whitespace REMOVED. Lengths 112 (bucket 3)
    // and 12 (bucket 2) keep the len mix; the script kernel never
    // counted the spaces, so script counts are EXACTLY unchanged; lang
    // is metadata — but each doc collapses to ONE giant token and the
    // tok bucket jumps out of the corpus's all-bucket-1 histogram
    def batch(base: Int, stripped: Boolean): Seq[DriftDoc] =
      (0 until 4).map { i =>
        val body = if (i % 2 == 0) long else short
        DriftDoc((base + i).toLong,
          if (stripped) body.replaceAll("\\s", "") else body,
          if (i % 2 == 0) "en" else "de")
      }
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir,
      scriptAxis = true, lenAxis = true, tokAxis = true).start()
    try {
      input.addData(batch(100, stripped = false): _*); q.processAllAvailable()
      input.addData(batch(200, stripped = true): _*); q.processAllAvailable()
    } finally q.stop()

    val audit = spark.read.parquet(s"$doorDir/audit").orderBy("batch_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), axisOf(r, "lang")._2,
        axisOf(r, "script")._2, axisOf(r, "len")._2, axisOf(r, "tok")._2,
        r.getAs[Boolean]("drifted")))
    assert(audit.toSeq === Seq(
      (0L, false, false, false, false, false), // rep: passes all four
      (1L, false, false, false, true, true)),  // stripped: ONLY tok sees it
      audit.mkString(", "))
    // script L1 is EXACTLY zero on the stripped batch (spaces were
    // never counted) — the blindness is structural, not threshold luck
    val strippedScript = spark.read.parquet(s"$doorDir/audit")
      .where(col("batch_id") === 1L).collect()
      .map(r => axisOf(r, "script")._1).head
    assert(strippedScript === 0L)
    assert(spark.read.parquet(s"$doorDir/quarantined")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === (200L to 203L))

    // maintenance symmetry: the passed batch fed the tok reference,
    // batchId-deduped detached append + semantic compaction + probe
    def tokHist(): Map[Long, Long] =
      TextQueries.tokStats.read(spark, corpusDir)
        .groupBy("tok_bucket").agg(sum("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tokHist() === Map(1L -> 44L)) // 40 seed + 4 passed
    assert(TextQueries.tokStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(300, "abcdefghijkl", "en")).toDF(), batchId = 9L))
    assert(!TextQueries.tokStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(300, "abcdefghijkl", "en")).toDF(), batchId = 9L))
    assert(TextQueries.tokStats.present(corpusDir))
    TextQueries.tokStats.compact(spark, corpusDir)
    assert(tokHist() === Map(1L -> 44L, 2L -> 1L))
  }

  test("a maintaining door never changes the registered queries' verdicts (seed parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the r12 advice item: the registered forms' DuckDB twins
    // recompute the reference from `documents`, so the Scala side must
    // read the corpus-stamp SEED — a door maintaining the same sfDir's
    // standing references must not perturb them
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_seedpar").toString
    (1 to 40).map(i =>
      DriftDoc(i.toLong, s"doc number $i body", if (i % 2 == 0) "en" else "de"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    def gateRows() = TextQueries.driftGate(spark, corpusDir).collect().toSeq
    def axesRows() = TextQueries.driftAxes(spark, corpusDir).collect().toSeq
    val (gateBefore, axesBefore) = (gateRows(), axesRows())

    val doorDir = java.nio.file.Files.createTempDirectory("graft_seedpar_door").toString
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftRouteStream(input.toDF(), corpusDir, doorDir).start()
    try {
      // a passing batch whose mix SHIFTS the maintained shares: 6/4
      // en/de is L1 = 200000 ppm — at the threshold, not over it, so
      // the door passes it and appends it; the reference shares move
      // to 26/24, which WOULD change every registered l1_ppm if the
      // registered forms read the maintained relation
      input.addData((0 until 6).map(i => DriftDoc((100 + i).toLong, "w", "en")) ++
        (0 until 4).map(i => DriftDoc((110 + i).toLong, "w", "de")): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$doorDir/passed").count() === 10,
      "the maintenance batch must actually pass (and feed the appends)")
    assert(mergedHist(corpusDir) === Map("en" -> 26L, "de" -> 24L),
      "the door must have shifted the MAINTAINED reference's shares")
    assert(gateRows() === gateBefore)
    assert(axesRows() === axesBefore)
  }

  test("scriptCountsOf counts full codepoints on non-BMP text (oracle recipe parity)") {
    import spark.implicits._
    // the oracle classifies unicode(text[i:i]) — true codepoints. A
    // UTF-16 code-unit split would count an emoji as TWO lone
    // surrogates; Spark 4's split(col, "")/ascii are codepoint-aware,
    // and this pins it so an engine upgrade can't silently diverge the
    // script axis on supplementary-plane corpora
    val emoji = new String(Character.toChars(0x1F600))  // U+1F600, beyond BMP
    val extB = new String(Character.toChars(0x20000))   // CJK ext B — outside 4E00-9FFF
    val docs = Seq((1L, s"ab${emoji}中 1$extB", "xx")).toDF("doc_id", "text", "lang")
    val counts = TextQueries.scriptCountsOf(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a b → latin; 😀 → other (ONE codepoint, not two surrogates);
    // 中 → cjk; 1 → digit; U+20000 → other
    assert(counts === Map("latin" -> 2L, "cjk" -> 1L, "cyr" -> 0L,
      "digit" -> 1L, "other" -> 2L))
  }

  test("registered q_drift_axes3: the truncation adversary is caught by the length axis alone") {
    val rows = graft.SparkEntry.queries("q_drift_axes3")(spark, sf()).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Boolean]("lang_drifted"), r.getAs[Boolean]("script_drifted"),
          r.getAs[Boolean]("len_drifted"), r.getAs[Boolean]("drifted")))).toMap
    assert(rows("representative") === ((false, false, false, false)))
    assert(rows("truncation") === ((false, false, true, true)),
      "truncated docs keep their language AND script mix — only the length axis flags")
  }

  test("registered q_drift_axes4: the strip adversary is caught by the tok axis alone") {
    val out = graft.SparkEntry.queries("q_drift_axes4")(spark, sf()).collect()
    val rows = out.map(r => r.getString(0) ->
      ((r.getAs[Boolean]("lang_drifted"), r.getAs[Boolean]("script_drifted"),
        r.getAs[Boolean]("len_drifted"), r.getAs[Boolean]("tok_drifted"),
        r.getAs[Boolean]("drifted")))).toMap
    assert(rows("representative") === ((false, false, false, false, false)))
    assert(rows("stripped") === ((false, false, false, true, true)),
      "stripped docs keep language, script AND length mix — only the tok axis flags")
    // structural blindness, visible in the registered output: the
    // script kernel never counted the removed codepoints, so the
    // stripped batch's script L1 equals the representative's exactly
    val scriptL1 = out.map(r =>
      r.getString(0) -> r.getAs[Long]("script_l1_ppm")).toMap
    assert(scriptL1("stripped") === scriptL1("representative"))
  }

  test("a crashed append's _temporary tree never wedges the reference read") {
    import spark.implicits._
    // the sink-then-marker window: a door JVM dies mid-append leaving
    // ONLY hist/_temporary/…/part-* (plain leaf names, hidden parent).
    // The read must treat that as "no appends" — counting it as data
    // sends Spark into a zero-visible-file parquet scan that throws,
    // permanently wedging every subsequent door batch
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_torn").toString
    (1 to 10).map(i => DriftDoc(i.toLong, "t", "en"))
      .toDF().write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    assert(mergedHist(corpusDir) === Map("en" -> 10L)) // seed built
    val torn = java.nio.file.Paths.get(
      TextQueries.langStats.dir(corpusDir), "hist", "_temporary", "0")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-00000.parquet"),
      "torn partial, not parquet")
    assert(mergedHist(corpusDir) === Map("en" -> 10L),
      "an uncommitted append must read as absent, not crash the door")
    // a real append beside the litter still lands and reads
    TextQueries.langStats.append(spark, corpusDir,
      Seq(DriftDoc(50, "u", "fr")).toDF())
    assert(mergedHist(corpusDir) === Map("en" -> 10L, "fr" -> 1L))
  }

  test("registered q_drift_gate: both verdicts occur on the real corpus") {
    val rows = graft.SparkEntry.queries("q_drift_gate")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(rows === Map("representative" -> false, "single_lang" -> true))
  }

  test("registered q_drift_axes: each axis catches its own adversary") {
    val rows = graft.SparkEntry.queries("q_drift_axes")(spark, sf()).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Boolean]("lang_drifted"), r.getAs[Boolean]("script_drifted"),
          r.getAs[Boolean]("drifted")))).toMap
    assert(rows("representative") === ((false, false, false)))
    assert(rows("digit_noise") === ((false, true, true)),
      "digit noise passes the lang axis — only the script axis sees it")
    assert(rows("single_lang")._1 === true)
    assert(rows("single_lang")._3 === true)
  }
}
