package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Structured Streaming forms of the event operators. Batch
  * (graft.operators.EventQueries) is the backfill path; these are the
  * live path over `readStream` sources — same windows, same session
  * semantics, incremental state instead of a shuffle-wide recompute.
  *
  * The reference's server mode (SURVEY §3.2) queues import tasks over
  * HTTP; the streaming analog of its continuous operation is this
  * module: watermarked windowed aggregation and keyed session state
  * via flatMapGroupsWithState.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, n_events: Long, started: Timestamp,
      ended: Timestamp, closed: Boolean)

  case class SessionState(nEvents: Long, started: Long, lastTs: Long)

  /** Live maintenance of the standing inverted index: every
    * micro-batch of NEW documents appends its postings via
    * [[graft.operators.TextQueries.invIndexAppend]] — the streaming
    * twin of the batch index build, keeping the serving index current
    * between corpus snapshots (parity-pinned stream-fed == batch
    * rebuild of the union). foreachBatch is at-least-once on failure
    * recovery, so the append goes through
    * [[graft.operators.TextQueries.invIndexAppendOnce]], which records
    * the last applied batchId beside the layout and skips replays (the
    * standard foreachBatch idempotence pattern) — a replayed batch is
    * a no-op instead of doubled postings and stats.
    */
  def indexMaintainStream(docs: DataFrame, sfDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.TextQueries.invIndexAppendOnce(
            batch.sparkSession, sfDir, batch.toDF(), batchId)
        ()
    }

  /** Live maintenance of the standing knn GRAPH — the
    * [[indexMaintainStream]] sibling for the similarity tier: every
    * micro-batch of NEW vectors (vec_id, embedding) appends its edge
    * partials + vec rows via [[graft.operators.SimilarityQueries
    * .knnAppendOnce]], whose PER-STAGE markers make the two-job append
    * exactly-once under at-least-once foreachBatch replay (a doubled
    * edge partial would put one neighbor in two of the k top-k slots —
    * worse than a doubled posting row).
    */
  def knnMaintainStream(vecs: DataFrame, sfDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.SimilarityQueries.knnAppendOnce(
            batch.sparkSession, sfDir, batch.toDF(), batchId)
        ()
    }

  /** Live maintenance of the standing simhash fingerprint index — the
    * [[indexMaintainStream]] sibling: every micro-batch of NEW
    * documents appends its 8-byte fingerprint rows via
    * [[graft.operators.DedupQueries.simhashAppendOnce]] (batchId-
    * deduped, so an at-least-once replay is a no-op), keeping the
    * near-dup blocking index current between corpus snapshots.
    */
  def simhashMaintainStream(docs: DataFrame, sfDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.DedupQueries.simhashAppendOnce(
            batch.sparkSession, sfDir, batch.toDF(), batchId)
        ()
    }

  /** Live maintenance of the standing per-day distinct-users sketch —
    * the [[indexMaintainStream]] sibling for the SKETCH tier: each
    * micro-batch of new events appends its daily HLL partials via
    * [[graft.operators.CoreQueries.sketchAppendOnce]] (batchId-deduped
    * so the exact n_events anchor stays exact under at-least-once
    * replay; the sketches themselves are duplicate-insensitive), and
    * any weekly/monthly distinct-users estimate serves from the
    * layout by register-wise merge — the raw event stream is touched
    * exactly once, at ingest.
    */
  def sketchMaintainStream(events: DataFrame, sfDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.CoreQueries.sketchAppendOnce(
            batch.sparkSession, sfDir, batch.toDF(), batchId)
        ()
    }

  /** Live near-dup admission — the gate form of
    * [[graft.operators.DedupQueries.nearDupAdmitFor]]: each
    * micro-batch of incoming documents is fingerprinted (one shared
    * recipe with the standing index), banded against the standing
    * simhash layout, and only the documents with NO corpus fingerprint
    * within hamming ≤3 land under `outDir` (batch-stamped; the shared
    * batchId marker makes an at-least-once replay a no-op — modulo
    * [[graft.GraftSession.appliedOnce]]'s documented sink-then-marker
    * crash window, inside which a replay re-appends under the same
    * batch_id; the stamp is what lets a reader dedup across it).
    *
    * Admission CONTRACT (be precise, because a separate downstream
    * maintenance stream cannot be): with `maintainIndex = true` (the
    * production default) the gate itself appends the ADMITTED
    * documents' fingerprints inside the same batch body, so batch N+1
    * is gated against everything admitted through batch N — do NOT
    * also compose [[simhashMaintainStream]], which would double-append.
    * A detached maintenance stream has no ordering guarantee relative
    * to the gate, so near-copies could slip in while the index lags.
    * Within ONE micro-batch the incoming docs are not gated against
    * each other (the batch is a single admission decision); dedupe
    * intra-batch near-pairs upstream or with the batch pair pass.
    */
  def nearDupGateStream(docs: DataFrame, sfDir: String, outDir: String,
      maintainIndex: Boolean = true):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // eager, so a downstream file source tailing outDir (e.g. the
    // index-maintenance stream) can start before the first batch lands
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.GraftSession.appliedOnce(
            java.nio.file.Paths.get(outDir, "_LAST_BATCH"), batchId) {
            // materialize the admission verdict ONCE: the hits write
            // and the index append below must both consume the SAME
            // result — re-evaluating the plan for the append would
            // re-run the gate under a layout the append itself is
            // changing, and reading the sink back would pay a file
            // listing that grows with the stream's lifetime
            val admitted = graft.operators.DedupQueries
              .nearDupAdmitFor(batch.sparkSession, sfDir, batch.toDF())
              .localCheckpoint()
            try {
              graft.GraftSession.commitAppend(outDir)(
                outDir -> admitted.withColumn("batch_id", lit(batchId)).write)
              if (maintainIndex)
                graft.operators.DedupQueries.simhashAppend(
                  batch.sparkSession, sfDir, admitted)
            } finally admitted.unpersist()
          }
        ()
    }
  }

  /** Eval-set FIREWALL stream — the enforcement form of the
    * `q_decontaminate_semantic` audit
    * ([[graft.operators.SimilarityQueries.evalGuardFor]]): every
    * micro-batch of incoming training vectors is ring-checked against
    * the STANDING eval-reference layout and routed per document —
    * rows whose top-1 eval cosine clears `spark.graft.decontam.tau`
    * land under `outDir/contaminated` WITH their evidence columns
    * (matched eval id + cosine — the review queue an operator works
    * through), the rest under `outDir/clean`. The reference is fixed
    * by design (admitted rows never join the eval set), so unlike
    * [[nearDupGateStream]] there is no maintain-the-index leg and no
    * ordering hazard between batches: verdicts depend only on the
    * frozen reference, making the gate embarrassingly replayable.
    * Rides the shared batchId marker; replays are no-ops modulo the
    * documented sink-then-marker window.
    */
  def evalGuardStream(vecs: DataFrame, sfDir: String, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    Seq("clean", "contaminated").foreach(d =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(outDir, d)))
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.GraftSession.appliedOnce(
            java.nio.file.Paths.get(outDir, "_LAST_BATCH"), batchId) {
            // ONE verdict pass feeds both sinks (the nearDupGateStream
            // materialization discipline)
            val v = graft.operators.SimilarityQueries
              .evalGuardFor(batch.sparkSession, sfDir, batch.toDF())
              .localCheckpoint()
            try {
              def leg(contaminated: Boolean) =
                s"$outDir/${if (contaminated) "contaminated" else "clean"}" ->
                  v.where(col("contaminated") === contaminated).drop("contaminated")
                    .withColumn("batch_id", lit(batchId)).write
              graft.GraftSession.commitAppend(outDir)(leg(false), leg(true))
            } finally v.unpersist()
          }
        ()
    }
  }

  /** Live distribution-drift gate — the batch-level QA sibling of
    * [[nearDupGateStream]] (which judges documents; this judges whole
    * BATCHES): each micro-batch's language mix is compared to the
    * standing corpus histogram (a broadcast few-row relation — the
    * corpus is never rescanned) by exact-integer L1 ppm
    * ([[graft.operators.TextQueries.driftOf]], the same computation
    * the batch query and the parity spec use), and one audit row
    * (batch_id, n_docs, l1_ppm, drifted) lands under `outDir` — the
    * monitoring feed an ingest operator alarms on. Rides the shared
    * batchId marker; replays are no-ops modulo the documented
    * sink-then-marker window.
    */
  def driftGateStream(docs: DataFrame, sfDir: String, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.GraftSession.appliedOnce(
            java.nio.file.Paths.get(outDir, "_LAST_BATCH"), batchId) {
            val spark = batch.sparkSession
            val hist = graft.operators.TextQueries.langStats.read(spark, sfDir)
            graft.GraftSession.commitAppend(outDir)(
              outDir -> graft.operators.TextQueries.driftOf(batch.toDF(), hist)
                .withColumn("batch_id", lit(batchId)).write)
          }
        ()
    }
  }

  /** The ROUTING form of [[driftGateStream]] — the quarantine door:
    * each micro-batch's documents land under `outDir/passed` or
    * `outDir/quarantined` by the batch's drift verdict (whole-batch
    * routing — drift is a property of the batch's distribution, not
    * of any single document), and the audit row lands under
    * `outDir/audit`; everything is batch_id-stamped and rides ONE
    * shared batchId marker so the three sinks commit-or-skip together
    * under at-least-once replay (modulo the documented
    * sink-then-marker window). Composes ahead of [[nearDupGateStream]]
    * by tailing `outDir/passed`: distribution QA first (cheap,
    * histogram-broadcast), per-document near-dup admission second —
    * a quarantined batch never costs a fingerprint pass
    * (`StreamingE2eSpec` pins the composed chain).
    *
    * Maintenance CONTRACT (the `nearDupGateStream maintainIndex`
    * pattern): with `maintainHistogram = true` (the production
    * default) the door appends the PASSED batch's per-lang counts into
    * the standing histogram inside the same batch body — the reference
    * distribution tracks what the door has accepted, so a gradual
    * legitimate shift (a new source ramping up, seasonal language mix)
    * is absorbed instead of flagging forever against the day-one
    * snapshot (spec-pinned: stream-fed histogram == a rebuild over
    * seed ∪ passed). Quarantined batches never feed the reference —
    * the door cannot be walked off its distribution by the very
    * traffic it rejected — and a `quarantineRelease` deliberately
    * feeds the PASSED FLOW only (the downstream admission gate), not
    * the histogram: absorbing an inspected anomaly into the reference
    * is a corpus-restamp decision, not a release side effect. The
    * appends ride batchId markers kept in the DOOR's own outDir
    * (`_LANGSTATS_LAST_BATCH` / `_SCRIPTSTATS_LAST_BATCH`, via
    * [[graft.operators.TextQueries.DriftReference.appendOnce]]'s explicit-
    * marker form), so a replay of the door's own sink-then-marker
    * window cannot double-count a batch into the reference, AND the
    * checkpoint-reset contract (clear the door dir; batchIds restart)
    * clears the maintenance high-water mark together with the door's
    * other state. A detached maintenance stream beside the door
    * shares NO marker with it and would double-count every batch the
    * door passed. Reset semantics: a reset whose source delivers
    * NEW data needs nothing (fresh markers, fresh appends); a reset
    * that REPLAYS already-passed input must be paired with a
    * reference reseed (delete the layout dir — it rebuilds at the
    * corpus stamp on next touch), because no fresh marker can
    * recognize replayed documents under new batchIds.
    *
    * `scriptAxis = true` adds the SECOND drift axis: the batch's
    * per-script codepoint mix vs the standing script histogram
    * ([[graft.operators.TextQueries.driftScriptOf]] — the identical
    * integer-L1 kernel over the bounded {latin, cjk, cyr, digit,
    * other} domain), and the routing verdict is the OR of the axes —
    * the lang axis alone is easy to pass while the content shifts
    * (same langs, junk text). `lenAxis = true` adds the THIRD:
    * the batch's length-bucket mix ([[graft.operators.TextQueries
    * .driftLenOf]]) — the truncation adversary's axis: cut-off
    * documents keep their language AND script mix exactly. With
    * maintenance on, a passed batch feeds EVERY enabled axis's
    * standing reference. Both extra axes are opt-in (the script axis
    * reads every batch character; the length axis is cheap but only
    * meaningful where document lengths are stationary); enabling one
    * mid-stream starts from the corpus-stamp snapshot (registered
    * batch forms: `q_drift_axes`, `q_drift_axes3`). `tokAxis = true`
    * adds the FOURTH: the batch's mean-token-length-bucket mix
    * ([[graft.operators.TextQueries.driftTokOf]]) — the slugification/
    * concatenation adversary's axis (whitespace mangled away keeps
    * lang, script, and length; the token count collapses). Each new
    * axis is a map key in the v2 audit schema, never a schema change.
    *
    * AUDIT SCHEMA (v2): one row per (batch, event) with
    * `axes: map<axis → struct(l1_ppm, drifted)>` carrying exactly the
    * ENABLED axes (`lang` always; `script`/`len` when on) — adding a
    * future axis is a new map key, never a schema change. The overall
    * `drifted` flag is the OR over the map. Release records carry a
    * null map (an operator decision, not a verdict). A door dir
    * predating v2 holds flat per-axis columns; readers go through
    * mergeSchema (`GET /door/audit` pins this).
    */
  def driftRouteStream(docs: DataFrame, sfDir: String, outDir: String,
      maintainHistogram: Boolean = true, scriptAxis: Boolean = false,
      lenAxis: Boolean = false, tokAxis: Boolean = false):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // eager, so the advertised composition (a file source tailing
    // `passed`) starts clean before any batch has passed the door
    Seq("passed", "quarantined", "audit").foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir, d)))
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.GraftSession.appliedOnce(
            java.nio.file.Paths.get(outDir, "_LAST_BATCH"), batchId) {
            val spark = batch.sparkSession
            import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
            val hist = graft.operators.TextQueries.langStats.read(spark, sfDir)
            // the batch feeds both the verdict and the routed write —
            // materialize once (the nearDupGateStream discipline)
            val b = batch.toDF().localCheckpoint()
            try {
              val v = graft.operators.TextQueries.driftOf(b, hist).head()
              val (nDocs, langL1, langDrifted) =
                (v.getLong(0), v.getLong(1), v.getBoolean(2))
              def axisLeg(enabled: Boolean, leg: => org.apache.spark.sql.Row):
                  Option[(Long, Boolean)] =
                if (!enabled) None
                else { val s = leg; Some((s.getLong(1), s.getBoolean(2))) }
              val script = axisLeg(scriptAxis,
                graft.operators.TextQueries.driftScriptOf(b,
                  graft.operators.TextQueries.scriptStats.read(spark, sfDir)).head())
              val len = axisLeg(lenAxis,
                graft.operators.TextQueries.driftLenOf(b,
                  graft.operators.TextQueries.lenStats.read(spark, sfDir)).head())
              val tok = axisLeg(tokAxis,
                graft.operators.TextQueries.driftTokOf(b,
                  graft.operators.TextQueries.tokStats.read(spark, sfDir)).head())
              val drifted = langDrifted || script.exists(_._2) ||
                len.exists(_._2) || tok.exists(_._2)
              val axisEntries: Seq[(String, Long, Boolean)] =
                Seq(("lang", langL1, langDrifted)) ++
                  script.map { case (l1, d) => ("script", l1, d) } ++
                  len.map { case (l1, d) => ("len", l1, d) } ++
                  tok.map { case (l1, d) => ("tok", l1, d) }
              val axes = map(axisEntries.flatMap { case (nm, l1, d) =>
                Seq(lit(nm), struct(lit(l1).as("l1_ppm"), lit(d).as("drifted")))
              }: _*)
              val dest = if (drifted) "quarantined" else "passed"
              graft.GraftSession.commitAppend(outDir)(
                s"$outDir/audit" -> Seq((batchId, "routed", nDocs, drifted))
                  .toDF("batch_id", "event", "n_docs", "drifted")
                  .select(col("batch_id"), col("event"), col("n_docs"),
                    axes.as("axes"), col("drifted"))
                  .coalesce(1).write,
                s"$outDir/$dest" -> b.withColumn("batch_id", lit(batchId)).write)
              // the door maintains its own references with what it
              // passes — AFTER the verdict (this batch was judged
              // against the histograms as of batch N-1). Through the
              // batchId-deduped form, NOT the bare append: a crash in
              // the door's own sink-then-marker window replays the
              // whole body, and where a replayed fingerprint row is
              // harmless (the admission join distincts), a replayed
              // COUNT would silently skew the standing distribution —
              // the layout-local marker makes the replay a no-op.
              // the maintenance markers live in the door's OWN dir:
              // this door's batchId namespace dies with its checkpoint
              // (the documented reset contract clears outDir), so a
              // reset door never silently no-ops its first N appends
              // against a stale layout-local high-water mark
              if (maintainHistogram && !drifted) {
                def maintain(ref: graft.operators.TextQueries.DriftReference,
                    marker: String): Unit =
                  ref.appendOnce(spark, sfDir, b, batchId,
                    Some(java.nio.file.Paths.get(outDir, marker)))
                maintain(graft.operators.TextQueries.langStats, "_LANGSTATS_LAST_BATCH")
                if (scriptAxis)
                  maintain(graft.operators.TextQueries.scriptStats, "_SCRIPTSTATS_LAST_BATCH")
                if (lenAxis)
                  maintain(graft.operators.TextQueries.lenStats, "_LENSTATS_LAST_BATCH")
                if (tokAxis)
                  maintain(graft.operators.TextQueries.tokStats, "_TOKSTATS_LAST_BATCH")
              }
            } finally { b.unpersist(); () }
          }
        ()
    }
  }

  /** THE production door composition, launchable (`Ctl door-run`) —
    * the four-stage chain `StreamingE2eSpec` pins, as three composed
    * streams over file sources: incoming docs → the drift DOOR
    * (batch-level distribution QA; quarantined batches stop here) →
    * the near-dup ADMISSION gate tailing `doorDir/passed`
    * (per-document fingerprint check vs the standing simhash layout)
    * → standing-INDEX maintenance tailing `admittedDir` (every
    * admitted doc's postings append to the serving index). Stage
    * ordering is the cost ladder: distribution QA is a broadcast
    * histogram compare, so a drifted batch never pays a fingerprint
    * pass, and a rejected near-copy never pays an index append.
    * `evalGuard = true` slots the eval-set firewall
    * ([[evalGuardStream]]) between admission and maintenance:
    * admitted rows are ring-checked against the standing eval
    * reference, contaminated rows divert to
    * `<admittedDir>_guard/contaminated` with evidence, and BOTH
    * maintenance stages (index, knn) tail the guard's `clean` dir —
    * a leaked eval item never reaches a standing index.
    *
    * Checkpoints live INSIDE the respective sink dirs
    * (`doorDir/_checkpoints/…`, `admittedDir/_checkpoints/…`), which
    * makes the documented reset contract one operation: clearing a
    * door dir clears its checkpoint, its batchId markers, and its
    * maintenance high-water marks together — batchIds restart in a
    * consistent world. Returns the three started queries (door, gate,
    * maintain) for the caller to await or stop.
    *
    * FEEDER CONTRACT: the door judges drift per MICRO-BATCH, and a
    * file source batches by arrival — whatever new files a trigger
    * lists is the batch. A feeder that commits one logical batch as N
    * part files (renamed one by one at job commit) can therefore have
    * a FRAGMENT judged on its own: a skewed-subset language mix gets a
    * whole-batch verdict the full batch would not (the r14
    * `DoorChainSpec` flake — one `en` doc listed mid-commit is a
    * 100%-en "batch"). Commit each logical batch as ONE file (one
    * atomic rename), or accept that verdicts apply to arrival batches,
    * not producer-side groupings. The inter-STAGE hops are safe
    * without this: `passed`/`admitted` fragments only split a batch
    * across gate/maintain micro-batches, and both stages' semantics
    * are per-document with per-batch idempotence markers keyed by
    * their OWN batchIds.
    */
  def doorChain(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      incomingDir: String, doorDir: String, admittedDir: String,
      scriptAxis: Boolean = true, lenAxis: Boolean = false,
      tokAxis: Boolean = false, maintainKnn: Boolean = false,
      evalGuard: Boolean = false):
      Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    import org.apache.spark.sql.types._
    // with maintainKnn or evalGuard the incoming batches are
    // embedding-bearing: the vector rides every stage (the door
    // routes it, the gate admits it, the guard judges it) so the
    // downstream stages tail one row per document
    val embBearing = maintainKnn || evalGuard
    val docSchema0 = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val docSchema =
      if (embBearing)
        docSchema0.add(StructField("embedding", ArrayType(FloatType)))
      else docSchema0
    val routedSchema = docSchema.add(StructField("batch_id", LongType))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(incomingDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(admittedDir))
    val door = driftRouteStream(
      spark.readStream.schema(docSchema).parquet(incomingDir),
      sfDir, doorDir, scriptAxis = scriptAxis, lenAxis = lenAxis,
      tokAxis = tokAxis)
      .option("checkpointLocation", s"$doorDir/_checkpoints/door")
      .start()
    val gate = nearDupGateStream(
      spark.readStream.schema(routedSchema).parquet(s"$doorDir/passed"),
      sfDir, admittedDir)
      .option("checkpointLocation", s"$admittedDir/_checkpoints/gate")
      .start()
    // the EVAL-GUARD stage (opt-in) slots between admission and the
    // maintenance stages — the cost-ladder position (a rejected
    // near-copy never pays a ring check) AND the semantic one: a
    // contaminated row must never reach a standing index, so the
    // maintenance stages tail the guard's `clean` dir instead of
    // `admitted` when the guard is on. Guard sinks + checkpoint live
    // under `<admittedDir>_guard` — the one-operation reset contract.
    val guardDir = s"${admittedDir}_guard"
    val guardQ =
      if (!evalGuard) Nil
      else Seq(evalGuardStream(
        spark.readStream.schema(routedSchema).parquet(admittedDir)
          .withColumn("vec_id",
            org.apache.spark.sql.functions.col("doc_id")),
        sfDir, guardDir)
        .option("checkpointLocation", s"$guardDir/_checkpoints/guard")
        .start())
    val maintainSrcDir = if (evalGuard) s"$guardDir/clean" else admittedDir
    if (evalGuard)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(maintainSrcDir))
    val maintain = indexMaintainStream(
      spark.readStream.schema(routedSchema).parquet(maintainSrcDir), sfDir)
      .option("checkpointLocation", s"$admittedDir/_checkpoints/index")
      .start()
    // the knn stage (opt-in): admitted (and, with the guard on,
    // clean) embedding-bearing docs tail into knn-graph maintenance —
    // its own file source and its own checkpoint, so the knn appends
    // replay independently of the index stage's (both are
    // batchId-deduped against their OWN layout markers). One
    // maintaining chain per knn layout — knnAppendAt's
    // one-writer-by-semantics contract.
    val knn =
      if (!maintainKnn) Nil
      else Seq(knnMaintainStream(
        spark.readStream.schema(routedSchema).parquet(maintainSrcDir)
          .select(org.apache.spark.sql.functions.col("doc_id").as("vec_id"),
            org.apache.spark.sql.functions.col("embedding")), sfDir)
        .option("checkpointLocation", s"$admittedDir/_checkpoints/knn")
        .start())
    Seq(door, gate) ++ guardQ ++ Seq(maintain) ++ knn
  }

  /** FEDERATED door chains (`Ctl door-run-fed`) — one ingest bus,
    * many corpora. Incoming docs carry a `corpus` column naming
    * their tenant; a ROUTER stream splits each arrival batch per
    * corpus and commits each tenant's slice as ONE atomic file into
    * that tenant's own incoming dir (exactly the [[doorChain]]
    * feeder contract — one rename per logical batch, so no tenant's
    * door ever judges a fragment), then a standard per-corpus chain
    * runs beside each other. NOTHING in the per-corpus tier is
    * shared — each chain has its own drift references, standing
    * layouts, checkpoints and batchId namespace — which is the
    * tenancy property the federation exists for: tenant A's drifted
    * scrape cannot quarantine tenant B's batch, a forget in one
    * corpus never touches another's layouts, and at cluster scale
    * the tenants' maintenance jobs are independent Spark jobs the
    * scheduler interleaves freely (the router itself is one narrow
    * partition-local split per arrival batch — no shuffle, no
    * cross-tenant barrier).
    *
    * Rows whose `corpus` matches no registered tenant land — with
    * the corpus column KEPT as evidence — under `<fedRoot>/unrouted/`
    * per batch: reported, never silently dropped and never guessed
    * into some tenant's corpus.
    *
    * Idempotence: the router's commit names are deterministic per
    * (tenant, batchId) and replace-on-replay, and a foreachBatch
    * replay recomputes identical slices from the same source files —
    * so a crash mid-route re-commits byte-identical files under the
    * same names, which the tenant doors' file sources (tracking seen
    * file names) absorb without a duplicate judgment.
    */
  def doorChainFederated(spark: org.apache.spark.sql.SparkSession,
      corpora: Seq[(String, String)], fedRoot: String,
      scriptAxis: Boolean = true, lenAxis: Boolean = false,
      tokAxis: Boolean = false, maintainKnn: Boolean = false,
      evalGuard: Boolean = false):
      Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    import org.apache.spark.sql.types._
    require(corpora.nonEmpty, "federated door needs at least one corpus")
    val tags = corpora.map(_._1)
    require(tags.distinct.size == tags.size,
      s"duplicate corpus tags: ${tags.mkString(", ")}")
    // duplicate DIRS are as illegal as duplicate tags: two tenants
    // over one sfDir would run two full chains against the SAME
    // standing layouts — independent batchId namespaces into one
    // _LAST_BATCH marker absorbs real batches as "replays" (silent
    // drops) and the knn appends violate one-writer-by-semantics.
    // Canonical dirs for the check AND for the chains (the
    // applyForgetFederated discipline): two SPELLINGS of one dir are
    // one dir, and the chains must key their fixture roots off the
    // canonical form the forget verbs will use.
    val corporaCanon = corpora.map { case (t, d) =>
      t -> graft.GraftSession.canonicalDir(d)
    }
    val dirs = corporaCanon.map(_._2)
    require(dirs.distinct.size == dirs.size,
      s"duplicate corpus dirs (two tenants would co-maintain one " +
        s"layout set): ${dirs.mkString(", ")}")
    require(tags.forall(_.matches("[A-Za-z0-9._-]+")),
      "corpus tags name directories — [A-Za-z0-9._-]+ only")
    val embBearing = maintainKnn || evalGuard
    val docSchema0 = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val docSchema =
      if (embBearing)
        docSchema0.add(StructField("embedding", ArrayType(FloatType)))
      else docSchema0
    val fedSchema = docSchema.add(StructField("corpus", StringType))
    val incomingDir = s"$fedRoot/incoming"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(incomingDir))
    val router = spark.readStream.schema(fedSchema).parquet(incomingDir)
      .writeStream.foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // one materialization feeds every tenant's slice (the
            // driftRouteStream discipline)
            val b = batch.toDF().localCheckpoint()
            try {
              // ONE aggregation collects the tags PRESENT in this
              // batch (bounded: ≤ touched tenants + strays), and only
              // those slices commit. Probing every REGISTERED
              // tenant's slice instead would make routing cost
              // jobs-per-batch linear in the registry — at hundreds
              // of tenant corpora on one bus, ~T+1 Spark jobs per
              // arrival batch that touches one tenant.
              val present = b.select(col("corpus")).distinct()
                .collect().map(r => Option(r.getString(0))).toSet
              for (tag <- tags if present.contains(Some(tag)))
                routeCommit(b.where(col("corpus") === tag).drop("corpus"),
                  s"$fedRoot/$tag/incoming", s"route-$batchId")
              // unknown tenants: corpus column kept as evidence. The
              // complement must catch NULL too — `!isin` alone is
              // null-valued on a null tag and a bare filter would
              // silently DROP the row, the exact loss this dir
              // exists to prevent
              if (present.exists(!_.exists(tags.contains)))
                routeCommit(b.where(
                  !coalesce(col("corpus").isin(tags: _*), lit(false))),
                  s"$fedRoot/unrouted", s"route-$batchId")
            } finally { b.unpersist(); () }
          }
          ()
      }
      .option("checkpointLocation", s"$fedRoot/_checkpoints/router")
      .start()
    val chains = corporaCanon.flatMap { case (tag, sfDir) =>
      doorChain(spark, sfDir, s"$fedRoot/$tag/incoming",
        s"$fedRoot/$tag/door", s"$fedRoot/$tag/admitted",
        scriptAxis = scriptAxis, lenAxis = lenAxis, tokAxis = tokAxis,
        maintainKnn = maintainKnn, evalGuard = evalGuard)
    }
    Seq(router) ++ chains
  }

  /** Commit `slice` as ONE parquet file named `<name>.parquet` in
    * `destDir` — the router's atomic-single-file leg, riding the
    * shared [[graft.GraftSession.commitOneFile]] shape with
    * `replace = true`: the deterministic name re-commits
    * byte-identically on a foreachBatch replay instead of refusing
    * (replays are serialized by the stream's own checkpoint, so the
    * stage needs no claim — a leftover from a crash is swept, not
    * refused, or the stream would wedge on its own retry). Callers
    * guarantee a non-empty slice (the router's present-tag set) — no
    * per-slice emptiness probe here, that probe was exactly the
    * jobs-linear-in-registry cost the present-tag pass removed.
    */
  private def routeCommit(slice: DataFrame, destDir: String,
      name: String): Unit = {
    routeCommitSeam(destDir)
    graft.GraftSession.commitOneFile(destDir, s"$name.parquet",
      replace = true)(st =>
      slice.coalesce(1).write.mode("overwrite").parquet(st))
    ()
  }

  /** Test seam (the `afterTombSnapshotSeam` pattern): observes each
    * router commit's destination, so a spec can pin that a batch
    * touching one tenant of many commits exactly that tenant's slice
    * — the present-tag contract — without counting Spark jobs.
    */
  private[graft] var routeCommitSeam: String => Unit = _ => ()

  /** Operator release of a quarantined batch back into the `passed`
    * flow — the door's manual override, for when inspection clears a
    * batch the drift gate flagged (a deliberate new-language source,
    * a known seasonal shift). The quarantined directory stays
    * untouched as the historical record. Exposed as
    * `Ctl quarantine-release <doorDir> <batchId>`. Returns the number
    * of documents released.
    *
    * Hardening (this command typically runs from its OWN JVM beside a
    * live door stream):
    *  - concurrency is claimed by ATOMIC CREATION of the private
    *    staging dir (`createDirectory` throws if it exists), so two
    *    concurrent releases cannot both pass a check-then-act window
    *    and double-feed the gate. The claim drops in the `finally` —
    *    i.e. on success only AFTER the marker is planted, so at every
    *    instant a concurrent attempt sees the claim or the marker
    *    (never a gap in which it could re-stage and sweep committed
    *    files back out of `passed/`) — and on a refused/errored
    *    attempt too, so it stays retryable.
    *  - the `released/<batchId>` marker is written LAST, after every
    *    moved file is in `passed/` — the marker means COMMITTED, never
    *    "attempted". A hard crash (kill -9) mid-release therefore can
    *    never misreport the batch as released: the leftover staging
    *    dir makes the retry refuse loudly with recovery instructions
    *    (delete the staging dir and rerun — the `release-<batchId>-*`
    *    sweep below makes the rerun idempotent over any partial
    *    files the crashed attempt already moved). The marker's
    *    lifetime follows the door checkpoint's (the `_LAST_BATCH`
    *    contract): resetting the door's checkpoint means clearing
    *    `released/` too, since batchIds restart.
    *  - the parquet write runs in the PRIVATE staging dir and only
    *    finished files move into `passed/` (atomic per-file renames
    *    with deterministic `release-<batchId>-<i>` names — a crashed
    *    attempt's partial files are swept before retrying): two
    *    committers sharing `passed/_temporary` could otherwise delete
    *    each other's in-flight task files, silently truncating a live
    *    door batch.
    *  - an empty or absent quarantined dir (its NORMAL bootstrap
    *    state — the door creates it eagerly) refuses with the friendly
    *    message, not a schema-inference crash.
    */
  def quarantineRelease(spark: org.apache.spark.sql.SparkSession,
      doorDir: String, batchId: Long): Long = {
    val marker = java.nio.file.Paths.get(doorDir, "released", batchId.toString)
    val stage = java.nio.file.Paths.get(doorDir, s".release_stage_$batchId")
    if (java.nio.file.Files.exists(marker)) {
      // committed — a leftover stage here is litter from a crash in
      // the tiny window between marker and claim drop; clear it so the
      // refusal leaves the door clean
      graft.GraftSession.deleteRec(stage)
      throw new IllegalArgumentException(
        s"batch $batchId of $doorDir was already released")
    }
    try java.nio.file.Files.createDirectory(stage)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"a release of batch $batchId is already in progress (or a " +
            s"crashed attempt left $stage); delete that directory to retry")
    }
    // re-check AFTER winning the claim: a racing release may have
    // committed (marker planted, claim dropped) between our marker
    // check above and the createDirectory — without this, the loser
    // would re-stage a COMMITTED batch and sweep its files out of
    // passed/. Claim-then-recheck makes the pair atomic: at every
    // instant a second attempt is stopped by the claim or the marker.
    if (java.nio.file.Files.exists(marker)) {
      graft.GraftSession.deleteRec(stage)
      throw new IllegalArgumentException(
        s"batch $batchId of $doorDir was already released")
    }
    try {
      val qDir = java.nio.file.Paths.get(doorDir, "quarantined")
      require(hasDataFiles(qDir),
        s"no quarantined rows for batch $batchId under $doorDir")
      val rows = spark.read.parquet(qDir.toString)
        .where(col("batch_id") === batchId)
        .localCheckpoint(true) // ONE scan feeds both count and write
      try {
        val n = rows.count()
        require(n > 0,
          s"no quarantined rows for batch $batchId under $doorDir")
        // a SUBdir of the claim: parquet's overwrite clears its own
        // target, and clearing the claim dir itself would reopen the
        // concurrency window for the delete-to-recreate instant
        val stageData = stage.resolve("data")
        rows.write.mode("overwrite").parquet(stageData.toString)
        val passed = java.nio.file.Paths.get(doorDir, "passed")
        java.nio.file.Files.createDirectories(passed)
        // sweep a crashed prior attempt's partial files, then move in
        // under deterministic names — retry-idempotent
        val sweep = java.nio.file.Files.list(passed)
        try sweep.filter(p =>
            p.getFileName.toString.startsWith(s"release-$batchId-"))
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally sweep.close()
        var i = 0
        val stagedFiles = java.nio.file.Files.list(stageData)
        try stagedFiles.filter(isDataFile).forEach { p =>
            java.nio.file.Files.move(p,
              passed.resolve(s"release-$batchId-$i.parquet"))
            i += 1
          }
        finally stagedFiles.close()
        // NB the staging-dir CLAIM is still held here and drops only
        // in the finally below, strictly AFTER the marker exists — a
        // concurrent release during the audit write cannot slip
        // through a no-marker/no-claim gap and sweep committed files
        // back out of passed/
        // tell the audit trail: an operator reading the door's alarm
        // feed must see the release, not "quarantined" forever. Same
        // schema as the routed rows (the axes map null — a release is
        // an operator decision, not a verdict), batch_id-stamped and
        // timestamp-free like the rest; at-least-once across a crash
        // here, so audit consumers dedup on (batch_id, event).
        // the dir is created if absent (a hand-built or pre-audit door
        // dir): the release must ALWAYS record itself — skipping the
        // row would leave /door/audit and /door/released permanently
        // disagreeing with no warning
        val auditDir = java.nio.file.Paths.get(doorDir, "audit")
        java.nio.file.Files.createDirectories(auditDir)
        locally {
          import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
          // through the SAME private-staging path as the data files: a
          // direct append would share audit/_temporary with the live
          // door's per-batch audit commits — the two-committer hazard
          // this function exists to avoid. Deterministic name + sweep
          // keeps the retry idempotent.
          val auditStage = stage.resolve("audit")
          Seq((batchId, "released", n, Option.empty[Boolean]))
            .toDF("batch_id", "event", "n_docs", "drifted")
            .select(col("batch_id"), col("event"), col("n_docs"),
              lit(null).cast(
                "map<string,struct<l1_ppm:bigint,drifted:boolean>>")
                .as("axes"),
              col("drifted"))
            .coalesce(1).write.mode("overwrite").parquet(auditStage.toString)
          // ATOMIC_MOVE + REPLACE: a crashed prior attempt's file is
          // replaced in one rename — never a delete-then-move window
          // in which a live GET /door/audit could list a file that no
          // longer exists (the audit dir has concurrent readers; the
          // old append-only shape never removed files under them)
          val target = auditDir.resolve(s"release-audit-$batchId.parquet")
          val auditFiles = java.nio.file.Files.list(auditStage)
          try auditFiles.filter(isDataFile).findFirst().ifPresent(p =>
            java.nio.file.Files.move(p, target,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING))
          finally auditFiles.close()
        }
        // commit point: everything is in passed/ — only now does the
        // batch report as released (a crash ANYWHERE above leaves the
        // marker absent, so the batch can never wedge half-released)
        java.nio.file.Files.createDirectories(marker.getParent)
        java.nio.file.Files.createFile(marker)
        n
      } finally { rows.unpersist(); () }
    } finally
      // drop the claim LAST in both outcomes: on success only after
      // the marker is planted (no window for a concurrent double to
      // slip through), on refusal/error so the attempt stays retryable
      graft.GraftSession.deleteRec(stage)
  }

  /** The FLAT-listing "is this a parquet data file" rule for the
    * release's staged-dir moves — markers (`_SUCCESS`, stamps) and
    * dot-files excluded by leaf name (the staged dirs are flat, so
    * leaf == relative path). Recursive emptiness probes go through
    * [[graft.GraftSession.hasVisibleData]] instead, whose
    * every-component rule also rejects files under a crashed
    * committer's `_temporary` tree.
    */
  private def isDataFile(p: java.nio.file.Path): Boolean = {
    val fn = p.getFileName.toString
    java.nio.file.Files.isRegularFile(p) &&
      !fn.startsWith("_") && !fn.startsWith(".")
  }

  private def hasDataFiles(dir: java.nio.file.Path): Boolean =
    graft.GraftSession.hasVisibleData(dir)

  /** Live ANN serving: a stream of query vectors (query_id, embedding)
    * answered per micro-batch from the STANDING bucketed layout via
    * [[graft.operators.SimilarityQueries.annBatchLookup]] — the
    * serving twin of the batch lookup (parity-pinned: stream-fed hits
    * == the batch lookup for the same queries). Each batch is one
    * listing-pruned pass whose cost scales with the batch's queries ×
    * bucket population, never the corpus — the query side of the
    * vector tier whose maintenance side is `ivfPqAppend`. Hits land
    * append-only under `outDir` stamped with their batchId, so
    * downstream consumers can both tail the stream and re-read any
    * batch's answers. The append rides the shared batchId-idempotence
    * marker ([[graft.GraftSession.appliedOnce]], the same guard as the
    * maintenance streams): an at-least-once foreachBatch replay is a
    * no-op instead of a doubled hit set under the same batch_id —
    * modulo [[graft.GraftSession.appliedOnce]]'s documented
    * sink-then-marker crash window; the batch_id stamp is what lets a
    * consumer dedup across it.
    */
  def annServeStream(queries: DataFrame, sfDir: String, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    queries.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.GraftSession.appliedOnce(
            java.nio.file.Paths.get(outDir, "_LAST_BATCH"), batchId) {
            graft.GraftSession.commitAppend(outDir)(
              outDir -> graft.operators.SimilarityQueries
                .annBatchLookup(batch.sparkSession, sfDir, batch.toDF())
                .withColumn("batch_id", lit(batchId)).write)
          }
        ()
    }
  }

  /** Tumbling-window counts with a watermark: late data beyond
    * `watermarkDelay` is dropped, state is bounded — the only safe
    * aggregation shape for an unbounded 100 TB/day stream.
    */
  def windowedCounts(events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup for a live document feed: keep the first
    * occurrence per content fingerprint, with state bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark` — an unbounded
    * corpus would otherwise accumulate every fingerprint forever). The
    * md5 fingerprint matches the batch `dedupExact` operator, so the
    * live path and the backfill path agree on what "duplicate" means.
    */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming benchmark decontamination — the live path of the batch
    * `decontaminate` operator: drop any incoming document that shares a
    * [[graft.operators.DedupQueries.ShingleN]]-gram shingle with the
    * (static, small) eval set. A stream-static LEFT ANTI join: the
    * static side broadcasts, the stream pays one narrow probe per
    * shingle, no streaming state at all — the contamination gate runs
    * at ingest speed forever. Same shingle recipe as batch (the
    * polynomial 5-gram fingerprint, [[graft.operators.DedupQueries
    * .shingleHashes]] — ONE definition, not a re-derivation), so a
    * document the backfill would flag is exactly the document the
    * live gate drops.
    *
    * A join-then-re-aggregate would need a watermark (streaming aggs
    * are stateful); the stateless form is the right one — the eval
    * shingle set (bounded and small by definition) broadcasts ONCE as
    * a hash set and the gate is a pure filter: no state, no shuffle,
    * no late-data semantics to reason about. The set probe is a UDF on
    * the Bloom-gate precedent (an `arrays_overlap` against a literal
    * array would rebuild its probe set per ROW — O(|eval|) per
    * document; the broadcast set keeps it O(|doc shingles|)).
    * Null-safe: NULL text has no shingles, so it can't overlap and
    * passes — exactly the batch probe's verdict.
    */
  def decontaminateStream(docs: DataFrame, evalShingles: Array[Long]): DataFrame = {
    val evalSet = docs.sparkSession.sparkContext.broadcast(evalShingles.toSet)
    val leaks = udf((sh: Seq[Long]) => sh != null && sh.exists(evalSet.value.contains))
    docs.where(!leaks(graft.operators.DedupQueries.shingleHashes(col("text"))))
  }

  /** Stateless streaming quality gate: the SAME hashing-trick linear
    * classifier as the batch op ([[graft.operators.TextQueries
    * .qualityClassifier]] — the (n_tokens, score_sum) expressions are
    * shared, not re-derived), keeping documents whose length-normalized
    * score clears the gate. A pure narrow filter: no state, no
    * watermark, no shuffle — model-based filtering at ingest speed
    * forever, which is exactly why the hashing trick matters here (a
    * vocabulary-join classifier would force a stream-static join per
    * batch; the 1024 bucket weights live inside the expression).
    * Empty and NULL texts score 0 and are dropped, the batch keep=0
    * verdict.
    */
  def qualityGateStream(docs: DataFrame): DataFrame = {
    val (n, s) = graft.operators.TextQueries.classifierExprs
    docs.where(n > 0 && floor(s.cast("double") / n.cast("double")) > 0)
  }

  /** Live anomaly gate — the SERVE side of the anomaly train/serve
    * split: watermarked per-(window, user) counts joined against the
    * broadcast per-user statistics the batch side trained
    * ([[graft.operators.EventQueries.userHourlyStats]]), flagging with
    * the SAME shared expressions ([[graft.operators.EventQueries
    * .anomalyFlag]]) — an hour the backfill detector flags is exactly
    * the hour the live gate flags. The stats relation is ~16 bytes per
    * user and broadcasts; the only state is the windowed count,
    * bounded by the watermark horizon.
    */
  def anomalyGateStream(events: DataFrame, stats: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val (keep, zPpm) = graft.operators.EventQueries.anomalyFlag(col("n_events"))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .join(broadcast(stats), "user_id")
      .where(keep)
      .select(col("user_id"), col("window.start").as("hour"),
        col("n_events"), zPpm.as("z_ppm"))
  }

  /** Stream-stream interval join (live view→click attribution): the
    * raw attributed pairs, each click matched to the same user's
    * views in the preceding `horizon`. Both sides carry watermarks
    * and the join condition time-bounds the match, so Spark retires
    * per-user join state once the watermark passes the horizon —
    * state is bounded by (delay + horizon) of traffic per user, never
    * the stream's history. The batch twin
    * ([[graft.operators.EventQueries.attribution]]) runs the same
    * predicate over the backfill; the parity spec pins the two pair
    * sets equal on the production events.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      watermarkDelay: String = "2 hours",
      horizon: String = "30 minutes"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
        col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", watermarkDelay)
    val c = clicks.select(col("user_id").as("c_user"),
        col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    c.join(v, expr(
      s"v_user = c_user AND v_ts <= c_ts AND v_ts >= c_ts - INTERVAL $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  /** Deletion propagation on the LIVE path: events from forgotten
    * users are dropped before they ever land, via a stream-static
    * LeftAnti join against the (bounded, broadcast) request cohort —
    * the serving twin of the batch rewrite
    * ([[graft.operators.PipelineQueries.forget]]): the batch pass
    * purges history, this gate keeps the purge from re-accreting.
    * Stateless (no watermark needed — the static side is a lookup,
    * not a stream), so it composes in front of any downstream
    * windowed operator.
    */
  def forgetStream(events: DataFrame, requests: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(requests.select("user_id")),
      Seq("user_id"), "left_anti")

  /** Deletion requests as a LIVE stream into every standing
    * per-document layout — the streaming face of
    * `Ctl index-forget`: each micro-batch of (doc_id) rows is
    * propagated into whichever of the four layouts stand (inverted
    * index + negative stats, simhash fingerprints, IVF-PQ codes, knn
    * graph + top-k heal). Unlike the append maintainers — which ride
    * batchId markers because a replayed APPEND would double rows —
    * this needs NO marker: the forget tier is at-least-once safe by
    * construction (an already-tombstoned id contributes nothing and
    * is never re-appended; the knn heal's pair anti-join appends
    * nothing on replay), so a crash anywhere replays to the same
    * state. The per-batch collect is people-scale by the same
    * contract as the batch verbs. Aggregate-statistics layouts are
    * out of scope with the rationale at the Ctl verb.
    */
  def indexForgetStream(requests: DataFrame, sfDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = batch.select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSeq
        // ONE dispatch body with the CLI and HTTP verbs — the layout
        // set (including the loop over BOTH legal knn radii) cannot
        // drift between the three operational surfaces
        if (ids.nonEmpty)
          graft.pipeline.Governance.applyForget(batch.sparkSession, sfDir, ids)
        ()
    }

  /** Per-window hot tokens on a live stream: the [[graft.functions
    * .MisraGries]] summary as a watermarked windowed aggregate — the
    * streaming face of the batch heavy-hitters audit
    * ([[graft.operators.CoreQueries.heavyHitters]]). The sketch
    * buffer IS the aggregation state (a few KB per window, mergeable
    * across micro-batches exactly like across partitions), so the
    * hot-key list a salted join or a trending panel wants is
    * continuously maintained with bounded state — where an exact
    * per-token count would hold the window's whole vocabulary.
    * The same superset caveat as batch applies: every true heavy
    * hitter of the window is present; which light keys ride along
    * depends on arrival order.
    */
  def hotTokensStream(docs: DataFrame,
      k: Int = 64,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(window(col("ts"), windowLength))
      .agg(map_keys(graft.functions.MisraGries.sketch(k, col("tok"))).as("hot_tokens"),
        count(lit(1)).as("n_tokens"))
      .select(col("window.start").as("window_start"), col("hot_tokens"),
        col("n_tokens"))

  /** Eval-side shingle hashes for [[decontaminateStream]] — a bounded
    * collect (the eval set is small by definition; the batch op
    * broadcasts the same relation).
    */
  def evalShingleArray(evalDocs: DataFrame): Array[Long] = {
    evalDocs
      .select(explode(
        graft.operators.DedupQueries.shingleHashes(col("text"))).as("h"))
      .distinct()
      .collect().map(_.getLong(0))
  }

  /** Per-user sessionization with a 30-minute inactivity gap, held as
    * keyed state with an event-time timeout (watermark-driven: no
    * wall-clock batch churn, state expires as event time advances —
    * the bounded-state requirement for an unbounded stream). Emits one
    * update per batch per active user and a closing update when the
    * gap expires.
    */
  def sessionize(events: Dataset[Event],
      gapMillis: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "1 hour"): Dataset[SessionUpdate] = {
    implicit val updEnc = Encoders.product[SessionUpdate]
    implicit val stEnc = Encoders.product[SessionState]
    implicit val longEnc = Encoders.scalaLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.nEvents,
              new Timestamp(s.started), new Timestamp(s.lastTs), closed = true))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[SessionUpdate]()
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMillis =>
                  cur = Some(s.copy(nEvents = s.nEvents + 1, lastTs = t))
                case Some(s) =>
                  closed += SessionUpdate(userId, s.nEvents,
                    new Timestamp(s.started), new Timestamp(s.lastTs), closed = true)
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMillis)
            }
            closed.iterator ++ cur.map(s => SessionUpdate(userId, s.nEvents,
              new Timestamp(s.started), new Timestamp(s.lastTs), closed = false)).iterator
          }
      }
  }
}
