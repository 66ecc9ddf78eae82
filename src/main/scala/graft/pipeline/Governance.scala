package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The governance tier's shared dispatch — one deletion request
  * propagated into every PRESENT per-document standing layout of
  * [[StandingLayouts]] (inverted index + negative stats, simhash
  * fingerprints, IVF-PQ codes, knn graph + top-k heal at each radius).
  * The single body behind `Ctl index-forget` and the HTTP shim's
  * `POST /forget`, so the layout set and the presence guards cannot
  * drift between the two operational surfaces. Aggregate-statistics
  * layouts (daily sketches, drift references) are out of scope by
  * design: they hold count partials, not per-document rows — nothing
  * to hide — and an erase-influence regime rebuilds them from the
  * purged source.
  */
object Governance {

  /** Apply `ids` to every present layout; returns (layout → applied
    * summary) for the layouts that stand, in a fixed report order.
    * Caller contract is the union of the per-layout ones: disjoint
    * cohorts across concurrent requests, and the knn leg serializes
    * with a live knn maintainer (it is a WRITER — the heal appends
    * edge partials).
    */
  def applyForget(spark: SparkSession, sfDir: String,
      ids: Seq[Long]): Seq[(String, String)] = {
    require(ids.nonEmpty, "forget request carries no ids")
    val applied = for (l <- StandingLayouts.all; f <- l.forget
        if l.present(sfDir)) yield l.name -> f(spark, sfDir, ids)
    logForget(spark, sfDir, ids, applied)
    applied
  }

  /** Cross-tenant forget fan-out — the federation's deletion verb
    * (`Ctl forget-fed`): a GDPR request arrives per PERSON, not per
    * tenant, so ONE cohort fans across every tenant corpus's
    * [[applyForget]] — each tenant's own standing layouts, its own
    * tombstones, and one ledger record per (tenant, layout), the
    * evidence landing in each tenant's OWN ledger where that
    * tenant's audits already look (a central fan-out ledger would be
    * a second source of truth to reconcile). Tenants where nothing
    * stands still get their `layout = "none"` ledger record — the
    * request reached them, provably. Completes the tenancy story:
    * ingest (router), serve (federated search), and now deletion
    * are all one-verb across the federation.
    *
    * The corpora contract matches [[graft.streaming.StreamingOps
    * .doorChainFederated]]: distinct tags, distinct dirs (two tags
    * over one dir would double-apply into one layout set). The
    * per-tenant caller contract is the [[applyForget]] union —
    * disjoint concurrent cohorts, knn-maintainer serialization —
    * now per tenant. Sequential by design: forgets are rare,
    * people-scale events, and per-tenant Spark jobs inside each
    * applyForget already use the full cluster; parallelizing tenants
    * would interleave ledger writes for no wall-clock win.
    */
  def applyForgetFederated(spark: SparkSession,
      corpora: Seq[(String, String)],
      ids: Seq[Long]): Seq[(String, Seq[(String, String)])] = {
    require(corpora.nonEmpty, "federated forget needs at least one corpus")
    val tags = corpora.map(_._1)
    require(tags.distinct.size == tags.size,
      s"duplicate corpus tags: ${tags.mkString(", ")}")
    // canonical dirs, for the check AND for use: two SPELLINGS of one
    // dir (`/data/x` vs `/data/x/`) must refuse like two copies of
    // it, and a non-canonical spelling must not probe a phantom
    // fixture root and ledger "the request reached this tenant"
    // while the real layouts go untouched
    val canon = corpora.map { case (t, d) =>
      t -> graft.GraftSession.canonicalDir(d)
    }
    val dirs = canon.map(_._2)
    require(dirs.distinct.size == dirs.size,
      s"duplicate corpus dirs (one layout set would absorb two " +
        s"applications): ${dirs.mkString(", ")}")
    canon.map { case (tag, dir) =>
      tag -> applyForget(spark, dir, ids)
    }
  }

  /** The forget AUDIT LEDGER — a GDPR workflow needs WHO/WHEN
    * evidence, not just the effect: every [[applyForget]] call (CLI,
    * HTTP, stream batch — they share this body) appends one record
    * per touched layout, plus a `layout = "none"` record when nothing
    * stood, so an absorbed RETRY is visible as its zero-count entries
    * rather than silence. Records carry the cohort's deterministic
    * tag (ids themselves stay out of the ledger — it outlives the
    * data whose erasure it proves), the cohort size, the per-layout
    * result, and the wall-clock. Each record is its own staged-moved
    * file (unique tag = cohort-tag + timestamp), so concurrent
    * requests never share a committer tree.
    */
  private def logForget(spark: SparkSession, sfDir: String,
      ids: Seq[Long], applied: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val ts = System.currentTimeMillis()
    val cohort = graft.GraftSession.forgetTag(ids)
    val rows = if (applied.isEmpty) Seq((ts, cohort, ids.distinct.size, "none", "{}"))
      else applied.map { case (l, s) => (ts, cohort, ids.distinct.size, l, s) }
    val root = graft.GraftSession.fixtureRoot(sfDir)
    // nanoTime, not ts: two same-cohort retries inside one
    // millisecond must still get distinct stage claims
    graft.GraftSession.commitAppend(root,
      Some(s"$cohort-${System.nanoTime()}"), "forget_log")(
      s"$root/$ForgetLogDir" -> rows.toDF("ts", "cohort", "n_ids", "layout", "applied")
        .coalesce(1).write)
  }

  /** The ledger's dir name under the fixture root. */
  private[pipeline] val ForgetLogDir = "forget_log"

  private def forgetLogPath(sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.GraftSession.fixtureRoot(sfDir), ForgetLogDir)

  private[pipeline] def forgetLogPresent(sfDir: String): Boolean =
    graft.GraftSession.hasVisibleData(forgetLogPath(sfDir))

  /** The ledger, newest first — `GET /forget/log`'s relation. */
  def forgetLog(spark: SparkSession, sfDir: String): DataFrame =
    if (!forgetLogPresent(sfDir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cohort",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_ids",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("layout",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("applied",
            org.apache.spark.sql.types.StringType))))
    else spark.read.parquet(forgetLogPath(sfDir).toString)
      .orderBy(org.apache.spark.sql.functions.col("ts").desc,
        org.apache.spark.sql.functions.col("layout"))

  /** Compact the forget audit ledger (`Ctl index-compact <sf>
    * forgetlog`): every [[applyForget]] call staged-appends one small
    * parquet file into `forget_log`, and at a realistic
    * deletion-request rate that is exactly the file-count
    * fragmentation the index compactions exist to solve — on the one
    * relation that must survive forever. Rows are bit-identical after
    * (spec-pinned); the shared snapshot-isolated swap machinery means
    * a forget LOGGED mid-compaction lands beside the snapshot and
    * survives. One output file: the ledger is a few-columns-per-
    * deletion-request relation — people-scale by the same contract
    * as the cohorts it records — so a single file is the right shape
    * at any realistic rate.
    */
  def forgetLogCompact(spark: SparkSession, sfDir: String): Boolean = {
    if (!forgetLogPresent(sfDir)) return false
    graft.GraftSession.compactSnapshot(spark, forgetLogPath(sfDir).toString,
      (df, staged) =>
        df.coalesce(1).write.mode("overwrite").parquet(staged))
    true
  }

  /** Export the ledger as ONE header-carrying CSV
    * (`<outDir>/forget_log.csv`; `Ctl forget-log-dump`) — the
    * reference-shaped analog of `tidb-lightning-ctl --checkpoint-dump`
    * (`cmd/tidb-lightning-ctl/main.go:45-97`, which dumps the
    * checkpoint tables to CSV for audit/handoff): GDPR evidence has
    * to leave the system in a shape a compliance tool reads. Newest
    * first, like `GET /forget/log`. Returns the row count; an empty
    * ledger exports nothing. NON-DESTRUCTIVE by contract
    * ([[graft.GraftSession.commitOneFile]] with `replace = false`):
    * an existing `forget_log.csv` refuses loudly, and pre-existing
    * files in `outDir` — prior compliance exports, say — are never
    * touched (a `mode("overwrite")` write pointed at the dir would
    * have deleted them wholesale, destroying the very evidence this
    * verb exists to preserve).
    */
  def forgetLogDump(spark: SparkSession, sfDir: String,
      outDir: String): Long = {
    val df = forgetLog(spark, sfDir)
    val n = df.count()
    if (n == 0) return 0
    graft.GraftSession.commitOneFile(outDir, "forget_log.csv",
      replace = false)(st =>
      df.coalesce(1)
        .sortWithinPartitions(
          org.apache.spark.sql.functions.col("ts").desc,
          org.apache.spark.sql.functions.col("layout"))
        .write.option("header", "true").mode("overwrite").csv(st))
    n
  }

  /** Targeted crashed-stage sweep (`Ctl index-gc --sweep-stage`): the
    * GC reports `.append_stage_*` / `.forget_stage_*` leftovers but
    * deliberately never deletes them — this is the operator's
    * delete-to-retry tool once the inspection is done. Deletes ONLY
    * the named tag's stage dirs under the named layout; returns what
    * died (empty = nothing stood, reported not invented). Every name
    * [[graft.GraftSession.commitAppend]] can leave is one of these
    * shapes — an untagged commit's fresh name or an
    * [[graft.GraftSession.appliedOnce]] body's `once-<hash>` name
    * sweeps as its tag.
    *
    * Layout `"root"` sweeps the FIXTURE-ROOT stages [[gcLayouts]]
    * also reports — `.forget_log_stage_<tag>` under its unique tag,
    * and `.evalref_rebuild_stage` under the tag `evalref-rebuild`
    * (like "derive", the rebuild claim has no per-tag suffix: one
    * rebuild at a time is the point) — so every stage the GC can
    * report has a matching sweep path. No real layout can collide
    * with the name: layouts are version-suffixed family dirs.
    */
  def sweepStage(sfDir: String, layoutName: String,
      tag: String): Seq[String] = {
    val root = java.nio.file.Paths.get(graft.GraftSession.fixtureRoot(sfDir))
    val (base, names) =
      if (layoutName == "root")
        (root, Seq(s".forget_log_stage_$tag") ++
          (if (tag == "evalref-rebuild") Seq(".evalref_rebuild_stage")
           else Nil))
      else
        // tag "derive" names the consumer-derivation claim (it has no
        // per-tag suffix — one derivation at a time is the point)
        (root.resolve(layoutName),
          Seq(s".append_stage_$tag", s".forget_stage_$tag") ++
            (if (tag == "derive") Seq(".derive_stage") else Nil))
    val victims = names.map(base.resolve)
      .filter(java.nio.file.Files.exists(_))
    victims.foreach(graft.GraftSession.deleteRec)
    victims.map(_.toString)
  }

  /** Garbage-collect SUPERSEDED standing-layout generations under a
    * corpus's fixture root — every version bump (or sketch-precision
    * change) orphans the predecessor's whole tree, which on a
    * long-lived deployment is dead disk forever. A dir is superseded
    * iff its name parses as `<family>_v<digits>[...]` for a family the
    * catalog KNOWS and the full name is not current — parameter-keyed
    * caches (`kmeans_*`) and fixture outputs never match a known
    * family and are never touched; both knn radii are current by
    * design. Dry-run by default: returns (superseded, crashed-stage
    * warnings); `apply = true` deletes the superseded trees.
    * Crashed-stage leftovers (`.append_stage_*` / `.forget_stage_*` /
    * `.derive_stage` inside CURRENT layouts, and fixture-root staging
    * like `.evalref_rebuild_stage` / `.forget_log_stage_*`) are
    * REPORTED, never deleted — each is a refuse-loudly marker whose
    * delete-to-retry decision belongs to the operator who owns the
    * tag ([[sweepStage]] is that operator tool).
    */
  def gcLayouts(sfDir: String,
      apply: Boolean = false): (Seq[String], Seq[String]) = {
    val root = java.nio.file.Paths.get(graft.GraftSession.fixtureRoot(sfDir))
    if (!java.nio.file.Files.isDirectory(root)) return (Nil, Nil)
    val current = StandingLayouts.currentDirNames
    // family = the name up to its version suffix ("emb_by_bucket_v2"
    // → "emb_by_bucket", "knn_v4_r1" → "knn")
    val families = current.map(_.replaceAll("_v\\d.*$", ""))
    val versioned = """^([a-z_]+?)_v\d.*$""".r
    val dirs = {
      val l = java.nio.file.Files.list(root)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        l.forEach(p => if (java.nio.file.Files.isDirectory(p)) b += p)
        b.result()
      } finally l.close()
    }
    val superseded = dirs.filter { p =>
      p.getFileName.toString match {
        case versioned(family) =>
          families.contains(family) && !current.contains(p.getFileName.toString)
        // RETIRED fixture families that never carried a version
        // suffix (the pre-r18 two-shard federated split, replaced by
        // the N-keyed `fed_shards_n<N>` dirs): a full corpus copy
        // plus per-shard index trees that would otherwise sit as
        // dead disk invisible to this GC forever. The N-keyed dirs
        // themselves are parameter-keyed like `kmeans_*` (an
        // operator-chosen N is not "superseded" by another N) and
        // follow the corpus stamp — never touched here.
        case "fed_shards" => true
        case _ => false
      }
    }
    // fixture-root staging leftovers (evalref rebuild, forget-log
    // moves) are crashed stages too — dot-prefixed so the versioned
    // matcher above never sees them
    val rootStages = dirs
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.contains("stage")
      }
      .map(_.toString)
    val crashedStages = rootStages ++ dirs
      .filter(p => current.contains(p.getFileName.toString))
      .flatMap { p =>
        val l = java.nio.file.Files.list(p)
        try {
          val b = Seq.newBuilder[String]
          l.forEach { c =>
            val n = c.getFileName.toString
            if (n.startsWith(".append_stage_") || n.startsWith(".forget_stage_") ||
                n == ".derive_stage")
              b += c.toString
          }
          b.result()
        } finally l.close()
      }
    if (apply) superseded.foreach(graft.GraftSession.deleteRec)
    (superseded.map(_.toString), crashedStages)
  }

  /** Tombstones standing (hidden but not yet physically deleted) per
    * present layout — the review surface behind `GET /forget/pending`;
    * the next `index-compact` retires them.
    */
  def pendingForgets(spark: SparkSession,
      sfDir: String): Seq[(String, Long)] =
    for (l <- StandingLayouts.all; p <- l.pending if l.present(sfDir))
      yield l.name -> p(spark, sfDir)

  /** APPEND positions for every present BATCH-MAINTAINED standing
    * layout — the `GET /forget/lag` relation. Each maintain stream
    * (invindex, simhash, sketch, knn) records its last applied
    * batchId beside its layout; −1 means the layout stands but has
    * seen none of the streamed appends — it serves the seed corpus
    * only, the "stale layout with no signal" this surface exists to
    * expose. The knn rows carry the radius asymmetry (forgets reach
    * every standing radius; appends feed only the maintainer's
    * session radius — the [[graft.operators.SimilarityQueries
    * .KnnLegalRadii]] note), so `knn_r2 → -1` beside `knn_r1 → 42`
    * is the non-maintained radius made visible.
    *
    * IVF-PQ is deliberately absent: its concurrent append protocol
    * is jobTag-claimed staged moves, not a batchId sequence — there
    * is no "last applied batch" to report, and inventing one from a
    * marker it never writes would show a maintained layout as
    * eternally stale. Its staleness guards are the layout stamp
    * chain and the derivation claim.
    */
  def appendLag(sfDir: String): Seq[(String, Long)] =
    for (l <- StandingLayouts.all; lag <- l.appendLag if l.present(sfDir))
      yield l.name -> lag(sfDir)
}
