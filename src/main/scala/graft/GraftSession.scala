package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by SparkEntry / Verify / Bench.
  *
  * Tables are the TPC-H-ish corpus described in TESTDATA.md (one
  * parquet file per table under the sf dir).
  */
object GraftSession {

  /** Cores a session runs on: `SPARK_GRAFT_CPUS` when set, else every
    * processor the JVM may use (the reference's region-concurrency
    * default is NumCPU).
    */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** THE session factory: the CLI, the server, Verify, Bench, the
    * tools and the test suite all run this one config, so the oracle
    * checks exactly what gets benched. Anything not set here is
    * Spark's default; override it per run with a `-Dspark.sql.…` JVM
    * property.
    *  - one shuffle partition per core;
    *  - sortBeforeRepartition off: every KEYLESS repartition here
    *    roots on a deterministic file scan (fanOut, simhashCompact's
    *    re-pack, the knn probe spread) or falls back to a full-row
    *    hash (`Export.table`), so the SPARK-23207 retry hazard the
    *    per-partition sort guards against cannot occur and the sort
    *    is pure cost;
    *  - nanosAsLong: see [[events]].
    * The ObjectHashAggregate fallback threshold is deliberately left at
    * its 128-entry default, the OOM bound for unbounded object buffers;
    * operators with provably bounded buffers raise it in a child
    * session (SimilarityQueries.knnSession).
    */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[session]] with the core count as a string, the form the
    * benchmark's entry point (`perfbench/src/graftbench/Main.scala`)
    * calls.
    */
  def benchSession(cpus: String): SparkSession = session(cpus.toInt)

  /** Warm-up before measuring: table scans plus every operator family's
    * fixtures and standing layouts, so JVM/codegen/parquet-footer and
    * scaffolding costs land here, not on the first measured query. A
    * failing warm-up throws.
    */
  def warmAll(spark: SparkSession, sfDir: String): Unit = {
    tableNames.foreach(t => table(spark, sfDir, t).count())
    operators.PipelineQueries.warmFixtures(spark, sfDir)
    operators.SimilarityQueries.warmLayouts(spark, sfDir)
    operators.DedupQueries.warmLayouts(spark, sfDir)
    operators.TextQueries.warmLayouts(spark, sfDir)
  }

  /** Canonical spelling of a corpus dir — ONE fixture key per real
    * directory: trailing slashes, `.`/`..` segments, and relative
    * spellings collapse to the absolute normalized path, so
    * `/data/x` and `/data/x/` can never stand two fixture roots (and
    * two layout sets, two ledgers) for one corpus. URI-schemed paths
    * (`s3a://…`) pass through untouched — Paths.get would misparse
    * the scheme as a relative segment.
    */
  def canonicalDir(dir: String): String =
    if (dir.contains("://")) dir
    else java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Root for generated fixtures/layouts of one sf dir — single source
    * of truth for every operator that materializes test scaffolding.
    * Keyed by the CANONICAL dir ([[canonicalDir]]): a non-canonical
    * spelling must not probe a phantom fixture root and, say, record
    * a `layout = "none"` forget-ledger row while the real layouts
    * under the canonical key go untouched.
    */
  def fixtureRoot(sfDir: String): String =
    s"/tmp/graft_fixtures/${canonicalDir(sfDir).replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Recursive local delete — the ONE implementation behind every
    * fixture/staging cleanup (was triplicated across the query and
    * export modules).
    */
  def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(x => java.nio.file.Files.deleteIfExists(x))
      finally walk.close() // walk streams hold directory handles
    }

  /** The deletion tombstones standing in `dir` — ids a `*Forget` call
    * hid from a standing layout's serving reads — or None in the
    * normal no-deletions state (the fast path: one directory walk, no
    * parquet read). Deletion requests are people-scale, so the
    * relation is bounded and broadcastable by construction — every
    * serving hook applies it as one broadcast anti-join. Shared by
    * the invindex/simhash/ivfpq/knn forget paths so the
    * dir-has-data-files probe cannot drift between layouts.
    */
  def tombstonesIn(spark: SparkSession, dir: java.nio.file.Path,
      idCol: String): Option[DataFrame] =
    if (!hasVisibleData(dir)) None
    else Some(spark.read.parquet(dir.toString).select(idCol).distinct())

  /** Last committed append batch id recorded in a layout's
    * `_LAST_BATCH` marker, or −1 when the marker does not exist (no
    * idempotent append ever committed there) — the append-lag read
    * behind `GET /forget/lag`. A marker that EXISTS but does not
    * parse throws instead: on a governance surface, a corrupted
    * marker must be distinguishable from "never maintained" —
    * mapping both to −1 would report a damaged layout as merely
    * unmaintained, and the operator's remedies for the two differ
    * (investigate/restore vs attach a maintainer).
    */
  def lastBatchIn(layoutDir: String): Long = {
    val p = java.nio.file.Paths.get(layoutDir, "_LAST_BATCH")
    try java.nio.file.Files.readString(p).trim.toLong
    catch {
      // missing = never maintained (NoSuchFile first: it IS an
      // IOException, and a marker voided by a concurrent rebuild
      // between listing and read is "missing", not "corrupt")
      case _: java.nio.file.NoSuchFileException => -1L
      case _: java.io.FileNotFoundException => -1L
      // everything else a standing marker can throw — non-numeric
      // content, non-UTF-8 bytes from a truncated write, a
      // permissions break — is the documented corrupt-marker case
      case e @ (_: java.io.IOException | _: NumberFormatException) =>
        throw new IllegalStateException(
          s"corrupt append marker $p — not a batch id", e)
    }
  }

  /** SNAPSHOT of a tombstone dir's data files, taken by a compaction
    * BEFORE its rewrite resolves any file listing: the compaction
    * applies and retires exactly these files ([[retireTombstones]]),
    * so a tombstone staged-moved in at any point DURING the
    * compaction is neither half-applied nor destroyed unapplied — it
    * survives, keeps hiding its rows through the serving anti-joins,
    * and the NEXT compaction retires it (the same discipline
    * [[compactSnapshot]]'s manifest gives the data files). Returns
    * absolute paths; empty = no tombstones standing.
    */
  def tombstoneSnapshot(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val snap = dataFilesUnder(dir).map(dir.resolve)
    afterTombSnapshotSeam()
    snap
  }

  /** Test seam (the [[compactPartitioned]] `beforeSwap` pattern):
    * runs right after a compaction snapshots a tombstone dir — where
    * a concurrently-landing forget is most interesting to pin.
    */
  private[graft] var afterTombSnapshotSeam: () => Unit = () => ()

  /** Read the tombstone RELATION from exactly a snapshot's files —
    * the rewrite-side leg of the snapshot discipline (reading the
    * live dir instead would apply tombstones the retire below never
    * deletes, which is merely wasted work, but reading FEWER than the
    * retire deletes would destroy a tombstone unapplied — the data
    * loss the snapshot exists to prevent).
    */
  def tombstonesFrom(spark: SparkSession,
      files: Seq[java.nio.file.Path]): DataFrame =
    // mergeSchema: cohorts recorded before a layout learned to stamp
    // its partition key carry only the id column — the union must
    // still surface the key column (null for those rows)
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.toString): _*)

  /** Retire exactly a snapshot's tombstone files (+ LocalFS checksum
    * siblings); the dir itself is left standing even when emptied.
    * Deleting it — even behind a hasVisibleData check — is a
    * check-then-act race: a concurrent forget's [[moveStagedInto]]
    * (explicitly legal beside a compaction) can land a NEW tombstone
    * between the emptiness check and a recursive delete's walk, and
    * destroying that file unapplied silently un-forgets a document —
    * the exact loss the consumed-only snapshot discipline exists to
    * prevent. An empty tombstone dir already reads as "no tombstones"
    * everywhere ([[tombstonesIn]]/[[hasVisibleData]]), so standing
    * costs nothing. Idempotent — deletes tolerate already-deleted
    * files.
    */
  def retireTombstones(dir: java.nio.file.Path,
      files: Seq[java.nio.file.Path]): Unit = {
    files.foreach { f =>
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(
        f.resolveSibling("." + f.getFileName.toString + ".crc"))
    }
  }

  /** Cohort-size threshold where an id filter switches plan shape.
    * Below it, a literal `isin` list is the best plan: it pushes to
    * the parquet scan as an In filter (row-group pruning) and typical
    * deletion cohorts are people-scale. Above it, the same literal
    * list becomes a plan-size cliff — a batch erasure campaign of
    * 10⁵ ids would build a 10⁵-literal expression tree the optimizer
    * walks on every rule pass — so the filter runs as a BROADCAST
    * semi/anti join of the (already driver-held) cohort instead:
    * bounded plan, one broadcast, same semantics.
    */
  private[graft] val IdInLiteralMax = 1000

  /** `df WHERE c IN (ids)` without the plan-size cliff — see
    * [[IdInLiteralMax]]. Small cohorts keep the pushed-down literal
    * plan bit-for-bit; large ones broadcast-semi-join.
    */
  def filterIdIn(df: DataFrame, c: String, ids: Seq[Long]): DataFrame =
    if (ids.sizeIs <= IdInLiteralMax)
      df.where(org.apache.spark.sql.functions.col(c).isin(ids: _*))
    else df.join(
      org.apache.spark.sql.functions.broadcast(idRel(df.sparkSession, c, ids)),
      Seq(c), "left_semi")

  /** `df WHERE c NOT IN (ids)`, the anti leg of [[filterIdIn]]. Id
    * columns are null-free by the layouts' contract, but the two plan
    * shapes would otherwise DISAGREE on a null that slips through —
    * `!isin` drops it (three-valued logic), a LeftAnti keeps it
    * (null never matches the build side) — so the join leg pins the
    * literal leg's NOT-IN semantics with an explicit isNotNull: same
    * call, same rows, on either side of the size threshold.
    */
  def filterIdNotIn(df: DataFrame, c: String, ids: Seq[Long]): DataFrame =
    if (ids.sizeIs <= IdInLiteralMax)
      df.where(!org.apache.spark.sql.functions.col(c).isin(ids: _*))
    else df.where(org.apache.spark.sql.functions.col(c).isNotNull).join(
      org.apache.spark.sql.functions.broadcast(idRel(df.sparkSession, c, ids)),
      Seq(c), "left_anti")

  private def idRel(spark: SparkSession, c: String,
      ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.distinct.toDF(c)
  }

  /** Commit ONE data file named `name` into `destDir`: the caller's
    * `writeStage` materializes a coalesce(1) write into a private
    * staging dir, and the single visible data file moves to its final
    * name in one rename — the shared shape behind the federated
    * router's per-tenant commits and the ledger CSV export.
    * `replace = true` is the foreachBatch-replay contract
    * (deterministic name, byte-identical recommit); `replace = false`
    * is the EXPORT contract — an existing target refuses loudly, and
    * nothing pre-existing in `destDir` is ever touched (a
    * `mode("overwrite")` pointed at an operator-supplied dir would
    * delete the whole dir first — exactly the loss an evidence export
    * must never risk). Returns the committed path.
    */
  def commitOneFile(destDir: String, name: String, replace: Boolean)(
      writeStage: String => Unit): java.nio.file.Path = {
    val dest = java.nio.file.Paths.get(destDir)
    java.nio.file.Files.createDirectories(dest)
    val target = dest.resolve(name)
    if (!replace && java.nio.file.Files.exists(target))
      throw new IllegalArgumentException(
        s"$target already exists; exports never overwrite — " +
          "choose another name or directory")
    val stage = dest.resolve(s".commit_stage_$name")
    deleteRec(stage) // replays are serialized by the caller's contract
    writeStage(stage.toString)
    val part = {
      val l = java.nio.file.Files.list(stage)
      val staged =
        try {
          val b = Seq.newBuilder[java.nio.file.Path]
          l.forEach { p =>
            val fn = p.getFileName.toString
            if (java.nio.file.Files.isRegularFile(p) &&
                !fn.startsWith("_") && !fn.startsWith("."))
              b += p
          }
          b.result()
        } finally l.close()
      // exactly ONE data file is the contract — a caller that staged
      // more (wrote without coalesce(1)) must fail loudly here, not
      // have an arbitrary part committed while the rest silently dies
      // with the stage cleanup below
      if (staged.isEmpty)
        throw new IllegalStateException(s"no data file staged under $stage")
      if (staged.sizeIs > 1)
        throw new IllegalStateException(
          s"${staged.size} data files staged under $stage — " +
            "commitOneFile commits exactly one; write with coalesce(1)")
      staged.head
    }
    java.nio.file.Files.move(part, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    deleteRec(stage)
    target
  }

  /** Decode a Spark `input_file_name()` string to a local filesystem
    * path. Spark emits the URL-ENCODED form (a dir named `a b` reads
    * back as `file:///…/a%20b/…` — measured, not assumed), so the
    * URI parse is the correct decode; a producer that hands a RAW
    * un-encoded name instead (a literal space is illegal in a URI and
    * `new URI` throws URISyntaxException) falls back to Hadoop's
    * lenient `Path` parse, which passes literal characters through.
    * Using Hadoop Path on the ENCODED form would be wrong the other
    * way — it does NOT decode `%20`, and a silently-wrong path here
    * would make a pruned compaction miss its dirty files.
    *
    * RESIDUAL AMBIGUITY, by construction undecidable: a raw producer
    * path that happens to contain a valid escape (a literal dir named
    * `a%20b`) parses as a legal URI and decodes to the wrong path
    * (`a b`). No marker distinguishes the two readings, so callers on
    * correctness-critical paths (the pruned compactions) must only
    * feed this names whose generator cannot emit a literal `%` —
    * Spark's own `part-<uuid>` output names satisfy that; an
    * operator-supplied file name does not.
    */
  def inputFileNamePath(name: String): String =
    try {
      val u = new java.net.URI(name)
      // a RAW name can also parse as a LEGAL uri and silently
      // truncate: '#'/'?' read as fragment/query (getPath drops
      // everything after), and an opaque form has no path at all.
      // Spark's encoded output never carries any of those (they
      // encode to %23/%3F), so their presence marks a raw producer —
      // fall back rather than return a wrong path, which downstream
      // would turn into a pruned compaction missing its dirty files
      if (u.getFragment != null || u.getQuery != null || u.getPath == null)
        new org.apache.hadoop.fs.Path(name).toUri.getPath
      else u.getPath
    } catch {
      case _: java.net.URISyntaxException =>
        new org.apache.hadoop.fs.Path(name).toUri.getPath
    }

  /** Recursive file-tree copy (fixture seeding: a value-identical
    * corpus copy may inherit a built layout by copy instead of
    * rebuild). Plain files + dirs only; overwrites nothing — caller
    * clears the destination first.
    */
  def copyRec(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** The forget tier's deterministic job tag: a cohort-derived hash,
    * so a RETRY of the same request maps to the same staged-write
    * claim (a crashed attempt's leftover refuses loudly with the
    * delete-to-retry contract) while distinct cohorts never collide.
    */
  def forgetTag(ids: Seq[Long]): String =
    "forget-" + hex6(ids.distinct.sorted.mkString(","))

  private def hex6(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** THE commit path into every append-maintained directory (standing
    * layouts, tombstone and delta relations, streaming sink dirs):
    * each leg's writer materializes its rows into a private stage
    * `<root>/.<kind>_stage_<name>`, EVERY leg stages before ANY moves,
    * and then each leg's visible data files move, in leg order, into
    * that leg's live dir ([[moveStagedInto]]: partition subdirs kept,
    * `append-<tag>-<i>.parquet` names). No Spark job ever writes a
    * live dir, so no `_temporary` appears there and N concurrent
    * committers are legal — beside each other, a compaction, or a
    * peer's crashed Hadoop write.
    *  - `tag = Some(t)`: the TAGGED commit. The stage claim refuses a
    *    live or crashed attempt of `t` (delete-to-retry), and the move
    *    sweeps exactly `t`'s earlier files, so a retry lands once.
    *  - `tag = None`: each call gets a fresh name and sweeps nothing —
    *    a door reset that restarts batch ids can never delete
    *    committed rows. Inside an [[appliedOnce]] body the STAGE name
    *    is the marker's own (one writer per marker), cleared before
    *    the claim: a crashed once-append never blocks the next batch,
    *    and no other writer's stage is ever touched.
    * A failure while staging deletes the stage (nothing escaped); one
    * after the moves began keeps it — some legs may be live, so the
    * next tagged attempt must refuse until someone looks.
    */
  def commitAppend(root: String, tag: Option[String] = None,
      kind: String = "append")(
      legs: (String, org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])*): Unit = {
    tag.foreach(t => require(t.nonEmpty &&
      t.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"tag must be [A-Za-z0-9_-]+, got '$t'"))
    val lives = legs.map(l => java.nio.file.Paths.get(l._1))
    require(lives.map(_.getFileName).distinct.size == lives.size,
      s"commit legs need distinct dir names: ${lives.mkString(", ")}")
    val once = if (tag.isEmpty) Option(onceStage.get) else None
    val fileTag = tag.getOrElse(java.util.UUID.randomUUID.toString.replace("-", ""))
    val stage = java.nio.file.Paths.get(root,
      s".${kind}_stage_${once.getOrElse(fileTag)}")
    java.nio.file.Files.createDirectories(stage.getParent)
    once.foreach(_ => deleteRec(stage))
    claimStage(stage, s"the $kind stage '${stage.getFileName}'")
    val staged =
      try legs.zip(lives).map { case ((_, w), live) =>
        val d = stage.resolve(live.getFileName)
        w.parquet(d.toString)
        d
      }
      catch { case e: Throwable => deleteRec(stage); throw e }
    staged.zip(lives).foreach { case (d, live) =>
      moveStagedInto(d, live, fileTag)
      afterLegMoveSeam(live)
    }
    deleteRec(stage)
  }

  /** Test seam: runs after each [[commitAppend]] leg has moved in —
    * the window between two legs' moves.
    */
  private[graft] var afterLegMoveSeam: java.nio.file.Path => Unit = _ => ()

  /** The stage name a [[commitAppend]] inside this thread's innermost
    * [[appliedOnce]] body uses (null outside one).
    */
  private val onceStage = new ThreadLocal[String]

  /** [[appliedOnce]]'s stage name for `marker` — `once-` and a hash of
    * the marker's absolute path, so two markers never share a stage.
    */
  private[graft] def onceStageName(marker: java.nio.file.Path): String =
    "once-" + hex6(marker.toAbsolutePath.normalize.toString)

  /** The shared forget-gate fixture: a COPY of the corpus tables the
    * registered `q_forget_*` queries mutate (tombstones + standing
    * layouts), so the per-sf layouts every OTHER registered query
    * serves from are never touched. Written once per sf dir; the
    * copies are value-identical to the source tables, which is what
    * lets each forget oracle replay over the driver's own tables with
    * a `% 97` cohort filter.
    */
  def forgetFixtureDir(spark: SparkSession, sfDir: String): String = {
    val dir = s"${fixtureRoot(sfDir)}/forget_corpus"
    for (t <- Seq("documents", "embeddings")) {
      val out = java.nio.file.Paths.get(s"$dir/$t.parquet")
      if (!java.nio.file.Files.exists(out.resolve("_SUCCESS")))
        table(spark, sfDir, t).write.mode("overwrite").parquet(out.toString)
    }
    dir
  }

  /** Compact a `partitionBy(partCol)` parquet tree back to ≤1 file per
    * partition directory: append-maintained layouts gain one file per
    * touched partition per append, and probe cost grows with file
    * COUNT even when bytes don't. Rewrites into a staging sibling with
    * the build's own pre-shuffle (one task per partition value → one
    * file), then swaps.
    *
    * Concurrency contract: the compaction SNAPSHOTS the live tree's
    * data-file list up front, reads and deletes ONLY those files, and
    * merges the compacted files back in beside whatever else arrived —
    * so an append (`invIndexAppend` / `simhashAppendOnce` /
    * `ivfPqAppend`, e.g. a live maintenance stream) landing at any
    * point during the compaction is preserved, never silently dropped.
    * (Appends only ever CREATE files; nothing rewrites in place, which
    * is what makes snapshot-isolation sufficient here.) The one thing
    * that must not run concurrently is a second compaction of the same
    * tree — both would claim the same staging dir.
    *
    * Crash safety: the staged tree is authoritative only once its
    * `_COMPACT_MANIFEST` (the snapshot list, written via temp + atomic
    * move AFTER the parquet `_SUCCESS`) exists. Crash before the
    * manifest → live tree untouched, staged cleared on the next run.
    * Crash during the swap → the next run replays the swap from the
    * manifest (delete snapshot files that remain, move staged files
    * in — both idempotent). Rows are bit-identical before and after
    * (spec-pinned at each call site; concurrent-append preservation
    * and mid-swap recovery pinned in `LayoutMaintenanceSpec`).
    */
  def compactPartitioned(spark: SparkSession, dir: String, partCol: String): Unit =
    compactPartitioned(spark, dir, partCol, () => ())

  /** Test seam: `beforeSwap` runs after the staged tree + manifest are
    * complete and before the swap — where a concurrent append or a
    * crash is most interesting to pin.
    */
  private[graft] def compactPartitioned(spark: SparkSession, dir: String,
      partCol: String, beforeSwap: () => Unit): Unit =
    compactSnapshot(spark, dir, (df, staged) => df
      .repartition(org.apache.spark.sql.functions.col(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(staged),
      beforeSwap)

  /** The snapshot/manifest/swap engine behind every standing-layout
    * compaction — [[compactPartitioned]] plugs in a per-partition
    * rewrite, the sketch layout plugs in a SEMANTIC merge of its
    * partial rows. `writeStaged` must fully materialize the given
    * (snapshot-only) relation into the staged dir with parquet's
    * `_SUCCESS` commit; everything else (snapshot isolation against
    * concurrent appends, crash replay from the manifest, idempotent
    * swap) is shared here so it cannot drift between layouts.
    *
    * Stale-manifest safety is STRUCTURAL, not a caller convention: a
    * manifest is only replayed when the live tree still carries the
    * `_COMPACT_IN_PROGRESS` breadcrumb this engine plants right before
    * its swap. A layout REBUILD rewrites the live dir (parquet
    * overwrite clears it, breadcrumb included), so a manifest from a
    * compaction of the PREVIOUS corpus can never merge old files into
    * the fresh tree — it is discarded instead. Rebuild bodies still
    * delete the `<dir>_compacting` sibling eagerly (beside voiding
    * `_LAST_BATCH`) as defense in depth and to clear the disk litter.
    */
  private[graft] def compactSnapshot(spark: SparkSession, dir: String,
      writeStaged: (org.apache.spark.sql.DataFrame, String) => Unit,
      beforeSwap: () => Unit = () => ()): Unit =
    compactSnapshotOf(spark, dir, identity, writeStaged, beforeSwap)

  /** Partition-PRUNED compaction: only the files under the top-level
    * partition directories in `dirtyDirs` (`col=value` names) enter
    * the snapshot/rewrite/swap — every other partition's files are
    * untouched, so a tombstone-retiring compaction costs ∝ affected
    * partitions, not corpus. Same manifest/breadcrumb crash machinery
    * as the full [[compactSnapshot]] (the manifest is just a shorter
    * file list). `writeStaged` sees ONLY the dirty partitions'
    * rows and must write them back `partitionBy` the same column, so
    * the staged tree mirrors exactly the dirs being replaced.
    */
  private[graft] def compactSnapshotPruned(spark: SparkSession, dir: String,
      dirtyDirs: Set[String],
      writeStaged: (org.apache.spark.sql.DataFrame, String) => Unit): Unit =
    compactSnapshotOf(spark, dir,
      _.filter(rel => dirtyDirs.contains(rel.takeWhile(_ != '/'))),
      writeStaged, () => ())

  /** FILE-pruned compaction for flat (non-partitioned) relations:
    * only the named files (relative to `dir`) are rewritten — the
    * simhash shape, where the dirty set is "files carrying a victim
    * row" found by a pushed-down id scan.
    */
  private[graft] def compactSnapshotFiles(spark: SparkSession, dir: String,
      files: Set[String],
      writeStaged: (org.apache.spark.sql.DataFrame, String) => Unit): Unit =
    compactSnapshotOf(spark, dir, _.filter(files.contains), writeStaged,
      () => ())

  private[graft] def compactSnapshotOf(spark: SparkSession, dir: String,
      pick: Seq[String] => Seq[String],
      writeStaged: (org.apache.spark.sql.DataFrame, String) => Unit,
      beforeSwap: () => Unit): Unit = {
    val live = java.nio.file.Paths.get(dir)
    val staged = java.nio.file.Paths.get(dir + "_compacting")
    val manifest = staged.resolve("_COMPACT_MANIFEST")
    val inProgress = live.resolve("_COMPACT_IN_PROGRESS")
    if (java.nio.file.Files.exists(manifest)) {
      if (java.nio.file.Files.exists(inProgress)) {
        // a prior run crashed mid-swap ON THIS TREE: its staged files
        // are authoritative for the snapshot it compacted — finish
        // that swap first, then compact afresh (files appended since
        // remain untouched)
        swapCompacted(live, staged, manifest, inProgress)
      } else {
        // complete staged tree, but the live tree never entered (or
        // was rebuilt since) its swap — the manifest is stale for this
        // tree; discard it rather than merge old-corpus files in
        deleteRec(staged)
      }
    } else if (!java.nio.file.Files.exists(live)) {
      // legacy (pre-manifest) crash between deleteRec(live) and the
      // wholesale move: the complete staged tree is the only copy
      require(java.nio.file.Files.exists(staged.resolve("_SUCCESS")),
        s"compaction found neither a live tree nor a complete staged tree at $dir")
      java.nio.file.Files.move(staged, live)
    } else deleteRec(staged)
    val snapshot = pick(dataFilesUnder(live))
    if (snapshot.isEmpty) return
    writeStaged(
      spark.read.option("basePath", dir)
        .parquet(snapshot.map(r => live.resolve(r).toString): _*),
      staged.toString)
    val tmp = staged.resolve("_COMPACT_MANIFEST.tmp")
    java.nio.file.Files.writeString(tmp, snapshot.mkString("\n"))
    java.nio.file.Files.move(tmp, manifest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // the breadcrumb that authorizes a crash replay of THIS swap onto
    // THIS tree: planted after the manifest (a crash between the two
    // leaves a discardable staged tree and an intact live one), gone
    // whenever the live dir is rebuilt
    java.nio.file.Files.writeString(inProgress, "1")
    beforeSwap()
    swapCompacted(live, staged, manifest, inProgress)
  }

  /** THE "would a Spark scan see this file" rule: hidden ('_'/'.')
    * names rejected at EVERY path component below `root` — a file
    * under `_temporary/...` (a FileOutputCommitter job's staging) has
    * a plain leaf name but is invisible to a scan; markers
    * (`_SUCCESS`, stamps) and checksum dot-files fall to the same
    * rule. ONE predicate shared by the compaction snapshot
    * ([[dataFilesUnder]]) and every emptiness probe
    * ([[hasVisibleData]]), so they can never disagree about a
    * directory.
    */
  private def visibleRel(root: java.nio.file.Path,
      p: java.nio.file.Path): Boolean = {
    val rel = root.relativize(p)
    !(0 until rel.getNameCount).exists { i =>
      val n = rel.getName(i).toString
      n.startsWith("_") || n.startsWith(".")
    }
  }

  /** Whether `dir` holds any data file a Spark scan would list — the
    * empty-parquet-dir probe (Spark's reader throws on schema
    * inference over a dir with zero visible files, which is a normal
    * bootstrap state for append-maintained layouts and sink dirs; a
    * crashed append's `_temporary/…/part-*` must read as absent).
    */
  def hasVisibleData(dir: java.nio.file.Path): Boolean = {
    if (!java.nio.file.Files.isDirectory(dir)) return false
    val walk = java.nio.file.Files.walk(dir)
    try walk.anyMatch(p =>
      java.nio.file.Files.isRegularFile(p) && visibleRel(dir, p))
    finally walk.close()
  }

  /** The MOVE leg of [[commitAppend]]: bring a staged parquet tree's
    * data files into the live dir under deterministic
    * `append-<jobTag>-<i>` names — partition subdirs (`col=value`)
    * map onto the live dir's, recursively — sweeping the tag's own
    * leftovers in each live dir first so a retried crashed attempt
    * lands exactly once. Movers with distinct tags touch distinct
    * names.
    *
    * The retry sweep matches EXACTLY `append-<jobTag>-<digits>
    * .parquet` (tag regex-escaped), never a bare name prefix: tags
    * may contain '-' (date tags like `2026-08` vs `2026-08-15`), so a
    * prefix sweep for tag X would silently delete the committed files
    * of any legal tag X-* — index data loss inside the API whose
    * whole contract is that distinct tags never interfere.
    */
  def moveStagedInto(stagedDir: java.nio.file.Path,
      liveDir: java.nio.file.Path, jobTag: String): Unit = {
    java.nio.file.Files.createDirectories(liveDir)
    val own = java.util.regex.Pattern.compile(
      "append-" + java.util.regex.Pattern.quote(jobTag) + "-\\d+\\.parquet")
    val sweep = java.nio.file.Files.list(liveDir)
    try sweep.filter(p => own.matcher(p.getFileName.toString).matches())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally sweep.close()
    val visible = {
      val l = java.nio.file.Files.list(stagedDir)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        l.forEach { p =>
          val fn = p.getFileName.toString
          if (!fn.startsWith("_") && !fn.startsWith(".")) b += p
        }
        b.result()
      } finally l.close()
    }
    val (dirs, files) = visible.partition(java.nio.file.Files.isDirectory(_))
    files.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, liveDir.resolve(s"append-$jobTag-$i.parquet"))
    }
    dirs.foreach(d =>
      moveStagedInto(d, liveDir.resolve(d.getFileName.toString), jobTag))
  }

  /** The staging CLAIM (atomic createDirectory; the quarantineRelease
    * rule): a second attempt under the same tag — or a crashed
    * attempt's leftover — is refused with the delete-to-retry
    * contract, never silently raced.
    */
  def claimStage(stage: java.nio.file.Path, what: String): Unit =
    try java.nio.file.Files.createDirectory(stage)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"$what is already in progress (or a crashed attempt left " +
            s"$stage); delete that directory to retry")
    }

  /** Relative paths of the parquet data files under `root` — the
    * [[visibleRel]] rule, matching what a Spark scan lists: reading a
    * `_temporary` file races the committer's rename, and deleting it
    * in the compaction swap would duplicate or kill the append.
    */
  private def dataFilesUnder(root: java.nio.file.Path): Seq[String] = {
    if (!java.nio.file.Files.exists(root)) return Nil
    val walk = java.nio.file.Files.walk(root)
    try {
      val out = Seq.newBuilder[String]
      walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) && visibleRel(root, p))
          out += root.relativize(p).toString
      }
      out.result()
    } finally walk.close()
  }

  /** The idempotent swap leg: remove exactly the manifest's snapshot
    * files from the live tree (concurrently appended files are not in
    * the manifest and survive), merge the staged files in, clear the
    * staging dir. Safe to replay after a crash at any point — deletes
    * tolerate already-deleted files, moves tolerate already-moved ones.
    */
  private def swapCompacted(live: java.nio.file.Path,
      staged: java.nio.file.Path, manifest: java.nio.file.Path,
      inProgress: java.nio.file.Path): Unit = {
    java.nio.file.Files.readString(manifest).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).foreach { rel =>
        val f = live.resolve(rel)
        java.nio.file.Files.deleteIfExists(f)
        // Hadoop LocalFS checksum sibling, if any
        java.nio.file.Files.deleteIfExists(
          f.resolveSibling("." + f.getFileName.toString + ".crc"))
      }
    dataFilesUnder(staged).foreach { rel =>
      val src = staged.resolve(rel)
      val tgt = live.resolve(rel)
      java.nio.file.Files.createDirectories(tgt.getParent)
      // staged file names carry a fresh job UUID, so a collision means
      // this exact file was already moved by a crashed prior swap
      if (!java.nio.file.Files.exists(tgt)) {
        java.nio.file.Files.move(src, tgt)
        val crc = src.resolveSibling("." + src.getFileName.toString + ".crc")
        if (java.nio.file.Files.exists(crc))
          java.nio.file.Files.move(crc,
            tgt.resolveSibling("." + tgt.getFileName.toString + ".crc"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    deleteRec(staged)
    // swap complete — the replay authorization goes LAST, so a crash
    // anywhere above still replays (staged may already be empty; the
    // replay is a no-op then)
    java.nio.file.Files.deleteIfExists(inProgress)
  }

  /** foreachBatch idempotence, shared by every streaming maintenance /
    * serving sink: run `body` only when `batchId` is beyond the last
    * applied id recorded in `marker`, then advance the marker.
    * foreachBatch is at-least-once on failure recovery; batchIds are
    * monotonic within one checkpointed query, so a replayed batch is a
    * no-op. ONE implementation — the marker discipline (and any future
    * hardening of it) cannot diverge across layouts.
    *
    * The marker lands via temp file + atomic move, so a crash can
    * never leave a torn marker that parses as "nothing applied" and
    * silently re-admits every batch. The remaining (documented) window
    * is a crash BETWEEN the body's sink append and the marker write:
    * the replayed batch re-appends under the same batch_id. That
    * window is inherent to sink-then-marker ordering (marker-first
    * would trade duplicates for silent LOSS, which is worse); callers
    * that need exactly-once across it should dedup on batch_id at
    * read time or compact with a batch_id-keyed overwrite.
    *
    * The marker is what needs ONE writer: every [[commitAppend]] the
    * body makes stages under this marker's own name, which a crashed
    * earlier attempt may have left and which the next attempt clears.
    */
  def appliedOnce(marker: java.nio.file.Path, batchId: Long)(
      body: => Unit): Boolean = {
    val last =
      try java.nio.file.Files.readString(marker).trim.toLong
      catch { case _: Exception => Long.MinValue }
    if (batchId <= last) false
    else {
      val outer = onceStage.get
      onceStage.set(onceStageName(marker))
      try body finally onceStage.set(outer)
      java.nio.file.Files.createDirectories(marker.getParent)
      val tmp = marker.resolveSibling(marker.getFileName.toString + ".tmp")
      java.nio.file.Files.writeString(tmp, batchId.toString)
      java.nio.file.Files.move(tmp, marker,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    fanOut(spark,
      if (name == "events") events(spark, sfDir)
      else spark.read.parquet(path),
      // the path's (mtime, len) stamp keys the memo so a table
      // regenerated mid-application re-measures instead of keeping a
      // frozen split count — one FS metadata stat per read, vs the
      // plan-analysis + file-listing cost of df.rdd
      cacheKey = Some((spark.sparkContext.applicationId, sfDir,
        s"$name@${pathStamp(spark, path)}")))
  }

  private[graft] def pathStamp(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      st.getModificationTime ^ (st.getLen << 20)
    } catch { case _: Throwable => 0L }

  /** THE standing-layout freshness discipline (simhash index, inverted
    * index, trained quantizers): the layout's marker file records the
    * SOURCE's (mtime ^ len) stamp, taken BEFORE the build so a source
    * mutated mid-build still reads stale next time. Content-stamp
    * comparison is robust where a bare mtime ordering is not — a
    * corpus restored with preserved attributes, or rewritten within
    * one mtime tick, changes the stamp (length folds in) without
    * having to be "newer". `build` runs only when stale; the marker is
    * written after it completes, so a crashed build rebuilds.
    */
  def ensureLayout(spark: SparkSession, layoutDir: String, srcPath: String)(
      build: => Unit): Unit = {
    val marker = java.nio.file.Paths.get(layoutDir, "_GRAFT_STAMP")
    val stamp = pathStamp(spark, srcPath).toString
    val fresh =
      try java.nio.file.Files.readString(marker).trim == stamp
      catch { case _: Exception => false }
    if (!fresh) {
      build
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, stamp)
    }
  }

  /** Fan a scan out to the cluster's parallelism when its split count
    * can't feed the cores. Parquet parallelism is bounded by row-group
    * count, and these test tables are single-row-group files — without
    * this, every CPU-heavy narrow chain above a scan (shingle md5,
    * token explode, signature hashing) runs on ONE core while the
    * other 31 idle. On a real 100 TB layout the scan has thousands of
    * splits ≫ cores, the condition never fires, and the read is
    * returned untouched — a small-file adaptation, not a plan change
    * at scale. Filters and column pruning still push through the
    * exchange (`PushPredicateThroughNonJoin` / `ColumnPruning` both
    * traverse `Repartition`), so pushdown-audited plans keep their
    * `PushedFilters`.
    */
  private val splitCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Integer]()

  private def fanOut(spark: SparkSession, df: DataFrame,
      cacheKey: Option[(String, String, String)] = None): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    // df.rdd forces plan analysis + file-listing per call; tables are read
    // many times per query, so memoize the measured split count per
    // (app, sfDir, table) — it only depends on the file layout + session
    // read confs, both fixed for an application's lifetime.
    val splits = cacheKey match {
      case Some(k) =>
        splitCounts.computeIfAbsent(k, _ => df.rdd.getNumPartitions).intValue()
      case None => df.rdd.getNumPartitions
    }
    if (splits * 2 <= cores) df.repartition(cores) else df
  }

  /** events.ts has drifted across testdata generations: originally
    * parquet TIMESTAMP(NANOS) (which Spark 4 rejects outright, hence
    * the legacy nanosAsLong flag set ONCE at session build), later
    * regenerated as plain TIMESTAMP micros without a timezone
    * annotation (read as TIMESTAMP_NTZ). Branch on the dtype Spark
    * actually loaded so both layouts — and a future tz-annotated one —
    * normalize to the same session-UTC TimestampType column:
    *  - LongType (nanosAsLong): integer `div 1000` keeps the nanos→µs
    *    conversion exact (double division loses precision above 2^53),
    *    then `timestamp_micros` rebuilds the timestamp.
    *  - TIMESTAMP_NTZ: the wall-clock values ARE the intended UTC
    *    instants; cast to TimestampType under the session's UTC zone
    *    is value-preserving.
    *  - TimestampType: already canonical; pass through.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val tsCol = raw.schema("ts").dataType match {
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other — extend GraftSession.events")
    }
    raw.withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
