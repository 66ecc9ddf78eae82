package graft.pipeline

import java.nio.file.{Files, Paths}

/** Maintenance CLI — the `tidb-lightning-ctl` analog (reference
  * `cmd/tidb-lightning-ctl/main.go:45-97`, SURVEY §3.3) over the job
  * state and staged output:
  *
  *   checkpoint-dump <stateDir>             print all state records (CSV)
  *   checkpoint-remove <stateDir> <key|all> reset state for a table
  *   error-destroy <stateDir> <targetDir> <key>
  *                                          drop staged output + state for
  *                                          a failed table (re-import next run)
  *   compact <targetDir> <table> [n]        rewrite a table's output into n
  *                                          files (post-import compaction,
  *                                          reference D6)
  *   export <warehouseDir> <outDir> <db>    render a database's tables back
  *                                          to the MyDumper layout (the
  *                                          dumpling direction, [[Export]])
  *   index-compact <sfDir> <which|all>      defragment the append-maintained
  *                                          standing layouts
  *                                          ([[StandingLayouts]]; knn =
  *                                          every standing radius); pending
  *                                          deletion tombstones apply
  *                                          PHYSICALLY here
  *   forget-log-dump <sfDir> <outDir>       export the GDPR audit ledger as
  *                                          one header CSV (the reference's
  *                                          --checkpoint-dump shape)
  *   index-forget <sfDir> <id,id,...>       propagate a deletion request into
  *                                          every standing per-document layout
  *                                          (invindex, simhash, ivfpq, knn) —
  *                                          the serving-side complement of the
  *                                          table-level purge
  *   forget-fed <tag=sfDir[,...]> <id,...>  the same, fanned across every
  *                                          tenant of a federation: one
  *                                          person-scoped cohort applied per
  *                                          corpus, one ledger record per
  *                                          (tenant, layout) in each
  *                                          tenant's own ledger
  *   forget-run <sfDir> <requestsDir> <checkpointDir>
  *                                          the same, as a LIVE stream over a
  *                                          deletion-requests directory
  *                                          (stop: touch <requestsDir>/stop)
  *   index-gc <sfDir> [--apply]             list (and with --apply delete)
  *                                          SUPERSEDED standing-layout
  *                                          generations; crashed staged
  *                                          writes are reported, never taken
  *   index-gc <sfDir> --sweep-stage <layout> <tag>
  *                                          delete ONE reported crashed
  *                                          stage (the delete-to-retry
  *                                          step, after inspection);
  *                                          layout "root" sweeps the
  *                                          fixture-root stages (tag
  *                                          "evalref-rebuild" or a
  *                                          forget-log move's tag)
  *   evalref-rebuild <sfDir> [evalParquet]  rebuild the standing eval
  *                                          reference from a new eval
  *                                          release (staged + swapped;
  *                                          omit the path to return to
  *                                          the held-out-fold default)
  *   door-run <sfDir> <incomingDir> <doorDir> <admittedDir>
  *                        [--no-script-axis] [--len-axis] [--tok-axis] [--knn]
  *                        [--eval-guard]
  *                                          run the production ingest chain
  *                                          (drift door → near-dup admission
  *                                          → index maintenance, --knn adds
  *                                          knn-graph maintenance over
  *                                          embedding-bearing batches,
  *                                          --eval-guard slots the eval-set
  *                                          firewall before maintenance) over
  *                                          parquet files landing in
  *                                          <incomingDir>, until
  *                                          <doorDir>/stop appears
  *   door-run-fed <tag=sfDir[,...]> <fedRoot> [flags as door-run]
  *                                          FEDERATED ingest: one incoming
  *                                          bus (<fedRoot>/incoming, docs
  *                                          carry a `corpus` column), a
  *                                          router splits per tenant, one
  *                                          full door chain per corpus —
  *                                          own references, layouts,
  *                                          checkpoints; unknown tags land
  *                                          under <fedRoot>/unrouted.
  *                                          Stop: touch <fedRoot>/stop
  *   quarantine-release <doorDir> <batchId> feed an inspection-cleared batch
  *                                          back to the drift door's passed
  *                                          flow; refuses a double release.
  *                                          (Audit-feed consumers counting
  *                                          drifted batches must dedup on
  *                                          batch_id: rows are at-least-once
  *                                          across the documented
  *                                          sink-then-marker crash window.)
  *   pause <spoolDir>                       park the running import at its
  *                                          next table boundary (reference
  *                                          /pause handler + Pauser gate)
  *   resume <spoolDir>                      clear the pause
  *   front <spoolDir> <task>                move a queued task to the head
  *   back <spoolDir> <task>                 … or the tail of the queue
  *                                          (reference PATCH /tasks/{id}/
  *                                          front|back, lightning.go:518-547)
  */
object Ctl {

  def main(args: Array[String]): Unit = args.toList match {
    case "checkpoint-dump" :: stateDir :: Nil =>
      println("key,status,nRows,checksum")
      JobState.latest(stateDir).foreach(r => println(s"${r.key},${r.status},${r.nRows},${r.checksum}"))

    case "checkpoint-remove" :: stateDir :: key :: Nil =>
      JobState.replace(stateDir,
        JobState.latest(stateDir).filter(r => key != "all" && r.key != key))
      println(s"removed ${if (key == "all") "all" else key}")

    case "error-destroy" :: stateDir :: targetDir :: key :: Nil =>
      // `all` = every FAILED table (the reference's
      // `--checkpoint-error-destroy=all`, tests/checkpoint_error_destroy
      // loops it between retries); verified tables are never touched
      val records = JobState.latest(stateDir)
      val victims =
        if (key == "all") records.filter(_.status == "failed").map(_.key)
        else Seq(key)
      victims.foreach(k =>
        graft.GraftSession.deleteRec(Paths.get(targetDir, k)))
      JobState.replace(stateDir, records.filterNot(r => victims.contains(r.key)))
      victims.foreach(k => println(s"destroyed $k"))

    case "compact" :: targetDir :: table :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(1)
      val spark = graft.GraftSession.session()
      val (before, after) = Compaction.compact(spark, s"$targetDir/$table", n)
      println(s"compacted $table: $before -> $after files")
      spark.stop()

    case "export" :: warehouseDir :: outDir :: db :: Nil =>
      if (!Files.isDirectory(Paths.get(warehouseDir))) {
        System.err.println(s"export: warehouse dir not found: $warehouseDir")
        sys.exit(2)
      }
      val spark = graft.GraftSession.session()
      val written = Export.run(spark, warehouseDir, outDir, db)
      spark.stop()
      if (written.isEmpty) {
        // a typo'd db must not look like a successful no-op export
        System.err.println(s"export: no tables matching '$db.*' under $warehouseDir")
        sys.exit(1)
      }
      written.foreach { case (tbl, files) =>
        println(s"exported $db.$tbl: ${files.size} data files")
      }

    case "index-compact" :: sfDir :: which :: Nil =>
      // defragment the append-maintained standing layouts (every
      // append adds one file per touched partition dir; probe cost
      // grows with file count) and apply pending deletion tombstones
      // physically — one loop over the StandingLayouts registry, which
      // never builds a missing layout
      if (!StandingLayouts.compactVerbs.contains(which)) {
        System.err.println(s"index-compact: unknown index '$which' " +
          s"(${StandingLayouts.compactVerbs.mkString("|")})")
        sys.exit(2)
      }
      val spark = graft.GraftSession.session()
      try StandingLayouts.compact(spark, sfDir, which, println)
      finally spark.stop()

    case "forget-log-dump" :: sfDir :: outDir :: Nil =>
      // export the GDPR audit ledger as one header-carrying CSV (the
      // reference's --checkpoint-dump shape): evidence has to leave
      // the system in a form a compliance tool reads. Non-destructive:
      // an existing forget_log.csv refuses loudly (exit 1), nothing
      // else in outDir is ever touched
      val spark = graft.GraftSession.session()
      val dumpFailure: Option[String] =
        try {
          val n = Governance.forgetLogDump(spark, sfDir, outDir)
          if (n == 0) println(s"forget ledger for $sfDir is empty; nothing dumped")
          else println(s"dumped $n forget-ledger records to $outDir/forget_log.csv")
          None
        } catch {
          case e: IllegalArgumentException => Some(e.getMessage)
        } finally spark.stop()
      dumpFailure.foreach { m =>
        System.err.println(s"forget-log-dump: $m")
        sys.exit(1)
      }

    case "index-forget" :: sfDir :: idsCsv :: Nil =>
      // propagate a deletion request into EVERY standing layout that
      // serves per-document rows: the inverted index (tombstones +
      // negative stats partial), the simhash fingerprints, the IVF-PQ
      // codes and the knn graph (tombstones + the top-k heal). Each
      // applies only where a layout stands — forget is a serving-side
      // operation; a layout built later from a purged source needs
      // none. Aggregate-statistics layouts (the daily sketches and
      // the four drift-door references) are deliberately OUT of
      // scope: they hold count partials, not per-document rows — no
      // row exists to hide, and a regime that must erase a document's
      // influence on an aggregate rebuilds it from the purged source
      // (the documented re-seed path). The table-level purge itself
      // is `q_forget`'s job (PipelineQueries.forget); this verb is
      // its standing-layout complement.
      val ids = parseIds("index-forget", idsCsv)
      val spark = graft.GraftSession.session()
      try {
        val applied = Governance.applyForget(spark, sfDir, ids)
        if (applied.isEmpty)
          println("no standing per-document layouts; nothing to forget")
        else applied.foreach { case (l, s) => println(s"$l: $s") }
      } finally spark.stop()

    case "forget-fed" :: corporaSpec :: idsCsv :: Nil =>
      // the federation's deletion verb: a GDPR request arrives per
      // PERSON, not per tenant — one cohort fans across every tenant
      // corpus's applyForget (each tenant's own layouts, tombstones,
      // and ledger records), so the operator issues ONE command
      // instead of one POST /forget per corpus. Completes the
      // tenancy story beside door-run-fed (ingest) and the federated
      // serve: deletion is federated too.
      val pairs = parseCorpora("forget-fed", corporaSpec)
      val ids = parseIds("forget-fed", idsCsv)
      val spark = graft.GraftSession.session()
      try {
        val fanned = try Governance.applyForgetFederated(spark, pairs, ids)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"forget-fed: ${e.getMessage}")
            sys.exit(2)
        }
        fanned.foreach { case (tag, applied) =>
          if (applied.isEmpty)
            println(s"$tag: no standing per-document layouts")
          else applied.foreach { case (l, s) => println(s"$tag/$l: $s") }
        }
      } finally spark.stop()

    case "index-gc" :: sfDir :: "--sweep-stage" :: layoutName :: tag :: Nil =>
      // the operator's delete-to-retry tool for ONE crashed staged
      // write the GC reported: only the named tag's stage dies; the
      // refuse-loudly inspection already happened (that is what the
      // report is for)
      val swept = Governance.sweepStage(sfDir, layoutName, tag)
      if (swept.isEmpty) {
        System.err.println(s"index-gc: no crashed stage tagged '$tag' " +
          s"under layout '$layoutName'; nothing swept")
        sys.exit(2)
      }
      swept.foreach(p => println(s"swept crashed stage: $p"))

    case "evalref-rebuild" :: sfDir :: rest if rest.size <= 1 =>
      // the eval-release lifecycle verb: rebuild the standing eval
      // reference from a NEW release parquet (vec_id, embedding), or
      // with no path return to the held-out-fold default; staged
      // build + whole-tree swap, plane count restamped from the new
      // eval size, staleness follows the release file afterwards
      val evalSrc = rest.headOption
      evalSrc.foreach { p =>
        if (!Files.exists(Paths.get(p))) {
          System.err.println(s"evalref-rebuild: eval release not found: $p")
          sys.exit(2)
        }
      }
      val spark = graft.GraftSession.session()
      try {
        val layout = graft.operators.SimilarityQueries
          .evalRefRebuild(spark, sfDir, evalSrc)
        println(s"rebuilt eval reference at $layout" +
          evalSrc.fold(" (held-out fold default)")(s => s" from $s"))
      } finally spark.stop()

    case "index-gc" :: sfDir :: rest if rest.forall(_ == "--apply") =>
      // superseded standing-layout generations (version bumps,
      // sketch-precision changes) are dead disk forever on a
      // long-lived deployment; dry-run lists, --apply deletes.
      // Crashed staged-write leftovers are REPORTED only — each is a
      // refuse-loudly marker whose delete-to-retry decision belongs
      // to whoever owns the tag.
      val apply = rest.contains("--apply")
      val (superseded, stages) = Governance.gcLayouts(sfDir, apply)
      if (superseded.isEmpty) println("no superseded layout generations")
      else superseded.foreach(p =>
        println(s"${if (apply) "removed" else "superseded (dry-run)"}: $p"))
      stages.foreach(p => println(s"WARNING crashed staged write: $p " +
        "(delete to retry its tag)"))

    case "forget-run" :: sfDir :: requestsDir :: checkpointDir :: Nil =>
      // the streaming face of index-forget: tail a directory of
      // deletion-request parquet files ((doc_id) rows) and propagate
      // each micro-batch into every standing per-document layout.
      // No batchId marker rides this stream — the forget tier is
      // at-least-once safe by construction (see
      // StreamingOps.indexForgetStream) — so the checkpoint only
      // tracks WHICH request files were consumed.
      val spark = graft.GraftSession.session()
      val failure =
        try {
          java.nio.file.Files.createDirectories(Paths.get(requestsDir))
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType)))
          val q = graft.streaming.StreamingOps.indexForgetStream(
              spark.readStream.schema(schema).parquet(requestsDir), sfDir)
            .option("checkpointLocation", checkpointDir)
            .start()
          println(s"forget stream running: $requestsDir -> standing " +
            s"layouts of $sfDir; stop with: touch $requestsDir/stop")
          val stop = Paths.get(requestsDir, "stop")
          while (!Files.exists(stop) && q.isActive) Thread.sleep(1000)
          if (q.isActive) q.stop()
          Files.deleteIfExists(stop)
          if (q.exception.isDefined)
            Some(q.exception.map(_.getMessage).getOrElse("stream failed"))
          else None
        } finally spark.stop()
      failure match {
        case Some(msg) =>
          System.err.println(s"forget stream FAILED: $msg")
          sys.exit(1)
        case None => println("forget stream stopped")
      }

    case "door-run" :: sfDir :: incoming :: doorDir :: admitted :: rest
        if rest.forall(Set("--no-script-axis", "--len-axis", "--tok-axis",
          "--knn", "--eval-guard")) =>
      // the spec-pinned composition as a launchable verb
      // (StreamingOps.doorChain; --knn adds the fifth stage over
      // embedding-bearing batches): the spool queue's `stop`
      // convention ends it — touch <doorDir>/stop and the streams
      // stop at their next poll, checkpointed for a clean resume.
      // sys.exit only AFTER the try/finally (the quarantine-release
      // rule: exiting inside would skip spark.stop())
      val spark = graft.GraftSession.session()
      val chainFailure: Option[String] =
        try {
          val qs = graft.streaming.StreamingOps.doorChain(spark, sfDir,
            incoming, doorDir, admitted,
            scriptAxis = !rest.contains("--no-script-axis"),
            lenAxis = rest.contains("--len-axis"),
            tokAxis = rest.contains("--tok-axis"),
            maintainKnn = rest.contains("--knn"),
            evalGuard = rest.contains("--eval-guard"))
          println(s"door chain running: $incoming -> door($doorDir) -> " +
            s"admit($admitted); stop with: touch $doorDir/stop")
          runChains(qs, Paths.get(doorDir, "stop"))
        } finally spark.stop()
      chainFailure match {
        case Some(msg) =>
          System.err.println(s"door chain FAILED: $msg")
          sys.exit(1)
        case None => println("door chain stopped")
      }

    case "door-run-fed" :: corporaSpec :: fedRoot :: rest
        if rest.forall(Set("--no-script-axis", "--len-axis", "--tok-axis",
          "--knn", "--eval-guard")) =>
      // one ingest bus, many corpora: <corporaSpec> = tag=sfDir[,...]
      // — incoming docs land in <fedRoot>/incoming carrying a
      // `corpus` column, the router splits them per tenant, and one
      // full door chain runs per corpus (own references, layouts,
      // checkpoints). Stop with: touch <fedRoot>/stop
      val pairs = parseCorpora("door-run-fed", corporaSpec)
      val spark = graft.GraftSession.session()
      val fedFailure: Option[String] =
        try {
          val qs = graft.streaming.StreamingOps.doorChainFederated(
            spark, pairs, fedRoot,
            scriptAxis = !rest.contains("--no-script-axis"),
            lenAxis = rest.contains("--len-axis"),
            tokAxis = rest.contains("--tok-axis"),
            maintainKnn = rest.contains("--knn"),
            evalGuard = rest.contains("--eval-guard"))
          println(s"federated door chains running: $fedRoot/incoming -> " +
            s"${pairs.map(_._1).mkString("/")}; stop with: touch $fedRoot/stop")
          runChains(qs, Paths.get(fedRoot, "stop"))
        } finally spark.stop()
      fedFailure match {
        case Some(msg) =>
          System.err.println(s"federated door chain FAILED: $msg")
          sys.exit(1)
        case None => println("federated door chain stopped")
      }

    case "quarantine-release" :: doorDir :: batchIdStr :: Nil =>
      // manual override of the drift door: after inspection, feed a
      // quarantined batch into the passed flow (the tailing admission
      // gate picks it up like any passed batch); idempotence marker
      // refuses a double release loudly. sys.exit only AFTER the
      // try/finally — exiting inside a catch would skip spark.stop()
      val spark = graft.GraftSession.session()
      val failure: Option[String] =
        try {
          val n = graft.streaming.StreamingOps.quarantineRelease(
            spark, doorDir, batchIdStr.toLong)
          println(s"released batch $batchIdStr: $n docs -> $doorDir/passed")
          None
        } catch {
          case e: IllegalArgumentException => Some(e.getMessage)
        } finally spark.stop()
      failure.foreach { m =>
        System.err.println(s"quarantine-release: $m")
        sys.exit(1)
      }

    case "pause" :: spoolDir :: Nil =>
      Files.createDirectories(Paths.get(spoolDir))
      val p = Paths.get(spoolDir, "pause")
      // createFile + swallow "already exists" rather than
      // exists-then-create: two concurrent pause invocations must both
      // succeed (idempotent verb), not race into a crash
      try Files.createFile(p)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      println(s"paused: imports park at the next table boundary ($p)")

    case "resume" :: spoolDir :: Nil =>
      Files.deleteIfExists(Paths.get(spoolDir, "pause"))
      println("resumed")

    case verb :: spoolDir :: task :: Nil if verb == "front" || verb == "back" =>
      Server.reorder(spoolDir, task, front = verb == "front") match {
        case Some(name) => println(s"$verb: $task is now $name")
        case None =>
          System.err.println(s"$verb: no queued task matches '$task'")
          sys.exit(1)
      }

    case _ =>
      System.err.println(
        "usage: Ctl checkpoint-dump <stateDir> | checkpoint-remove <stateDir> <key|all> | " +
          "error-destroy <stateDir> <targetDir> <key> | compact <targetDir> <table> [n] | " +
          s"index-compact <sfDir> <${StandingLayouts.compactVerbs.mkString("|")}> | " +
          "index-forget <sfDir> <id,id,...> | " +
          "forget-fed <tag=sfDir[,...]> <id,id,...> | " +
          "forget-log-dump <sfDir> <outDir> | " +
          "forget-run <sfDir> <requestsDir> <checkpointDir> | " +
          "door-run-fed <tag=sfDir[,...]> <fedRoot> [door-run flags] | " +
          "index-gc <sfDir> [--apply] | " +
          "quarantine-release <doorDir> <batchId> | " +
          "export <warehouseDir> <outDir> <db> | pause <spoolDir> | resume <spoolDir> | " +
          "front <spoolDir> <task> | back <spoolDir> <task>")
      sys.exit(2)
  }

  /** Parse a `tag=sfDir[,tag=sfDir...]` federation spec — the ONE
    * parser behind `door-run-fed` and `forget-fed` (the duplicate-
    * tag/dir refusals live in the callee contracts, shared too).
    * Friendly usage error + exit 2 on a malformed entry.
    */
  private def parseCorpora(verb: String,
      spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      val i = p.indexOf('=')
      if (i <= 0 || i == p.length - 1) {
        System.err.println(
          s"$verb: corpora must be tag=sfDir[,tag=sfDir...]; bad entry '$p'")
        sys.exit(2)
      }
      (p.substring(0, i), p.substring(i + 1))
    }

  /** Parse a comma-separated id cohort — the ONE parser behind
    * `index-forget` and `forget-fed`: malformed tokens get the same
    * friendly usage error every other arg-validation branch gives
    * (the HTTP handler's 400 behavior), not a raw
    * NumberFormatException stack trace.
    */
  private def parseIds(verb: String, idsCsv: String): Seq[Long] = {
    val toks = idsCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val ids = toks.flatMap(_.toLongOption)
    if (ids.isEmpty || ids.size != toks.size) {
      val bad = toks.filter(_.toLongOption.isEmpty)
      System.err.println(if (ids.isEmpty && bad.isEmpty)
        s"$verb: no ids given (comma-separated longs)"
      else
        s"$verb: ids must be comma-separated longs; bad token(s): ${bad.mkString(", ")}")
      sys.exit(2)
    }
    ids
  }

  /** The ONE chain runner behind `door-run` and `door-run-fed`:
    * wait for the stop file, with LIVENESS — a stream that died
    * (corrupt input, a wedged layout) must surface its exception and
    * fail the verb loudly; a silent wait loop would look healthy
    * while incoming files pile up unprocessed. Returns the failure
    * message, or None on a clean operator stop.
    */
  private def runChains(
      qs: Seq[org.apache.spark.sql.streaming.StreamingQuery],
      stop: java.nio.file.Path): Option[String] = {
    var dead: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    while (!Files.exists(stop) && dead.isEmpty) {
      Thread.sleep(1000)
      dead = qs.find(q => !q.isActive)
    }
    qs.foreach(q => if (q.isActive) q.stop())
    Files.deleteIfExists(stop)
    dead.map(d => d.exception.map(_.getMessage)
      .getOrElse("stream stopped unexpectedly (no exception recorded)"))
  }
}
