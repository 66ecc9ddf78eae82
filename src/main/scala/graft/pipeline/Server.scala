package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Server mode — the reference's HTTP task queue (§3.2,
  * `lightning/lightning.go:196-214`, handlers `:442-547`) as a
  * spool-directory queue, the driver-friendly equivalent that any
  * front end (cron, HTTP shim, workflow engine) can feed:
  *
  *   <spool>/queue/NNN-name.json   pending tasks, processed in
  *                                 lexicographic order ([[reorder]] /
  *                                 `Ctl front|back` = the reference's
  *                                 front/back reorder verbs,
  *                                 delete = cancel)
  *   <spool>/done/…  /failed/…     task file + result line after the run
  *   <spool>/pause                 while present, the RUNNING import
  *                                 parks at its next table boundary
  *                                 (reference /pause + Pauser gate);
  *                                 delete to resume
  *   <spool>/stop                  drain loop exits after current poll
  *
  * A task file is a JSON object ([[parseTask]]): `sourceDir`,
  * `targetDir`, optional `filters` (comma-separated), optional
  * `stateDir`. Progress
  * is observable via the task's job-state records (the reference's
  * `/progress/table` analog).
  */
object Server {

  case class TaskResult(task: String, ok: Boolean, tables: Int, detail: String)

  /** Process every queued task once, in order; returns results.
    *
    * Several drain loops may share one spool (the reference's
    * `tests/concurrent-restore` runs two lightning instances on one
    * source): each task is CLAIMED by an atomic rename into
    * `<spool>/running/` before execution — rename either succeeds for
    * exactly one claimant or throws for the losers, so a task can
    * never run twice. The claimant records its pid beside the claim so
    * [[recoverRunning]] can requeue tasks only from DEAD claimants.
    */
  def drainOnce(spark: SparkSession, spool: String): Seq[TaskResult] = {
    val queue = Paths.get(spool, "queue")
    if (!Files.isDirectory(queue)) return Seq.empty
    val done = Files.createDirectories(Paths.get(spool, "done"))
    val failed = Files.createDirectories(Paths.get(spool, "failed"))
    val running = Files.createDirectories(Paths.get(spool, "running"))
    val tasks = queued(queue)
    tasks.flatMap { tf =>
      val name = tf.getFileName.toString
      // Two-step exclusive claim. The LOCK is an O_EXCL create —
      // exactly one creator can ever win, the strongest exclusivity
      // primitive the filesystem offers (a bare rename-claim was
      // observed double-winning under thread contention on tmpfs).
      // The task file then moves to a pid-suffixed claim name, so
      // ownership is provable for dead-claimant recovery; the lock
      // carries the pid too for the crash window before the move.
      val lock = running.resolve(name + LockSuffix)
      val claimed = running.resolve(
        name + ClaimSuffix + ProcessHandle.current().pid())
      val won =
        try {
          // CREATE_NEW creates and writes in ONE call, so a lock always
          // carries its pid — a create-then-write pair had a crash
          // window leaving a pid-less lock that recovery could never
          // attribute to a dead claimant
          val pid = ProcessHandle.current().pid().toString
          Files.write(lock,
            pid.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          // verify the lock survived and is OURS before taking the
          // task: if this process stalled past the pid-less grace
          // between open and write, a sibling's startup recovery may
          // have released the apparently-abandoned lock (and another
          // drainer re-created it) — proceeding would rest exclusivity
          // on the bare rename again
          val mine =
            try Files.readString(lock).trim == pid
            catch { case _: Exception => false }
          if (!mine) false
          else try { Files.move(tf, claimed); true }
          catch {
            // the queue entry vanished before our lock (claimed by a
            // pre-lock racer or cancelled) — release and skip
            case _: java.nio.file.NoSuchFileException =>
              Files.deleteIfExists(lock); false
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      if (!won) None
      else {
        val result =
          try {
            // <spool>/pause gates the running import at table boundaries
            // (the reference's /pause handler + Pauser gate); deleting
            // the file resumes mid-task.
            val cfg = parseTask(Files.readString(claimed))
              .copy(pauseFile = Some(Paths.get(spool, "pause").toString))
            val reports = Ingest.run(spark, cfg)
            val ok = reports.forall(_.checksumOk)
            TaskResult(name, ok, reports.size,
              reports.map(r => s"${r.db}.${r.table}:${r.nRows}").mkString(","))
          } catch {
            case e: Exception =>
              TaskResult(name, ok = false, 0, s"error: ${e.getMessage}")
          }
        val dest = (if (result.ok) done else failed).resolve(name)
        Files.move(claimed, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.deleteIfExists(lock)
        Files.writeString(dest.resolveSibling(name + ".result"),
          graft.Json.write(ListMap("task" -> result.task, "ok" -> result.ok,
            "tables" -> result.tables, "detail" -> result.detail)) + "\n")
        Some(result)
      }
    }
  }

  /** Claim-name suffix carrying the claimant pid:
    * `NNN-task.json<ClaimSuffix><pid>`.
    */
  private[pipeline] val ClaimSuffix = ".claimed-"

  /** O_EXCL claim lock beside the claim: `NNN-task.json.lock`, content
    * = claimant pid.
    */
  private[pipeline] val LockSuffix = ".lock"

  /** How old a PID-LESS lock must be before recovery may release it:
    * far beyond the open→write gap of a live claimant, far below any
    * human-scale stranding.
    */
  private[pipeline] val PidlessLockGraceMillis = 30000L

  /** Requeue tasks stranded in `running/` by a DEAD claimant (crash
    * between claim and completion). Called at server startup — never
    * from the drain loop, where a live sibling's running tasks must be
    * left alone. The claimant pid is part of the claim NAME (written
    * by the atomic claim rename itself), so every claim is provably
    * owned; a claim whose pid is alive stays put, and a legacy entry
    * with no pid suffix stays put conservatively. The crashed import
    * itself resumes from its job-state checkpoints when the task
    * re-runs.
    */
  def recoverRunning(spool: String): Seq[String] = {
    val running = Paths.get(spool, "running")
    val queue = Paths.get(spool, "queue")
    if (!Files.isDirectory(running)) return Seq.empty
    val listing = Files.list(running)
    val claims =
      try listing.iterator().asScala.toSeq
      finally listing.close()
    val ClaimRe = ("""^(.*\.json)""" +
      java.util.regex.Pattern.quote(ClaimSuffix) + """(\d+)$""").r
    def pidDead(pid: Long): Boolean = {
      val h = ProcessHandle.of(pid)
      !h.isPresent || !h.get().isAlive
    }
    val recovered = claims.flatMap { p =>
      p.getFileName.toString match {
        case ClaimRe(name, pid) if pidDead(pid.toLong) =>
          Files.createDirectories(queue)
          // two servers starting on a shared spool can both see the
          // same dead claim; the loser's move throws NoSuchFileException
          // — the claim was already recovered by the sibling, not an
          // error worth aborting startup over
          try {
            Files.move(p, queue.resolve(name),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            Files.deleteIfExists(running.resolve(name + LockSuffix))
            Some(name)
          } catch {
            case _: java.nio.file.NoSuchFileException => None
          }
        case _ => None // live claim or legacy entry: cannot prove death
      }
    }
    // a lock with no claim beside it = a crash between the O_EXCL
    // create and the task move; if its recorded pid is dead, release
    // it so the still-queued task becomes claimable again. A lock whose
    // pid does not PARSE is a create-then-write artifact (the claim
    // path now writes the pid with CREATE_NEW, but open+write is still
    // two syscalls — a concurrent reader can observe the file empty
    // for a moment): release it only when its queue entry is still
    // present AND the lock is old enough that no live claimant can be
    // inside that microsecond window — else that task is stranded
    // forever while still queued.
    claims.filter(_.getFileName.toString.endsWith(LockSuffix)).foreach { l =>
      val name = l.getFileName.toString.stripSuffix(LockSuffix)
      val hasClaim = {
        val listing = Files.list(running)
        try listing.iterator().asScala
          .exists(_.getFileName.toString.startsWith(name + ClaimSuffix))
        finally listing.close()
      }
      val dead =
        try pidDead(Files.readString(l).trim.toLong)
        catch {
          case _: Exception =>
            val oldEnough =
              try System.currentTimeMillis() -
                Files.getLastModifiedTime(l).toMillis > PidlessLockGraceMillis
              catch { case _: Exception => false }
            oldEnough && Files.exists(queue.resolve(name))
        }
      if (!hasClaim && dead) Files.deleteIfExists(l)
    }
    recovered
  }

  /** Task names currently claimed by a drain loop (claim suffix
    * stripped) — the listing surface for GET /tasks, so a task stays
    * visible for its whole lifetime instead of vanishing between
    * claim and completion.
    */
  def runningTasks(spool: String): Seq[String] = {
    val running = Paths.get(spool, "running")
    if (!Files.isDirectory(running)) return Seq.empty
    val listing = Files.list(running)
    try listing.iterator().asScala.toSeq
      .map(_.getFileName.toString)
      .collect { case n if n.contains(ClaimSuffix) =>
        n.substring(0, n.lastIndexOf(ClaimSuffix)) }
      .sorted
    finally listing.close()
  }

  /** Queued task files in execution order. Dot-prefixed names are
    * excluded — [[reorder]] parks files under temp dot-names mid-rename,
    * and a concurrent poll must not pick a half-reordered queue entry.
    * Parked files from a crashed reorder are first recovered to their
    * intended visible names, so no task is ever silently stranded.
    */
  private def queued(queue: Path): Seq[Path] = {
    recoverParked(queue)
    val listing = Files.list(queue)
    try listing.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".json"))
      .filterNot(_.getFileName.toString.startsWith("."))
      .sortBy(_.getFileName.toString)
    finally listing.close() // a leaked DirectoryStream fd per poll adds up in the server loop
  }

  /** Crash recovery for [[reorder]]'s two-phase rename: a process dying
    * between the park and final phases leaves tasks under dot-prefixed
    * `.reorder-NNN-base` names that the queue listing filters out —
    * without recovery those tasks are lost forever. The parked name
    * already encodes the intended final name (`NNN-base`), so recovery
    * just completes phase two. A name collision (possible only when two
    * distinct tasks share a base name across a crashed reorder and a
    * fresh enqueue) lands the file at `NNN-rK-base`, preserving its
    * slot in lexicographic order rather than clobbering either task.
    */
  private def recoverParked(queue: Path): Unit = {
    val listing = Files.list(queue)
    val parked =
      try listing.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith(".reorder-"))
      finally listing.close()
    parked.foreach { p =>
      val intended = p.getFileName.toString.stripPrefix(".reorder-")
      // "NNN-base" with any index width (a >999-entry queue renumbers
      // with 4+ digits — a fixed splitAt would corrupt those names)
      val (prefix, base) = "^(\\d+-)(.*)$".r.findFirstMatchIn(intended)
        .map(m => (m.group(1), m.group(2))).getOrElse(("", intended))
      var dst = queue.resolve(intended)
      var k = 0
      while (Files.exists(dst)) {
        k += 1
        dst = queue.resolve(s"$prefix" + s"r$k-$base")
      }
      try Files.move(p, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.NoSuchFileException => () } // raced another recoverer
    }
  }

  /** Move a queued task to the front or back of the queue — the
    * reference's `PATCH /tasks/{id}/front|back`
    * (`lightning/lightning.go:518-547`). Queue order is lexicographic
    * filename order, so the reorder renumbers every pending entry with
    * a fresh `NNN-` prefix after placing the target first (or last).
    * The task is matched by full filename or by its name with the
    * numeric prefix stripped. Returns the task's new filename, or None
    * if no pending entry matches. The reference handler holds the
    * server's task lock; a filesystem queue cannot, so the verb is
    * crash- and race-tolerant instead: temp names are dot-prefixed
    * (invisible to [[drainOnce]]), a crash mid-rename is healed by
    * [[recoverParked]] on the next listing, and a file the drain loop
    * moves to done/ mid-reorder is skipped per-file rather than
    * aborting the rename sequence half way (the drained task simply
    * drops out of the new order; its old name is returned).
    */
  def reorder(spool: String, task: String, front: Boolean): Option[String] = {
    val queue = Paths.get(spool, "queue")
    if (!Files.isDirectory(queue)) return None
    val tasks = queued(queue)
    def base(p: Path) = p.getFileName.toString.replaceFirst("^\\d+-", "")
    // park/finalize one file, tolerating a racing drain having moved it
    def tryMove(from: Path, to: Path): Option[Path] =
      try Some(Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      catch { case _: java.nio.file.NoSuchFileException => None }
    tasks.find(p => p.getFileName.toString == task || base(p) == task).map { t =>
      val rest = tasks.filterNot(_ == t)
      // base names are taken from the ORIGINAL paths once — re-deriving
      // them from the parked temp names would bake the temp prefix in
      val order = (if (front) t +: rest else rest :+ t).map(p => (p, base(p)))
      // two-phase rename: renumbering in place can collide with a
      // still-unrenamed file holding the destination name
      val parked = order.zipWithIndex.flatMap { case ((p, b), i) =>
        tryMove(p, queue.resolve(f".reorder-$i%03d-$b"))
          .map(tmp => (tmp, b, p == t))
      }
      val finals = parked.zipWithIndex.flatMap { case ((p, b, isTarget), i) =>
        tryMove(p, queue.resolve(f"$i%03d-$b")).map(dst => (dst, isTarget))
      }
      finals.collectFirst { case (dst, true) => dst.getFileName.toString }
        .getOrElse(t.getFileName.toString) // target drained mid-reorder
    }
  }

  /** Task body parse: a JSON object (the spool's native shape) or a
    * full `tidb-lightning.toml` — the reference's HTTP API takes the
    * TOML config itself as the POST body (`curl http://…:8289/tasks
    * --data-binary @tidb-lightning.toml`, sample config
    * `tidb-lightning.toml:12-17`), so the queue accepts both. A JSON
    * body is standard JSON, read by [[graft.Json]], so escaped slashes
    * and unicode escapes decode: string fields `sourceDir`, `targetDir`,
    * optional `stateDir` and optional `filters` (one comma-separated
    * string); other fields are ignored. A body that is not JSON or
    * lacks a required field is an `IllegalArgumentException`.
    */
  private[pipeline] def parseTask(body: String): Ingest.Config =
    if (!body.trim.startsWith("{")) TomlConfig.load(body).config
    else {
      val o = graft.Json.read(body)
      def str(key: String): Option[String] =
        Option(o.get(key)).filter(_.isTextual).map(_.textValue)
      def required(key: String): String = str(key).getOrElse(
        throw new IllegalArgumentException(s"task missing $key"))
      Ingest.Config(
        sourceDir = required("sourceDir"),
        targetDir = required("targetDir"),
        filters = str("filters").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil),
        stateDir = str("stateDir"),
        maxError = Ingest.TaskMaxError)
    }

  /** Long-running loop: poll the queue until `<spool>/stop` appears. */
  def main(args: Array[String]): Unit = {
    val spool = args.headOption.getOrElse(
      sys.error("usage: Server <spoolDir> [pollMillis]"))
    val poll = args.lift(1).map(_.toLong).getOrElse(2000L)
    val spark = graft.GraftSession.session()
    val stop: Path = Paths.get(spool, "stop")
    try {
      while (!Files.exists(stop)) {
        drainOnce(spark, spool).foreach { r =>
          println(s"""task ${r.task}: ok=${r.ok} tables=${r.tables} ${r.detail}""")
        }
        Thread.sleep(poll)
      }
    } finally spark.stop()
  }
}
