package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}

import graft.Json

/** HTTP front for the spool-directory task queue — the reference's
  * REST surface (`lightning/lightning.go:137-144` routes, handlers
  * `:374-623`) mapped 1:1 onto [[Server]]'s filesystem verbs, so an
  * HTTP client can drive the queue the way the reference's can while
  * the drain loop ([[Server.main]]) keeps running unchanged in its own
  * process:
  *
  *   GET    /tasks                 {"queue":[names…]} in execution order
  *   POST   /tasks[?name=n]        enqueue JSON task body → {"id":name}
  *   GET    /tasks/{name}          task JSON (queued, done, or failed)
  *   DELETE /tasks/{name}          cancel a QUEUED task (= reference
  *                                 DELETE /tasks/{id})
  *   GET    /tasks/{name}/result   result record from done/ or failed/
  *   GET    /tasks/{name}/progress the latest job-state record per
  *                                 table in the task's stateDir
  *                                 (= reference /progress/task|table)
  *   PATCH  /tasks/{name}/front    move to queue head (reference
  *   PATCH  /tasks/{name}/back     PATCH /tasks/{id}/front|back)
  *   GET    /pause                 {"paused":bool}
  *   PUT    /pause | /resume       park / release the running import
  *                                 (reference /pause, /resume)
  *
  * With a door directory attached (`HttpServer <spool> [port]
  * [doorDir]`), the drift door's operator verbs serve over the same
  * shim — the reference serves every operator verb over HTTP
  * (`lightning.go:137-144`); ours should too, not Ctl-only:
  *
  *   GET    /door/released         {"released":[batchIds]} — marker
  *                                 listing, pure filesystem
  *   GET    /door/audit            the audit feed as a JSON array
  *                                 (routed verdicts + release records;
  *                                 consumers dedup on (batch_id,
  *                                 event) — at-least-once contract).
  *                                 `?limit=N` (default 10000) keeps the
  *                                 most recent N rows; `?since=B` pages
  *                                 forward from batch_id B (exclusive)
  *                                 — the feed grows one row per (batch,
  *                                 event) forever, so an uncapped dump
  *                                 would not survive a 24/7 door
  *   GET    /door/quarantined      {"quarantined":[rows]} — the batches
  *                                 awaiting inspection (quarantined
  *                                 verdict rows minus released
  *                                 markers), each with n_docs and the
  *                                 per-axis drift readings an operator
  *                                 weighs before /door/release
  *   GET    /guard/contaminated    (with a guard dir attached) the eval
  *                                 firewall's REVIEW QUEUE — diverted
  *                                 rows with their evidence columns
  *                                 (matched eval id, cosine), embeddings
  *                                 omitted; ?limit / ?since as /door/audit
  *   GET    /guard/stats           {"clean":N,"contaminated":N}
  *   POST   /forget                (with a corpus dir attached) body
  *                                 {"ids":[...]} — propagate a deletion
  *                                 request into every standing per-
  *                                 document layout ([[Governance]]);
  *                                 returns per-layout applied counts;
  *                                 retries of the same cohort are
  *                                 absorbed (the tier is at-least-once
  *                                 safe by construction)
  *   GET    /forget/pending        tombstones standing per layout
  *                                 (hidden from serving, awaiting the
  *                                 physical delete at index-compact)
  *   GET    /forget/lag            append positions for every present
  *                                 batch-maintained layout (invindex,
  *                                 simhash, sketch, knn per radius) —
  *                                 −1 marks a standing layout no
  *                                 streamed append ever reached
  *   POST   /door/release/{id}     feed an inspection-cleared batch to
  *                                 the passed flow (= Ctl
  *                                 quarantine-release); refusals
  *                                 (already released, in progress, no
  *                                 rows) are 409, not 500
  *   GET    /unrouted              (with a fed root attached) the
  *                                 federated router's misroute
  *                                 evidence: rows whose corpus tag
  *                                 matched no registered tenant, the
  *                                 tag kept (NULL included); ?limit
  *                                 caps the page, text bodies omitted
  *
  * The door verbs are the one place the shim touches Spark (parquet
  * audit rows; the release's row selection): the session builds
  * LAZILY on first use, so pure queue administration stays as light
  * as before.
  *
  * The body format is the spool queue's JSON task (`sourceDir`,
  * `targetDir`, optional `filters`, `stateDir`) — validated with
  * [[Server.parseTask]] BEFORE it is enqueued, so a malformed task
  * 400s at submission instead of failing later in the drain loop.
  * State lives entirely in the spool directory; the shim holds none,
  * so any number of shims and drain loops can share one spool.
  */
object HttpServer {

  /** Start a shim bound to `port` (0 = ephemeral); returns the server
    * (call `.stop(0)` to shut down) — separated from [[main]] so specs
    * can run a real localhost round trip. Each optional directory
    * attaches its verbs: `doorDir` the drift door's, `guardDir` the
    * eval firewall's (the `<admittedDir>_guard` tree a guarded
    * [[graft.streaming.StreamingOps.doorChain]] writes), `corpusDir`
    * the governance verbs (`POST /forget`, `GET /forget/…`) against
    * that corpus's standing layouts, and `fedRoot` the federation's
    * `GET /unrouted` (`<fedRoot>/unrouted`, rows whose corpus tag
    * matched no registered tenant, the tag kept). `sparkProvider`
    * supplies the session those verbs need, invoked lazily on first
    * use.
    */
  def start(spool: String, port: Int, doorDir: Option[String] = None,
      guardDir: Option[String] = None, corpusDir: Option[String] = None,
      fedRoot: Option[String] = None,
      sparkProvider: () => org.apache.spark.sql.SparkSession =
        () => graft.GraftSession.session()): JdkHttpServer = {
    val queue = Files.createDirectories(Paths.get(spool, "queue"))
    val srv = JdkHttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def err(ex: HttpExchange, code: Int, msg: String): Unit =
      respond(ex, code, Json.write(Map("error" -> msg)))

    def listQueue(): Seq[String] = {
      val l = Files.list(queue)
      try l.iterator().asScala.toSeq.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.startsWith(".")).sorted
      finally l.close()
    }
    // visible task names only: dot-prefixed files are internal temp
    // state, and "." / ".." must never resolve outside the spool
    def valid(name: String): Boolean =
      name.nonEmpty && !name.startsWith(".") && !name.contains("/")
    def findTask(name: String): Option[Path] = {
      // a RUNNING task's file carries the claimant-pid suffix — match
      // on the claim prefix so the task stays resolvable mid-run
      def runningClaim: Option[Path] = {
        val dir = Paths.get(spool, "running")
        if (!Files.isDirectory(dir)) None
        else {
          val l = Files.list(dir)
          try l.iterator().asScala.toSeq.find(
            _.getFileName.toString.startsWith(name + Server.ClaimSuffix))
          finally l.close()
        }
      }
      Seq("queue", "done", "failed").iterator
        .filter(_ => valid(name))
        .map(d => Paths.get(spool, d, name))
        .find(Files.isRegularFile(_))
        .orElse(if (valid(name)) runningClaim else None)
    }

    srv.createContext("/tasks", (ex: HttpExchange) => {
      try {
        val rest = ex.getRequestURI.getPath.stripPrefix("/tasks")
          .stripPrefix("/").split("/", 2).toList match {
          case "" :: Nil => Nil
          case parts => parts
        }
        (ex.getRequestMethod, rest) match {
          case ("GET", Nil) =>
            // running tasks stay listed for their whole lifetime — a
            // polling client must not see a claimed task "vanish"
            respond(ex, 200, Json.write(ListMap(
              "queue" -> listQueue(), "running" -> Server.runningTasks(spool))))
          case ("POST", Nil) =>
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            val invalid =
              try { Server.parseTask(body); None }
              catch { case e: IllegalArgumentException => Some(e.getMessage) }
            invalid match {
              case Some(msg) => err(ex, 400, msg)
              case None => enqueue(ex, body)
            }
          case ("GET", name :: Nil) =>
            findTask(name) match {
              case Some(p) => respond(ex, 200, Files.readString(p))
              case None => err(ex, 404, s"task not found: $name")
            }
          case ("DELETE", name :: Nil) =>
            if (valid(name) && Files.deleteIfExists(queue.resolve(name)))
              respond(ex, 200, Json.write(Map("cancelled" -> name)))
            else err(ex, 404, s"no queued task: $name")
          case ("GET", List(name, "progress")) =>
            // the reference's /progress/task|table analog: the latest
            // job-state record per table in the task's stateDir, as a
            // JSON array — per-table status/rows/checksum, the same
            // facts the reference's progress endpoints serve
            findTask(name) match {
              case None => err(ex, 404, s"task not found: $name")
              case Some(p) =>
                // an unparseable task body is a 422, not an empty
                // array — a client must be able to tell "no progress
                // yet" from "the task itself is malformed"
                val parsed =
                  try Right(Server.parseTask(Files.readString(p)).stateDir)
                  catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
                parsed match {
                  case Left(msg) =>
                    err(ex, 422, s"task body does not parse: $msg")
                  case Right(stateDir) =>
                    respond(ex, 200, Json.write(stateDir.toSeq
                      .flatMap(JobState.latest).map(JobState.fields)))
                }
            }
          case ("GET", List(name, "result")) =>
            Seq("done", "failed").iterator
              .filter(_ => valid(name))
              .map(d => Paths.get(spool, d, name + ".result"))
              .find(Files.isRegularFile(_)) match {
              case Some(p) => respond(ex, 200, Files.readString(p))
              case None => err(ex, 404, s"no result for: $name")
            }
          case ("PATCH", List(name, dir)) if dir == "front" || dir == "back" =>
            Server.reorder(spool, name, front = dir == "front") match {
              case Some(n) => respond(ex, 200, Json.write(Map("id" -> n)))
              case None => err(ex, 404, s"no queued task: $name")
            }
          case (m, _) => err(ex, 405, s"unsupported: $m ${ex.getRequestURI.getPath}")
        }
      } catch { case e: Exception => err(ex, 500, String.valueOf(e.getMessage)) }
    })

    def enqueue(ex: HttpExchange, body: String): Unit = {
      val base = Option(ex.getRequestURI.getQuery)
              .flatMap(q => q.split("&").collectFirst {
                case kv if kv.startsWith("name=") =>
                  kv.stripPrefix("name=").replaceAll("[^A-Za-z0-9._-]", "_")
              }).filter(_.nonEmpty).getOrElse("task")
      // next free index keeps POST order = execution order; a racing
      // shim on the SAME spool can win the name (one shim is
      // single-threaded — the JDK server's default dispatcher — but
      // several shims may share a spool), so the atomic claim retries
      // with the next suffix instead of 500ing
      val next = listQueue()
        .flatMap(n => "^(\\d+)-".r.findFirstMatchIn(n).map(_.group(1).toInt))
        .maxOption.getOrElse(-1) + 1
      // the full body is written once to a dot-prefixed temp (invisible
      // to the drain loop), then CLAIMED under the final name with a
      // hard link — link() is atomic and FAILS if the name exists
      // (unlike rename(), which silently replaces on POSIX), so two
      // shims can never clobber each other's tasks and the drain loop
      // can never observe a half-written file
      val tmp = queue.resolve(s".post-${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, body)
      var k = 0
      var name = f"$next%03d-$base.json"
      var placed = false
      try {
        while (!placed) {
          try {
            Files.createLink(queue.resolve(name), tmp)
            placed = true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              k += 1; name = f"$next%03d-$base-$k.json"
          }
        }
      } finally Files.deleteIfExists(tmp)
      respond(ex, 200, Json.write(Map("id" -> name)))
    }

    def qparam(ex: HttpExchange, k: String): Option[String] =
      Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .collectFirst { case kv if kv.startsWith(k + "=") => kv.stripPrefix(k + "=") }
    // a sink dir's data rows, or None in its normal bootstrap state
    // (dir absent or marker/temp files only)
    def sinkDf(dir: java.nio.file.Path): Option[org.apache.spark.sql.DataFrame] = {
      val hasRows = Files.isDirectory(dir) && {
        val l = Files.list(dir)
        try l.iterator().asScala.exists { p =>
          val fn = p.getFileName.toString
          Files.isRegularFile(p) && !fn.startsWith("_") && !fn.startsWith(".")
        } finally l.close()
      }
      if (!hasRows) None
      else Some(sparkProvider().read
        .option("mergeSchema", "true").parquet(dir.toString))
    }

    doorDir.foreach { dd =>
      lazy val spark = sparkProvider()

      def releasedIds(): Seq[Long] = {
        val dir = Paths.get(dd, "released")
        if (!Files.isDirectory(dir)) Seq.empty[Long]
        else {
          val l = Files.list(dir)
          // toLongOption, same hardening as the release verb: a stray
          // overflowing or Unicode-digit filename must not 500 every
          // subsequent listing
          try l.iterator().asScala.toSeq
            .flatMap(_.getFileName.toString.toLongOption).sorted
          finally l.close()
        }
      }
      // the audit feed as a DataFrame, or None when the dir holds no
      // data files yet (its normal bootstrap state). mergeSchema: a
      // door dir predating an audit-schema widening (event/axis
      // columns) holds mixed-schema files; the union schema reads them
      // all, old rows null-filled — the feed must not 500 on upgrade.
      def auditDf(): Option[org.apache.spark.sql.DataFrame] = {
        val dir = Paths.get(dd, "audit")
        val hasRows = Files.isDirectory(dir) && {
          val l = Files.list(dir)
          try l.iterator().asScala.exists { p =>
            val fn = p.getFileName.toString
            Files.isRegularFile(p) && !fn.startsWith("_") && !fn.startsWith(".")
          } finally l.close()
        }
        if (!hasRows) None
        else Some(spark.read.option("mergeSchema", "true").parquet(dir.toString))
      }
      srv.createContext("/door", (ex: HttpExchange) => {
        try {
          val rest = ex.getRequestURI.getPath.stripPrefix("/door")
            .stripPrefix("/").split("/").toList.filter(_.nonEmpty)
          (ex.getRequestMethod, rest) match {
            case ("GET", List("released")) =>
              respond(ex, 200, Json.write(Map("released" -> releasedIds())))
            case ("GET", List("audit")) =>
              // a 24/7 door accrues one audit row per (batch, event)
              // FOREVER — the feed is unbounded at steady state, so the
              // response is capped: `?limit=N` (default 10000) keeps the
              // MOST RECENT N rows of the selection, and `?since=B`
              // pages forward (rows with batch_id > B only), which is
              // also the incremental-consumer shape — poll with the
              // last batch_id you saw and the scan prunes on the
              // parquet batch_id column instead of re-reading history
              val since = qparam(ex, "since").flatMap(_.toLongOption)
              val limit = qparam(ex, "limit").flatMap(_.toIntOption)
                .filter(_ >= 0).getOrElse(10000)
              val rows = auditDf() match {
                case None => Seq.empty[org.apache.spark.sql.Row]
                case Some(df0) =>
                  val df = since.fold(df0)(b =>
                    df0.where(org.apache.spark.sql.functions.col("batch_id") > b))
                  val sortCols =
                    if (df.columns.contains("event")) Seq("batch_id", "event")
                    else Seq("batch_id")
                  // most-recent-N: take the tail of the sort in Spark
                  // (desc + limit), then restore ascending order for the
                  // response — the collect is bounded by `limit`
                  df.orderBy(sortCols.map(c =>
                      org.apache.spark.sql.functions.col(c).desc): _*)
                    .limit(limit)
                    .collect().toSeq.reverse
              }
              respond(ex, 200, Json.write(rows))
            case ("GET", List("quarantined")) =>
              // the operator's "what awaits inspection" view: every
              // routed batch the door quarantined, minus the ones
              // already released — the facts an operator needs to
              // decide WHETHER to release, served the way
              // /door/released serves markers (previously they had to
              // read the quarantined parquet out-of-band). Row shape =
              // the audit verdict row (n_docs + per-axis l1/drifted),
              // so it widens automatically with the audit schema.
              // This endpoint is ITSELF an audit consumer, so it obeys
              // the at-least-once contract (dedup on batch_id — a
              // replayed batch's duplicate 'routed' row must not list
              // the batch twice) and the same most-recent-N cap as
              // /door/audit (an unattended door accrues quarantined
              // verdicts without bound).
              val qlimit = qparam(ex, "limit").flatMap(_.toIntOption)
                .filter(_ >= 0).getOrElse(10000)
              val released = releasedIds()
              val rows = auditDf() match {
                case None => Seq.empty[org.apache.spark.sql.Row]
                case Some(df) if !df.columns.contains("drifted") => Seq.empty[org.apache.spark.sql.Row]
                case Some(df) =>
                  import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
                  val routed =
                    if (df.columns.contains("event"))
                      df.where(col("event").isNull || col("event") === "routed")
                    else df
                  // released filter BEFORE the cap: released batches
                  // must not consume limit slots, or older unreleased
                  // batches silently vanish from the inspection view.
                  // LEFT ANTI against a broadcast relation, not an In
                  // literal: a long-running door accrues thousands of
                  // release markers (an In-expression that grows per
                  // request), and a negated isin silently drops any
                  // NULL batch_id audit row — the anti-join keeps it.
                  val awaiting =
                    if (released.isEmpty) routed
                    else routed.join(
                      broadcast(spark.createDataFrame(
                        spark.sparkContext.parallelize(
                          released.map(org.apache.spark.sql.Row(_)), 1),
                        org.apache.spark.sql.types.StructType(Seq(
                          org.apache.spark.sql.types.StructField("batch_id",
                            org.apache.spark.sql.types.LongType))))),
                      Seq("batch_id"), "left_anti")
                  // duplicate 'routed' rows per batch (at-least-once
                  // replay) may MIX pre-v2 flat rows with v2 axes rows
                  // for the same batch under mergeSchema — prefer the
                  // v2 row (non-null axes map) deterministically, else
                  // an arbitrary survivor could be the null-filled
                  // legacy variant and lose the per-axis readings this
                  // endpoint exists to show
                  val pref =
                    if (df.columns.contains("axes"))
                      col("axes").isNotNull.desc
                    else lit(1).asc
                  val w = org.apache.spark.sql.expressions.Window
                    .partitionBy(col("batch_id")).orderBy(pref)
                  awaiting.where(col("drifted") === true)
                    .withColumn("__rn", row_number().over(w))
                    .where(col("__rn") === 1).drop("__rn")
                    .orderBy(col("batch_id").desc)
                    .limit(qlimit)
                    .collect().toSeq.reverse
              }
              respond(ex, 200, Json.write(Map("quarantined" -> rows)))
            case ("POST", List("release", id))
                if id.nonEmpty && id.forall(c => c >= '0' && c <= '9') =>
              // toLongOption: a 20+-digit id is operator input error
              // (400), not a door-state refusal (409) and never a 500;
              // the ASCII-range guard keeps Unicode digits out of the
              // parse entirely
              id.toLongOption match {
                case None => err(ex, 400, s"batch id out of range: $id")
                case Some(bid) =>
                  try {
                    val n = graft.streaming.StreamingOps
                      .quarantineRelease(spark, dd, bid)
                    respond(ex, 200, Json.write(ListMap("released" -> bid, "n_docs" -> n)))
                  } catch {
                    // refusals are operator answers, not server faults
                    case e: IllegalArgumentException => err(ex, 409, e.getMessage)
                  }
              }
            case (m, p) =>
              err(ex, 405, s"unsupported: $m /door/${p.mkString("/")}")
          }
        } catch { case e: Exception => err(ex, 500, String.valueOf(e.getMessage)) }
      })
    }

    guardDir.foreach { gd =>
      srv.createContext("/guard", (ex: HttpExchange) => {
        try {
          val rest = ex.getRequestURI.getPath.stripPrefix("/guard")
            .stripPrefix("/").split("/").toList.filter(_.nonEmpty)
          (ex.getRequestMethod, rest) match {
            // the REVIEW QUEUE: contaminated rows with their evidence
            // columns (matched eval id, cosine), embeddings omitted —
            // the operator reads evidence, not vectors. Same cap/page
            // contract as /door/audit: ?limit=N (default 10000) keeps
            // the most recent rows, ?since=B pages on batch_id.
            case ("GET", List("contaminated")) =>
              val since = qparam(ex, "since").flatMap(_.toLongOption)
              val limit = qparam(ex, "limit").flatMap(_.toIntOption)
                .filter(_ >= 0).getOrElse(10000)
              val rows = sinkDf(Paths.get(gd, "contaminated")) match {
                case None => Seq.empty[org.apache.spark.sql.Row]
                case Some(df0) =>
                  val df1 = df0.drop("embedding")
                  val df = since.fold(df1)(b =>
                    df1.where(org.apache.spark.sql.functions.col("batch_id") > b))
                  df.orderBy(
                    org.apache.spark.sql.functions.col("batch_id").desc,
                    org.apache.spark.sql.functions.col("vec_id").desc)
                    .limit(limit).collect().reverse.toSeq
              }
              respond(ex, 200, Json.write(Map("contaminated" -> rows)))
            // sink totals — the one-line health readout an ingest
            // dashboard polls (counts are metadata-cheap on parquet)
            case ("GET", List("stats")) =>
              def n(d: String): Long =
                sinkDf(Paths.get(gd, d)).map(_.count()).getOrElse(0L)
              respond(ex, 200, Json.write(ListMap(
                "clean" -> n("clean"), "contaminated" -> n("contaminated"))))
            case (m, p) =>
              err(ex, 405, s"unsupported: $m /guard/${p.mkString("/")}")
          }
        } catch { case e: Exception => err(ex, 500, String.valueOf(e.getMessage)) }
      })
    }

    corpusDir.foreach { cd =>
      lazy val spark = sparkProvider()
      srv.createContext("/forget", (ex: HttpExchange) => {
        try {
          val rest = ex.getRequestURI.getPath.stripPrefix("/forget")
            .stripPrefix("/").split("/").toList.filter(_.nonEmpty)
          (ex.getRequestMethod, rest) match {
            case ("POST", Nil) =>
              // body: {"ids":[1,2,3]} — the GDPR intake shape. The
              // whole tier is at-least-once safe, so a client retry
              // of the same cohort is absorbed (dn=0 everywhere).
              val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
              scala.util.Try(Json.read(body)).toOption
                .flatMap(o => Option(o.get("ids"))).filter(_.isArray)
                .map(_.asScala.toSeq) match {
                case None => err(ex, 400, """body must carry {"ids":[...]}""")
                case Some(arr) =>
                  if (arr.isEmpty || !arr.forall(v => v.isIntegralNumber && v.canConvertToLong))
                    err(ex, 400, "ids must be a non-empty array of integers")
                  else {
                    // each layout's summary is itself a JSON object
                    val applied = Governance.applyForget(spark, cd, arr.map(_.longValue))
                    respond(ex, 200, Json.write(Map("applied" ->
                      ListMap(applied.map { case (l, s) => l -> Json.read(s) }: _*))))
                  }
              }
            case ("GET", List("pending")) =>
              // tombstones standing per layout — hidden from serving
              // but not yet physically deleted; index-compact retires
              respond(ex, 200, Json.write(Map("pending" ->
                ListMap(Governance.pendingForgets(spark, cd): _*))))
            case ("GET", List("lag")) =>
              // append positions for every present batch-maintained
              // layout (−1 = standing but no streamed append ever
              // committed there); the knn rows additionally carry the
              // radius asymmetry — appends feed only the maintainer's
              // session radius, so the other radius's lag is visible
              respond(ex, 200, Json.write(Map("append_last_batch" ->
                ListMap(Governance.appendLag(cd): _*))))
            case ("GET", List("log")) =>
              // the audit ledger, newest first — ?limit=N caps the
              // page (default 1000); an absorbed retry shows as its
              // zero-count entries
              val limit = qparam(ex, "limit").flatMap(_.toIntOption)
                .filter(_ >= 0).getOrElse(1000)
              val rows = Governance.forgetLog(spark, cd).limit(limit)
                .collect().map { r =>
                  ListMap("ts" -> r.getLong(0), "cohort" -> r.getString(1),
                    "n_ids" -> r.getInt(2), "layout" -> r.getString(3),
                    "applied" -> Json.read(r.getString(4)))
                }
              respond(ex, 200, Json.write(Map("log" -> rows)))
            case (m, p) =>
              err(ex, 405, s"unsupported: $m /forget/${p.mkString("/")}")
          }
        } catch { case e: Exception => err(ex, 500, String.valueOf(e.getMessage)) }
      })
    }

    fedRoot.foreach { fr =>
      lazy val spark = sparkProvider()
      srv.createContext("/unrouted", (ex: HttpExchange) => {
        try {
          if (ex.getRequestMethod != "GET")
            err(ex, 405, s"unsupported: ${ex.getRequestMethod} /unrouted")
          else {
            // the router's misroute evidence: rows whose corpus tag
            // matched no registered tenant (tag kept, NULL included).
            // text bodies stay out of the response — the operator
            // needs WHICH rows and WHOSE tag, not the payloads.
            val dir = Paths.get(fr, "unrouted")
            val limit = qparam(ex, "limit").flatMap(_.toIntOption)
              .filter(_ >= 0).getOrElse(1000)
            if (!graft.GraftSession.hasVisibleData(dir))
              respond(ex, 200, Json.write(ListMap("n" -> 0, "rows" -> Nil)))
            else {
              // rows are written with their NULLs as JSON null:
              // unrouted is exactly where malformed producer rows land
              val df = spark.read.parquet(dir.toString)
                .select("doc_id", "lang", "corpus")
              val n = df.count()
              val rows = df
                .orderBy(org.apache.spark.sql.functions.col("doc_id"))
                .limit(limit).collect()
              respond(ex, 200, Json.write(ListMap("n" -> n, "rows" -> rows)))
            }
          }
        } catch { case e: Exception => err(ex, 500, String.valueOf(e.getMessage)) }
      })
    }

    srv.createContext("/pause", (ex: HttpExchange) => {
      val p = Paths.get(spool, "pause")
      ex.getRequestMethod match {
        case "GET" => respond(ex, 200, Json.write(Map("paused" -> Files.exists(p))))
        case "PUT" | "POST" =>
          try Files.createFile(p)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          respond(ex, 200, Json.write(Map("paused" -> true)))
        case m => err(ex, 405, s"unsupported: $m /pause")
      }
    })
    srv.createContext("/resume", (ex: HttpExchange) => {
      ex.getRequestMethod match {
        case "PUT" | "POST" =>
          Files.deleteIfExists(Paths.get(spool, "pause"))
          respond(ex, 200, Json.write(Map("paused" -> false)))
        case m => err(ex, 405, s"unsupported: $m /resume")
      }
    })

    srv.start()
    srv
  }

  def main(args: Array[String]): Unit = {
    val spool = args.headOption.getOrElse(
      sys.error("usage: HttpServer <spoolDir> [port] [doorDir] [guardDir] [corpusDir] [fedRoot]"))
    val port = args.lift(1).map(_.toInt).getOrElse(8289)
    val door = args.lift(2)
    val guard = args.lift(3)
    val corpus = args.lift(4)
    val fed = args.lift(5)
    val srv = start(spool, port, doorDir = door, guardDir = guard,
      corpusDir = corpus, fedRoot = fed,
      sparkProvider = () => graft.GraftSession.session())
    println(s"graft task API on http://127.0.0.1:${srv.getAddress.getPort} (spool: $spool" +
      door.map(d => s", door: $d").getOrElse("") +
      guard.map(g => s", guard: $g").getOrElse("") +
      corpus.map(c => s", corpus: $c").getOrElse("") +
      fed.map(f => s", fed: $f").getOrElse("") + ")")
    // park the main thread; the JDK server runs on its own executor
    Thread.currentThread.join()
  }
}
