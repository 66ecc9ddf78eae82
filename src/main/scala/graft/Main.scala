package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{HttpServer, Ingest, Server, TomlConfig}

/** The reference's CLI entry point re-expressed: `tidb-lightning
  * --config x.toml` (reference `cmd/tidb-lightning/main.go:30-70`)
  * becomes `runMain graft.Main --config x.toml`. The Spark-relevant
  * command-line overrides from `config/global.go:133-172` carry over
  * and take precedence over the file, like the reference's
  * `tests/cmdline_override`:
  *
  *   -c / --config <path>      config file (optional when -d and
  *                             --sorted-kv-dir are given)
  *   -d <dir>                  dump directory to import
  *   --sorted-kv-dir <dir>     output target (--target-dir is an
  *                             engine-native alias)
  *   -f <glob>                 table filter, repeatable
  *   --no-schema[=bool]        skip schema files
  *   --enable-checkpoint[=bool]
  *   --checksum <level>        off | optional | required | true | false
  *   --analyze <level>         same levels
  *   --server-mode[=bool]      wait for tasks instead of importing
  *   --status-addr <addr>      task-API bind address
  *   --spool <dir>             engine-native: server-mode queue dir
  *
  * One-shot mode runs the import immediately and exits nonzero on a
  * required-checksum failure; server mode starts the task API and
  * drains the spool queue until `<spool>/stop` appears.
  */
object Main {

  private val ValueFlags = Set("-c", "--config", "-d", "--sorted-kv-dir",
    "--target-dir", "-f", "--checksum", "--analyze", "--status-addr", "--spool",
    "--backend")
  private val BoolFlags = Set("--no-schema", "--enable-checkpoint", "--server-mode")

  /** The reference CLI's cluster-connection flags (`config/global.go:
    * 133-172` — log level/file, TiDB/PD endpoints, importer address):
    * accepted so a reference invocation runs unchanged
    * (`tests/cmdline_override` passes them all), reported as ignored
    * like config keys with no Spark analog.
    */
  private val IgnoredValueFlags = Set("-L", "--log-level", "--log-file",
    "--tidb-host", "--tidb-port", "--tidb-user", "--tidb-password",
    "--tidb-status", "--pd-urls", "--importer",
    "--ca", "--cert", "--key")
  private val IgnoredBoolFlags = Set("--check-requirements", "-V", "--version")

  /** Go-flag-style parse: `--flag value`, `--flag=value`, bare boolean
    * flags, single or double dashes, `-f` repeatable.
    */
  private[graft] def parseArgs(args: Array[String]): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    def add(k: String, v: String): Unit =
      out(k) = out.getOrElse(k, Vector.empty) :+ v
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("-"), s"unexpected argument: $a")
      val (rawFlag, inline) = a.indexOf('=') match {
        case -1 => (a, None)
        case at => (a.substring(0, at), Some(a.substring(at + 1)))
      }
      // normalize single/double dash to the canonical spelling
      val flag = Seq(rawFlag, "-" + rawFlag, rawFlag.drop(1))
        .find(f => ValueFlags(f) || BoolFlags(f) ||
          IgnoredValueFlags(f) || IgnoredBoolFlags(f))
        .getOrElse(sys.error(s"unknown flag: $rawFlag"))
      inline match {
        case Some(v) => add(flag, v); i += 1
        case None if BoolFlags(flag) || IgnoredBoolFlags(flag) =>
          add(flag, "true"); i += 1
        case None =>
          require(i + 1 < args.length, s"$flag needs a value")
          add(flag, args(i + 1)); i += 2
      }
    }
    out.toMap
  }

  /** Fully resolved invocation: config-file values with CLI overrides
    * applied, plus everything accepted-but-inapplicable (reported, not
    * dropped — the reference warns about unused config the same way).
    */
  private[graft] case class Resolved(
      cfg: Ingest.Config,
      checksum: String,
      serverMode: Boolean,
      statusAddr: Option[String],
      spool: Option[String],
      ignored: Seq[String])

  /** Flag parse + config load + override precedence (reference
    * `global.go:219-261`: command line wins over the file) — the whole
    * CLI surface minus the actual run, so `tests/cmdline_override`
    * replays against it directly.
    */
  private[graft] def resolve(args: Array[String]): Resolved = {
    val flags = parseArgs(args)
    def last(f: String): Option[String] = flags.get(f).map(_.last)
    def lastBool(f: String): Option[Boolean] = last(f).map(_.toBoolean)
    def level(f: String): Option[String] = last(f).map {
      case "true" => "required"
      case "false" => "off"
      case l @ ("off" | "optional" | "required") => l
      case other => sys.error(s"$f: invalid level '$other'")
    }

    val targetOverride = last("--sorted-kv-dir").orElse(last("--target-dir"))
    val fromFile = last("--config").orElse(last("-c"))
      .map(p => TomlConfig.loadFile(p, targetOverride))
    val base = fromFile.getOrElse {
      val src = last("-d").getOrElse(sys.error(
        "no source: pass --config or -d <dump dir>"))
      val tgt = targetOverride.getOrElse(sys.error(
        "no target: pass --config, --sorted-kv-dir or --target-dir"))
      TomlConfig.Loaded(Ingest.Config(src, tgt, maxError = Ingest.TaskMaxError),
        serverMode = false,
        statusAddr = None, checksum = "required", ignored = Nil)
    }

    // command line wins over the file (reference global.go:219-261)
    var cfg = base.config
    last("-d").foreach(d => cfg = cfg.copy(sourceDir = d))
    targetOverride.foreach(t => cfg = cfg.copy(targetDir = t))
    flags.get("-f").foreach(fs => cfg = cfg.copy(filters = fs))
    lastBool("--no-schema").foreach(b => cfg = cfg.copy(noSchema = b))
    lastBool("--enable-checkpoint").foreach { b =>
      cfg = cfg.copy(stateDir =
        if (b) cfg.stateDir.orElse(Some(s"${cfg.targetDir}/_checkpoint"))
        else None)
    }
    level("--analyze").foreach(l => cfg = cfg.copy(analyze = l != "off"))
    // --backend is FUNCTIONAL, not a connection flag: it must carry the
    // same semantics as tikv-importer.backend (tidb → on-duplicate
    // merge, default replace), with the command line winning — a knob
    // whose meaning depends on which surface set it would be a trap
    last("--backend").foreach {
      case "tidb" =>
        cfg = cfg.copy(onDuplicate = cfg.onDuplicate.orElse(Some("replace")))
      case _ => cfg = cfg.copy(onDuplicate = None)
    }
    val ignoredFlags = flags.keys.toSeq
      .filter(f => IgnoredValueFlags(f) || IgnoredBoolFlags(f)).sorted
      .map(f => s"flag $f")
    Resolved(cfg,
      checksum = level("--checksum").getOrElse(base.checksum),
      serverMode = lastBool("--server-mode").getOrElse(base.serverMode),
      statusAddr = last("--status-addr").orElse(base.statusAddr),
      spool = last("--spool"),
      ignored = base.ignored ++ ignoredFlags)
  }

  def main(args: Array[String]): Unit = {
    val r = resolve(args)
    if (r.ignored.nonEmpty)
      System.err.println(
        s"[config] ignored keys (no Spark analog): ${r.ignored.mkString(", ")}")
    val cfg = r.cfg
    val checksum = r.checksum
    val serverMode = r.serverMode
    val statusAddr = r.statusAddr

    if (serverMode) {
      // reference server mode: wait for tasks over HTTP
      // (`lightning.go:196-214`); tasks arrive as TOML or JSON bodies
      // ":8289" / "host:8289" → that port; host-only or bare-IPv6
      // addresses (no numeric tail after the last ':') → the default
      // port rather than a NumberFormatException
      val port = statusAddr.flatMap { a =>
        val tail = a.substring(a.lastIndexOf(':') + 1)
        // a bracketless multi-colon address is bare IPv6 ("::1" — its
        // last segment is NOT a port); only [host]:port or host:port
        // forms carry one
        val bareV6 = a.count(_ == ':') > 1 && !a.contains(']')
        if (!bareV6 && a.contains(':') && tail.matches("[0-9]+")) Some(tail.toInt)
        else None
      }.getOrElse(8289)
      val spool = r.spool.getOrElse(s"${cfg.targetDir}/_spool")
      Files.createDirectories(Paths.get(spool))
      // tasks stranded mid-run by a crashed (dead-pid) claimant go
      // back to the queue; a live sibling server's claims are left alone
      Server.recoverRunning(spool).foreach(n =>
        System.err.println(s"[server] requeued stranded task: $n"))
      val srv = HttpServer.start(spool, port)
      println(s"graft server mode on http://127.0.0.1:${srv.getAddress.getPort} " +
        s"(spool: $spool) — stop with ${spool}/stop")
      val spark = GraftSession.session()
      val stop = Paths.get(spool, "stop")
      try {
        while (!Files.exists(stop)) {
          Server.drainOnce(spark, spool).foreach { r =>
            println(s"task ${r.task}: ok=${r.ok} tables=${r.tables} ${r.detail}")
          }
          Thread.sleep(2000L)
        }
      } finally { srv.stop(0); spark.stop() }
    } else {
      val spark = GraftSession.session()
      try {
        val reports = Ingest.run(spark, cfg)
        reports.foreach { r =>
          println(f"${r.db}.${r.table}%-30s rows=${r.nRows}%-10d " +
            f"checksum_ok=${r.checksumOk} bad_rows=${r.badRows}" +
            (if (r.skipped) " (skipped: already imported)" else ""))
        }
        val failed = reports.filterNot(r => r.checksumOk || r.skipped)
        // reference-shaped error summary at the bottom of the log
        // (tests/error_summary greps these lines)
        Ingest.errorSummary(reports, cfg).foreach(System.err.println)
        if (failed.nonEmpty && checksum == "required") {
          sys.exit(1)
        } else if (failed.nonEmpty)
          System.err.println(s"[optional checksum] mismatch ignored for: " +
            failed.map(_.table).mkString(", "))
      } finally spark.stop()
    }
  }
}
