package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{coalesce, col, countDistinct, lit, max, sum}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.discover.{BWFilter, BWRules, FileKind, FileRouter, RouteResult, TableFilter, TableRoute, TableRouter}
import graft.schema.{MysqlDdl, TableSchema}
import graft.sink.SortedParquetSink
import graft.sources.{CharsetReader, CsvDialect, DumpSource, MySqlCsv}
import graft.transform.{GeneratedColumns, RowTransform}
import graft.verify.{Checksum, KvChecksum}

/** One-shot import pipeline — the reference's primary entry point
  * (`RunOnce`, SURVEY §3.1) re-expressed as a Spark job graph:
  *
  *   discover (list+route+filter+table-route, driver-side)
  *   → per table, smallest first: read shards (csv|sql|parquet)
  *   → unionByName → permute/cast/defaults/gencols
  *   → CRC64-XOR checksum (pre) → range-sorted parquet write
  *   → read-back checksum (post) → compare → job-state record.
  *
  * The encode/deliver thread boundary of the reference collapses into
  * whole-stage codegen; its engine batching (P4) collapses into one
  * write job per table whose range partitioning (D1/D2) is the
  * external sort. Re-runs are idempotent: tables with a verified state
  * entry are skipped (the checkpoint surface, SURVEY §2.1 checkpoints).
  */
object Ingest {

  /** Floor of the ID range used to fill NULLs in a carried
    * auto-increment column (2⁵² — far above any realistic explicit
    * ID, well inside BIGINT).
    */
  val NullFillBase: Long = 1L << 52

  case class Config(
      sourceDir: String,
      targetDir: String,
      filters: Seq[String] = Nil,
      routes: Seq[TableRoute] = Nil,
      csvDialect: CsvDialect = CsvDialect(),
      charset: String = "auto",
      stateDir: Option[String] = None,
      analyze: Boolean = true,
      strictMode: Boolean = false,
      // MySQL non-strict coercions (clamp/truncate/implicit-default)
      // instead of the library's honest-NULL default — what an explicit
      // non-STRICT `tidb.sql-mode` selects (reference `tests/sqlmode`)
      lenientCasts: Boolean = false,
      maxError: Long = Long.MaxValue,
      tableConcurrency: Int = 1,
      noSchema: Boolean = false,
      quarantineDir: Option[String] = None,
      pauseFile: Option[String] = None,
      strictFormat: Boolean = false,
      chunkBytes: Long = 256L << 20,
      chunkBatch: Int = 8,
      failpointAfterBatches: Option[Int] = None,
      // test-only failpoint (the reference's FailIfImportedSomeRows,
      // tests/tidb_duplicate_data): write only the first N rows of the
      // batch, then fail the import — leaves a PARTIAL table behind
      // with no covering state, like a tidb-backend dying mid-INSERT
      failpointPartialRows: Option[Int] = None,
      // tidb-backend duplicate policy vs rows already in the target
      // (reference tikv-importer.on-duplicate): replace|ignore|error
      onDuplicate: Option[String] = None,
      // TiDB clustered-index mode (tests/common_handle): a table with
      // a primary key uses it as the handle — no _tidb_rowid column
      clusteredIndex: Boolean = false,
      // [[mydumper.files]] custom routing rules; defaults stay active
      // unless defaultFileRules overrides the reference's implicit
      // "custom rules present → defaults off"
      fileRules: Seq[graft.discover.FileRouter.FileRule] = Nil,
      defaultFileRules: Option[Boolean] = None,
      // legacy [black-white-list] rules; ANDed with `filters` like the
      // reference, which consults both filter generations
      bwList: Option[BWRules] = None,
      // target-session variables that change generated-column bytes —
      // the reference reads them FROM the cluster
      // (`lightning/restore/tidb.go:49-57`); here they are a library
      // parameter (`tests/generated_columns`' run.sh SETs time_zone
      // and block_encryption_mode before importing)
      sessionVars: GeneratedColumns.SessionVars = GeneratedColumns.SessionVars(),
      // columnar output format of the bulk sink: parquet (default) or
      // orc — one knob through the same sorted/partitioned write path,
      // and every read-back (merge, rebase, checksum, analyze, views)
      // follows it
      outputFormat: String = "parquet") {
    require(outputFormat == "parquet" || outputFormat == "orc",
      s"output-format must be parquet|orc, got '$outputFormat'")
  }

  /** One import unit: a whole data file, or (strict-format CSV and
    * dump files) a byte-range chunk of one — the reference's `ChunkCheckpoint`
    * (`lightning/checkpoints/checkpoints.go:231-274`). The token is
    * what `JobState.Record.files` stores, so sub-file progress
    * round-trips through the checkpoint file.
    */
  private[pipeline] case class DataUnit(
      path: String, kind: FileKind.Value, start: Long = 0L, len: Long = -1L) {
    def isChunk: Boolean = len >= 0L
    def token: String = if (isChunk) s"$path@$start+$len" else path
  }

  /** Expand a table's data files into import units. CSV files split
    * into `chunkBytes` ranges ONLY under `strictFormat` — the same
    * precondition the reference imposes (`strict-format=true`,
    * `lightning/mydump/region.go:236-286`): byte-splitting is safe
    * only when quoted fields cannot embed newlines. Under strictFormat
    * EVERY CSV of the table becomes chunk units (small files = one
    * chunk) so the whole table parses through ONE code path — mixing
    * the native reader for small files with the chunk tokenizer for
    * big ones would let the two parsers' corner-case differences
    * (quoted null sentinels) split behavior mid-table. header=true
    * dialects never chunk: the un-chunked path name-matches reordered
    * header columns, which a chunk that cannot see the header can't
    * do. Parquet files stay whole (row groups already give Spark
    * sub-file parallelism); `.sql` dumps chunk under the extra
    * conditions below — going past the reference, which never splits
    * dump files across workers (`region.go` splits CSV only) even
    * though it checkpoints statement offsets within them. Toggling
    * strictFormat
    * (or retuning chunkBytes) over existing state re-imports affected
    * tables from scratch — see the scheme-mismatch guard in `run`.
    */
  /** Compressed data files are never byte-splittable (a gzip stream
    * has no mid-file entry points — the reference likewise only splits
    * uncompressed files, `region.go:236-286`); they stay whole-file
    * units and decompress through the codec-aware readers.
    */
  private def compressed(path: String): Boolean =
    path.endsWith(".gz") || path.endsWith(".bz2")

  /** The dialect the CSV DATA readers actually use — cfg.charset
    * governs data files too (reference data-character-set): a
    * non-UTF-8 table charset routes the read through the JVM-charset
    * tokenizer path instead of silently mojibake-ing through a UTF-8
    * text scan. An explicit dialect encoding wins over the
    * table-level charset. ONE definition, shared by the chunking gate
    * and the read path, so they cannot disagree on the effective
    * encoding.
    */
  private def dataDialect(cfg: Config): graft.sources.CsvDialect = {
    // NB multiline stays opt-in (CsvDialect.multiline) rather than
    // defaulting on for non-strict imports: univocity has ONE
    // quote-escape char, so a multiline parse of a dialect that also
    // uses MySQL's doubled-quote escape can swallow rows into an
    // unterminated quote (silent row loss, worse than the per-line
    // parse's contained damage. Full fidelity for
    // multiline+doubled-quote+backslash needs a byte-level multiline
    // tokenizer — documented divergence, reference tests/csv).
    if (cfg.csvDialect.encoding == "UTF-8" && !CharsetReader.isNativeUtf8(cfg.charset))
      cfg.csvDialect.copy(encoding = CharsetReader.jvmName(cfg.charset))
    else cfg.csvDialect
  }

  private def expandUnits(spark: SparkSession, cfg: Config, d: Discovered): Seq[DataUnit] = {
    // Chunking additionally needs 0x0A to be an unambiguous line
    // anchor in the effective data encoding — byte-oriented charsets
    // (UTF-8, GB18030, latin1…) qualify; UTF-16/32 would split lines
    // mid-character and decode odd-length fragments as garbage.
    val canChunk = cfg.strictFormat && !cfg.csvDialect.header &&
      (d.schemaFile.nonEmpty || cfg.noSchema) &&
      CharsetReader.newlineByteSafe(dataDialect(cfg).encoding)
    // .sql dumps chunk under the same strict-format gate (machine-
    // generated files keep string literals newline-free, which is what
    // makes line starts safe statement-scan anchors), but additionally
    // need known column names — from the schema file or noSchema's
    // target-table lookup, the same pair the CSV gate accepts — and a
    // native-UTF-8 charset (a byte-seek into a legacy-charset file
    // cannot re-synchronize the decoder).
    val canChunkSql = cfg.strictFormat &&
      (d.schemaFile.nonEmpty || cfg.noSchema) &&
      CharsetReader.isNativeUtf8(cfg.charset)
    d.dataFiles.flatMap { case (path, kind) =>
      val chunkable = !compressed(path) && (kind match {
        case FileKind.Csv => canChunk
        case FileKind.Sql => canChunkSql
        case _ => false
      })
      if (!chunkable) Seq(DataUnit(path, kind))
      else {
        val p = new Path(path)
        val size = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
        (0L until math.max(size, 1L) by cfg.chunkBytes).map(off =>
          DataUnit(path, kind, off, math.min(cfg.chunkBytes, size - off)))
      }
    }
  }

  /** The recorded token for `path`, under any scheme: bare, or chunked
    * with any grid.
    */
  private def tokenPath(token: String): String =
    token.replaceAll("@\\d+\\+\\d+$", "")

  /** The `_tidb_rowid` pseudo-column (SURVEY T6): tables whose handle
    * is NOT a single integer primary key (and not AUTO_RANDOM) carry
    * an implicit bigint row id. The import emits it like the
    * reference's local backend: explicit values from dumps/headered
    * CSVs are preserved, NULLs fill densely above the explicit max,
    * and the max rebases across incremental runs
    * (reference `tests/tidb_rowid`, `sql2kv.go:322-346`). This is the
    * NON-clustered default; `Config.clusteredIndex` selects TiDB's
    * clustered-index mode (`tests/common_handle`,
    * `tidb_enable_clustered_index=1`), where a table WITH a primary
    * key uses the key itself as the handle — no `_tidb_rowid` column
    * (the corpus's ADMIN CHECKSUM pins exactly "no extra kv pairs").
    * Pk-less tables still need the synthesized handle in both modes.
    */
  val TidbRowidCol = "_tidb_rowid"

  private[pipeline] def rowidRequired(ts: TableSchema,
      clusteredIndex: Boolean = false): Boolean = {
    val intHandle = ts.primaryKey.size == 1 &&
      ts.columns.find(_.name.equalsIgnoreCase(ts.primaryKey.head)).exists { c =>
        Set("tinyint", "smallint", "mediumint", "int", "integer", "bigint")
          .contains(c.mysqlType.takeWhile(_.isLetter).toLowerCase)
      }
    val commonHandle = clusteredIndex && ts.primaryKey.nonEmpty
    !intHandle && !commonHandle &&
      !ts.columns.exists(_.autoRandomBits.isDefined) &&
      !ts.columns.exists(_.name.equalsIgnoreCase(TidbRowidCol))
  }

  private def rowidSpec: graft.schema.ColumnSpec = graft.schema.ColumnSpec(
    TidbRowidCol, "bigint", org.apache.spark.sql.types.LongType,
    nullable = true, default = None, generated = None,
    autoIncrement = false, unsigned = false, enumValues = Nil)

  private[pipeline] def withRowid(ts: TableSchema): TableSchema =
    if (rowidRequired(ts)) ts.copy(columns = ts.columns :+ rowidSpec) else ts

  case class TableReport(
      db: String,
      table: String,
      nRows: Long,
      checksum: Long,
      checksumOk: Boolean,
      skipped: Boolean,
      statsRows: Option[Long] = None,
      badRows: Long = 0L,
      maxRowId: Long = 0L,
      maxTidbRowid: Long = 0L)

  case class Discovered(
      db: String,
      table: String,
      schemaFile: Option[String],
      dataFiles: Seq[(String, FileKind.Value)])

  /** Driver-side listing + routing over the Hadoop FS (works for
    * local, HDFS, S3A — same listing API the scan will use).
    */
  private def listRouted(spark: SparkSession, cfg: Config): Seq[(String, RouteResult)] = {
    val fs = new Path(cfg.sourceDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reference default-file-rules semantics (sample toml:152-157):
    // absent → defaults on only when no custom rules are configured.
    // An explicit false with ZERO custom rules would route nothing and
    // import nothing silently — the reference's config Adjust forces
    // the defaults back on in that case (config.go:535-537)
    val router = new FileRouter(cfg.fileRules.map(FileRouter.compile),
      cfg.defaultFileRules.getOrElse(cfg.fileRules.isEmpty) ||
        cfg.fileRules.isEmpty)
    val filter = new TableFilter(cfg.filters)
    val bwFilter = cfg.bwList.map(new BWFilter(_))
    val tableRouter = new TableRouter(cfg.routes)
    val it = fs.listFiles(new Path(cfg.sourceDir), true)
    val files = scala.collection.mutable.ArrayBuffer[(String, RouteResult)]()
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toString.stripPrefix(
        fs.makeQualified(new Path(cfg.sourceDir)).toString).stripPrefix("/")
      router.route(rel).filter(_.kind != FileKind.Ignore).foreach { r =>
        FileRouter.requireReadable(f.getPath.toString, r) // reject lz4/zstd/xz loudly (S8)
        files += ((f.getPath.toString, r))
      }
    }
    files
      .filter { case (_, r) => r.kind == FileKind.SchemaSchema ||
        (filter.matches(r.database, r.table) &&
          bwFilter.forall(_.matches(r.database, r.table))) }
      .map { case (p, r) =>
        val (db, tbl) = tableRouter.route(r.database, r.table)
        (p, r.copy(database = db, table = tbl))
      }
      .filter(_._2.kind != FileKind.SchemaSchema) // database-level DDL: namespace only
      .toSeq
  }

  def discover(spark: SparkSession, cfg: Config): Seq[Discovered] = {
    listRouted(spark, cfg)
      .groupBy { case (_, r) => (r.database, r.table) }
      .map { case ((db, tbl), fs0) =>
        val schemaFile = fs0.collectFirst {
          case (p, r) if r.kind == FileKind.TableSchema => p }
        val data = fs0.collect {
          case (p, r) if r.kind == FileKind.Csv || r.kind == FileKind.Sql ||
            r.kind == FileKind.Parquet => (p, r.kind)
        }.sortBy(_._1) // deterministic lexicographic order, like the reference
        Discovered(db, tbl, schemaFile, data.toSeq)
      }
      .toSeq
      // schema-only tables restore EMPTY (reference behavior); under
      // noSchema there is no way to type a dataless table, skip it
      .filter(d => d.dataFiles.nonEmpty ||
        (d.schemaFile.nonEmpty && !cfg.noSchema))
      .sortBy(d => (d.dataFiles.size, d.db, d.table)) // smallest tables first
  }

  /** View schema files: (db, view name, path). */
  def discoverViews(spark: SparkSession, cfg: Config): Seq[(String, String, String)] =
    listRouted(spark, cfg).collect {
      case (p, r) if r.kind == FileKind.ViewSchema => (r.database, r.table, p)
    }.sortBy(v => (v._1, v._2))

  /** Reference-shaped end-of-run error summary
    * (`lightning/restore/restore.go` errorSummaries — the lines
    * `tests/error_summary`'s run.sh greps): a count header plus one
    * `[-] [table=…] [status=checksum]` line per failed table, with the
    * `error-destroy` recommendedAction when a checkpoint dir exists.
    * Skipped tables are not failures; tables that verified are never
    * listed. (Unlike the reference we deliberately do NOT fail-stop a
    * rerun over a failed record — our failed-table retry is a full
    * idempotent overwrite, spec-pinned duplicate-free, so the
    * data-loss risk its stop guards against cannot arise here.)
    */
  def errorSummary(reports: Seq[TableReport], cfg: Config): Seq[String] = {
    val failed = reports.filterNot(r => r.checksumOk || r.skipped)
    if (failed.isEmpty) Nil
    else s"""["tables failed to be imported"] [count=${failed.size}]""" +:
      failed.map { r =>
        val action = cfg.stateDir.map(sd =>
          s""" [recommendedAction="Ctl error-destroy '$sd' '${cfg.targetDir}' """ +
            s"""'${r.db}.${r.table}'"]""").getOrElse("")
        s"""[-] [table=`${r.db}`.`${r.table}`] [status=checksum] """ +
          s"""[error="checksum mismatched"]$action"""
      }
  }

  /** Run the import. Only tables whose stored status is "verified" are
    * skipped on re-run; a table whose checksum comparison failed is
    * recorded as "failed" and re-imported next run (the reference only
    * marks a checkpoint verified after the checksum passes).
    */
  def run(spark: SparkSession, cfg: Config): Seq[TableReport] = {
    val state = new JobState(cfg.stateDir)
    val tables = discover(spark, cfg)
    def restoreOne(d: Discovered): TableReport = {
      awaitUnpaused(cfg.pauseFile)
      val key = s"${d.db}.${d.table}"
      val units = expandUnits(spark, cfg, d)
      // rec.files.nonEmpty guards every resume path: a legacy record
      // with no unit list cannot prove which units it covers, so it
      // falls through to a full overwrite rather than appending a
      // duplicate of everything. "imported" records (crash between
      // chunk batches) resume the same way "verified" ones do — the
      // stored triple is the accumulated pre-write expectation, and
      // the final whole-table read-back verifies the combination.
      val resumable = state.get(key).filter(r =>
        (r.status == "verified" || r.status == "imported") && r.files.nonEmpty)
      // Illegal-checkpoint guard (reference tests/checkpoint_dirty_tableid:
      // the target table was dropped/recreated between runs, so the
      // checkpoint no longer describes it): a covering record whose
      // OUTPUT is gone means the target was modified outside the
      // import — skipping would report rows that do not exist, and
      // appending would verify against a phantom base. Stop loudly and
      // demand explicit removal, like the reference's "illegal
      // checkpoints" abort + checkpoint-remove suggestion.
      resumable.foreach { r =>
        val outPath = new Path(s"${cfg.targetDir}/$key")
        val ofs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!ofs.exists(outPath)) throw new IllegalStateException(
          s"illegal checkpoint detected: `$key` has a ${r.status} record " +
            s"but no output at $outPath — the target was modified outside " +
            "the import. To prevent data mismatch, this run stops now. " +
            "Please remove these checkpoints first: " +
            s"Ctl checkpoint-remove <stateDir> '$key' " +
            "(or checkpoint-remove <stateDir> all)")
      }
      val done: Set[String] = resumable.map(_.files.toSet).getOrElse(Set.empty)
      val newUnits = units.filterNot(u => done(u.token))
      // Scheme-mismatch guard: a RECORDED token that no current unit
      // produces, for a path the current run still covers (bare vs
      // chunked, or another chunk grid — strictFormat toggled or
      // chunkBytes retuned between runs), means the covered-set can no
      // longer prove which BYTES are in the output; appending "new"
      // units would duplicate rows that the accumulated checksum would
      // then expect, so the verify could not catch it. Full overwrite
      // instead. Unfinished chunks of the SAME grid are ordinary
      // newUnits — their recorded siblings all match current tokens —
      // so plain crash resume never trips this.
      val unitTokens = units.map(_.token).toSet
      val unitPaths = units.map(_.path).toSet
      // tokenPath is unambiguous for every routable file: Discover's
      // data regex anchors on the .sql/.csv/.parquet(+codec) extension,
      // so no data path can END in '@N+M' and a bare token never parses
      // as a chunk token of a shorter path
      val schemeMismatch = done.exists(t =>
        !unitTokens.contains(t) && unitPaths.contains(tokenPath(t)))
      resumable.filter(_ => !schemeMismatch) match {
        case Some(rec) if rec.status == "verified" && newUnits.isEmpty =>
          TableReport(d.db, d.table, rec.nRows, rec.checksum, checksumOk = true,
            skipped = true, maxRowId = rec.maxId, maxTidbRowid = rec.maxRowid)
        case Some(rec) if newUnits.nonEmpty =>
          // Incremental resume (reference per-chunk checkpoints):
          // only units not in the covered set are parsed; their sorted
          // batch appends to the output (each batch = one "engine" of
          // sorted ranges, like the reference's multi-engine tables)
          // and the stored checksum XOR-combines with the new batch's —
          // commutativity is what makes covered-state + increment ==
          // full-table.
          importUnits(state, key, d, Some(rec), newUnits)
        case _ =>
          importUnits(state, key, d, None, units)
      }
    }
    def importUnits(state: JobState, key: String, d: Discovered,
        rec: Option[JobState.Record], units: Seq[DataUnit]): TableReport = {
      var prior = rec.map(r => KvChecksum(r.checksum, r.nRows, r.nBytes))
      var maxId = rec.map(_.maxId).getOrElse(0L)
      var rowidMax = rec.map(_.maxRowid).getOrElse(0L)
      var doneTokens = rec.map(_.files).getOrElse(Nil)
      // the task timestamp every CURRENT_TIMESTAMP default evaluates
      // to — minted once per table and REUSED when resuming an
      // UNFINISHED import ("imported": crash between chunk batches —
      // reference tests/checkpoint_timestamp pins one distinct ts
      // across the crash). A VERIFIED record means the prior task
      // COMPLETED; files appended later are a new task and stamp a
      // fresh now, like a fresh reference invocation would.
      val taskTsMillis = rec.filter(_.status == "imported")
        .map(_.taskTs).filter(_ > 0L)
        .getOrElse(System.currentTimeMillis())
      val taskTs = Some(new java.sql.Timestamp(taskTsMillis))
      // Sub-file chunks import in batches of `chunkBatch` units, each
      // batch one Spark write job with a state record after it — the
      // crash-loss bound drops from the whole table to one batch. An
      // unchunked table stays a single job (no extra records, no
      // behavior change). Only the FINAL batch pays the whole-table
      // read-back verification, like the reference's one table-level
      // checksum after all chunks land.
      //
      // A NARROW auto-inc column forces one batch: its dense NULL
      // fills allocate above the batch-local explicit max, so a fill
      // from an early batch could collide with an explicit id a later
      // batch hasn't parsed yet — and the accumulated checksum would
      // bless the duplicate (it expects both rows). One batch computes
      // the explicit max over the whole table, like the unchunked
      // path; chunk-parallel PARSE is kept, only the write-job split
      // (and with it mid-file resume for these tables) is given up.
      // Wide columns fill from the ≥2⁵² range, disjoint from any
      // explicit id, so they keep the batch split.
      val chunked = units.exists(_.isChunk)
      // parsed ONCE per table and threaded through every chunk batch:
      // per-batch re-parsing would pay B extra driver reads and let a
      // schema file mutated mid-import split one table across two
      // schema versions
      val schema = loadSchema(spark, cfg, d)
      // (auto-random is bigint by definition, so wideAuto filters it
      // out — only declared-narrow AUTO_INCREMENT forces one batch)
      val narrowAutoInc = chunked && schema.exists(_.columns.exists(c =>
        c.autoIncrement && !wideAuto(c)))
      val batches: Seq[Seq[DataUnit]] =
        if (chunked && !narrowAutoInc)
          units.grouped(math.max(1, cfg.chunkBatch)).toSeq
        else Seq(units)
      // bad-row counts are per-batch observations; the maxError gate
      // (and the reported total) must see their SUM across the whole
      // run, or a chunked table could pass with any error count buried
      // in a non-final batch. NB a resumed run cannot see pre-crash
      // batches' bad rows (the reference's error counters reset the
      // same way); the quarantine dir retains every batch's rows.
      var cumBad = 0L
      var result: TableReport = null
      batches.zipWithIndex.takeWhile { case (batch, i) =>
        // the pause gate also parks BETWEEN chunk batches — the
        // reference's Pauser stops a RUNNING import mid-table
        // (`restore.go:2412`), and a chunked table's batch boundary is
        // the closest consistent point: state is recorded, nothing is
        // half-written. Unchunked tables still park at table
        // boundaries only (one batch = one write job).
        if (i > 0) awaitUnpaused(cfg.pauseFile)
        val isLast = i == batches.size - 1
        val (rep, post) = restoreFiles(spark, cfg, d, batch, prior, maxId,
          schema, verify = isLast, priorRowid = rowidMax, taskTs = taskTs)
        doneTokens = doneTokens ++ batch.map(_.token)
        cumBad += rep.badRows
        // Fail fast once the error budget is provably blown (the
        // reference aborts when max-error is exceeded, it doesn't keep
        // importing): remaining batches would be hours of writes at
        // scale that the final gate then throws away. State records
        // "failed" with what landed so the quarantine dir + report
        // carry the evidence.
        if (!isLast && cumBad > cfg.maxError) {
          val failed = rep.copy(badRows = cumBad, checksumOk = false)
          recordState(state, key, doneTokens, failed, post, taskTsMillis)
          result = failed
        } else if (isLast) {
          val adjusted = rep.copy(badRows = cumBad,
            checksumOk = rep.checksumOk && cumBad <= cfg.maxError)
          recordState(state, key, doneTokens, adjusted, post, taskTsMillis)
          result = adjusted
        } else {
          state.put(JobState.Record(key, "imported", post.totalKvs, post.checksum,
            post.totalBytes, doneTokens, rep.maxRowId, rep.maxTidbRowid,
            taskTsMillis))
          prior = Some(post)
          maxId = rep.maxRowId
          rowidMax = rep.maxTidbRowid
          // test-only failpoint (the reference's GO_FAILPOINTS kill in
          // tests/checkpoint_chunks): simulate a crash between batches
          cfg.failpointAfterBatches.foreach { n =>
            if (i + 1 >= n) throw new IllegalStateException(
              s"failpoint: crashed after ${i + 1} chunk batches of $key")
          }
        }
        result == null // continue while no terminal report yet
      }
      result
    }
    // Table-level concurrency (reference `index-concurrency`/
    // `table-concurrency`, `tests/concurrent-restore`): each driver
    // thread submits one table's job chain; Spark's scheduler
    // interleaves their stages, so the cluster stays saturated while
    // any one table is in its low-parallelism tail (final ranges,
    // checksum collect). Report order stays the discovery order.
    val reports =
      if (cfg.tableConcurrency <= 1) tables.map(restoreOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.tableConcurrency)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val futs = tables.map(d => scala.concurrent.Future(restoreOne(d)))
          futs.map(f => scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        } finally pool.shutdown()
      }
    // Views restore after all tables, like the reference (views are
    // serialized last, `lightning/restore/restore.go:443-448`): each
    // imported table gets a plain-name temp view over its output so the
    // view's defining SELECT resolves, then the view DDL is replayed.
    val views = discoverViews(spark, cfg)
    if (views.nonEmpty) {
      // bare-name temp views: only unambiguous table names register
      // (two dbs with the same table name would silently shadow each
      // other); a missing output dir (stale state, re-pointed target)
      // is skipped rather than failing the run after imports succeeded
      val byName = tables.groupBy(_.table)
      tables.foreach { d =>
        if (byName(d.table).size == 1) {
          try spark.read.format(cfg.outputFormat)
            .load(s"${cfg.targetDir}/${d.db}.${d.table}")
            .createOrReplaceTempView(d.table)
          catch { case _: org.apache.spark.sql.AnalysisException => }
        }
      }
      // cross-database references (`db1`.`v1`) flatten onto the bare
      // temp-view namespace; views may depend on OTHER views restored
      // later in discovery order, so analysis failures defer to the
      // next pass until a fixpoint (reference `tests/view`: db0.v2
      // reads db1.v1 reads db1.tbl)
      val knownNames = (tables.map(_.table) ++ views.map(_._2))
        .map(_.toLowerCase).toSet
      def dequalify(sql: String): String =
        "`([^`]+)`\\s*\\.\\s*`([^`]+)`".r.replaceAllIn(sql, m =>
          java.util.regex.Matcher.quoteReplacement(
            if (knownNames(m.group(2).toLowerCase)) s"`${m.group(2)}`"
            else m.matched))
      // every pass re-creates EVERY resolvable view: a view created in
      // an earlier pass may have bound a dependency that a later pass
      // (re)defined — or a stale same-named temp view from a previous
      // run — and temp views capture the plan at creation time, so
      // only re-creation rebinds them. Passes are bounded by the view
      // count (each pass can extend a dependency chain by ≥1).
      var unresolved = Set.empty[String]
      (0 until math.max(1, views.size)).foreach { _ =>
        unresolved = views.flatMap { case (db, name, path) =>
          val ddl = CharsetReader.readSchemaFile(
            spark.sparkContext.hadoopConfiguration, path, cfg.charset)
          viewParts(ddl) match {
            case Some((cols, sel)) =>
              try {
                val df0 = spark.sql(dequalify(sel))
                // an explicit view column list renames the output
                val df = if (cols.nonEmpty) df0.toDF(cols: _*) else df0
                df.createOrReplaceTempView(name)
                None
              } catch {
                case _: org.apache.spark.sql.AnalysisException =>
                  Some(s"$db.$name")
              }
            case None => None
          }
        }.toSet
      }
      if (unresolved.nonEmpty)
        System.err.println(
          s"[views] unresolved after fixpoint: ${unresolved.mkString(", ")}")
    }
    reports
  }

  /** Cooperative pause gate (reference `Pauser`, `restore.go:2412`;
    * the server's `/pause` verb): while the configured pause file
    * exists, the import blocks BETWEEN table restores — a running
    * table's job chain finishes, nothing new starts. Deleting the file
    * resumes. Checked per table, so with table concurrency each worker
    * thread parks at its next table boundary.
    */
  private def awaitUnpaused(pauseFile: Option[String]): Unit =
    pauseFile.foreach { pf =>
      val p = java.nio.file.Paths.get(pf)
      while (java.nio.file.Files.exists(p)) Thread.sleep(200L)
    }

  /** Extract the defining SELECT from `CREATE … VIEW … AS SELECT …`
    * (MySQL dumps prepend ALGORITHM/DEFINER/SECURITY clauses; some
    * tools parenthesize the body: `AS (SELECT …)`).
    */
  private[pipeline] def viewSelect(ddl: String): Option[String] =
    viewParts(ddl).map(_._2)

  /** The view's explicit column list (empty when none) and its
    * defining SELECT. The SELECT is cut at its own terminating
    * top-level `;` — MyDumper view files surround the CREATE with
    * SET/DROP statements (reference `tests/view`), which must not
    * leak into the Spark SQL text.
    */
  private[pipeline] def viewParts(ddl: String): Option[(Seq[String], String)] =
    "(?is)\\bAS\\b\\s*(\\(?\\s*SELECT.*)".r.findFirstMatchIn(ddl).map { m =>
      val header = ddl.substring(0, m.start).trim
      val cols = "\\(([^()]*)\\)$".r.findFirstMatchIn(header)
        .map(_.group(1).split(",").toSeq
          .map(c => MysqlDdl.unquoteIdent(c.trim)).filter(_.nonEmpty))
        .getOrElse(Nil)
      var sel = cutAtSemicolon(m.group(1)).trim
      if (sel.startsWith("(") && sel.endsWith(")"))
        sel = sel.substring(1, sel.length - 1).trim
      (cols, sel)
    }

  /** Prefix of `s` up to (excluding) the first `;` outside quotes
    * and backticks.
    */
  private def cutAtSemicolon(s: String): String = {
    var i = 0; var q: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != 0) {
        // backslash escapes inside '…'/"…" literals (mysqldump emits
        // \' etc.); backticked identifiers have no backslash escapes
        if (c == '\\' && q != '`' && i + 1 < s.length) i += 1
        else if (c == q) q = 0
      } else c match {
        case '\'' | '"' | '`' => q = c
        case ';' => return s.substring(0, i)
        case _ =>
      }
      i += 1
    }
    s
  }

  private def recordState(state: JobState, key: String, tokens: Seq[String],
      report: TableReport, post: KvChecksum, taskTs: Long = 0L): Unit = {
    val status = if (report.checksumOk) "verified" else "failed"
    state.put(JobState.Record(key, status, post.totalKvs, post.checksum,
      post.totalBytes, tokens, report.maxRowId, report.maxTidbRowid, taskTs))
  }

  /** Restore `files` into the table's output. With `prior` set this is
    * an incremental append: the batch's observed checksum XOR-combines
    * with the prior triple and the read-back of the WHOLE output must
    * match the combination; `priorMaxId` rebases auto-increment
    * synthesis past the previous run's IDs.
    */
  /** No-schema mode (reference `tests/no_schema`, lightning's
    * `mydumper.no-schema` flag): when the dump carries no
    * `-schema.sql`, adopt the EXISTING target table's schema — names,
    * types, nullability — the way the reference imports into an
    * already-created downstream table. A missing target fails loudly,
    * mirroring the reference's abort when the table does not exist.
    * MySQL-only attributes (auto-increment, defaults, generation) have
    * no parquet representation, so none are synthesized.
    */
  private def targetSchema(spark: SparkSession, cfg: Config, d: Discovered): TableSchema = {
    val path = s"${cfg.targetDir}/${d.db}.${d.table}"
    val st =
      try spark.read.format(cfg.outputFormat).load(path).schema
      catch {
        case e: Throwable => throw new IllegalStateException(
          s"no-schema mode: target table $path must already exist with a readable schema", e)
      }
    TableSchema(Some(d.db), d.table,
      st.fields.toSeq.map(f => graft.schema.ColumnSpec(
        f.name, f.dataType.simpleString, f.dataType, f.nullable,
        default = None, generated = None, autoIncrement = false,
        unsigned = false, enumValues = Nil)),
      primaryKey = Nil)
  }

  /** The table's schema under the config's precedence rules: no-schema
    * mode IGNORES any -schema.sql in the dump (the reference's
    * --no-schema precedence: the pre-created downstream table is
    * authoritative, even when stale schema files are lying around the
    * dump directory).
    */
  private def loadSchema(spark: SparkSession, cfg: Config, d: Discovered): Option[TableSchema] =
    if (cfg.noSchema) Some(targetSchema(spark, cfg, d))
    else d.schemaFile.map { p =>
      MysqlDdl.parse(CharsetReader.readSchemaFile(
        spark.sparkContext.hadoopConfiguration, p, cfg.charset))
    }

  /** Only true bigint (and AUTO_RANDOM, bigint by definition) can hold
    * the high-range/partition-shifted synthesis schemes; anything
    * narrower takes the dense counting path. Classified by the MYSQL
    * type, not the Spark type: `int unsigned` maps to LongType but its
    * real domain tops out at 2³²−1.
    */
  private def wideAuto(c: graft.schema.ColumnSpec): Boolean =
    c.autoRandomBits.isDefined || c.mysqlType.startsWith("bigint")

  private def restoreFiles(spark: SparkSession, cfg: Config, d: Discovered,
      files: Seq[DataUnit],
      prior: Option[KvChecksum], priorMaxId: Long,
      schema0: Option[TableSchema],
      verify: Boolean = true,
      priorRowid: Long = 0L,
      taskTs: Option[java.sql.Timestamp] = None): (TableReport, KvChecksum) = {
    val dialect = dataDialect(cfg)
    // T6: tables without an integer handle carry `_tidb_rowid` — the
    // TRANSFORM schema gains the pseudo-column; readers that map BY
    // NAME (dump column lists, headered CSVs) read it from the source
    // when present, positional readers keep the original layout and
    // the column back-fills NULL below
    // no-schema mode mirrors the pre-created TARGET exactly — whether
    // it carries a rowid column is the target's business, never
    // synthesized here
    val rowidNeeded = !cfg.noSchema &&
      schema0.exists(rowidRequired(_, cfg.clusteredIndex))
    val schema: Option[TableSchema] =
      if (rowidNeeded) schema0.map(withRowid) else schema0
    // On-duplicate merges run with NO covering state against a target
    // that already holds rows — synthesized handles and auto-inc ids
    // must rebase past what is ALREADY THERE, or the kept existing
    // rows and the incoming fill would carry duplicate values the
    // checksum read-back could never catch (it expects the union).
    // One cheap column-pruned aggregate over the existing table.
    val (mergeBaseRowid, mergeBaseId) = {
      val autoIncName = schema0.flatMap(_.columns.find(_.autoIncrement)).map(_.name)
      if (cfg.onDuplicate.isEmpty || prior.isDefined ||
        (!rowidNeeded && autoIncName.isEmpty)) (0L, 0L)
      else {
        val p = new Path(s"${cfg.targetDir}/${d.db}.${d.table}")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) (0L, 0L)
        else {
          val existing = spark.read.format(cfg.outputFormat).load(p.toString)
          def maxOf(c: String): Long =
            if (!existing.columns.contains(c)) 0L
            else existing.agg(coalesce(max(col(c).cast("long")), lit(0L)))
              .head.getLong(0)
          (if (rowidNeeded) maxOf(TidbRowidCol) else 0L,
            autoIncName.map(maxOf).getOrElse(0L))
        }
      }
    }
    val effPriorRowid = math.max(priorRowid, mergeBaseRowid)
    val effPriorMaxId = math.max(priorMaxId, mergeBaseId)
    // a schema-only table (no data files) restores EMPTY — the
    // reference creates the table and imports zero rows
    // (`tests/tool_241` pins count(*)=0 for its dataless tables); a
    // zero-row all-string shard rides the identical transform/write/
    // verify chain, so the output carries the real column types
    if (files.isEmpty) {
      val names = schema.map(_.colNames).getOrElse(Seq.empty)
      if (names.isEmpty) throw new IllegalStateException(
        s"table ${d.db}.${d.table} has no data files and no readable " +
          "schema — nothing to restore")
    }
    val emptyShard: Seq[DataFrame] =
      if (files.nonEmpty) Nil
      else Seq(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          schema.get.colNames.map(n => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.StringType, nullable = true)))))
    val namesExt = schema.map(_.colNames).getOrElse(Seq.empty)
    val namesPos = schema0.map(_.colNames).getOrElse(Seq.empty)
    val shards0: Seq[DataFrame] = emptyShard ++ files.map { u =>
      u.kind match {
        case FileKind.Csv if u.isChunk =>
          // chunked CSV is always positional (headered files never
          // chunk) — original layout
          MySqlCsv.readRawChunk(spark, u.path, u.start, u.len, namesPos, dialect)
        case FileKind.Csv =>
          MySqlCsv.readRaw(spark, Seq(u.path),
            if (dialect.header) namesExt else namesPos, dialect,
            forceTokenizer = cfg.strictFormat && !cfg.csvDialect.header)
        case FileKind.Sql if u.isChunk =>
          DumpSource.readRawChunk(spark, u.path, u.start, u.len, namesExt)
        case FileKind.Sql =>
          DumpSource.readRaw(spark, Seq(u.path), namesExt, cfg.charset)
        case FileKind.Parquet => spark.read.parquet(u.path)
        case other => throw new IllegalStateException(s"unroutable kind $other")
      }
    }
    // positional shards lack the rowid column — back-fill NULL so the
    // shard union lines up
    val shards = if (!rowidNeeded) shards0 else shards0.map { df =>
      if (df.columns.exists(_.equalsIgnoreCase(TidbRowidCol))) df
      else df.withColumn(TidbRowidCol,
        org.apache.spark.sql.functions.lit(null).cast("string"))
    }
    // Hex literals leave the dump parser as lexical sentinels; resolve
    // them AFTER the shard union so (a) a table mixing SQL and CSV
    // shards unions as all-strings (an early BinaryType column on the
    // SQL side would fail the union — Spark does not coerce
    // string↔binary), and (b) the schema-less path still decodes the
    // sentinels as text instead of leaking them to the output.
    // Collision safety: dump-quoted strings that would masquerade as a
    // sentinel are str-guarded at parse, and parquet can't produce
    // one, so the dump path is collision-proof. Residual (documented):
    // the branch only runs when a SQL shard exists, and a CSV shard of
    // the SAME table whose field deliberately encodes a leading NUL +
    // "hex:" would resolve as hex — a shape no MySQL tool emits.
    val rawUnion = shards.reduce(_.unionByName(_))
    val union =
      if (!files.exists(_.kind == FileKind.Sql)) rawUnion
      else {
        // omitted-column defaults (T3 on the dump path) substitute
        // BEFORE hex resolution so a hex default still decodes
        // type-aware; CSV/parquet shards can't carry the sentinel
        val defaulted = schema
          .map(RowTransform.applyOmittedDefaults(rawUnion, _, taskTs))
          .getOrElse(rawUnion)
        schema.map(DumpSource.resolveHex(defaulted, _))
          .getOrElse(DumpSource.resolveHexText(defaulted))
      }
    // T4: auto-increment synthesis. A declared AUTO_INCREMENT column
    // that the source doesn't carry (header/column-list projection) is
    // synthesized from the chunk row-ID scheme; a NULL value in a
    // carried column gets the next ID too (MySQL's NULL→allocate
    // insert semantics, reference `lightning/backend/sql2kv.go:310-312`).
    // The base rebases past the prior run's max (allocator rebase,
    // `lightning/backend/allocator.go:23-61`).
    // T5: AUTO_RANDOM synthesis — shard bits from the (deterministic)
    // partition id, low bits from the chunk row-ID, exactly the
    // reference's composition (`lightning/backend/sql2kv.go:69-77,313-320`
    // uses a per-chunk seed the same way). Tracked/rebased by the LOW
    // bits, mirroring AUTO_RANDOM_BASE (`lightning/restore/tidb.go:369-382`).
    val autoRand = schema.flatMap(_.columns.find(_.autoRandomBits.isDefined))
    val autoInc = schema.flatMap(_.columns.find(_.autoIncrement)).orElse(autoRand)
    def synthFor(c: graft.schema.ColumnSpec, base: Long): org.apache.spark.sql.Column =
      c.autoRandomBits match {
        case Some(bits) => RowTransform.autoRandom(
          RowTransform.syntheticRowId(base),
          org.apache.spark.sql.functions.spark_partition_id(), bits)
        case None => RowTransform.syntheticRowId(base)
      }
    // The partition-shifted / high-range schemes produce values far
    // beyond 2³¹ — fine for bigint, but an int/smallint auto-inc
    // column would overflow to NULL in the cast. Narrow columns take
    // the dense counting scheme instead (RowTransform.denseIds — one
    // materialization pass, bounded by the narrow type's own
    // row-count ceiling).
    def wide(c: graft.schema.ColumnSpec): Boolean = wideAuto(c)
    // MySQL integer-domain ceiling for the dense-fill overflow guard
    def narrowTypeMax(c: graft.schema.ColumnSpec): Long = {
      val signedMax = c.mysqlType.takeWhile(_.isLetter).toLowerCase match {
        case "tinyint" => 127L
        case "smallint" => 32767L
        case "mediumint" => 8388607L
        case "int" | "integer" => 2147483647L
        case _ => Long.MaxValue // bigint handled by the wide path
      }
      if (c.unsigned) signedMax * 2 + 1 else signedMax
    }
    val FillCol = "_graft_fill_id"
    val merged = autoInc match {
      case Some(c) =>
        union.columns.find(_.equalsIgnoreCase(c.name)) match {
          case Some(existing) if wide(c) =>
            // NULL-allocate in a CARRIED column: fills come from a high
            // range (≥2⁵²) so they cannot collide with explicit IDs in
            // the same batch — a low-range fill computed before the
            // batch's explicit max is known could (MySQL bumps its
            // counter per row in insert order, which has no
            // order-independent distributed equivalent; the high range
            // is the same disjoint-space trick auto_random plays with
            // its shard bits)
            val base = math.max(effPriorMaxId, NullFillBase)
            union.withColumn(existing,
              coalesce(col(existing), synthFor(c, base).cast(union.schema(existing).dataType)))
          case Some(existing) =>
            // narrow column: dense fills above the batch's explicit max
            // — they must fit the type. ONE single-column agg finds the
            // max and the null count together; the common all-explicit
            // dump pays only that narrow pass, never the counting
            // materialization
            val stats = union.agg(
              max(col(existing).cast("long")),
              org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.when(col(existing).isNull, 1))).head
            val explicitMax = if (stats.isNullAt(0)) 0L else stats.getLong(0)
            val nNulls = stats.getLong(1)
            if (nNulls == 0L) union
            else {
              val base = math.max(effPriorMaxId, explicitMax)
              // fills are base + ROW POSITION (every row is numbered;
              // the coalesce picks it up only where the carried value
              // is NULL), so the highest fill is the LAST NULL ROW's id
              // — guard on exactly that, BEFORE the non-ANSI cast would
              // null an overflow out silently. The row-ID checkpoint's
              // one counting job reports that position
              val ids = RowTransform.denseIds(union, Some(existing))
              val maxFill = base + ids.lastNull
              val ceil = narrowTypeMax(c)
              if (maxFill > ceil) throw new IllegalStateException(
                s"auto-increment fill overflows ${c.mysqlType}" +
                  s"${if (c.unsigned) " unsigned" else ""} column " +
                  s"${d.db}.${d.table}.${c.name}: highest fill id $maxFill " +
                  s"exceeds the type max $ceil")
              ids.withIds(FillCol, base).withColumn(existing,
                  coalesce(col(existing), col(FillCol).cast(union.schema(existing).dataType)))
                .drop(FillCol)
            }
          case None if wide(c) =>
            // column fully absent: every ID is synthesized, so the
            // low range starting after the prior run's max is safe
            union.withColumn(c.name, synthFor(c, effPriorMaxId))
          case None =>
            RowTransform.chunkedRowId(union, c.name, effPriorMaxId)
        }
      case None => union
    }
    // T6 fill: NULL `_tidb_rowid` values (positional sources, rows
    // whose dump simply omitted it) allocate densely above
    // max(explicit max, prior run's max) — same discipline as the
    // narrow auto-inc fill, independent of it (a table can carry
    // both, reference `tests/tidb_rowid` non_pk_auto_inc). The explicit
    // max and the NULL count come from the row-ID checkpoint's one
    // counting job, so the source is parsed once; with no NULL the
    // sink still reads the stored blocks, not the dump
    val rowidFilled = if (!rowidNeeded) merged else {
      val rc = TidbRowidCol
      val ids = RowTransform.denseIds(merged, Some(rc))
      if (ids.nulls == 0L) ids.stable
      else {
        val RFill = "_graft_fill_tidb_rowid"
        ids.withIds(RFill, math.max(effPriorRowid, ids.explicitMax))
          .withColumn(rc, coalesce(col(rc), col(RFill).cast("string")))
          .drop(RFill)
      }
    }
    // Error-report side output (the reference's error tables record
    // the OFFENDING ROWS, not just a counter): raw rows failing ≥1
    // cast land as JSON beside the import for fix-and-reimport. An
    // extra pass over the parsed relation, paid only when the
    // quarantine is requested, writing only the bad rows.
    cfg.quarantineDir.foreach { qd =>
      schema.foreach { ts =>
        RowTransform.quarantineRows(rowidFilled, ts)
          .write
          // incremental resume appends to the main table — earlier
          // batches' quarantined rows must survive too
          .mode(if (prior.isDefined) "append" else "overwrite")
          .json(s"$qd/${d.db}.${d.table}")
      }
    }
    // schema application adds a cast-error counter column that rides
    // the write pass as an observed metric (error summary, reference
    // `tests/error_summary`) and is dropped before the files land
    val castPolicy =
      if (cfg.strictMode) RowTransform.CastPolicy.Strict
      else if (cfg.lenientCasts) RowTransform.CastPolicy.Lenient
      else RowTransform.CastPolicy.NullOut
    val typed = schema match {
      case Some(ts) =>
        GeneratedColumns(
          RowTransform.applySchemaWithErrors(rowidFilled, ts, castPolicy, taskTs),
          ts, cfg.sessionVars)
      case None => rowidFilled
    }
    val errCol = schema.map(_ => RowTransform.ErrorsCol)
    val dataCols = typed.columns.toSeq.filterNot(errCol.contains)
    val sortCols = schema.map(_.primaryKey).filter(_.nonEmpty)
      .getOrElse(dataCols.take(1))
    // PARTITION BY key from the DDL → partitioned directory layout
    // (`tests/partitioned-table` analog): reads through the output
    // prune at the file listing. Resolved case-insensitively against
    // the real output columns; an unknown name is ignored (harmless,
    // like the reference ignoring placement it can't act on).
    val partCols = schema.map(_.partitionBy).getOrElse(Nil)
      .flatMap(p => dataCols.find(_.equalsIgnoreCase(p)))
    val out = s"${cfg.targetDir}/${d.db}.${d.table}"
    // TiDB-backend analog (reference `tikv-importer.on-duplicate`,
    // `tests/tidb_duplicate_data`): a fresh import into a target that
    // ALREADY HOLDS rows (e.g. a prior run that died mid-import with no
    // checkpoint) merges against them on the primary key — "replace"
    // (incoming wins), "ignore" (existing wins), "error" (MySQL's
    // `Duplicate entry` failure). Only the no-covering-state path
    // merges: a checkpointed resume already proves disjointness.
    // The merged table REWRITES (existing side localCheckpoint'ed
    // first — reading and overwriting the same files otherwise races);
    // the pre-write checksum then covers exactly the final table, so
    // the read-back gate still holds. At 100 TB the production path is
    // the checkpointed resume; this policy path is the
    // compatibility surface for the reference's tidb backend.
    val typedMerged = (cfg.onDuplicate, schema.map(_.primaryKey).getOrElse(Nil)) match {
      case (Some(policy), pk) if pk.nonEmpty && prior.isEmpty && {
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(p)
      } =>
        val existing = spark.read.format(cfg.outputFormat).load(out)
          .localCheckpoint(true)
        val pkCols = pk.map(col)
        val incomingCols = typed.columns.filterNot(errCol.contains)
        // align the read-back to the incoming layout; the counter
        // column is 0 for rows that already passed a previous import
        val existingAligned = existing.select(incomingCols.map(col).toSeq: _*)
        policy match {
          case "error" =>
            val dup = existingAligned.join(typed, pk, "inner")
              .select(pkCols: _*).limit(1).collect()
            if (dup.nonEmpty) throw new IllegalStateException(
              s"Duplicate entry '${dup(0).toSeq.mkString("-")}' for key " +
                s"'${d.db}.${d.table}.PRIMARY' (on-duplicate=error)")
            typed
          case "replace" =>
            val kept = existingAligned.join(typed.select(pkCols: _*), pk, "left_anti")
            errCol.foldLeft(kept)((df, e) => df.withColumn(e, lit(0L)))
              .select(typed.columns.map(col).toSeq: _*).union(typed)
          case "ignore" =>
            val incoming = typed.join(existingAligned.select(pkCols: _*), pk, "left_anti")
            errCol.foldLeft(existingAligned)((df, e) => df.withColumn(e, lit(0L)))
              .select(typed.columns.map(col).toSeq: _*).union(incoming)
          case other => throw new IllegalArgumentException(
            s"on-duplicate=$other: expected replace|ignore|error")
        }
      case _ => typed
    }
    // Pre-write checksum rides the write pass as an observed metric —
    // one scan of the source instead of two (the parse/cast plan is
    // expensive; at 100 TB a separate pre-pass doubles import cost).
    // Attached above the range shuffle: see SortedParquetSink.writeObserved.
    val obs = org.apache.spark.sql.Observation()
    val toWrite = cfg.failpointPartialRows
      .map(typedMerged.limit).getOrElse(typedMerged)
    SortedParquetSink.writeObservedMetrics(toWrite, out, sortCols, obs,
      _ => Checksum.checksumColOf(dataCols) +:
        (errCol.toSeq.map(e => coalesce(sum(col(e)), lit(0L)).as("bad_rows")) ++
          (if (rowidNeeded)
            Seq(coalesce(max(col(TidbRowidCol).cast("long")), lit(0L))
              .as("max_tidb_rowid"))
          else Nil) ++
          autoInc.map { c =>
            // auto_random rebases by its LOW (row-ID) bits only — the
            // shard prefix is not part of the allocation counter
            val idCol = c.autoRandomBits match {
              case Some(bits) =>
                col(c.name).cast("long").bitwiseAND((1L << (63 - bits)) - 1)
              case None => col(c.name).cast("long")
            }
            coalesce(max(idCol), lit(0L)).as("max_row_id")
          }),
      dropCols = errCol.toSeq,
      mode = if (prior.isDefined) "append" else "overwrite",
      partitionCols = partCols, format = cfg.outputFormat)
    // the partial-rows failpoint fails AFTER the (truncated) write
    // lands and BEFORE any state is recorded — the crash shape the
    // duplicate-data corpus needs
    cfg.failpointPartialRows.foreach { n =>
      throw new IllegalStateException(
        s"failpoint: imported $n rows of ${d.db}.${d.table}, then failed")
    }
    val pre = Checksum.fromMetric(obs.get("kv_checksum"))
    val badRows = errCol.map(_ => obs.get("bad_rows").asInstanceOf[Long]).getOrElse(0L)
    val maxRowId = autoInc
      .map(_ => math.max(effPriorMaxId, obs.get("max_row_id").asInstanceOf[Long]))
      .getOrElse(0L)
    val maxTidbRowid =
      if (rowidNeeded)
        math.max(effPriorRowid, obs.get("max_tidb_rowid").asInstanceOf[Long])
      else 0L
    val expected = prior.map(_.add(pre)).getOrElse(pre)
    if (!verify) {
      // intermediate chunk batch: no read-back — the returned triple is
      // the accumulated pre-write expectation, carried forward by the
      // caller and proven by the FINAL batch's whole-table read-back
      // (the reference likewise checksums once after all chunks land)
      return (TableReport(d.db, d.table, expected.totalKvs, expected.checksum,
        checksumOk = badRows <= cfg.maxError, skipped = false,
        badRows = badRows, maxRowId = maxRowId,
        maxTidbRowid = maxTidbRowid), expected)
    }
    // Partitioned output read-back needs the WRITTEN schema: directory-
    // encoded partition columns would otherwise come back type-inferred
    // and appended last, and the canonical row encoding the checksum
    // hashes is column-order- and type-sensitive.
    val writtenSchema = org.apache.spark.sql.types.StructType(
      typed.schema.filterNot(f => errCol.contains(f.name)))
    val readBack =
      if (partCols.nonEmpty)
        spark.read.schema(writtenSchema).format(cfg.outputFormat).load(out)
      else spark.read.format(cfg.outputFormat).load(out)
    val post = collectChecksum(readBack)
    // Duplicate-key guard on a single-column auto-inc PRIMARY KEY:
    // MySQL rejects these at insert; the accumulated checksum cannot
    // (it expects every pre-write row, duplicates included). Catches
    // both source dumps carrying explicit duplicates and the one fill
    // scheme that can manufacture them — dense narrow fills from an
    // earlier RUN colliding with explicit ids a later resume appends.
    // One column-pruned agg beside the full read-back scan. The
    // verdict FAILS THE REPORT (the checksum-mismatch path) rather
    // than throwing: a throw here would skip the caller's state
    // record, leave the stale "verified" record + token set behind,
    // and make every retry re-append the same units — the "failed"
    // record instead forces a clean full overwrite on the next run.
    val dupIds: Option[String] = autoInc
      .filter(c => schema.exists(_.primaryKey.map(_.toLowerCase) == Seq(c.name.toLowerCase)))
      .flatMap(c => readBack.columns.find(_.equalsIgnoreCase(c.name)))
      .flatMap { cn =>
        val r = readBack.agg(
          org.apache.spark.sql.functions.count(col(cn)),
          countDistinct(col(cn))).head
        if (r.getLong(0) == r.getLong(1)) None
        else Some(s"duplicate auto-increment primary key values in " +
          s"${d.db}.${d.table}.$cn: ${r.getLong(0)} non-null rows but only " +
          s"${r.getLong(1)} distinct ids (explicit ids colliding with earlier " +
          "fills, or duplicates in the source); table marked failed, next run " +
          "re-imports it from scratch")
      }
    dupIds.foreach(System.err.println)
    val ok = Checksum.matches(expected, post) && badRows <= cfg.maxError &&
      dupIds.isEmpty
    // A7: collect catalog statistics once the table verified
    val statsRows =
      if (ok && cfg.analyze)
        Analyze.analyze(spark, s"${d.db}.${d.table}", out, cfg.outputFormat)
      else None
    (TableReport(d.db, d.table, post.totalKvs, post.checksum,
      checksumOk = ok, skipped = false, statsRows = statsRows, badRows = badRows,
      maxRowId = maxRowId, maxTidbRowid = maxTidbRowid), post)
  }

  private def collectChecksum(df: DataFrame): KvChecksum = {
    val r = Checksum.tableChecksum(df).collect()(0)
    KvChecksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
