package graft.sources

import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.schema.TableSchema
import graft.transform.RowTransform

/** SQL-dump (MyDumper `INSERT INTO … VALUES (…),(…);`) source —
  * SURVEY S5, the operator Spark has no builtin for. The reference
  * implements it as a Ragel-generated state machine over byte chunks
  * (`lightning/mydump/parser.go:319-521`, `parser.rl`); here it is a
  * hand-rolled scanner with the same token surface: NULL, TRUE/FALSE,
  * numbers (overflow kept lexical), quoted strings with MySQL
  * backslash-escape + doubled-quote rules, hex (0x…/x'…') and bit
  * (b'…') literals.
  *
  * Distribution model, three reads over one scanner:
  *  - [[readRaw]]: one task per dump file (`wholetext` read → flatMap
  *    over statements), for any charset and codec. MyDumper splits
  *    large tables into many ≤256 MiB files (the reference never
  *    byte-splits SQL files, `lightning/mydump/region.go:236-286`,
  *    because a split can land inside a string literal).
  *  - [[readRawChunk]]: one byte range of a strict-format file, the
  *    unit of chunked, resumable imports.
  *  - [[readRawSplit]]: one uncompressed native-UTF-8 file as about one
  *    byte range per core, with no format precondition: each range
  *    reports where its scan met statements, and the import keeps the
  *    split only when those offsets prove it parsed as the whole file
  *    does ([[SplitRead.chainBreak]]).
  *
  * Output is late-typed (all strings, like the CSV path); callers cast
  * via [[RowTransform.applySchema]].
  */
object DumpSource {

  def read(
      spark: SparkSession,
      paths: Seq[String],
      schema: TableSchema): DataFrame =
    RowTransform.applySchema(
      resolveHex(RowTransform.applyOmittedDefaults(
        readRaw(spark, paths, schema.colNames), schema), schema), schema)

  /** Untyped read: parses every INSERT/REPLACE statement in the files.
    * Column names default to the table column order; statements with an
    * explicit column list are projected onto `colNames` by name.
    *
    * `charset` routes non-UTF-8 DATA files (reference
    * `[mydumper] data-character-set`, `lightning/mydump/reader.go`)
    * through a whole-file byte read + [[CharsetReader.decode]] — the
    * distribution model is unchanged (one task per ≤256 MiB dump
    * file), only the decode differs. UTF-8/auto keeps Spark's native
    * text read.
    */
  def readRaw(spark: SparkSession, paths: Seq[String], colNames: Seq[String],
      charset: String = "utf8"): DataFrame = {
    val n = colNames.size
    val names = colNames.map(_.toLowerCase)
    val outSchema = StructType(colNames.map(StructField(_, StringType, nullable = true)))
    val files: org.apache.spark.sql.Dataset[String] =
      if (CharsetReader.isNativeUtf8(charset))
        spark.read.option("wholetext", "true").textFile(paths: _*)
      else {
        import spark.implicits._
        val sc = spark.sparkContext
        // one binaryFiles call PER path, unioned: binaryFiles treats
        // its string as a comma-separated list, so a joined
        // `paths.mkString(",")` would split a legal file name
        // containing a comma into two nonexistent paths
        paths.map(sc.binaryFiles(_))
          .reduce(_ union _)
          .map { case (p, stream) =>
            // binaryFiles hands back raw bytes — unlike textFile it
            // applies no codec, so compressed dumps decompress here
            // before the charset decode
            // lenient: DATA files replace invalid sequences instead of
            // aborting (reference data-invalid-char-replace; only
            // SCHEMA decode is strict)
            CharsetReader.decode(decompress(p, stream.toArray()), charset,
              lenient = true)
          }
          .toDS()
      }
    val rows = files.rdd.flatMap { text =>
      // statementIterator is lazy: peak task memory is the file text
      // plus ONE statement's rows, not the whole file parsed up front
      statementIterator(text).flatMap(stmtRows(_, names, n))
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** One statement's rows permuted onto the schema column order — the
    * SINGLE projection recipe shared by [[readRaw]] and
    * [[readRawChunk]], so explicit-column-list handling can't drift
    * between the whole-file and chunked paths.
    */
  private def stmtRows(stmt: Insert, names: Seq[String], n: Int): Seq[Row] = {
    stmt.columns match {
      case None =>
        // positional: `VALUES ()` is MySQL's all-defaults row; a
        // non-empty tuple maps 1:1 (short tuples null-pad — the
        // bad-row tolerance, MySQL would reject the arity)
        stmt.rows.map { vals =>
          if (vals.isEmpty) Row(Seq.fill(n)(DefaultSentinel): _*)
          else Row((0 until n).map(i =>
            if (i < vals.length) vals(i) else null): _*)
        }
      case Some(cs) =>
        // explicit list (possibly empty): a column NOT in the list
        // takes its DEFAULT (distinct from an explicit NULL value) —
        // reference sql2kv getDefault / tests/default-columns
        val perm = names.map(c => cs.indexWhere(_.equalsIgnoreCase(c)))
        stmt.rows.map { vals =>
          Row(perm.map(i =>
            if (i < 0) DefaultSentinel
            else if (i < vals.length) vals(i)
            else null): _*)
        }
    }
  }

  /** Read one byte-range chunk of an uncompressed UTF-8 dump file —
    * the `.sql` face of the CSV chunk reader, sharing its ownership
    * convention (Hadoop `LineRecordReader`'s): a chunk owns every
    * statement whose INSERT keyword sits on a line that STARTS inside
    * `[start, start+len)`; the partial first line belongs to the
    * previous chunk, and the statement crossing the end boundary is
    * finished by reading past it. Line starts are safe scan anchors
    * because dump string literals never contain raw newlines
    * (mysqldump/MyDumper escape LF/CR — the [[closeOfQuote]] clamp
    * enforces exactly this), so a chunk can never begin mid-literal.
    *
    * The tail window past the chunk end grows geometrically until the
    * boundary line closes and every owned statement parses clean of
    * the window end (or EOF), so an owned statement is never silently
    * truncated; the worst case (one statement spanning the whole rest
    * of the file) degrades to the whole-file read's memory shape.
    * Boundary arithmetic is done in BYTES (a '\n' byte is never part
    * of a multi-byte UTF-8 sequence) and converted to char offsets by
    * counting code units, so a chunk end that splits a multi-byte
    * character still decodes through the single combined buffer.
    */
  def readRawChunk(
      spark: SparkSession,
      path: String,
      start: Long,
      len: Long,
      colNames: Seq[String],
      tailWindowBytes: Long = 4L << 20): DataFrame =
    readRanges(spark, path, colNames, Seq((start, len)), tailWindowBytes, None)

  /** The smallest byte range [[readRawSplit]] cuts a dump into. */
  val SplitMinRangeBytes: Long = 1L << 20

  /** A split range's first tail window: small, because the window only
    * has to reach past the statement crossing the range end and the
    * head of the next one; it grows geometrically from here.
    */
  private val SplitTailBytes = 32L << 10

  /** Range-parallel read of ONE uncompressed, native-UTF-8 dump file:
    * about one byte range per core (`defaultParallelism`), none smaller
    * than `minRangeBytes`; None when the file has room for only one.
    * Each range is a [[chunkInserts]] task in handshake mode: it never
    * fails on the strict-format preconditions, and reports its
    * statement offsets ([[Spans]]) so [[SplitRead.chainBreak]] can
    * decide — once a job has parsed every range — whether the ranges
    * together produced exactly the whole-file parse. Partitions are in
    * file order, so row positions match [[readRaw]]'s.
    */
  def readRawSplit(spark: SparkSession, path: String, colNames: Seq[String],
      minRangeBytes: Long = SplitMinRangeBytes): Option[SplitRead] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fileLen = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hp).getLen
    val ranges = math.min(spark.sparkContext.defaultParallelism.toLong,
      fileLen / math.max(1L, minRangeBytes)).toInt
    if (ranges < 2) None
    else {
      val size = (fileLen + ranges - 1) / ranges
      val edges = spark.sparkContext.collectionAccumulator[(Int, Edge)](s"dump ranges of $path")
      val df = readRanges(spark, path, colNames,
        (0 until ranges).map(i => (i * size, math.min(size, fileLen - i * size))),
        SplitTailBytes, Some(edges))
      Some(new SplitRead(df, path, fileLen, ranges, edges))
    }
  }

  /** A [[readRawSplit]] result: the rows, and the statement handshake
    * over what its ranges reported.
    */
  final class SplitRead private[sources] (
      val df: DataFrame,
      path: String,
      fileLen: Long,
      ranges: Int,
      edges: org.apache.spark.util.CollectionAccumulator[(Int, Edge)]) {

    /** None when every range reported and the chain of offsets holds,
      * i.e. the ranges' rows are exactly the whole-file parse; else why
      * not. Meaningful only after a job has computed every partition of
      * `df` (a task retry may report twice, with the same values).
      */
    def chainBreak: Option[String] = {
      import scala.jdk.CollectionConverters._
      val byRange = edges.value.asScala.toSeq.groupMap(_._1)(_._2)
      DumpSource.chainBreak((0 until ranges).map(i => byRange.getOrElse(i, Nil).distinct),
        fileLen).map(why => s"$path: $why")
    }
  }

  /** What a handshake-mode [[chunkInserts]] range reports. */
  private[sources] sealed trait Edge

  /** Byte offsets in the file: `first` = keyword of the first statement
    * the range's scan accepted (owned or not); `next` = keyword of the
    * first statement at or after its ownership boundary (the first line
    * start at or after the range end), or the file length when the scan
    * reached EOF without one. -1 = unknown: malformed UTF-8 before the
    * keyword leaves its byte offset unknown.
    */
  private[sources] final case class Spans(first: Long, next: Long) extends Edge

  /** No line starts inside the range: it owns nothing, and its
    * neighbours' boundaries coincide, so the chain passes through it.
    */
  private[sources] case object NoLine extends Edge

  /** The statement handshake over ranges 0..k-1 (each with the distinct
    * edges it reported): None — the ranges' rows are the whole-file
    * parse — when every range reported once, F_i == N_{i-1} for every
    * range i ≥ 1 that holds a line start (skipping [[NoLine]] ranges),
    * and the last N is the file length. By induction: range 0 scans from byte 0, as the whole-file parse
    * does, so its N is the whole-file parse's first statement at or
    * after range 1's start; a range whose own scan first accepts a
    * statement exactly there lexes from it on exactly as the whole-file
    * parse does (the scanner's only state is its position), so it emits
    * the same statements up to its boundary and names the same next
    * one. A scan that started inside a literal or comment and found a
    * phantom, or skipped a real statement, first-accepts some other
    * offset and breaks the chain.
    */
  private[sources] def chainBreak(edges: IndexedSeq[Seq[Edge]], fileLen: Long): Option[String] = {
    var handover = -1L
    var i = 0
    while (i < edges.size) {
      edges(i) match {
        case Seq(NoLine) =>
        case Seq(Spans(first, next)) =>
          if (i > 0 && first != handover)
            return Some(s"range $i first accepts a statement at byte $first, but the " +
              s"ranges before it hand over at byte $handover")
          if (next < 0) return Some(s"range $i could not place the statement after its end in bytes")
          handover = next
        case Seq() => return Some(s"range $i reported no offsets")
        case many => return Some(s"range $i reported ${many.mkString(", ")}")
      }
      i += 1
    }
    if (handover == fileLen) None
    else Some(s"the last range hands over at byte $handover, not at EOF ($fileLen)")
  }

  /** One task per (start, len) byte range of `path`, in order, each a
    * [[chunkInserts]] scan; `edges` switches the scans to handshake mode
    * and collects their reports by range index.
    */
  private def readRanges(spark: SparkSession, path: String, colNames: Seq[String],
      ranges: Seq[(Long, Long)], tailWindowBytes: Long,
      edges: Option[org.apache.spark.util.CollectionAccumulator[(Int, Edge)]]): DataFrame = {
    require(colNames.nonEmpty, "chunked dump read requires schema column names")
    val n = colNames.size
    val names = colNames.map(_.toLowerCase)
    val outSchema = StructType(colNames.map(StructField(_, StringType, nullable = true)))
    val confEntries = ConfShip.entries(spark)
    val rows = spark.sparkContext.parallelize(ranges.zipWithIndex, ranges.size)
      .flatMap { case ((s0, l), i) =>
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(ConfShip.rebuild(confEntries))
        val fileLen = fs.getFileStatus(hp).getLen
        val in = fs.open(hp)
        // the chunk iterator is LAZY (one statement in flight): the
        // stream must outlive this lambda and close at task end — a
        // try/finally here would close it before Spark consumed a row
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        chunkInserts((pos, buf) => in.readFully(pos, buf, 0, buf.length),
          fileLen, s0, l, tailWindowBytes, edges.map(acc => (e: Edge) => acc.add((i, e))))
          .flatMap(stmtRows(_, names, n))
      }
      .setName(s"dump ranges of $path")
    spark.createDataFrame(rows, outSchema)
  }

  /** The chunk scan against any positional reader (`read(pos, buf)`
    * fills `buf` from byte offset `pos`) — ONE implementation behind
    * the Hadoop-FS tasks of [[readRawChunk]] and [[readRawSplit]] and
    * the in-memory grid-sweep specs, so boundary arithmetic is pinned
    * where it can be swept exhaustively.
    *
    * With `edge` set (handshake mode, [[readRawSplit]]) the scan never
    * throws on the strict-format preconditions — a range that starts
    * inside a multi-line comment or literal is caught by the handshake
    * instead — and reports its [[Edge]] once it finishes.
    */
  private[sources] def chunkInserts(
      read: (Long, Array[Byte]) => Unit,
      fileLen: Long, start: Long, len: Long,
      tailWindowBytes: Long,
      edge: Option[Edge => Unit] = None): Iterator[Insert] = {
    val end = math.min(start + len, fileLen)
    // snap: first line start at or after `start` (the start-1 trick —
    // a chunk landing exactly on a line start keeps that line)
    val snap =
      if (start == 0L) 0L
      else {
        var pos = start - 1
        var found = -1L
        while (found < 0 && pos < end) {
          val want = math.min(8192L, end - pos).toInt
          val window = new Array[Byte](want)
          read(pos, window)
          var i = 0
          while (found < 0 && i < want) {
            if (window(i) == '\n') found = pos + i + 1
            i += 1
          }
          pos += want
        }
        found // -1: the whole range is the middle of one line
      }
    // a byte[] window caps at Int range; chunk grids are far below it
    // (256 MiB default) and a window driven past it by one enormous
    // statement/boundary line must fail loudly, not wrap negative
    val maxWindow = (Int.MaxValue - 64).toLong
    if (snap < 0 || snap >= end) { edge.foreach(_(NoLine)); Iterator.empty }
    else if (end - snap > maxWindow)
      throw new IllegalStateException(
        s"dump chunk [$start+$len) spans ${end - snap} bytes after the " +
          "line snap — over the 2 GiB window limit; lower chunkBytes")
    else new Iterator[Insert] {
      // STREAMING emit: one statement in flight, never the chunk's
      // whole parsed row set (a 256 MiB chunk's rows in Java-object
      // form are several times the chunk — the eager shape would OOM
      // real executors where the whole-file path streams). Emitting
      // before the window is proven big enough is safe because (a)
      // char offsets are stable under growth — the text only extends
      // at its end — so validation and lexing RESUME at the last
      // emitted statement's offset, never re-parsing what was emitted,
      // and (b) the loud preconditions (multi-line comment, 2 GiB
      // window) THROW, failing the whole Spark task, whose partial
      // output is discarded.
      private var tailLen = math.min(tailWindowBytes, fileLen - end)
      private var growStep = math.max(1L, tailWindowBytes)
      private var eof = false
      // the window's bytes from `snap`; growth appends the new tail
      // only, so a range's bytes are read once however often it grows
      private var bytes = Array.emptyByteArray
      private var text: String = null
      private var boundaryByte = 0
      private var boundaryChars = 0
      private var scanner: scala.collection.BufferedIterator[(Insert, Int, Int)] = null
      private var lastResume = 0 // resume offset of the last emitted statement
      private var pending: Insert = null
      private var finished = false
      private var firstKw = -1 // char offset of the first accepted statement

      private val ownedLen = (end - snap).toInt
      private val handshake = edge.isDefined

      /** (Re)read + decode the current window; false = must grow
        * before any scanning (boundary line or a block comment still
        * open at the window end — both only possible when !eof, so
        * growth always makes progress).
        */
      private def load(): Boolean = {
        if (ownedLen + tailLen > maxWindow)
          throw new IllegalStateException(
            s"dump chunk window at [$start+$len) grew past 2 GiB without " +
              "closing a statement or boundary line; the file is not " +
              "strict-format — import it without chunking")
        eof = end + tailLen >= fileLen
        val want = (ownedLen + tailLen).toInt
        if (bytes.length < want) {
          val more = new Array[Byte](want - bytes.length)
          read(snap + bytes.length, more)
          val grown = java.util.Arrays.copyOf(bytes, want)
          System.arraycopy(more, 0, grown, bytes.length, more.length)
          bytes = grown
        }
        val buf = bytes
        // ownership cutoff: first line start at byte offset >= ownedLen
        boundaryByte =
          if (buf(ownedLen - 1) == '\n') ownedLen
          else {
            var i = ownedLen
            while (i < buf.length && buf(i) != '\n') i += 1
            if (i < buf.length) i + 1
            else if (eof) buf.length
            else return false // boundary line still open at window end
          }
        // byte offset -> UTF-16 code units: one per non-continuation
        // byte, plus one more per 4-byte lead (surrogate pair). Exact
        // for valid UTF-8, which strict-format machine dumps are.
        boundaryChars = 0
        var bi = 0
        while (bi < boundaryByte) {
          val b = buf(bi) & 0xFF
          if ((b & 0xC0) != 0x80) boundaryChars += (if (b >= 0xF0) 2 else 1)
          bi += 1
        }
        text = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        // chunking precondition: no multi-line plain block comments — a
        // later chunk would snap to a line start INSIDE one and lex its
        // body as SQL (phantom rows the checksum would then bless).
        // Fail the import loudly rather than corrupt silently;
        // single-line comments (all mysqldump/MyDumper ever emit) and
        // versioned comments (bodies are executable SQL) pass.
        // Validation and lexing both RESUME at lastResume — a
        // plain-SQL-context offset whose prefix every earlier (smaller)
        // window already validated and emitted — so window growth
        // re-decodes bytes (bounded ~2x total by the geometric growth)
        // but never re-parses emitted statements.
        val (multilineAt, untermAt) =
          blockCommentIssue(text, lastResume, multilineFails = !handshake)
        // a SINGLE-chunk file has no other boundary to land inside the
        // comment, so the hazard cannot arise — the parse is equivalent
        // to the whole-file path (reference tests/checkpoint_engines
        // ships a multi-line comment in a file small enough to stay one
        // chunk)
        val wholeFile = start == 0L && end >= fileLen
        if (multilineAt >= 0 && !wholeFile)
          throw new IllegalStateException(
            s"multi-line block comment at offset $multilineAt breaks dump " +
              "chunking (a chunk boundary inside it would misparse); this " +
              "file is not strict-format — import it without chunking")
        if (untermAt >= 0) {
          if (!eof) { text = null; return false } // closer beyond window
          if (!handshake && text.indexOf('\n', untermAt) >= 0)
            throw new IllegalStateException(
              s"unterminated block comment at offset $untermAt spans lines; " +
                "not strict-format — import without chunking")
          // single-line trailing garbage at EOF: scanner recovery handles it
        }
        scanner = statementsWithOffsets(text, lastResume).buffered
        true
      }

      private def growWindow(): Unit = {
        tailLen = math.min(fileLen - end, tailLen + growStep)
        growStep *= 2
        text = null
        scanner = null
      }

      /** File byte offset of char offset `c` of the window, or -1 when
        * the decode replaced malformed bytes before it (the char/byte
        * mapping is then unknown).
        */
      private def fileByte(c: Int): Long =
        if (text.lastIndexOf('\uFFFD', c - 1) >= 0) -1L
        else {
          var b = if (c >= boundaryChars) boundaryByte else 0
          var k = if (c >= boundaryChars) boundaryChars else 0
          while (k < c) {
            val x = bytes(b) & 0xFF
            if ((x & 0xC0) != 0x80) k += (if (x >= 0xF0) 2 else 1)
            b += 1
          }
          while (b < bytes.length && (bytes(b) & 0xC0) == 0x80) b += 1
          snap + b
        }

      /** Stop; in handshake mode report the edge, `next` being the
        * char offset of the first statement past the boundary, the
        * text length at EOF, or -1 when unknown.
        */
      private def finish(next: Int): Unit = {
        finished = true
        edge.foreach { report =>
          val n = if (next < 0) -1L else if (next >= text.length) fileLen else fileByte(next)
          report(Spans(if (firstKw < 0) n else fileByte(firstKw), n))
        }
      }

      @annotation.tailrec
      private def advance(): Unit =
        if (pending == null && !finished) {
          if (text == null) {
            if (!load()) growWindow()
            advance()
          } else if (scanner.hasNext) {
            val (ins, kw, resume) = scanner.head
            if (kw >= boundaryChars) {
              // the next chunk's statement. The handshake names it only
              // from a line the window holds whole: on the window's cut
              // last line, a quote or keyword test that ran into the
              // window end may have lexed otherwise than the whole file
              if (handshake && !eof && text.indexOf('\n', kw) < 0) { growWindow(); advance() }
              else finish(kw)
            }
            else if (!eof && resume >= text.length) { growWindow(); advance() }
            else {
              scanner.next()
              pending = ins
              lastResume = resume
              if (firstKw < 0) firstKw = kw
            }
          } else if (eof) finish(text.length)
          else {
            // scanner exhausted without crossing: owned keywords it
            // skipped with only window-end behind them are
            // indistinguishable from truncation — probe EVERY one (a
            // skipped keyword a full head-probe before the window end
            // is proven noise; proven noise can precede a genuinely
            // truncated INSERT head closer to the end, so stopping at
            // the first keyword would drop that owned statement).
            var kw = nextStatementKeyword(text, lastResume)
            var mustGrow = false
            while (!mustGrow && kw >= 0 && kw < boundaryChars) {
              if (text.length - kw < HeadProbeChars) mustGrow = true
              else kw = nextStatementKeyword(text, kw + 1)
            }
            // the handshake also needs the statement after the
            // boundary: grow until one turns up or EOF (never more bytes
            // than the whole-file re-read a broken chain would cost)
            if (mustGrow || handshake) { growWindow(); advance() }
            else finish(-1)
          }
        }

      override def hasNext: Boolean = {
        advance()
        pending != null
      }

      override def next(): Insert = {
        advance()
        if (pending == null) throw new NoSuchElementException("no more statements")
        val r = pending
        pending = null
        r
      }
    }
  }

  /** A failed head-parse more than this far from the window end is
    * proven noise (a real `INSERT INTO tbl (cols) VALUES` head
    * resolves in far less), not truncation — bounds the window growth
    * a noise keyword near EOF could otherwise drive to the whole file.
    */
  private val HeadProbeChars = 1 << 20

  /** Inflate `.gz`/`.bz2` payloads (the two codecs discovery admits,
    * `FileRouter.requireReadable`); anything else passes through.
    */
  private def decompress(path: String, raw: Array[Byte]): Array[Byte] = {
    def readAll(in: java.io.InputStream): Array[Byte] =
      try {
        // size hint capped at 256 MiB: raw.length * 4 overflows Int
        // past 512 MiB, and an eager multi-GiB initial array would
        // itself OOM — the stream doubles on demand beyond the hint
        val out = new java.io.ByteArrayOutputStream(
          math.min(256L << 20, raw.length * 4L).toInt)
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    if (path.endsWith(".gz"))
      readAll(new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw)))
    else if (path.endsWith(".bz2")) {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(new org.apache.hadoop.conf.Configuration())
      readAll(codec.createInputStream(new java.io.ByteArrayInputStream(raw)))
    } else raw
  }

  /** One parsed INSERT/REPLACE. `columns` distinguishes the three
    * MySQL head shapes: None = no column list (positional), Some(cs)
    * = explicit list, Some(Nil) = explicit EMPTY list `()` — every
    * column takes its default (reference `tests/default-columns`).
    */
  case class Insert(table: String, columns: Option[Seq[String]], rows: Seq[Array[String]])

  /** Parse all INSERT/REPLACE statements in a file's text (strict form
    * of [[statementIterator]], used by tests and small inputs).
    */
  def parseStatements(text: String): Seq[Insert] = statementIterator(text).toSeq

  /** Lazy statement scanner. Skips comments, quoted strings and other
    * statements between INSERTs the way the reference's lexer does
    * (`lightning/mydump/parser.rl`'s comment/string machines) — a
    * commented-out `-- INSERT INTO …` line or an INSERT-shaped string
    * inside a `SET @a = '…'` must NOT inject phantom rows.
    * Case-insensitive scans via regionMatches — no uppercase copy of
    * the (up to 256 MiB) file text in task memory; the scan position
    * only ever moves forward, so a whole-file iteration is O(fileSize).
    */
  def statementIterator(text: String): Iterator[Insert] =
    statementsWithOffsets(text).map(_._1)

  /** [[statementIterator]] with (statement, keyword char offset,
    * resume char offset) — the offsets let [[chunkInserts]] decide
    * chunk ownership and detect window-end truncation.
    */
  private[sources] def statementsWithOffsets(
      text: String,
      from: Int = 0): Iterator[(Insert, Int, Int)] = new Iterator[(Insert, Int, Int)] {
    // `from` must be a plain-SQL-context offset (0, or a previous
    // statement's resume) — the scanner assumes no string/comment is
    // open there
    private var pos = from
    private var nextIns: (Insert, Int, Int) = _
    private var exhausted = false

    @annotation.tailrec
    private def fetch(): Unit = {
      val start = nextStatementKeyword(text, pos)
      if (start < 0) { exhausted = true }
      else {
        pos = start +
          (if (text.regionMatches(true, start, "INSERT", 0, 6)) 6 else 7)
        parseHead(text, pos) match {
          case Some((ins, resume)) => pos = resume; nextIns = (ins, start, resume)
          case None => fetch() // not a VALUES statement; rescan after the keyword
        }
      }
    }

    override def hasNext: Boolean = {
      if (nextIns == null && !exhausted) fetch()
      nextIns != null
    }

    override def next(): (Insert, Int, Int) = {
      if (!hasNext) throw new NoSuchElementException("no more statements")
      val r = nextIns
      nextIns = null
      r
    }
  }

  /** Parse `[IGNORE] INTO tbl [(cols)] VALUES (…),(…)` directly after
    * an INSERT/REPLACE keyword ending at `afterKw`. None when the text
    * there is not that shape (`INSERT INTO t SELECT …`, a keyword
    * inside noise, …) — crucially the VALUES keyword must sit at the
    * statement head, never found by an unbounded forward search, so a
    * VALUES-less statement can't swallow a later statement's rows.
    */
  private def parseHead(s: String, afterKw: Int): Option[(Insert, Int)] = {
    var p = skipWs(s, afterKw)
    if (s.regionMatches(true, p, "IGNORE", 0, 6)) p = skipWs(s, p + 6)
    // INTO is optional in MySQL (`INSERT tbl VALUES …` — the
    // reference's tests/tidb_rowid specific_auto_inc dump uses it)
    if (s.regionMatches(true, p, "INTO", 0, 4) &&
      (p + 4 >= s.length || !isIdentChar(s.charAt(p + 4))))
      p = skipWs(s, p + 4)
    val (table, p1) = readIdent(s, p)
    if (table.isEmpty) return None
    p = skipWs(s, p1)
    var columns: Option[Seq[String]] = None
    if (p < s.length && s.charAt(p) == '(') {
      val close = matchParen(s, p)
      // unclosed list with '(' as the last char: matchParen's
      // s.length-1 fallback lands AT p and substring(p+1, p) would
      // throw — a truncated window/file head is a None (the chunk
      // reader's probe then grows the window), never a crash
      if (close <= p) return None
      val body = s.substring(p + 1, close).trim
      // `INSERT INTO t () VALUES …`: an explicit EMPTY list — zero
      // provided columns, not "no list" (tests/default-columns)
      columns = Some(
        if (body.isEmpty) Nil
        else graft.schema.MysqlDdl.splitTopLevel(body, ',')
          .map(c => graft.schema.MysqlDdl.unquoteIdent(c.trim)))
      p = skipWs(s, close + 1)
    }
    // VALUES (MySQL also accepts VALUE) must be the next token
    if (s.regionMatches(true, p, "VALUES", 0, 6)) p = skipWs(s, p + 6)
    else if (s.regionMatches(true, p, "VALUE", 0, 5)) p = skipWs(s, p + 5)
    else return None
    val rows = scala.collection.mutable.ArrayBuffer[Array[String]]()
    var more = true
    while (more && p < s.length && s.charAt(p) == '(') {
      val (vals, next) = readTuple(s, p)
      rows += vals
      p = skipWs(s, next)
      if (p < s.length && s.charAt(p) == ',') p = skipWs(s, p + 1)
      else more = false
    }
    Some((Insert(table, columns, rows.toSeq), p))
  }

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** Index just after the closing quote of the string opening at
    * `open` (backslash escapes + doubled quotes, no allocation);
    * -1 when the string never closes ON ITS OWN LINE. Dump-format
    * string literals never contain a raw newline — mysqldump/MyDumper
    * escape LF/CR to backslash sequences (mysql_real_escape_string) —
    * so a quote still open at a raw newline is unterminated (truncated
    * dump or decoy), NOT a multi-line string. Without this clamp an
    * unterminated opener would silently pair with the next same-quote
    * char anywhere later in the file, inverting quote parity and
    * swallowing real statements between here and there.
    */
  private def closeOfQuote(s: String, open: Int, q: Char): Int = {
    var i = open + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') return -1
      if (c == '\\' && i + 1 < s.length) i += 2
      else if (c == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    -1
  }

  /** Index of the next INSERT/REPLACE keyword at or after `from` that
    * sits in plain SQL context: `-- ` and `#` line comments, block
    * comments and quoted strings/identifiers are consumed, not
    * scanned into. `--` only opens a comment when followed by
    * whitespace/EOL (MySQL's rule — `--5` is arithmetic). Word
    * boundaries guard against REINSERT-style substrings. -1 = none.
    *
    * Two deliberate deviations from a plain comment lexer (the
    * slash-star spellings below are written as [slash][star] because
    * Scala block comments nest):
    *  - [slash][star]! versioned conditional comments are NOT
    *    skipped — MySQL executes their contents, so an INSERT inside
    *    one is data; the bang prefix is consumed and lexing continues
    *    inside (a stray [star][slash] close in plain context is then
    *    consumed silently).
    *  - An UNTERMINATED quote/comment in noise falls back to plain
    *    scanning from the char after the opener instead of swallowing
    *    the rest of a 256 MiB file silently (the reference's lexer
    *    errors there; tolerant-recovery keeps every later statement).
    */
  private def nextStatementKeyword(s: String, from: Int): Int = {
    var i = math.max(0, from)
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-' &&
          (i + 2 >= n || s.charAt(i + 2) == ' ' || s.charAt(i + 2) == '\t' ||
            s.charAt(i + 2) == '\r' || s.charAt(i + 2) == '\n')) {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '#') {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        if (i + 2 < n && s.charAt(i + 2) == '!') i += 3 // versioned: executes
        else {
          val end = s.indexOf("*/", i + 2)
          i = if (end < 0) i + 2 else end + 2 // unterminated: recover, don't swallow
        }
      } else if (c == '*' && i + 1 < n && s.charAt(i + 1) == '/') {
        i += 2 // close of a versioned comment whose body we lexed
      } else if (c == '\'' || c == '"') {
        val end = closeOfQuote(s, i, c)
        i = if (end < 0) i + 1 else end // unterminated: recover, don't swallow
      } else if (c == '`') {
        i = closeOfBacktick(s, i)
      } else if ((c == 'I' || c == 'i') &&
          s.regionMatches(true, i, "INSERT", 0, 6) &&
          (i == 0 || !isIdentChar(s.charAt(i - 1))) &&
          (i + 6 >= n || !isIdentChar(s.charAt(i + 6)))) {
        return i
      } else if ((c == 'R' || c == 'r') &&
          s.regionMatches(true, i, "REPLACE", 0, 7) &&
          (i == 0 || !isIdentChar(s.charAt(i - 1))) &&
          (i + 7 >= n || !isIdentChar(s.charAt(i + 7)))) {
        return i
      } else i += 1
    }
    -1
  }

  /** Scan position after a backtick identifier opening at `open`, with
    * the same line clamp as [[closeOfQuote]] (both '\n' and '\r' —
    * dump identifiers are single-line whatever the line ending): an
    * opener unmatched on its own line is noise, scan resumes one char
    * in rather than pairing with a backtick lines later and inverting
    * parity.
    */
  private def closeOfBacktick(s: String, open: Int): Int = {
    var i = open + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') return open + 1
      if (c == '`') return i + 1
      i += 1
    }
    open + 1
  }

  /** First block comment that breaks the chunking precondition, as
    * (multilineAt, untermAt): `multilineAt` ≥ 0 — a plain (non-
    * versioned) block comment provably spans a line boundary, which a
    * later chunk would snap into and lex as SQL (phantom-row risk —
    * the chunked import must fail loudly); `untermAt` ≥ 0 — an opener
    * whose closer lies beyond the text (the chunk window must grow
    * before the verdict is known). (-1, -1) = clean. The walk mirrors
    * [[nextStatementKeyword]]'s lexical branches exactly (strings,
    * backticks, line comments, versioned comments whose bodies lex as
    * SQL and are therefore chunk-safe) so a `[slash][star]` inside a
    * string literal can't false-positive — `DumpChunkSpec` pins the
    * two walkers' agreement on the torture fixtures. With
    * `multilineFails` off only `untermAt` is reported (handshake-mode
    * ranges need the window to hold each closer, nothing more).
    */
  private[sources] def blockCommentIssue(s: String, from: Int = 0,
      multilineFails: Boolean = true): (Int, Int) = {
    // `from` must be a plain-SQL-context offset (0, or a previous
    // statement's resume): earlier regions were validated by earlier,
    // smaller windows, so re-validation can start where lexing resumes
    var i = from
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-' &&
          (i + 2 >= n || s.charAt(i + 2) == ' ' || s.charAt(i + 2) == '\t' ||
            s.charAt(i + 2) == '\r' || s.charAt(i + 2) == '\n')) {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '#') {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        if (i + 2 < n && s.charAt(i + 2) == '!') i += 3 // versioned: lexes as SQL
        else {
          val end = s.indexOf("*/", i + 2)
          if (end < 0) return (-1, i)
          if (multilineFails && s.lastIndexOf('\n', end) > i) return (i, -1)
          i = end + 2
        }
      } else if (c == '*' && i + 1 < n && s.charAt(i + 1) == '/') {
        i += 2
      } else if (c == '\'' || c == '"') {
        val end = closeOfQuote(s, i, c)
        i = if (end < 0) i + 1 else end
      } else if (c == '`') {
        i = closeOfBacktick(s, i)
      } else i += 1
    }
    (-1, -1)
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  private def readIdent(s: String, from: Int): (String, Int) = {
    var i = from
    val sb = new StringBuilder
    if (i < s.length && s.charAt(i) == '`') {
      i += 1
      // a doubled backtick is an ESCAPED backtick inside the name
      // (`exotic``name` → exotic`name, tests/exotic_filenames)
      var closed = false
      while (!closed && i < s.length) {
        val c = s.charAt(i)
        if (c == '`') {
          if (i + 1 < s.length && s.charAt(i + 1) == '`') { sb += '`'; i += 2 }
          else { closed = true; i += 1 }
        } else { sb += c; i += 1 }
      }
      // qualified `db`.`table`
      if (i < s.length && s.charAt(i) == '.') {
        val (rest, j) = readIdent(s, i + 1)
        return (sb.toString + "." + rest, j)
      }
    } else {
      while (i < s.length && (Character.isLetterOrDigit(s.charAt(i)) ||
        "._$".indexOf(s.charAt(i)) >= 0)) { sb += s.charAt(i); i += 1 }
    }
    (sb.toString, i)
  }

  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    var q: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != 0) {
        if (c == '\\') i += 1 else if (c == q) q = 0
      } else c match {
        case '\'' | '"' => q = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    s.length - 1
  }

  /** Read one `( v, v, … )` tuple starting at `open`; returns values
    * (unescaped, NULL → null, literals kept lexical) and the index just
    * after the closing paren.
    */
  def readTuple(s: String, open: Int): (Array[String], Int) = {
    val vals = scala.collection.mutable.ArrayBuffer[String]()
    var i = open + 1
    var done = false
    while (!done && i < s.length) {
      i = skipWs(s, i)
      // a tuple truncated at the window end after whitespace ("(1, ")
      // must return, not index past the text — the caller's
      // resume-at-window-end check then grows the window
      if (i >= s.length) return (vals.toArray, i)
      val c = s.charAt(i)
      if (c == ')') {
        // `()` is MySQL's all-defaults empty tuple — zero values, not
        // one NULL; a ')' AFTER values is a trailing empty slot
        if (vals.nonEmpty) vals += null
        done = true; i += 1
      }
      else if (c == '\'' || c == '"') {
        val (v, j) = readQuoted(s, i, c)
        vals += guardQuoted(v)
        i = afterValue(s, j, vals, () => done = true)
      } else {
        // bare token: number, NULL, TRUE/FALSE, 0x…, b'…', x'…'
        val start = i
        var depth = 0
        while (i < s.length && (depth > 0 ||
          (s.charAt(i) != ',' && s.charAt(i) != ')'))) {
          val ch = s.charAt(i)
          if (ch == '\'') { val (_, j) = readQuoted(s, i, '\''); i = j - 1 }
          else if (ch == '(') depth += 1
          else if (ch == ')') depth -= 1
          i += 1
        }
        val tok = s.substring(start, i).trim
        vals += decodeBareToken(tok, s, start)
        if (i < s.length && s.charAt(i) == ',') i += 1
        else { done = true; if (i < s.length) i += 1 }
      }
    }
    (vals.toArray, i)
  }

  private def afterValue(s: String, from: Int, vals: Any, onDone: () => Unit): Int = {
    var i = skipWs(s, from)
    if (i < s.length && s.charAt(i) == ',') i + 1
    else { onDone(); if (i < s.length) i + 1 else i }
  }

  private def readQuoted(s: String, open: Int, q: Char): (String, Int) = {
    // scan for the closing quote WITHOUT copying: the escape pairs stay
    // verbatim in the slice, so a single substring + unescape (which
    // early-returns on clean strings — the overwhelmingly common case)
    // replaces the old per-char StringBuilder copy in the parser's
    // hottest loop.
    var i = open + 1
    var closed = false
    while (!closed && i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) i += 2
      else if (c == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else closed = true
      } else i += 1
    }
    val raw = s.substring(open + 1, i)
    (SqlLiterals.unescape(raw, q), if (closed) i + 1 else i)
  }

  /** Lexical form a hex literal (`0x…` / `x'…'`) parses to. The
    * parser is untyped (all strings), but a hex datum's meaning depends
    * on the target column: raw bytes into a BINARY-typed column, UTF-8
    * text into a character column — the reference's parser keeps hex
    * datums as a distinct byte-typed token kind for the same reason
    * (`lightning/mydump/parser.go:474-511`). Decoding to UTF-8 at parse
    * time would corrupt arbitrary binary (invalid sequences collapse to
    * U+FFFD — the reference's `tests/various_types` BINARY(16) keys hit
    * exactly this), so the literal stays lexical under this sentinel
    * until [[resolveHex]] sees the schema. A quoted string datum that
    * itself begins with a sentinel (reachable via the `\\0` escape) is
    * guarded with [[StrSentinel]] so resolution is bijective.
    */
  val HexSentinel = "\u0000hex:"

  /** Escape prefix for a QUOTED string datum that happens to begin
    * with one of the sentinels - reachable, because MyDumper writes a
    * NUL byte as the `\\0` escape and [[SqlLiterals.unescape]] restores
    * it before resolution sees the value. [[resolveHex]] strips exactly
    * one `StrSentinel`, so the mapping is bijective: hex literal ->
    * `hex:`-form, colliding string -> one extra `str:` prefix,
    * everything else untouched.
    */
  val StrSentinel = "\u0000str:"

  /** Marker for a column the INSERT statement did not provide (omitted
    * from an explicit column list, or an all-defaults `()` tuple).
    * Replaced by the column's DEFAULT before hex resolution --
    * [[graft.transform.RowTransform.applyOmittedDefaults]].
    */
  val DefaultSentinel = "\u0000default"

  /** Quoted-datum guard: prefix a value that would masquerade as a
    * sentinel. Two startsWith checks per quoted value - free.
    */
  private def guardQuoted(v: String): String =
    if (v != null && (v.startsWith(HexSentinel) || v.startsWith(StrSentinel) ||
      v.startsWith(DefaultSentinel)))
      StrSentinel + v
    else v

  private def isHexBody(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ok = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      if (!ok) return false
      i += 1
    }
    true
  }

  private def hexSentinel(body: String): String = {
    val h = if (body.length % 2 == 1) "0" + body else body
    HexSentinel + h.toLowerCase(java.util.Locale.ROOT)
  }

  /** Resolve [[HexSentinel]] values in a parser-produced (all-string)
    * DataFrame against the target schema: bytes for BINARY-typed
    * columns, UTF-8 text elsewhere. Runs only on the dump path — CSV
    * and parquet shards can never contain the sentinel, so they never
    * pay for (or falsely match) this branch.
    */
  def resolveHex(df: DataFrame, schema: TableSchema): DataFrame =
    resolveSentinels(df, schema.columns
      .filter(_.sparkType == org.apache.spark.sql.types.BinaryType)
      .map(_.name.toLowerCase).toSet)

  /** Schema-less resolution: every hex datum decodes as UTF-8 text
    * (the only type a schema-less read has), string-guard prefixes
    * strip. Used when a dump file arrives with no -schema.sql and no
    * pre-created target.
    */
  def resolveHexText(df: DataFrame): DataFrame = resolveSentinels(df, Set.empty)

  private def resolveSentinels(df: DataFrame, binCols: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, decode, substring, unhex, when}
    df.select(df.columns.map { name =>
      val c = col(name)
      val payload = unhex(substring(c, HexSentinel.length + 1, Integer.MAX_VALUE))
      val unguarded = substring(c, StrSentinel.length + 1, Integer.MAX_VALUE)
      val out =
        if (binCols(name.toLowerCase))
          when(c.startsWith(HexSentinel), payload)
            .when(c.startsWith(StrSentinel),
              unguarded.cast(org.apache.spark.sql.types.BinaryType))
            .otherwise(c.cast(org.apache.spark.sql.types.BinaryType))
        else
          when(c.startsWith(HexSentinel), decode(payload, "UTF-8"))
            .when(c.startsWith(StrSentinel), unguarded)
            .otherwise(c)
      out.as(name)
    }.toSeq: _*)
  }

  /** Bare (unquoted) token → lexical value. Mirrors the reference's
    * token kinds (`lightning/mydump/parser.go:474-511`): NULL→null,
    * TRUE/FALSE→1/0, 0x…/x'…' hex → [[HexSentinel]] lexical form
    * (resolved type-aware by [[resolveHex]]), b'…' bit → integer text,
    * numbers as-is. A malformed hex body stays lexical untouched, to
    * fail (or count) at cast time rather than throw mid-parse.
    */
  private[sources] def decodeBareToken(tok: String, src: String, at: Int): String = {
    val u = tok.toUpperCase
    if (u == "NULL") null
    else if (u == "TRUE") "1"
    else if (u == "FALSE") "0"
    else if (u.startsWith("0X")) {
      val body = tok.substring(2)
      if (isHexBody(body)) hexSentinel(body) else tok
    } else if ((u.startsWith("X'") || u.startsWith("B'")) && tok.endsWith("'")) {
      val body = tok.substring(2, tok.length - 1)
      if (u.startsWith("X'")) { if (isHexBody(body)) hexSentinel(body) else tok }
      else if (body.nonEmpty && body.length <= 64 &&
          body.forall(ch => ch == '0' || ch == '1'))
        // up to BIT(64): parsed as the uint64 bit pattern (two's
        // complement long for 64-bit values, matching the reference's
        // uint encoding of BIT); the signed decimal casts losslessly
        // into the LongType the §1.2 type map assigns
        String.valueOf(java.lang.Long.parseUnsignedLong(body, 2))
      else tok // malformed/oversized bit body: lexical, fails at cast
    } else tok
  }
}
