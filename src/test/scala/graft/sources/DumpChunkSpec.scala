package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Chunked dump reading: every byte-grid over a torture fixture must
  * reproduce exactly the whole-file parse — no lost, duplicated, or
  * phantom rows, whatever line/statement/character the boundary
  * splits. The sweep runs against [[DumpSource.chunkInserts]] with an
  * in-memory positional reader (the same implementation the Hadoop-FS
  * task calls), with tail windows down to 1 byte so the
  * grow-until-parseable path is exercised at essentially every
  * boundary position.
  */
class DumpChunkSpec extends AnyFunSuite {

  // multi-line statements, two statements on one line, explicit column
  // list, comment/string INSERT noise, quote escapes, multi-byte UTF-8,
  // a comment-opener inside a string, a multi-line VERSIONED comment
  // (its body lexes as SQL, so it is chunk-safe, unlike plain ones)
  private val fixture =
    """/* mydumper-style header comment */
      |INSERT INTO t VALUES (1,'alpha');
      |INSERT INTO t (v, id) VALUES ('beta-β', 2);
      |INSERT INTO t VALUES (3,'multi'),
      |(4,'line'),
      |(5,'values');
      |INSERT INTO t VALUES (6,'a'); INSERT INTO t VALUES (7,'same line');
      |-- INSERT INTO t VALUES (97,'comment noise')
      |SET @x = 'INSERT INTO t VALUES (98,''string noise'')';
      |INSERT INTO t VALUES (8,'it''s \n escaped');
      |INSERT INTO t VALUES (9,'日本語テキスト');
      |INSERT INTO t VALUES (10,'slash /* star');
      |/*!40000 ALTER TABLE t
      |  DISABLE KEYS */;
      |INSERT INTO t VALUES (11,'after versioned');
      |""".stripMargin

  private def sweep(text: String, grid: Long, window: Long): Seq[Seq[String]] = {
    val bytes = text.getBytes(UTF_8)
    val read = (pos: Long, buf: Array[Byte]) =>
      System.arraycopy(bytes, pos.toInt, buf, 0, buf.length)
    (0L until bytes.length.toLong by grid).flatMap { off =>
      DumpSource.chunkInserts(read, bytes.length.toLong, off,
        math.min(grid, bytes.length - off), window).toSeq
    }.flatMap(_.rows).map(_.toSeq)
  }

  /** The same grid as one split read: every range in handshake mode.
    * Returns the rows in range order, the chain verdict and each
    * range's report.
    */
  private def splitSweep(text: String, grid: Long,
      window: Long): (Seq[Seq[String]], Option[String], Seq[Seq[DumpSource.Edge]]) = {
    val bytes = text.getBytes(UTF_8)
    val read = (pos: Long, buf: Array[Byte]) =>
      System.arraycopy(bytes, pos.toInt, buf, 0, buf.length)
    val starts = (0L until bytes.length.toLong by grid).toIndexedSeq
    val edges = starts.map(_ => scala.collection.mutable.ArrayBuffer[DumpSource.Edge]())
    val rows = starts.zipWithIndex.flatMap { case (off, i) =>
      DumpSource.chunkInserts(read, bytes.length.toLong, off,
        math.min(grid, bytes.length - off), window, Some(e => edges(i) += e)).toSeq
    }.flatMap(_.rows).map(_.toSeq)
    val reported = edges.map(_.toSeq)
    (rows, DumpSource.chainBreak(reported.map(_.distinct), bytes.length.toLong), reported)
  }

  /** Soundness: wherever the handshake holds, the ranges' rows are
    * exactly the whole-file parse. Returns whether it held.
    */
  private def splitSound(text: String, grid: Long, window: Long): Boolean = {
    val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    val (rows, verdict, reported) = splitSweep(text, grid, window)
    assert(reported.forall(_.size == 1), s"grid=$grid window=$window: $reported")
    if (verdict.isEmpty) assert(rows === whole, s"grid=$grid window=$window: chain held")
    verdict.isEmpty
  }

  test("every chunk grid and tail window reproduces the whole-file parse") {
    val whole = DumpSource.parseStatements(fixture).flatMap(_.rows).map(_.toSeq)
    assert(whole.size === 11)
    for (grid <- Seq(1L, 3L, 7L, 13L, 64L, 1000L); window <- Seq(1L, 5L, 4096L)) {
      val chunked = sweep(fixture, grid, window)
      assert(chunked === whole, s"grid=$grid window=$window")
      // the split read of a clean dump: the chain holds on every grid
      assert(splitSound(fixture, grid, window), s"grid=$grid window=$window")
    }
  }

  test("split handshake: a raw newline in a literal before an INSERT line breaks the chain") {
    // the next line of the literal reads as a statement to a range that
    // starts there; its first accepted offset is not the one the
    // previous range hands over
    val text = "INSERT INTO t VALUES (1,'first line\n" +
      "INSERT INTO t VALUES (99,''phantom'');\n" +
      "last line');\nINSERT INTO t VALUES (2,'b');\n"
    val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    assert(whole.map(_.head) === Seq("1", "2"))
    val held = for (grid <- 1L to text.length.toLong; window <- Seq(1L, 7L, 4096L))
      yield splitSound(text, grid, window)
    assert(held.contains(false) && held.contains(true))
    val p = text.indexOf("INSERT INTO t VALUES (99")
    assert(!splitSound(text, p.toLong, 4096L), "a range starting on the phantom line must break")
  }

  test("split handshake: a multi-line plain block comment holding an INSERT breaks, never throws") {
    val poisoned =
      """/* header spanning
        |INSERT INTO t VALUES (99,'phantom');
        |lines */
        |INSERT INTO t VALUES (1,'real');
        |""".stripMargin
    val held = for (grid <- 1L to poisoned.length.toLong; window <- Seq(1L, 64L))
      yield splitSound(poisoned, grid, window)
    assert(held.contains(false) && held.contains(true))
    assert(!splitSound(poisoned, poisoned.indexOf("INSERT").toLong, 64L))
    // an unterminated one at EOF is lexed as the whole-file parse lexes it
    val unterm = "INSERT INTO t VALUES (1,'a');\n/* trailing\nINSERT INTO t VALUES (2,'b');"
    for (grid <- 1L to unterm.length.toLong) splitSound(unterm, grid, 8L)
  }

  test("split handshake: boundaries inside multi-byte characters, one statement over many ranges, empty ranges") {
    val multiByte = (1 to 12).map(i => s"INSERT INTO t VALUES ($i,'日本語🙂β$i');").mkString("", "\n", "\n")
    val big = "INSERT INTO t VALUES (0,'small');\nINSERT INTO t VALUES\n" +
      (1 to 60).map(i => s"($i,'v$i')").mkString(",\n") + ";\nINSERT INTO t VALUES (61,'after');\n"
    for (text <- Seq(multiByte, big); grid <- 1L to 50L; window <- Seq(1L, 9L, 4096L))
      assert(splitSound(text, grid, window), s"grid=$grid window=$window text=\n$text")
    // a grid finer than the lines leaves ranges with no line start
    val (_, verdict, reported) = splitSweep(big, 3L, 16L)
    assert(verdict.isEmpty && reported.flatten.contains(DumpSource.NoLine))
  }

  test("split handshake: a missing, doubled or unplaced report breaks the chain") {
    import DumpSource.{chainBreak, NoLine, Spans}
    assert(chainBreak(IndexedSeq(Seq(Spans(0, 10)), Seq(NoLine), Seq(Spans(10, 20))), 20L).isEmpty)
    assert(chainBreak(IndexedSeq(Seq(Spans(0, 10)), Seq()), 20L).nonEmpty)
    assert(chainBreak(IndexedSeq(Seq(Spans(0, 10)), Seq(Spans(10, 20), Spans(12, 20))), 20L).nonEmpty)
    assert(chainBreak(IndexedSeq(Seq(Spans(0, -1)), Seq(Spans(10, 20))), 20L).nonEmpty)
    assert(chainBreak(IndexedSeq(Seq(Spans(0, 10)), Seq(Spans(10, 15))), 20L).nonEmpty)
  }

  test("proven noise cannot mask a truncated multi-line INSERT head at the window end") {
    // after the last parsed statement: an INSERT…SELECT the head
    // parser rejects (noise), then >1 MiB of comments, then an INSERT
    // whose (id, v) head line closes inside the window but whose
    // VALUES keyword is cut by the window end. Probing only the FIRST
    // skipped keyword calls the whole tail proven noise and silently
    // drops the truncated statement's rows; every owned keyword must
    // be probed so the window grows instead.
    val filler = (1 to 30000)
      .map(i => s"-- filler comment line $i padding padding padding").mkString("\n")
    val text = "INSERT INTO t VALUES (1,'a');\n" +
      "INSERT INTO t SELECT 1, 'not values';\n" +
      filler + "\n" +
      "INSERT INTO t (id, v)\nVALUES (2,'b');\n" +
      "INSERT INTO t VALUES (3,'c');\n"
    val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    assert(whole.size === 3)
    val p = text.indexOf("INSERT INTO t (id, v)") // ASCII: byte pos == char pos
    assert(p > (1 << 20) + 100, "noise keyword must sit a full head-probe before the window end")
    // chunk 1 owns the head line (grid cuts inside it); the 14-byte
    // tail closes the head line but truncates VALUES
    val got = sweep(text, (p + 10).toLong, 14L)
    assert(got === whole)
  }

  test("a multi-line PLAIN block comment fails the chunked read loudly") {
    // a chunk snapping to a line start inside the comment would lex
    // its body as SQL and emit the phantom row — with a checksum
    // computed from the same parse, the corruption would verify green.
    // The owner chunk must refuse instead.
    val poisoned =
      """/* header spanning
        |INSERT INTO t VALUES (99,'phantom');
        |lines */
        |INSERT INTO t VALUES (1,'real');
        |""".stripMargin
    assert(DumpSource.parseStatements(poisoned)
      .flatMap(_.rows).map(_.toSeq) === Seq(Seq("1", "real")))
    for (grid <- Seq(10L, 20L, 37L)) {
      val e = intercept[IllegalStateException](sweep(poisoned, grid, 64L))
      assert(e.getMessage.contains("block comment"), s"grid=$grid: ${e.getMessage}")
    }
    // a grid that keeps the file in ONE chunk has no other boundary to
    // land inside the comment — it must parse like the whole-file path
    // (reference tests/checkpoint_engines ships exactly this shape)
    assert(sweep(poisoned, 1000L, 64L) === Seq(Seq("1", "real")))
  }

  test("an unterminated multi-line comment at EOF also refuses; single-line trailing garbage passes") {
    val unterm = "INSERT INTO t VALUES (1,'a');\n/* trailing\nnever closed"
    val e = intercept[IllegalStateException](sweep(unterm, 16L, 8L))
    assert(e.getMessage.contains("block comment"))
    val singleLine = "INSERT INTO t VALUES (1,'a');\n/* trailing junk"
    assert(sweep(singleLine, 16L, 8L) === Seq(Seq("1", "a")))
  }

  test("CR-only line endings: a stray backtick clamps at the line end") {
    // without the \r clamp the opener would pair with `t`'s backtick
    // lines later and swallow the INSERT between them
    val text = "SET @x = `broken\rINSERT INTO `t` VALUES (1,'a');\r"
    val rows = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    assert(rows === Seq(Seq("1", "a")))
  }

  test("explicit column lists keep their permutation through the chunked path") {
    val bytes = fixture.getBytes(UTF_8)
    val read = (pos: Long, buf: Array[Byte]) =>
      System.arraycopy(bytes, pos.toInt, buf, 0, buf.length)
    val stmts = (0L until bytes.length.toLong by 16L).flatMap { off =>
      DumpSource.chunkInserts(read, bytes.length.toLong, off, 16L, 8L).toSeq
    }
    val withCols = stmts.filter(_.columns.nonEmpty)
    assert(withCols.map(_.columns) === Seq(Some(Seq("v", "id"))))
    assert(withCols.head.rows.head.toSeq === Seq("beta-β", "2"))
  }

  test("a statement larger than chunk and window parses once, in its owner chunk") {
    val big = "INSERT INTO t VALUES " +
      (1 to 200).map(i => s"($i,'v$i')").mkString(",") + ";\n"
    val text = "INSERT INTO t VALUES (0,'small');\n" + big
    val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    assert(whole.size === 201)
    assert(sweep(text, 40L, 10L) === whole)
  }

  test("a trailing line without newline is owned by the last covering chunk") {
    val text = "INSERT INTO t VALUES (1,'a');\nINSERT INTO t VALUES (2,'b');"
    val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
    for (grid <- Seq(3L, 10L, 31L))
      assert(sweep(text, grid, 4L) === whole, s"grid=$grid")
  }

  test("seeded random dumps: every grid/window reproduces the whole-file parse") {
    // property sweep over GENERATED dumps: random INSERTs (escaped
    // hostile strings, multi-byte text, multi-row, explicit column
    // lists) interleaved with comment/SET/INSERT-SELECT noise —
    // boundary arithmetic must hold for shapes nobody hand-picked.
    // Seeded: failures reproduce.
    val rnd = new scala.util.Random(20260813L)
    def value(): String = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(100000).toString
      case 1 => "NULL"
      case 2 =>
        val alphabet = "ab',\\\"β日#;-( )/*"
        "'" + SqlLiterals.escape((0 until rnd.nextInt(12))
          .map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString) + "'"
      case _ => "'" + ("x" * rnd.nextInt(30)) + "'"
    }
    def statement(): String = {
      val cols = if (rnd.nextBoolean()) "" else " (a, b)"
      val rows = (0 until 1 + rnd.nextInt(3))
        .map(_ => s"(${value()},${value()})").mkString(",")
      s"INSERT INTO t$cols VALUES $rows;"
    }
    def noise(): String = rnd.nextInt(4) match {
      case 0 => "-- INSERT INTO t VALUES (0,'decoy')"
      case 1 => "SET @x = 'INSERT INTO t VALUES (0,''decoy'')';"
      case 2 => "INSERT INTO t SELECT * FROM other;"
      case _ => "/*!40000 ALTER TABLE t DISABLE KEYS */;"
    }
    for (round <- 1 to 16) {
      val text = (0 until 12)
        .map(_ => if (rnd.nextInt(4) == 0) noise() else statement())
        .mkString("", "\n", "\n")
      val whole = DumpSource.parseStatements(text).flatMap(_.rows).map(_.toSeq)
      val grids = Seq(1L, 2L + rnd.nextInt(9), 17L + rnd.nextInt(40),
        text.getBytes(UTF_8).length.toLong)
      for (grid <- grids; window <- Seq(1L, 3L + rnd.nextInt(20), 4096L)) {
        assert(sweep(text, grid, window) === whole,
          s"round=$round grid=$grid window=$window text=\n$text")
        assert(splitSound(text, grid, window), s"round=$round grid=$grid window=$window text=\n$text")
      }
    }
  }
}
