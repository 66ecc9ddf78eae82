package graft.pipeline

import graft.discover.TableRoute
import graft.sources.CsvDialect

/** TOML-subset loader for the reference's `tidb-lightning.toml`
  * surface, so a reference user's config file drives this engine
  * unchanged (reference `lightning/config/config.go:117-217` defines
  * the struct tags; the annotated sample ships as
  * `tidb-lightning.toml`). The subset covers what the sample file
  * actually uses: `[section]` / `[section.sub]` tables, `[[routes]]`
  * array-of-tables, bare keys, strings (both quote styles), booleans,
  * integers (with `_` separators), floats, single-line and multi-line
  * arrays, comments, and human sizes ('256MiB', units.RAMInBytes
  * binary semantics like the reference).
  *
  * Key mapping to [[Ingest.Config]] (Spark-relevant keys only; every
  * recognized-but-inapplicable key — TLS, PD addresses, metrics — is
  * returned in `ignored` so nothing is dropped silently):
  *
  *  - `mydumper.data-source-dir`      → `sourceDir`
  *  - `tikv-importer.sorted-kv-dir`   → `targetDir` (the local
  *    backend's sorted-KV output is this engine's parquet target)
  *  - `mydumper.filter`               → `filters`
  *  - `[[routes]]`                    → `routes`
  *  - `[[mydumper.files]]` + `mydumper.default-file-rules` →
  *    `fileRules`/`defaultFileRules` (custom regex file routing,
  *    `router.go:183-260` semantics incl. Go named groups)
  *  - `[black-white-list]` do-dbs/ignore-dbs/[[do-tables]]/
  *    [[ignore-tables]] → `bwList` (the legacy filter generation)
  *  - `[mydumper.csv]`                → `csvDialect`
  *  - `mydumper.character-set`        → `charset`
  *  - `mydumper.no-schema`            → `noSchema`
  *  - `mydumper.strict-format`        → `strictFormat`
  *  - `mydumper.max-region-size`      → `chunkBytes`
  *  - `lightning.table-concurrency`   → `tableConcurrency`
  *  - `lightning.max-error` / `app.max-error` → `maxError`
  *  - `post-restore.analyze`          → `analyze` (tri-state
  *    off/optional/required plus legacy booleans, `config.go`'s
  *    PostOpLevel unmarshal)
  *  - `checkpoint.{enable,driver,dsn}`→ `stateDir` (file driver only)
  *  - `tidb.sql-mode` containing STRICT → `strictMode`
  *  - `lightning.{server-mode,status-addr}` → returned for [[Main]]
  */
object TomlConfig {

  sealed trait Value
  final case class VStr(v: String) extends Value
  final case class VInt(v: Long) extends Value
  final case class VDouble(v: Double) extends Value
  final case class VBool(v: Boolean) extends Value
  final case class VArr(v: Seq[Value]) extends Value

  /** Flattened parse: dotted-path scalars plus array-of-table
    * sections ([[routes]] → arrays("routes") = one Map per entry).
    * `sections` records every `[header]` seen, so empty unknown
    * sections (a typo'd `[mydumperr]`) still surface in the
    * ignored-keys report like the reference's unused-config warning
    * (`tests/unused_config_keys`).
    */
  final case class Parsed(scalars: Map[String, Value],
      arrays: Map[String, Seq[Map[String, Value]]],
      sections: Seq[String] = Nil)

  final case class Loaded(
      config: Ingest.Config,
      serverMode: Boolean,
      statusAddr: Option[String],
      checksum: String,
      ignored: Seq[String])

  // ------------------------------------------------------- parsing

  /** Strip a trailing comment, honoring both quote styles. */
  private def stripComment(line: String): String = {
    var inS = false; var inD = false; var i = 0
    while (i < line.length) {
      line.charAt(i) match {
        case '\'' if !inD => inS = !inS
        case '"' if !inS && (i == 0 || line.charAt(i - 1) != '\\') => inD = !inD
        case '#' if !inS && !inD => return line.substring(0, i)
        case _ =>
      }
      i += 1
    }
    line
  }

  /** Bracket balance outside strings — >0 means an array continues on
    * the next physical line.
    */
  private def openBrackets(s: String): Int = {
    var inS = false; var inD = false; var depth = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' if !inD => inS = !inS
        case '"' if !inS && (i == 0 || s.charAt(i - 1) != '\\') => inD = !inD
        case '[' if !inS && !inD => depth += 1
        case ']' if !inS && !inD => depth -= 1
        case _ =>
      }
      i += 1
    }
    depth
  }

  /** Split on top-level commas (outside quotes and nested arrays). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var inS = false; var inD = false; var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' if !inD => inS = !inS
        case '"' if !inS && (i == 0 || s.charAt(i - 1) != '\\') => inD = !inD
        case '[' if !inS && !inD => depth += 1
        case ']' if !inS && !inD => depth -= 1
        case ',' if !inS && !inD && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case o => b.append('\\').append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def parseValue(raw: String): Value = {
    val s = raw.trim
    if (s.startsWith("[")) {
      require(s.endsWith("]"), s"unterminated array: $s")
      VArr(splitTop(s.substring(1, s.length - 1)).map(parseValue))
    } else if (s.startsWith("'") && s.endsWith("'") && s.length >= 2)
      VStr(s.substring(1, s.length - 1))
    else if (s.startsWith("\"") && s.endsWith("\"") && s.length >= 2)
      VStr(unescape(s.substring(1, s.length - 1)))
    else if (s == "true") VBool(true)
    else if (s == "false") VBool(false)
    else {
      val num = s.replace("_", "")
      try VInt(java.lang.Long.parseLong(num))
      catch {
        case _: NumberFormatException =>
          try VDouble(java.lang.Double.parseDouble(num))
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"unparsable TOML value: $s")
          }
      }
    }
  }

  def parse(text: String): Parsed = {
    val scalars = scala.collection.mutable.LinkedHashMap[String, Value]()
    val sections = scala.collection.mutable.ArrayBuffer[String]()
    val arrays = scala.collection.mutable.LinkedHashMap[String,
      Vector[scala.collection.mutable.LinkedHashMap[String, Value]]]()
    var section = "" // current [section] prefix, "" = top level
    var arraySection: Option[String] = None // set while inside [[name]]

    // join multi-line arrays into logical lines first
    val logical = Seq.newBuilder[String]
    var pending = ""
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        val joined = if (pending.isEmpty) line else pending + " " + line
        if (openBrackets(joined) > 0) pending = joined
        else { logical += joined; pending = "" }
      }
    }
    require(pending.isEmpty, s"unterminated multi-line value: $pending")

    logical.result().foreach { line =>
      if (line.startsWith("[[") && line.endsWith("]]")) {
        val name = line.substring(2, line.length - 2).trim
        arraySection = Some(name)
        arrays(name) = arrays.getOrElse(name, Vector.empty) :+
          scala.collection.mutable.LinkedHashMap[String, Value]()
      } else if (line.startsWith("[") && line.endsWith("]")) {
        section = line.substring(1, line.length - 1).trim
        sections += section
        arraySection = None
      } else {
        val eq = {
          // first '=' outside quotes (keys are bare in the reference file)
          var inS = false; var inD = false; var i = 0; var at = -1
          while (i < line.length && at < 0) {
            line.charAt(i) match {
              case '\'' if !inD => inS = !inS
              case '"' if !inS => inD = !inD
              case '=' if !inS && !inD => at = i
              case _ =>
            }
            i += 1
          }
          at
        }
        require(eq > 0, s"not a key=value line: $line")
        val key = line.substring(0, eq).trim
        val value = parseValue(line.substring(eq + 1))
        arraySection match {
          case Some(name) => arrays(name).last(key) = value
          case None =>
            scalars(if (section.isEmpty) key else s"$section.$key") = value
        }
      }
    }
    Parsed(scalars.toMap,
      arrays.map { case (k, v) => k -> v.map(_.toMap) }.toMap,
      sections.toSeq)
  }

  /** '256MiB' / '64KiB' / plain integers → bytes. Binary multipliers
    * for both Ki and K spellings — the reference parses sizes with
    * Docker's units.RAMInBytes, which treats KB as 1024 too.
    */
  private[pipeline] def parseSize(v: Value): Long = v match {
    case VInt(n) => n
    case VStr(s) =>
      val m = "^([0-9]+(?:\\.[0-9]+)?)\\s*([KMGTkmgt]i?[Bb]?|[Bb])?$".r
      s.trim match {
        case m(num, unit) =>
          val mult = Option(unit).map(_.toLowerCase.stripSuffix("b")
            .stripSuffix("i")).getOrElse("") match {
            case "" => 1L
            case "k" => 1L << 10
            case "m" => 1L << 20
            case "g" => 1L << 30
            case "t" => 1L << 40
            case u => throw new IllegalArgumentException(s"unknown size unit: $u")
          }
          (java.lang.Double.parseDouble(num) * mult).toLong
        case other =>
          throw new IllegalArgumentException(s"unparsable size: $other")
      }
    case other => throw new IllegalArgumentException(s"size expected, got $other")
  }

  /** `config.go` PostOpLevel: off/optional/required plus legacy
    * booleans (true=required, false=off).
    */
  private def postOpLevel(v: Value, key: String): String = v match {
    case VBool(true) => "required"
    case VBool(false) => "off"
    case VStr(s) if Set("off", "optional", "required")(s.toLowerCase) =>
      s.toLowerCase
    case other =>
      throw new IllegalArgumentException(s"$key: invalid post-op level $other")
  }

  private def str(v: Value, key: String): String = v match {
    case VStr(s) => s
    case other => throw new IllegalArgumentException(s"$key: string expected, got $other")
  }
  private def bool(v: Value, key: String): Boolean = v match {
    case VBool(b) => b
    case other => throw new IllegalArgumentException(s"$key: boolean expected, got $other")
  }
  private def long(v: Value, key: String): Long = v match {
    case VInt(n) => n
    case other => throw new IllegalArgumentException(s"$key: integer expected, got $other")
  }

  // ------------------------------------------------------- mapping

  /** `targetDirOverride` stands in for the CLI's `--target-dir`: the
    * reference only requires `sorted-kv-dir` for the local backend
    * (`config.go` Adjust), so configs written for the importer/tidb
    * backends (like the shipped sample) carry no local directory and
    * the caller must supply one.
    */
  def load(text: String, targetDirOverride: Option[String] = None): Loaded = {
    val p = parse(text)
    val used = scala.collection.mutable.Set[String]()
    def take(key: String): Option[Value] = {
      val v = p.scalars.get(key); if (v.isDefined) used += key; v
    }

    val sourceDir = take("mydumper.data-source-dir")
      .map(str(_, "mydumper.data-source-dir"))
      .getOrElse(throw new IllegalArgumentException(
        "mydumper.data-source-dir is required"))
    val targetDir = targetDirOverride
      .orElse(take("tikv-importer.sorted-kv-dir")
        .map(str(_, "tikv-importer.sorted-kv-dir")))
      .getOrElse(throw new IllegalArgumentException(
        "no output target: set tikv-importer.sorted-kv-dir (the local " +
          "backend's sorted-KV directory is this engine's output) or pass " +
          "--target-dir"))

    val filters = take("mydumper.filter") match {
      case Some(VArr(vs)) => vs.map(str(_, "mydumper.filter[]"))
      case Some(other) =>
        throw new IllegalArgumentException(s"mydumper.filter: array expected, got $other")
      case None => Nil
    }

    val routes = p.arrays.getOrElse("routes", Nil).map { r =>
      def rs(k: String) = r.get(k).map(str(_, s"routes.$k")).getOrElse(
        throw new IllegalArgumentException(s"routes entry missing $k"))
      TableRoute(rs("schema-pattern"), rs("table-pattern"),
        rs("target-schema"), rs("target-table"))
    }

    def bwPairs(name: String): Seq[graft.discover.BWItem] =
      p.arrays.getOrElse(s"black-white-list.$name", Nil).map { r =>
        def bs(k: String) = r.get(k).map(str(_, s"black-white-list.$name.$k"))
          .getOrElse(throw new IllegalArgumentException(
            s"[[black-white-list.$name]] entry missing $k"))
        graft.discover.BWItem(bs("db-name"), bs("tbl-name"))
      }
    def bwNames(key: String): Seq[String] = take(s"black-white-list.$key") match {
      case Some(VArr(vs)) => vs.map(str(_, s"black-white-list.$key[]"))
      case Some(other) => throw new IllegalArgumentException(
        s"black-white-list.$key: array expected, got $other")
      case None => Nil
    }
    val bwRules = {
      val r = graft.discover.BWRules(bwNames("do-dbs"), bwNames("ignore-dbs"),
        bwPairs("do-tables"), bwPairs("ignore-tables"))
      if (r == graft.discover.BWRules()) None else Some(r)
    }

    val fileRules = p.arrays.getOrElse("mydumper.files", Nil).map { r =>
      def fo(k: String) = r.get(k).map(str(_, s"mydumper.files.$k"))
      graft.discover.FileRouter.FileRule(
        pattern = fo("pattern"),
        path = fo("path"),
        schema = fo("schema").getOrElse(""),
        table = fo("table").getOrElse(""),
        typ = fo("type").getOrElse(""),
        key = fo("key").getOrElse(""),
        compression = fo("compression").getOrElse(""))
    }

    val csv = CsvDialect(
      separator = take("mydumper.csv.separator")
        .map(str(_, "mydumper.csv.separator")).getOrElse(","),
      delimiter = take("mydumper.csv.delimiter")
        .map(str(_, "mydumper.csv.delimiter")).getOrElse("\""),
      // the reference's CONFIG default is header=true
      // (`lightning/config/config.go:385`) — tests/column_permutation
      // relies on it (its config.toml never sets header, its CSV leads
      // with one). The programmatic CsvDialect() default stays false;
      // only the TOML surface mirrors the reference's.
      header = take("mydumper.csv.header")
        .map(bool(_, "mydumper.csv.header")).getOrElse(true),
      notNull = take("mydumper.csv.not-null")
        .map(bool(_, "mydumper.csv.not-null")).getOrElse(false),
      nullValue = take("mydumper.csv.null")
        .map(str(_, "mydumper.csv.null")).getOrElse("\\N"),
      backslashEscape = take("mydumper.csv.backslash-escape")
        .map(bool(_, "mydumper.csv.backslash-escape")).getOrElse(true),
      trimLastSep = take("mydumper.csv.trim-last-separator")
        .map(bool(_, "mydumper.csv.trim-last-separator")).getOrElse(false))

    val checkpointEnable = take("checkpoint.enable")
      .map(bool(_, "checkpoint.enable")).getOrElse(false)
    val checkpointDriver = take("checkpoint.driver")
      .map(str(_, "checkpoint.driver")).getOrElse("file")
    val checkpointDsn = take("checkpoint.dsn").map(str(_, "checkpoint.dsn"))
    val stateDir =
      if (!checkpointEnable) None
      else if (checkpointDriver == "file")
        Some(checkpointDsn.getOrElse(s"$targetDir/_checkpoint"))
      else throw new IllegalArgumentException(
        s"checkpoint.driver=$checkpointDriver: only the 'file' driver exists here")

    val analyze = take("post-restore.analyze")
      .map(postOpLevel(_, "post-restore.analyze")).getOrElse("required")
    val checksum = take("post-restore.checksum")
      .map(postOpLevel(_, "post-restore.checksum")).getOrElse("required")

    val sqlMode = take("tidb.sql-mode")
      .map(str(_, "tidb.sql-mode").toUpperCase)

    val cfg = Ingest.Config(
      sourceDir = sourceDir,
      targetDir = targetDir,
      filters = filters,
      routes = routes,
      csvDialect = csv,
      charset = take("mydumper.character-set")
        .map(str(_, "mydumper.character-set")).getOrElse("auto"),
      stateDir = stateDir,
      analyze = analyze != "off",
      strictMode = sqlMode.exists(_.contains("STRICT")),
      // an EXPLICIT non-strict sql-mode selects MySQL's lenient
      // coercions (clamp/truncate/implicit defaults — what the server
      // does without STRICT_TRANS_TABLES, `tests/sqlmode/off.toml`);
      // absent sql-mode keeps the library's honest-NULL default
      lenientCasts = sqlMode.exists(!_.contains("STRICT")),
      maxError = take("lightning.max-error").orElse(take("app.max-error"))
        .map(long(_, "max-error")).getOrElse(Ingest.TaskMaxError),
      tableConcurrency = take("lightning.table-concurrency")
        .map(long(_, "lightning.table-concurrency")).getOrElse(1L).toInt,
      noSchema = take("mydumper.no-schema")
        .map(bool(_, "mydumper.no-schema")).getOrElse(false),
      strictFormat = take("mydumper.strict-format")
        .map(bool(_, "mydumper.strict-format")).getOrElse(false),
      chunkBytes = take("mydumper.max-region-size")
        .map(parseSize).getOrElse(256L << 20),
      fileRules = fileRules,
      // tidb-backend merge policy vs pre-existing target rows
      // (`tests/tidb_duplicate_data` replays all three values); the
      // reference defaults the tidb backend to "replace" (config.go),
      // so backend=tidb alone turns the policy on
      onDuplicate = take("tikv-importer.on-duplicate")
        .map(str(_, "tikv-importer.on-duplicate"))
        .orElse(take("tikv-importer.backend")
          .map(str(_, "tikv-importer.backend"))
          .filter(_ == "tidb").map(_ => "replace")),
      defaultFileRules = take("mydumper.default-file-rules")
        .map(bool(_, "mydumper.default-file-rules")),
      bwList = bwRules,
      // columnar sink format (parquet|orc) — the north star's "bulk
      // Parquet/ORC write" as one knob through the sorted sink;
      // validated by Ingest.Config's require
      outputFormat = take("tikv-importer.output-format")
        .map(str(_, "tikv-importer.output-format").toLowerCase)
        .getOrElse("parquet"))

    val serverMode = take("lightning.server-mode")
      .map(bool(_, "lightning.server-mode")).getOrElse(false)
    val statusAddr = take("lightning.status-addr")
      .map(str(_, "lightning.status-addr")).filter(_.nonEmpty)

    // empty UNKNOWN sections (a typo'd header with no keys) surface
    // too — the reference logs every unused config item
    // (`tests/unused_config_keys` greps its typo-1/-3 headers)
    val knownSections = Set("lightning", "security", "checkpoint",
      "tikv-importer", "mydumper", "mydumper.csv", "tidb",
      "tidb.security", "post-restore", "cron", "black-white-list")
    val emptySections = p.sections.distinct
      .filterNot(knownSections)
      .filterNot(s => p.scalars.keys.exists(_.startsWith(s + ".")))
    val ignored = (p.scalars.keySet -- used).toSeq.sorted ++
      emptySections.sorted.map(s => s"[$s]") ++
      (p.arrays.keySet -- Set("routes", "mydumper.files",
        "black-white-list.do-tables", "black-white-list.ignore-tables"))
        .toSeq.sorted.map(n => s"[[$n]]")
    Loaded(cfg, serverMode, statusAddr, checksum, ignored)
  }

  def loadFile(path: String, targetDirOverride: Option[String] = None): Loaded =
    load(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      targetDirOverride)
}
