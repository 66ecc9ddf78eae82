package graft.transform

import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.{Column, DataFrame}

import graft.schema.{ColumnSpec, TableSchema}

/** Per-row transform operators (SURVEY §2.3 T1–T7): column permutation,
  * type cast, default fill, auto-increment / auto-random / row-ID
  * synthesis, generated columns. All are pure `select` expressions —
  * narrow (no shuffle), codegen-friendly, and scale-free: at 100 TB
  * they fuse into the scan's whole-stage-codegen pass.
  */
object RowTransform {

  /** T1+T3: map file columns onto the table's column list. A table
    * column missing from the file gets its DEFAULT (or NULL); file
    * columns not in the table are dropped; unknown-header errors are
    * the caller's job (reference `lightning/restore/restore.go:2055-2137`).
    */
  def permute(df: DataFrame, schema: TableSchema,
      taskTs: Option[java.sql.Timestamp] = None): DataFrame = {
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = schema.columns.map { c =>
      present.get(c.name.toLowerCase) match {
        case Some(src) => col(src).as(c.name)
        case None => defaultValue(c, taskTs).as(c.name)
      }
    }
    df.select(cols: _*)
  }

  /** A `DEFAULT CURRENT_TIMESTAMP[(fsp)]` clause (any fractional
    * precision — the reference's `tests/checkpoint_timestamp` declares
    * `current_timestamp(6)`).
    */
  private def isCurrentTs(d: String): Boolean =
    d.toUpperCase.matches("CURRENT_TIMESTAMP(\\(\\d*\\))?")

  /** The task-stable now: every CURRENT_TIMESTAMP default in one
    * import evaluates to the TASK timestamp (passed by Ingest from its
    * job state, stable across chunk batches and crash-resume — the
    * reference pins one distinct ts over 98 all-default rows through a
    * mid-chunk crash). Absent (library callers outside an import run),
    * per-query current_timestamp() keeps the old behavior.
    */
  private def nowCol(taskTs: Option[java.sql.Timestamp]): Column =
    taskTs.map(t => lit(t)).getOrElse(current_timestamp())

  /** T3: literal for a column's DEFAULT under its Spark type. Hex
    * defaults on binary-typed columns arrive still in `x'..'` form
    * (see MysqlDdl.normalizeDefault) and become exact byte literals —
    * a string round-trip would mangle non-UTF-8 sequences.
    */
  def defaultValue(c: ColumnSpec,
      taskTs: Option[java.sql.Timestamp] = None): Column = c.default match {
    case None => lit(null).cast(c.sparkType)
    case Some(d) if isCurrentTs(d) => nowCol(taskTs)
    case Some(d) =>
      graft.schema.MysqlDdl.hexLiteralBytes(d) match {
        case Some(bytes) if c.sparkType == org.apache.spark.sql.types.BinaryType =>
          lit(bytes)
        case _ => lit(d).cast(c.sparkType)
      }
  }

  /** Replace [[graft.sources.DumpSource.DefaultSentinel]] markers
    * (columns an INSERT did not provide) with the column's DEFAULT in
    * pre-cast lexical string form, so the substitution composes with
    * hex resolution and the normal cast pipeline. Runs on the dump
    * path only, before [[graft.sources.DumpSource.resolveHex]] — a
    * hex default is re-emitted in sentinel form so binary columns
    * still decode bytes, not mangled UTF-8.
    */
  def applyOmittedDefaults(df: DataFrame, schema: TableSchema,
      taskTs: Option[java.sql.Timestamp] = None): DataFrame = {
    val byName = schema.columns.map(c => c.name.toLowerCase -> c).toMap
    df.select(df.columns.map { name =>
      byName.get(name.toLowerCase) match {
        case Some(c) =>
          when(col(name) === lit(graft.sources.DumpSource.DefaultSentinel),
            lexicalDefault(c, taskTs)).otherwise(col(name)).as(name)
        case None => col(name)
      }
    }.toSeq: _*)
  }

  /** A column's DEFAULT as the lexical string the dump parser would
    * have produced: CURRENT_TIMESTAMP evaluates now (insert-time
    * semantics), hex defaults stay in sentinel form for type-aware
    * resolution, everything else is the normalized DDL literal. No
    * default → NULL (auto-increment synthesis then fills ID columns).
    */
  private def lexicalDefault(c: ColumnSpec,
      taskTs: Option[java.sql.Timestamp] = None): Column = c.default match {
    case None => lit(null).cast("string")
    case Some(d) if isCurrentTs(d) =>
      // micro precision: a datetime(6) column must round-trip the
      // task timestamp exactly, not second-truncate it
      date_format(nowCol(taskTs), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    case Some(d) =>
      graft.schema.MysqlDdl.hexLiteralBytes(d) match {
        case Some(bytes) =>
          lit(graft.sources.DumpSource.HexSentinel +
            bytes.map(b => f"${b & 0xff}%02x").mkString)
        case None => lit(d)
      }
  }

  /** T2: cast every (string-ish) column to its declared type, switched
    * on SQL mode like the reference (`lightning/backend/tidb.go:324-331`,
    * `tests/sqlmode/`):
    *
    *  - non-strict (default): Spark's non-ANSI cast — a bad value
    *    coerces to NULL, the import proceeds;
    *  - strict: a non-null value that fails its cast raises, failing
    *    the task (and with it the import) loudly, like MySQL's
    *    STRICT_TRANS_TABLES. Implemented as a `when` + `raise_error`
    *    around the same cast — still a narrow codegen'd expression, no
    *    session-wide ANSI flag needed.
    */
  def applySchema(df: DataFrame, schema: TableSchema, strict: Boolean = false): DataFrame =
    applySchema(df, schema, if (strict) CastPolicy.Strict else CastPolicy.NullOut)

  /** Three-valued SQL-mode switch (reference `tests/sqlmode` runs the
    * same data under `off.toml`/`on.toml`):
    *
    *  - [[CastPolicy.NullOut]] — the engine's library default: a bad
    *    value becomes an honest NULL (documented deviation from MySQL,
    *    which coerces);
    *  - [[CastPolicy.Lenient]] — MySQL non-strict semantics: clamp
    *    out-of-range numbers, truncate overlong strings, normalize SET
    *    values, fill NOT NULL implicit defaults (what a `sql-mode`
    *    without STRICT_TRANS_TABLES does server-side);
    *  - [[CastPolicy.Strict]] — STRICT_TRANS_TABLES: raise on the
    *    first bad value, failing the import loudly.
    */
  def applySchema(df: DataFrame, schema: TableSchema,
      policy: CastPolicy.Value): DataFrame =
    applySchema(df, schema, policy, None)

  def applySchema(df: DataFrame, schema: TableSchema, policy: CastPolicy.Value,
      taskTs: Option[java.sql.Timestamp]): DataFrame = {
    val permuted = permute(df, schema, taskTs)
    permuted.select(castColumns(schema, policy): _*)
  }

  /** Marker column added by [[applySchemaWithErrors]]. */
  val ErrorsCol = "_graft_cast_errors"

  /** [[applySchema]] plus an [[ErrorsCol]] counting the row's cast
    * failures (non-null input → null output) — the reference's
    * error-summary surface (`tests/error_summary`): callers aggregate
    * it (e.g. as an observed metric riding the write) and compare to a
    * max-error budget, without a second scan. In strict mode failures
    * raise before they could be counted, so the column is constant 0.
    */
  def applySchemaWithErrors(df: DataFrame, schema: TableSchema,
      strict: Boolean = false): DataFrame =
    applySchemaWithErrors(df, schema,
      if (strict) CastPolicy.Strict else CastPolicy.NullOut)

  /** [[applySchemaWithErrors]] under a [[CastPolicy]]. Strict raises
    * before an error could be counted; Lenient coerces everything MySQL
    * coerces (warnings in MySQL, not errors — they never consume the
    * max-error budget there either); both leave the counter at 0.
    */
  def applySchemaWithErrors(df: DataFrame, schema: TableSchema,
      policy: CastPolicy.Value): DataFrame =
    applySchemaWithErrors(df, schema, policy, None)

  def applySchemaWithErrors(df: DataFrame, schema: TableSchema,
      policy: CastPolicy.Value,
      taskTs: Option[java.sql.Timestamp]): DataFrame = {
    val permuted = permute(df, schema, taskTs)
    val errs =
      if (policy == CastPolicy.NullOut) errorCount(schema) else lit(0L)
    permuted.select(castColumns(schema, policy) :+ errs.as(ErrorsCol): _*)
  }

  /** Per-row count of values that would fail their cast. A MySQL zero
    * date is the server's own "no value" sentinel, not malformed input
    * — it coerces to NULL (see [[isZeroDate]]) without burning the
    * error budget.
    */
  private def errorCount(schema: TableSchema): Column =
    schema.columns.map { c =>
      when(col(c.name).isNotNull && !isZeroDate(col(c.name), c) &&
        castTo(col(c.name), c).isNull, 1L).otherwise(0L)
    }.reduce(_ + _)

  /** The RAW (pre-cast) rows that would fail ≥1 cast under the schema,
    * with their failure count — the reference's error-report rows
    * (`lightning.max-error` + error tables record the offending row,
    * not just a counter), kept lexical so the user can fix and
    * re-import them.
    */
  def quarantineRows(df: DataFrame, schema: TableSchema): DataFrame = {
    val permuted = permute(df, schema)
    permuted
      .withColumn(ErrorsCol, errorCount(schema))
      .filter(col(ErrorsCol) > 0)
  }

  /** SQL-mode selector for the cast pipeline — see [[applySchema]]. */
  object CastPolicy extends Enumeration {
    val NullOut, Lenient, Strict = Value
  }

  private def castColumns(schema: TableSchema, policy: CastPolicy.Value): Seq[Column] =
    schema.columns.map { c =>
      val raw = col(c.name)
      val v = policy match {
        case CastPolicy.Lenient => lenientCast(raw, c)
        case CastPolicy.Strict =>
          val casted = castTo(raw, c)
          when(raw.isNotNull && casted.isNull,
            raise_error(concat(
              lit(s"strict mode: invalid value for column ${c.name}: '"),
              raw.try_cast(StringType), lit("'"))).cast(c.sparkType))
            .otherwise(casted)
        case CastPolicy.NullOut => castTo(raw, c)
      }
      v.as(c.name)
    }

  /** `try_cast`, not `cast`: bad value → NULL regardless of the
    * session's `spark.sql.ansi.enabled` (ON by default in Spark 4, which
    * would make a plain cast raise). Both SQL modes build on this —
    * non-strict keeps the NULL, strict turns it into a raise_error.
    *
    * enum/set columns additionally validate the value against the
    * declared domain (the reference's `CastValue` does the same): an
    * out-of-domain value becomes NULL, which non-strict mode keeps
    * (MySQL inserts '' there — we prefer the honest NULL) and strict
    * mode turns into an error.
    */
  /** MySQL zero-date sentinel (`0000-00-00[ 00:00:00]`, reference
    * `tests/sqlmode/`) heading into a date/timestamp column. Spark's
    * proleptic calendar cannot represent it, so the engine's CONTRACT
    * (deliberate deviation, documented in README): non-strict mode
    * coerces it to NULL without counting a cast error; strict mode
    * raises, matching MySQL's NO_ZERO_DATE-under-strict default.
    */
  private[transform] def isZeroDate(c: Column, spec: ColumnSpec): Column =
    if (spec.sparkType == DateType || spec.sparkType == TimestampType)
      c.try_cast(StringType).rlike("^0000-00-00( 00:00:00(\\.0+)?)?$")
    else lit(false)

  /** MySQL type domains narrower than their Spark carrier type, keyed
    * by the DDL base type (reference `CastValue` enforces the same
    * ranges; `tests/sqlmode` pins tinyint 128/−99999 behavior). Signed
    * int/bigint need no entry — they fill their carrier exactly, so
    * try_cast already nulls overflow.
    */
  private val SignedRanges: Map[String, (Long, Long)] = Map(
    "tinyint" -> (-128L, 127L),
    "smallint" -> (-32768L, 32767L),
    "mediumint" -> (-8388608L, 8388607L))

  private val UnsignedMax: Map[String, BigDecimal] = Map(
    "tinyint" -> BigDecimal(255),
    "smallint" -> BigDecimal(65535),
    "mediumint" -> BigDecimal(16777215),
    "int" -> BigDecimal(4294967295L),
    "integer" -> BigDecimal(4294967295L),
    "bigint" -> (BigDecimal(2).pow(64) - 1))

  private def baseTypeOf(spec: ColumnSpec): String =
    spec.mysqlType.takeWhile(_ != '(')

  /** Integer DDL base types — the branches that round+clamp in lenient
    * mode. `bit`/decimal/float stay out (bit keeps its integer text,
    * decimals keep their scale).
    */
  private val IntBases = Set(
    "tinyint", "smallint", "mediumint", "int", "integer", "bigint", "year")

  /** MySQL temporal domains: TIMESTAMP is epoch-bounded, DATE/DATETIME
    * start at year 1000 — Spark's string→timestamp parse is laxer (it
    * accepts a bare year like '9'), so without the bound a value MySQL
    * rejects (`tests/sqlmode` row 1: integer 9 into TIMESTAMP) would
    * silently become year 9.
    */
  private def temporalInRange(base: Column, spec: ColumnSpec): Column =
    baseTypeOf(spec) match {
      case "timestamp" =>
        base >= to_timestamp(lit("1970-01-01 00:00:01")) &&
          base <= to_timestamp(lit("2038-01-19 03:14:07"))
      case "datetime" | "date" =>
        base.cast(DateType) >= to_date(lit("1000-01-01")) &&
          base.cast(DateType) <= to_date(lit("9999-12-31"))
      case _ => lit(true)
    }

  /** MySQL TIME canonicalization for the VALID colon shapes:
    * `[-][D ]H{1,3}:M{1,2}[:S{1,2}][.frac]` → `[-]HH:MM:SS[.frac]`,
    * with a leading day count folded into hours (MySQL's own storage
    * normalization). Minutes/seconds are bounded to 0–59 in the shape
    * itself and the folded hour count to TIME's 838 maximum — a value
    * MySQL would REJECT ('0:99:5', '900:00:00') must not be
    * reformatted into canonical-looking output. Everything out of
    * shape or range — including the numeric forms — passes through
    * lexically, the documented TIME contract (StringType carrier,
    * SURVEY §1.2).
    */
  private val TimeShape =
    "^\\s*(-)?(?:(\\d{1,2}) )?(\\d{1,3}):([0-5]?\\d)(?::([0-5]?\\d))?(\\.\\d+)?\\s*$"

  private[transform] def normalizeTime(c: Column): Column = {
    def part(i: Int) = regexp_extract(c, TimeShape, i)
    val days = when(part(2) === "", lit(0)).otherwise(part(2).cast(IntegerType))
    val hours = days * 24 + part(3).cast(IntegerType)
    // format_string, not lpad: lpad TRUNCATES beyond its length, which
    // would corrupt a 3-digit hour count ('120:00:00' is legal TIME)
    val canon = concat(
      part(1),
      format_string("%02d:%02d:%02d", hours,
        part(4).cast(IntegerType),
        when(part(5) === "", lit(0)).otherwise(part(5).cast(IntegerType))),
      part(6))
    when(c.rlike(TimeShape) && hours <= 838, canon).otherwise(c)
  }

  private def castTo(c: Column, spec: ColumnSpec): Column = {
    val base0 = c.try_cast(spec.sparkType)
    val bt = baseTypeOf(spec)
    // domain narrowing the carrier type can't express: narrow/unsigned
    // integer ranges, temporal ranges, declared char/binary lengths.
    // Out-of-domain → NULL, which NullOut keeps (honest NULL) and
    // Strict turns into a raise — matching MySQL's strict error set.
    val base = spec.sparkType match {
      // INTEGER base types: narrow/unsigned ranges the carrier type
      // can't express. Non-integer numerics (unsigned decimal/float/
      // double) get only the sign check below — their magnitude domain
      // IS the carrier's (a 1e19 into DECIMAL(20,0) UNSIGNED is valid
      // MySQL and must not be clamped to an int64 bound).
      case IntegerType | LongType | _: DecimalType
        if IntBases(bt) && (SignedRanges.contains(bt) || spec.unsigned) =>
        val (lo, hi) =
          if (spec.unsigned)
            (BigDecimal(0), UnsignedMax.getOrElse(bt, BigDecimal(Long.MaxValue)))
          else {
            val (l, h) = SignedRanges(bt); (BigDecimal(l), BigDecimal(h))
          }
        val d = base0.cast(DecimalType(38, 0))
        when(d.between(lit(lo), lit(hi)), base0)
      case _: DecimalType | FloatType | DoubleType if spec.unsigned =>
        when(base0 >= 0, base0)
      case TimestampType | DateType =>
        when(temporalInRange(base0, spec), base0)
      case StringType if bt == "time" =>
        // MySQL normalizes TIME on storage: '1:2:3' → '01:02:03',
        // 'D HH:MM:SS' folds days into hours (tests/generated_columns
        // pins duration '1:2:3' reading back as 01:02:03). Values
        // outside the colon shape keep the lexical contract
        // (SURVEY §1.2) unchanged.
        normalizeTime(base0)
      case StringType =>
        // length() = characters on strings, bytes on binary — both are
        // the MySQL bound for the respective column kind
        spec.typeLength.map(n => when(length(base0) <= n, base0))
          .getOrElse(base0)
      case BinaryType =>
        spec.typeLength.map(n => when(length(base0) <= n, base0))
          .getOrElse(base0)
      case _ => base0
    }
    if (spec.enumValues.isEmpty) base
    else if (spec.mysqlType.startsWith("set"))
      when(size(array_except(split(c, ","), typedLit(spec.enumValues))) === 0, base)
    else
      when(c.isin(spec.enumValues.map(v => lit(v)): _*), base)
  }

  /** MySQL non-strict coercion (`sql-mode` without STRICT_TRANS_TABLES;
    * reference `tests/sqlmode/off.toml` pins every branch): numbers
    * parse their leading numeric prefix, round, and CLAMP to the
    * declared range ('NaN'→0, 128→127, −99999→−128, 99.999→100);
    * strings truncate to the declared length (byte-wise for
    * byte-charset columns: 'too long'→'t', '🤩'→0xF0); SET values
    * normalize (numeric bitmask decode, dedupe to definition order,
    * any invalid member → ''); NOT NULL columns fill their implicit
    * default (0 / '' / empty bytes) on NULL input. Temporal columns
    * keep the zero-date contract: anything MySQL would store as
    * `0000-00-00` is NULL here (documented deviation — Spark's
    * calendar has no zero date).
    */
  private def lenientCast(raw: Column, spec: ColumnSpec): Column = {
    val bt = baseTypeOf(spec)
    val s = raw.try_cast(StringType)
    def notNullFill(v: Column, fill: Column): Column =
      if (spec.nullable) v else coalesce(v, fill)
    spec.sparkType match {
      case _ if bt == "enum" =>
        val vals = spec.enumValues
        val member = when(s.isin(vals.map(lit): _*), s)
        val idx = s.try_cast(IntegerType)
        val ordinal = when(idx.between(1, vals.size), element_at(typedLit(vals), idx))
        // invalid → '' (MySQL's enum error value), NULL input on a
        // nullable column stays NULL; NULL into NOT NULL takes the
        // implicit default, which for ENUM is the FIRST enumeration
        // value — '' is reserved for invalid non-NULL inputs
        val v = when(raw.isNull, lit(null).cast(StringType))
          .otherwise(coalesce(member, ordinal, lit("")))
        notNullFill(v, lit(vals.head))
      case _ if bt == "set" =>
        val vals = spec.enumValues
        val elems = split(s, ",")
        val validSplit = size(array_except(elems, typedLit(vals))) === 0
        // canonical form: members in definition order, deduped
        val canonical = concat_ws(",", vals.map(v =>
          when(array_contains(elems, v), lit(v)).otherwise(lit(null).cast(StringType))): _*)
        val n = s.try_cast(LongType)
        val bitmask = concat_ws(",", vals.zipWithIndex.map { case (v, i) =>
          when(shiftright(n, i).bitwiseAND(lit(1L)) === 1L, lit(v))
            .otherwise(lit(null).cast(StringType))
        }: _*)
        // 63+ members reach the long's sign bit — no upper bound then
        // (1L << 63 wraps negative, 1L << 64 wraps to 1)
        val inMask =
          if (vals.size >= 63) n.isNotNull && n >= 0
          else n.isNotNull && n >= 0 && n < (1L << vals.size)
        val v = when(raw.isNull, lit(null).cast(StringType))
          .otherwise(
            when(s === "", lit(""))
              .when(validSplit, canonical)
              .when(inMask, bitmask)
              .otherwise(lit("")))
        notNullFill(v, lit(""))
      case IntegerType | LongType | _: DecimalType if IntBases(bt) =>
        val (lo, hi) =
          if (spec.unsigned)
            (BigDecimal(0), UnsignedMax.getOrElse(bt, BigDecimal(Long.MaxValue)))
          else SignedRanges.get(bt)
            .map { case (l, h) => (BigDecimal(l), BigDecimal(h)) }
            .getOrElse(bt match {
              case "bigint" => (BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
              case "year" => (BigDecimal(0), BigDecimal(2155))
              case _ => (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue))
            })
        val num = numericPrefix(s)
        val rounded = round(num, 0).cast(DecimalType(38, 0))
        // greatest/least skip NULLs — an unparseable value must stay
        // NULL here (→ 0 via the coalesce), not clamp to the low bound
        val clamped = when(rounded.isNotNull,
          least(greatest(rounded, lit(lo).cast(DecimalType(38, 0))),
            lit(hi).cast(DecimalType(38, 0)))).cast(spec.sparkType)
        val v = when(raw.isNull, lit(null).cast(spec.sparkType))
          .otherwise(coalesce(clamped, lit(0).cast(spec.sparkType)))
        notNullFill(v, lit(0).cast(spec.sparkType))
      case dt: DecimalType =>
        // MySQL non-strict CLAMPS an overflowing decimal to the
        // declared range's edge (DECIMAL(5,2) + '99999.999' → 999.99),
        // it does not zero it; unparseable → 0; unsigned floors at 0
        val maxV = (BigDecimal(10).pow(dt.precision - dt.scale) - 1) +
          (BigDecimal(10).pow(dt.scale) - 1) / BigDecimal(10).pow(dt.scale)
        val minV = if (spec.unsigned) BigDecimal(0) else -maxV
        val num = numericPrefix(s)
        val clamped = when(num.isNotNull,
          least(greatest(num, lit(minV).cast(DecimalType(38, 6))),
            lit(maxV).cast(DecimalType(38, 6)))).try_cast(dt)
        val v = when(raw.isNull, lit(null).cast(dt))
          .otherwise(coalesce(clamped, lit(0).cast(dt)))
        notNullFill(v, lit(0).cast(dt))
      case FloatType | DoubleType =>
        val num = numericPrefix(s)
        val signed = if (spec.unsigned) greatest(num, lit(BigDecimal(0))) else num
        val v = when(raw.isNull, lit(null).cast(spec.sparkType))
          .otherwise(coalesce(signed.try_cast(spec.sparkType),
            lit(0).cast(spec.sparkType)))
        notNullFill(v, lit(0).cast(spec.sparkType))
      case TimestampType | DateType =>
        // zero-date contract: invalid/out-of-range → NULL even NOT NULL
        castTo(raw, spec)
      case StringType if bt == "time" =>
        // TIME storage normalization is sql-mode-INDEPENDENT in MySQL —
        // the lenient kernel must agree with the strict/null-out path
        notNullFill(normalizeTime(s), lit("00:00:00"))
      case StringType =>
        val t = spec.typeLength.map(n => substring(s, 1, n)).getOrElse(s)
        notNullFill(t, lit(""))
      case BinaryType =>
        val b = raw.try_cast(BinaryType)
        val t = spec.typeLength.map(n => substring(b, lit(1), lit(n))).getOrElse(b)
        notNullFill(t, lit(Array.emptyByteArray))
      case BooleanType =>
        val v = when(raw.isNull, lit(null).cast(BooleanType))
          .otherwise(coalesce(raw.try_cast(BooleanType),
            numericPrefix(s) =!= 0, lit(false)))
        notNullFill(v, lit(false))
      case _ =>
        notNullFill(castTo(raw, spec), lit(0).try_cast(spec.sparkType))
    }
  }

  /** MySQL's string→number parse: the longest numeric PREFIX of the
    * trimmed value ('12abc'→12, 'NaN'→no prefix→NULL, callers
    * coalesce to 0). decimal(38,6) carrier: exact across the whole
    * bigint range (a double would corrupt the low bits of large IDs).
    */
  private def numericPrefix(s: Column): Column =
    regexp_extract(trim(s),
      "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?", 0)
      .try_cast(DecimalType(38, 6))

  /** Two-level row-ID: partitions keep their row order; each partition
    * gets a base = `base` + the cumulative count of prior partitions
    * (the driver-side scan over per-partition counts is O(#partitions),
    * like the reference's cumulative chunk offsets), and row k of a
    * partition gets its base + k + 1. IDs are dense, unique, and
    * deterministic for a fixed partitioning.
    *
    * The input is lazily `localCheckpoint`ed, and ONE counting job
    * both stores its blocks and counts them ([[denseIds]]); the IDs are a
    * whole-stage-codegen'd expression over the checkpointed relation
    * (see [[DenseIds.withIds]]), so later reads (a sink's sampling and
    * write jobs) number rows without a per-row object round trip.
    * Counting and numbering must see identical partition contents: a
    * nondeterministic upstream (e.g. a round-robin repartition) could
    * otherwise recompute differently between them, producing duplicate
    * or skipped IDs. Checkpointing cuts the lineage, so every pass
    * reads the same stored blocks — a lost block fails the job instead
    * of silently diverging (the failure mode the reference's persisted
    * PrevRowIDMax checkpoint ranges also choose). Blocks are freed by
    * the ContextCleaner once the DataFrame is garbage-collected; the
    * one materialization pass mirrors the reference's write-to-local-
    * engine-then-assign shape.
    */
  def chunkedRowId(df: DataFrame, idCol: String = "_graft_rowid", base: Long = 0L): DataFrame =
    denseIds(df).withIds(idCol, base)

  /** [[denseIds]]' facts: the checkpointed relation, its per-partition
    * row counts and, over the optional stat column, the max of its
    * values cast to bigint (0 when there is none), its NULL count and
    * the global 1-based position of its last NULL row (0 when none).
    * With `base` = b, that last NULL row's dense ID is b + `lastNull`.
    */
  final case class DenseIds(stable: DataFrame, counts: Seq[Long],
      explicitMax: Long, nulls: Long, lastNull: Long) {
    /** `stable` plus a non-null bigint `idCol`: `bases(p) +
      * (monotonically_increasing_id() & (2³³−1)) + 1`, where p is the
      * partition id, the low 33 bits are the in-partition ordinal and
      * `bases(p)` = `base` + the rows of partitions before p.
      */
    def withIds(idCol: String, base: Long): DataFrame = {
      val bases = typedLit(counts.scanLeft(base)(_ + _).toArray)
      val partBase = shims.column(KnownNotNull(shims.expression(bases(spark_partition_id()))))
      stable.withColumn(idCol,
        partBase + monotonically_increasing_id().bitwiseAND(InPartitionMask) + 1L)
    }
  }

  /** `monotonically_increasing_id()` keeps the in-partition ordinal in
    * its low 33 bits.
    */
  private val InPartitionMask = (1L << 33) - 1

  /** Checkpoints `df` lazily and runs ONE job, which stores the blocks
    * and returns per partition the row count and, when `stat` names a
    * column, the explicit max of `stat` cast to bigint, its NULL count
    * and the in-partition position of its last NULL. A partition of ≥ 2³³ rows
    * fails loudly: its ordinals would spill into the partition bits.
    */
  def denseIds(df: DataFrame, stat: Option[String] = None): DenseIds = {
    val stable = df.localCheckpoint(false)
    val probe = stat.fold(stable.select())(c => stable.select(col(c).isNull, col(c).cast(LongType)))
    val hasStat = stat.isDefined
    // (partition, rows, max or Long.MinValue, nulls, last NULL position)
    val parts = probe.queryExecution.toRdd.mapPartitionsWithIndex { case (i, it) =>
      var rows, nulls, last = 0L
      var mx = Long.MinValue
      it.foreach { r =>
        rows += 1
        if (hasStat) {
          if (r.getBoolean(0)) { nulls += 1; last = rows }
          else if (!r.isNullAt(1)) mx = math.max(mx, r.getLong(1))
        }
      }
      Iterator.single((i, rows, mx, nulls, last))
    }.collect().sortBy(_._1)
    val counts = parts.map(_._2).toSeq
    counts.zipWithIndex.find(_._1 > InPartitionMask).foreach { case (n, i) =>
      throw new IllegalStateException(
        s"partition $i holds $n rows; dense row IDs allow at most $InPartitionMask per partition")
    }
    val lastNull = parts.zip(counts.scanLeft(0L)(_ + _)).reverseIterator
      .collectFirst { case (p, before) if p._5 > 0 => before + p._5 }.getOrElse(0L)
    val mx = parts.map(_._3).foldLeft(Long.MinValue)(math.max)
    DenseIds(stable, counts, if (mx == Long.MinValue) 0L else mx, parts.map(_._4).sum, lastNull)
  }

  /** T4 for the import path: synthesized auto-increment values as a
    * narrow expression — `monotonically_increasing_id()` (partition
    * ordinal in the high bits, in-partition ordinal in the low bits)
    * offset by `base`. This is the reference's chunk scheme exactly:
    * each chunk gets a disjoint row-ID range and numbers rows within it
    * (`lightning/mydump/region.go:236-286` — ranges are ESTIMATED
    * there, so upstream IDs have gaps too; dense IDs are not part of
    * the contract, uniqueness and monotone-per-chunk are). Unlike
    * [[chunkedRowId]] there is no counting pass and no materialization
    * — the right trade for a 100 TB import where the input partitioning
    * is deterministic (pure file scans, no upstream shuffle).
    *
    * `base` rebase: pass the stored max ID of the previous run
    * (reference rebases its allocator the same way,
    * `lightning/backend/allocator.go:23-61`) so appended batches never
    * collide with existing IDs.
    */
  def syntheticRowId(base: Long = 0L): Column =
    monotonically_increasing_id() + lit(base + 1L)

  /** T5: auto_random PK synthesis — high `shardBits` bits from a seeded
    * shard, low bits from the row ID (reference
    * `lightning/backend/sql2kv.go:69-77,313-320`).
    */
  def autoRandom(rowId: Column, shard: Column, shardBits: Int = 5, totalBits: Int = 64): Column = {
    val shiftBy = totalBits - 1 - shardBits
    val mask = (1L << shiftBy) - 1
    shiftleft(shard.cast(LongType) % (1L << shardBits), shiftBy)
      .bitwiseOR(rowId.cast(LongType).bitwiseAND(mask))
  }
}
