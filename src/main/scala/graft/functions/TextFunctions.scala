package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text/hash building blocks shared by the text-analysis, dedup and
  * similarity operators. Everything here is pure `functions._`
  * composition (codegen'd, no UDFs) and every hash is md5-derived so
  * the DuckDB oracles can reproduce the exact integers.
  */
object TextFunctions {

  /** Whitespace tokenization; empty text → empty array (not [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Word n-gram shingles, space-joined; fewer than n tokens → empty. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        j => array_join(slice(toks, j + lit(1), lit(n)), " ")))

  /** 56-bit hash from the first 14 hex chars of md5 — numerically
    * identical to DuckDB's CAST('0x'||substr(md5(x),1,14) AS BIGINT).
    * Computed by the codegen'd [[Md5Long56]] kernel (digest bytes →
    * long, no hex-string round trip); [[md5LongComposed]] is the
    * `functions._` twin the specs pin it against.
    */
  def md5Long(c: Column): Column = Md5Long56.md5Long56(c.cast("binary"))

  /** Width-parameterized [[md5Long]] — first `hexChars` hex digits of
    * the digest (14 reproduces [[md5Long]] exactly); the
    * corpus-derived simhash band widths ride this.
    */
  def md5LongHex(c: Column, hexChars: Int): Column =
    Md5LongHex.md5LongHex(c.cast("binary"), hexChars)

  /** The composed (hex-string) form of [[md5Long]] — same value,
    * slower; kept as the spec's semantic reference.
    */
  def md5LongComposed(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 14), 16, 10).cast(LongType)

  /** Driver-side twin of [[md5Long]], for deterministic constants
    * (LSH hyperplanes) computed once and broadcast as literals.
    */
  def md5LongLocal(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 14)
    java.lang.Long.parseLong(hex, 16)
  }

  /** floor(x·10⁶) as BIGINT — the deterministic quantization used for
    * all embedding math. floor-then-cast matches DuckDB (whose plain
    * double→BIGINT cast *rounds*, unlike Spark's truncation).
    */
  def quant(x: Column): Column = floor(x * 1000000d).cast(LongType)

  /** floor(x·10⁴) as BIGINT — the money-column quantization used by the
    * verification-probe SUMs (4 fractional digits, like the reference's
    * DECIMAL money columns). Same engine-identical rationale as
    * [[quant]]; a double→DECIMAL cast is NOT engine-identical (Spark
    * rounds HALF_UP, DuckDB truncates).
    */
  def quant4(x: Column): Column = floor(x * 10000d).cast(LongType)

  /** Exact integer dot product of two numeric arrays under [[quant]] —
    * the codegen'd [[QuantDot]] expression (the `zip_with`+`aggregate`
    * composition it replaced is interpreted per element; see
    * [[quantDotComposed]], kept as the spec's semantic twin).
    */
  def quantDot(a: Column, b: Column): Column = QuantDot.quantDot(a, b)

  /** The `functions._`-composed twin of [[quantDot]] — same semantics,
    * interpreted evaluation. Used by specs to pin the codegen path to
    * the declarative definition.
    */
  def quantDotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => quant(x) * quant(y)),
      lit(0L), (acc, v) => acc + v)
}
