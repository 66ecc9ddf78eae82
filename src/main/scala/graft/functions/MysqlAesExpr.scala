package graft.functions

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MySQL-semantics AES, as a native expression:
  * `mysql_aes_encrypt(input, key, mode, iv)` / `mysql_aes_decrypt(…)`.
  *
  * Spark's builtin `aes_encrypt` cannot reproduce MySQL's bytes, for
  * two reasons that both matter to the reference's generated-column
  * corpus (`tests/generated_columns/data/gencol.various_types-schema
  * .sql` pins `aes_encrypt(…,'key',…)` = 0xA876…75 under
  * `block_encryption_mode='aes-256-cbc'`):
  *
  *  - MySQL derives the AES key by XOR-FOLDING the user key string
  *    into a zeroed buffer of the mode's key length (a 3-byte 'key'
  *    is legal and folds to 32 bytes for aes-256); Spark requires an
  *    exact-length key.
  *  - MySQL CBC output is the raw ciphertext with the caller's IV
  *    (first 16 bytes of the init_vector argument); Spark's CBC
  *    prepends its IV to the payload.
  *
  * The reference obtains `block_encryption_mode` from the target
  * cluster because it changes the KV bytes
  * (`lightning/restore/tidb.go:49-57`); here the mode rides the
  * expression as its third argument, supplied by
  * [[graft.transform.GeneratedColumns.SessionVars]].
  *
  * Null/error contract (MySQL's): NULL input/key → NULL; a decrypt
  * that fails (wrong key, corrupt payload) → NULL; an ECB mode
  * ignores the IV argument — INCLUDING a NULL one, so eval/codegen
  * are hand-rolled rather than null-intolerant: the SQL-registered
  * `mysql_aes_encrypt(x, k, 'aes-…-ecb', NULL)` returns ciphertext
  * like MySQL, not NULL (the gencol rewriter also drops the IV at
  * translate time, but that never protected raw SQL callers); a CBC
  * call with a NULL IV is NULL, and with an IV shorter than 16 bytes
  * raises, like MySQL's ER_AES_INVALID_IV.
  */
case class MysqlAes(input: Expression, key: Expression, mode: Expression,
    iv: Expression, encrypt: Boolean) extends QuaternaryExpression {

  override def first: Expression = input
  override def second: Expression = key
  override def third: Expression = mode
  override def fourth: Expression = iv

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (encrypt) "mysql_aes_encrypt" else "mysql_aes_decrypt"

  // NullType admitted everywhere a value child is: a bare SQL NULL
  // argument must analyze (MySQL accepts NULL init_vector; under ECB
  // it even returns ciphertext) — eval handles the null routing
  private val okIn: Set[DataType] = Set(BinaryType, StringType, NullType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (okIn(input.dataType) && okIn(key.dataType) &&
      Set[DataType](StringType, NullType)(mode.dataType) && okIn(iv.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary|string, binary|string, string, " +
        s"binary|string), got (${input.dataType.simpleString}, " +
        s"${key.dataType.simpleString}, ${mode.dataType.simpleString}, " +
        s"${iv.dataType.simpleString})")

  // eval/codegen by hand: the stock null-intolerant Quaternary path
  // would NULL the whole call when the IV child is NULL, but under
  // ECB the IV is unused and MySQL returns ciphertext
  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val in = input.eval(row)
    val k = key.eval(row)
    val m = mode.eval(row)
    if (in == null || k == null || m == null) null
    else {
      val modeStr = m.asInstanceOf[UTF8String].toString
      val v = iv.eval(row)
      if (v == null && !MysqlAes.modeIgnoresIv(modeStr)) null
      else MysqlAes.crypt(MysqlAes.bytes(in), MysqlAes.bytes(k), modeStr,
        if (v == null) Array.emptyByteArray else MysqlAes.bytes(v), encrypt)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val inGen = input.genCode(ctx)
    val kGen = key.genCode(ctx)
    val mGen = mode.genCode(ctx)
    val vGen = iv.genCode(ctx)
    val modeStr = ctx.freshName("aesMode")
    val out = ctx.freshName("aesOut")
    ev.copy(code =
      code"""
        ${inGen.code}
        ${kGen.code}
        ${mGen.code}
        ${vGen.code}
        boolean ${ev.isNull} = true;
        byte[] ${ev.value} = null;
        if (!${inGen.isNull} && !${kGen.isNull} && !${mGen.isNull}) {
          String $modeStr = ${mGen.value}.toString();
          if (!${vGen.isNull} || graft.functions.MysqlAes.modeIgnoresIv($modeStr)) {
            byte[] $out = graft.functions.MysqlAes.crypt(
              graft.functions.MysqlAes.bytes(${inGen.value}),
              graft.functions.MysqlAes.bytes(${kGen.value}),
              $modeStr,
              ${vGen.isNull} ? new byte[0]
                : graft.functions.MysqlAes.bytes(${vGen.value}),
              $encrypt);
            if ($out != null) { ${ev.isNull} = false; ${ev.value} = $out; }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): MysqlAes =
    copy(input = f, key = s, mode = t, iv = q)
}

object MysqlAes {

  /** Raw bytes of a string-or-binary child value (the expression
    * accepts both so numerics arrive via their string form, like
    * MySQL's string-context coercion).
    */
  def bytes(v: Any): Array[Byte] = v match {
    case u: UTF8String => u.getBytes
    case b: Array[Byte] => b
    case other => throw new IllegalArgumentException(
      s"unexpected AES operand ${other.getClass.getName}")
  }

  /** MySQL's key derivation: XOR-fold the user key into a zeroed
    * buffer of the cipher's key length, cycling over the buffer
    * (mysys_ssl/my_aes.cc my_aes_create_key).
    */
  def foldKey(key: Array[Byte], len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var i = 0
    while (i < key.length) {
      out(i % len) = (out(i % len) ^ key(i)).toByte
      i += 1
    }
    out
  }

  /** keyLen(bytes) + JCE transformation for a block_encryption_mode
    * string, memoized — the mode is a translate-time literal, so the
    * parse/validate must not re-run per row. The stream modes
    * (cfb/ofb) have no JCE PKCS-padding analog and reject loudly.
    */
  private val modeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, String, Boolean)]()

  /** Whether `mode` takes no init vector (ECB) — the NULL-IV carve-out
    * in eval/codegen. Throws on an unsupported mode, same as crypt.
    */
  def modeIgnoresIv(mode: String): Boolean = parseMode(mode)._3

  private def parseMode(mode: String): (Int, String, Boolean) =
    modeCache.computeIfAbsent(mode, { _ =>
      val m = mode.toLowerCase.split("-")
      require(m.length == 3 && m(0) == "aes" &&
        Set("128", "192", "256")(m(1)) && Set("ecb", "cbc")(m(2)),
        s"unsupported block_encryption_mode '$mode' (aes-{128,192,256}-{ecb,cbc})")
      (m(1).toInt / 8,
        if (m(2) == "ecb") "AES/ECB/PKCS5Padding" else "AES/CBC/PKCS5Padding",
        m(2) == "ecb")
    })

  /** Folded-key memo: the key is usually a translate-time literal, so
    * the XOR fold must not re-run per row. Keyed by content (the
    * per-row byte arrays carry identical bytes); bounded so a
    * pathological per-row key column cannot grow the map forever.
    */
  private val keyCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, java.nio.ByteBuffer), Array[Byte]]()

  private def foldedKey(key: Array[Byte], len: Int): Array[Byte] =
    if (keyCache.size > 64) foldKey(key, len)
    else keyCache.computeIfAbsent(
      (len, java.nio.ByteBuffer.wrap(key.clone())), _ => foldKey(key, len))

  /** One Cipher per (thread, transformation) — Cipher.getInstance is a
    * synchronized JCE provider lookup and must not run per row; init
    * per call is required anyway (key/IV vary) and is cheap.
    */
  private val cipherCache: ThreadLocal[java.util.HashMap[String, Cipher]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[String, Cipher]())

  /** Encrypt/decrypt with MySQL semantics; decrypt failure → null
    * (MySQL returns NULL). Mode strings are the sysvar's
    * ('aes-128-ecb' … 'aes-256-cbc').
    */
  def crypt(input: Array[Byte], key: Array[Byte], mode: String,
      iv: Array[Byte], encrypt: Boolean): Array[Byte] = {
    val (keyLen, transformation, ecb) = parseMode(mode)
    val cipher = cipherCache.get().computeIfAbsent(transformation,
      t => Cipher.getInstance(t))
    val keySpec = new SecretKeySpec(foldedKey(key, keyLen), "AES")
    val dir = if (encrypt) Cipher.ENCRYPT_MODE else Cipher.DECRYPT_MODE
    if (ecb) cipher.init(dir, keySpec)
    else {
      require(iv.length >= 16,
        s"block_encryption_mode '$mode' needs a 16-byte init vector, got ${iv.length}")
      cipher.init(dir, keySpec, new IvParameterSpec(iv, 0, 16))
    }
    try cipher.doFinal(input)
    catch {
      // MySQL: AES_DECRYPT of a corrupt payload / wrong key is NULL
      case _: javax.crypto.BadPaddingException |
          _: javax.crypto.IllegalBlockSizeException if !encrypt => null
    }
  }
}
