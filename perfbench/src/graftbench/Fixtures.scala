package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, deterministic fixture generator for both workloads.
  *
  * Every VALUE derives from a fixed base seed and the row's base key, so
  * every workload seed holds the same rows; the workload seed only
  * permutes row order and moves the split points (rows per INSERT
  * statement, rows per CSV file). The same seed therefore gives
  * byte-identical files, and every seed gives the same byte count.
  *
  * Tables are TPC-H shaped. A table of `base` rows is folded `folds`
  * times: fold f repeats the base rows with every key offset by
  * f × span, so keys stay unique while the values repeat.
  */
object Fixtures {

  /** Sizes of one fixture set: base orders of the dump's lineitem
    * (1–7 rows each) and its folds; the basket's documents, embeddings
    * and lineitem base orders.
    */
  case class Scale(sqlOrders: Int, sqlFolds: Int, docs: Int, embeddings: Int, basketOrders: Int)

  val Scales: Map[String, Scale] = Map(
    // the basket's documents and embeddings are a fifth of sf0.1's
    // (5000, 2000); its lineitem a fifteenth (600 000 rows)
    "bench" -> Scale(sqlOrders = 5000, sqlFolds = 4, docs = 1000, embeddings = 400,
      basketOrders = 10000),
    // sf0.001-sized: the self-test's scale, and the import warm-up's
    "tiny" -> Scale(sqlOrders = 400, sqlFolds = 4, docs = 500, embeddings = 500,
      basketOrders = 1500))

  /** What the generator promises about one table: the oracle of the
    * import correctness gate. `numSum` is the sum of `numCol` in
    * hundredths (decimal columns are cents; integer columns × 100).
    */
  case class TableStats(table: String, keyCol: String, numCol: String,
      rows: Long, keySum: Long, numSum: Long, files: Int)

  val Db = "tpch"
  private val BaseSeed = 0x7144B1L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The value stream of one base row of one table. */
  private final class Vals(table: Int, key: Long) {
    private var s = mix(BaseSeed ^ mix((table.toLong << 48) ^ key))
    def next(): Long = { s = mix(s); s }
    def int(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
    def cents(lo: Long, hi: Long): Long = lo + java.lang.Math.floorMod(next(), hi - lo + 1)
    def words(maxChars: Int): String = {
      val sb = new StringBuilder
      var done = false
      while (!done) {
        val w = Words(int(Words.length))
        if (sb.nonEmpty && sb.length + 1 + w.length > maxChars) done = true
        else { if (sb.nonEmpty) sb += ' '; sb ++= w; if (int(5) == 0) done = true }
      }
      sb.toString
    }
    def date(): String = LocalDate.ofEpochDay(8035L + int(2400)).toString
  }

  private val Words = ("furiously quickly slyly carefully blithely regular final express " +
    "special pending bold even ironic silent unusual deposits requests accounts " +
    "packages instructions theodolites pinto beans foxes ideas platelets asymptotes " +
    "courts dolphins sheaves warhorses sauternes across above along among the about " +
    "haggle sleep wake nag cajole use detect affix boost integrate").split(' ')

  private def dec(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  /** Seeded Fisher-Yates over [0, n). */
  private def permutation(n: Int, rng: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)

  private def writeString(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  // ------------------------------------------------------------ lineitem

  /** Base lineitem rows: (base order, line number), 1–7 lines per order. */
  private def lineitemBase(orders: Int): (Array[Int], Array[Int]) = {
    val o = Array.newBuilder[Int]
    val l = Array.newBuilder[Int]
    (0 until orders).foreach { k =>
      val n = 1 + new Vals(1, k.toLong).int(7)
      (1 to n).foreach { ln => o += k; l += ln }
    }
    (o.result(), l.result())
  }

  /** One lineitem row's values in column order. */
  private case class Li(orderkey: Long, partkey: Long, suppkey: Long, line: Int,
      qty: Long, price: Long, disc: Long, tax: Long, rflag: String, lstatus: String,
      shipdate: String, comment: String)

  private def lineitem(baseOrder: Int, line: Int, fold: Int, orders: Int): Li = {
    val v = new Vals(2, baseOrder.toLong * 8 + line)
    val qty = v.between(1, 50).toLong
    Li(orderkey = fold.toLong * orders + baseOrder + 1, partkey = v.between(1, 200000),
      suppkey = v.between(1, 10000), line = line, qty = qty * 100,
      price = qty * v.cents(90000L, 200000L) / 100, disc = v.between(0, 10),
      tax = v.between(0, 8), rflag = "RAN".substring(v.int(3)).take(1),
      lstatus = if (v.int(2) == 0) "O" else "F", shipdate = v.date(),
      comment = v.words(43))
  }

  private val LineitemDdl =
    """CREATE TABLE `lineitem` (
      |  `l_orderkey` bigint NOT NULL,
      |  `l_partkey` bigint NOT NULL,
      |  `l_suppkey` bigint NOT NULL,
      |  `l_linenumber` int NOT NULL,
      |  `l_quantity` decimal(15,2) NOT NULL,
      |  `l_extendedprice` decimal(15,2) NOT NULL,
      |  `l_discount` decimal(15,2) NOT NULL,
      |  `l_tax` decimal(15,2) NOT NULL,
      |  `l_returnflag` char(1) NOT NULL,
      |  `l_linestatus` char(1) NOT NULL,
      |  `l_shipdate` date NOT NULL,
      |  `l_comment` varchar(44) NOT NULL,
      |  PRIMARY KEY (`l_orderkey`,`l_linenumber`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
      |""".stripMargin

  /** `sql_lineitem`: MyDumper layout, one schema file and ONE INSERT-dump
    * file. The seed sets row order and the rows per INSERT statement.
    */
  def writeSqlDump(dir: Path, seed: Long, sc: Scale): Seq[TableStats] = {
    Files.createDirectories(dir)
    writeString(dir.resolve(s"$Db-schema-create.sql"), s"CREATE DATABASE `$Db`;\n")
    writeString(dir.resolve(s"$Db.lineitem-schema.sql"), LineitemDdl)
    val (bo, bl) = lineitemBase(sc.sqlOrders)
    val n = bo.length * sc.sqlFolds
    val rng = new java.util.SplittableRandom(seed)
    val order = permutation(n, rng)
    var keySum = 0L
    var numSum = 0L
    val w = writer(dir.resolve(s"$Db.lineitem.sql"))
    try {
      w.write("/*!40101 SET NAMES binary*/;\n/*!40014 SET FOREIGN_KEY_CHECKS=0*/;\n")
      var i = 0
      while (i < n) {
        val stmtRows = math.min(n - i, 500 + rng.nextInt(1500))
        w.write("INSERT INTO `lineitem` VALUES\n")
        (0 until stmtRows).foreach { j =>
          val r = order(i + j)
          val li = lineitem(bo(r % bo.length), bl(r % bo.length), r / bo.length, sc.sqlOrders)
          keySum += li.orderkey
          numSum += li.price
          w.write(s"(${li.orderkey},${li.partkey},${li.suppkey},${li.line},${dec(li.qty)}," +
            s"${dec(li.price)},${dec(li.disc)},${dec(li.tax)},'${li.rflag}','${li.lstatus}'," +
            s"'${li.shipdate}','${li.comment}')")
          w.write(if (j == stmtRows - 1) ";\n" else ",\n")
        }
        i += stmtRows
      }
    } finally w.close()
    Seq(TableStats("lineitem", "l_orderkey", "l_extendedprice", n, keySum, numSum, 1))
  }

  // -------------------------------------------- operator-basket parquet

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))
  private val LiSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** The sf0.1 corpus's 30 words. Its documents draw them uniformly. */
  private val DocWords = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(' ')

  /** A document's own text: 10–100 words, uniform, as in the corpus. */
  private def baseText(k: Int): String = {
    val v = new Vals(20, k.toLong)
    Seq.fill(v.between(10, 100))(DocWords(v.int(DocWords.length))).mkString(" ")
  }

  /** Text of document `k` of `n`. One in 20 is a near-duplicate: another
    * document's text with " dup" appended, the corpus's own scheme
    * (250 of its 5000 documents, 5-gram Jaccard 0.8–0.97 with their
    * originals).
    */
  private def document(k: Int, n: Int): String = {
    val v = new Vals(24, k.toLong)
    if (n > 1 && v.int(20) == 0) {
      val j = v.int(n - 1)
      baseText(if (j >= k) j + 1 else j) + " dup"
    } else baseText(k)
  }

  /** The corpus's languages: en 41%, zh, es, fr and de about 15% each. */
  private val Langs = Seq.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Seq.fill(3)(_))

  /** A standard normal draw (Box-Muller), with StrictMath so every JVM
    * gives the same bits.
    */
  private def gaussian(v: Vals): Double = {
    val u1 = (v.int(1 << 30) + 1).toDouble / (1 << 30)
    val u2 = v.int(1 << 30).toDouble / (1 << 30)
    StrictMath.sqrt(-2.0 * StrictMath.log(u1)) * StrictMath.cos(2.0 * StrictMath.PI * u2)
  }

  /** The parquet tables the six basket queries read: documents,
    * embeddings and lineitem, shaped like the sf0.1 corpus (see
    * `document`; embeddings are isotropic unit vectors of 64 floats with
    * a uniform label 0–9, like the corpus's, which has no clusters). The
    * seed sets row order.
    */
  def writeBasket(spark: SparkSession, dir: Path, seed: Long, sc: Scale): Seq[TableStats] = {
    Files.createDirectories(dir)
    val rng = new java.util.SplittableRandom(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      df.coalesce(1).write.mode("overwrite").option("compression", "snappy")
        .parquet(dir.resolve(s"$name.parquet").toString)
    }
    val docs = permutation(sc.docs, rng).toSeq.map { k =>
      val text = document(k, sc.docs)
      Row(k.toLong, text, Langs(new Vals(21, k.toLong).int(Langs.size)), s"src${k % 20}",
        text.length.toLong)
    }
    save("documents", DocSchema, docs)
    val embs = permutation(sc.embeddings, rng).toSeq.map { k =>
      val v = new Vals(23, k.toLong)
      val raw = Array.fill(64)(gaussian(v))
      val norm = StrictMath.sqrt(raw.map(x => x * x).sum)
      Row(k.toLong, raw.map(x => (x / norm).toFloat).toSeq, v.int(10))
    }
    save("embeddings", EmbSchema, embs)
    val (bo, bl) = lineitemBase(sc.basketOrders)
    val lis = permutation(bo.length, rng).toSeq.map { r =>
      val li = lineitem(bo(r), bl(r), 0, sc.basketOrders)
      Row(li.orderkey, li.partkey, li.suppkey, li.line, li.qty / 100.0, li.price / 100.0,
        li.disc / 100.0, li.tax / 100.0, li.rflag, li.lstatus,
        new java.sql.Timestamp(LocalDate.parse(li.shipdate).toEpochDay * 86400000L))
    }
    save("lineitem", LiSchema, lis)
    Seq(TableStats("documents", "doc_id", "n_chars", docs.size, docs.map(_.getLong(0)).sum,
        docs.map(_.getLong(4) * 100).sum, 1),
      TableStats("embeddings", "vec_id", "label", embs.size, embs.map(_.getLong(0)).sum,
        embs.map(_.getInt(2) * 100L).sum, 1),
      TableStats("lineitem", "l_orderkey", "l_extendedprice", lis.size,
        lis.map(_.getLong(0)).sum, lis.map(r => math.round(r.getDouble(5) * 100)).sum, 1))
  }

  /** SHA-256 over the data bytes of every regular file under `dir`,
    * in sorted relative-path order. Spark's `part-…` file names carry a
    * random job id, so they enter the digest by their directory only;
    * checksum side files are skipped.
    */
  def digest(dir: Path): (String, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    val files = Run.files(dir).filterNot(_.getFileName.toString.startsWith("."))
      .filterNot(_.getFileName.toString == "_SUCCESS")
    files.map { p =>
      val rel = dir.relativize(p).toString
      (rel.replaceAll("part-[^/]*$", "part"), p)
    }.sortBy(_._1).foreach { case (rel, p) =>
      val b = Files.readAllBytes(p)
      md.update(rel.getBytes(UTF_8))
      md.update(b)
      bytes += b.length
    }
    (md.digest().map("%02x".format(_)).mkString, bytes)
  }
}
