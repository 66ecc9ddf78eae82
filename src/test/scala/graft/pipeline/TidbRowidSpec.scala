package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference's `tests/tidb_rowid` replayed over its own data dir:
  * `_tidb_rowid` emission for non-integer-handle tables — explicit
  * values preserved from dumps, NULLs filled densely, coexistence
  * with an auto-increment column, and integer-pk tables NOT gaining
  * the column. Pins are the run.sh local-backend checks.
  */
class TidbRowidSpec extends SparkSpec {

  private lazy val out: String = {
    val src = Paths.get("/root/reference/tests/tidb_rowid/data")
    assume(Files.exists(src), "reference tests not present")
    val dir = Files.createTempDirectory("graft_rowid").toString
    val reports = Ingest.run(spark, Ingest.Config(src.toString, dir))
    assert(reports.forall(_.checksumOk),
      s"checksums: ${reports.map(r => r.table -> r.checksumOk)}")
    dir
  }

  test("explicit _tidb_rowid values from the dump are preserved") {
    Seq("non_pk", "explicit_tidb_rowid").foreach { t =>
      val df = spark.read.parquet(s"$out/rowid.$t")
      val r = df.agg(count(lit(1)), min(col("_tidb_rowid")),
        max(col("_tidb_rowid"))).collect()(0)
      assert(r.getLong(0) === 10L, s"$t count")
      assert(r.getAs[Number](1).longValue === 1L, s"$t min")
      assert(r.getAs[Number](2).longValue === 10L, s"$t max")
      // run.sh: pk='five' → _tidb_rowid 5 (values, not positions)
      assert(df.where(col("pk") === "five").collect()(0)
        .getAs[Number]("_tidb_rowid").longValue === 5L, t)
    }
  }

  test("synthesized rowid coexists with an auto-increment column") {
    val df = spark.read.parquet(s"$out/rowid.non_pk_auto_inc")
    val r = df.agg(count(lit(1)), max(col("id")),
      min(col("_tidb_rowid")), max(col("_tidb_rowid"))).collect()(0)
    // run.sh: 22 rows, id fills to 37, rowid dense 1..22
    assert(r.getLong(0) === 22L)
    assert(r.getAs[Number](1).longValue === 37L)
    assert(r.getAs[Number](2).longValue === 1L)
    assert(r.getAs[Number](3).longValue === 22L)
  }

  test("pre_rebase fills from 1 (local-backend semantics)") {
    val r = spark.read.parquet(s"$out/rowid.pre_rebase")
      .agg(count(lit(1)), min(col("_tidb_rowid")),
        max(col("_tidb_rowid"))).collect()(0)
    assert(r.getLong(0) === 1L)
    assert(r.getAs[Number](1).longValue === 1L)
    assert(r.getAs[Number](2).longValue === 1L)
  }

  test("INSERT-without-INTO dump imports; explicit high rowids keep") {
    val df = spark.read.parquet(s"$out/rowid.specific_auto_inc")
    assert(df.count() === 5L) // run.sh count pin
    // the dump provides _tidb_rowid 79995.. explicitly
    assert(df.agg(min(col("_tidb_rowid"))).collect()(0)
      .getAs[Number](0).longValue >= 79995L)
  }

  test("integer-handle tables do NOT gain the pseudo-column") {
    val nation = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (id int NOT NULL, PRIMARY KEY (id));")
    assert(!Ingest.rowidRequired(nation))
    val noPk = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (id int NOT NULL, n int);")
    assert(Ingest.rowidRequired(noPk))
    val varcharPk = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (pk varchar(6) NOT NULL, PRIMARY KEY (pk));")
    assert(Ingest.rowidRequired(varcharPk))
    val compositePk = graft.schema.MysqlDdl.parse(
      "CREATE TABLE t (a int, b int, PRIMARY KEY (a, b));")
    assert(Ingest.rowidRequired(compositePk))
  }

  test("explicit dump rowids keep; fills are dense above their max and re-run stable") {
    // three dump files, the middle one without rows: column lists that
    // carry _tidb_rowid, lists that omit it, and positional rows
    val srcDir = Files.createTempDirectory("graft_rowid_explicit")
    Files.writeString(srcDir.resolve("d.t-schema.sql"),
      "CREATE TABLE t (pk varchar(8) NOT NULL, v int, PRIMARY KEY (pk));")
    Files.writeString(srcDir.resolve("d.t.0001.sql"),
      "INSERT INTO `t` (`pk`,`v`,`_tidb_rowid`) VALUES ('a1',1,50),('a2',2,7);\n" +
        "INSERT INTO `t` (`pk`,`v`) VALUES ('a3',3),('a4',4);\n" +
        "INSERT INTO `t` VALUES ('a5',5),('a6',6);\n")
    Files.writeString(srcDir.resolve("d.t.0002.sql"), "/*!40101 SET NAMES binary*/;\n")
    Files.writeString(srcDir.resolve("d.t.0003.sql"),
      "INSERT INTO `t` VALUES ('c1',10);\n" +
        "INSERT INTO `t` (`pk`,`_tidb_rowid`,`v`) VALUES ('c2',100,11),('c3',NULL,12);\n" +
        "INSERT INTO `t` (`v`,`pk`) VALUES (13,'c4');\n")
    def pairs(): Map[String, Long] = {
      val tgt = Files.createTempDirectory("graft_rowid_explicit_out").toString
      val reports = Ingest.run(spark, Ingest.Config(srcDir.toString, tgt))
      assert(reports.length === 1 && reports.head.checksumOk, reports)
      assert(reports.head.nRows === 10L)
      spark.read.parquet(s"$tgt/d.t").collect()
        .map(r => r.getAs[String]("pk") -> r.getAs[Number]("_tidb_rowid").longValue).toMap
    }
    val first = pairs()
    val explicit = Map("a1" -> 50L, "a2" -> 7L, "c2" -> 100L)
    assert(explicit.forall { case (pk, id) => first(pk) == id }, first)
    val fills = (first -- explicit.keys).values.toSeq
    assert(fills.length === 7 && fills.distinct.length === 7, first)
    assert(fills.forall(id => id > 100L && id <= 110L), first)
    assert(pairs() === first)
  }

  test("a dump into a table without an integer handle is scanned once") {
    // the file-system form of the benchmark's src_read_amp: the row-ID
    // fill reads the checkpointed blocks, never the dump a second time
    val srcDir = Files.createTempDirectory("graft_rowid_scan")
    Files.writeString(srcDir.resolve("d.s-schema.sql"),
      "CREATE TABLE s (pk varchar(16) NOT NULL, v int, note varchar(64), PRIMARY KEY (pk));")
    val pad = "x" * 60
    val dump = srcDir.resolve("d.s.sql")
    Files.writeString(dump, (0 until 130).map { s =>
      (0 until 120).map { i => val k = s * 120 + i; s"('k$k',$k,'$pad')" }
        .mkString("INSERT INTO `s` VALUES ", ",", ";\n")
    }.mkString)
    val size = Files.size(dump)
    assert(size >= (1L << 20), s"dump is $size bytes")
    def fileBytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val tgt = Files.createTempDirectory("graft_rowid_scan_out").toString
    val before = fileBytesRead()
    val reports = Ingest.run(spark, Ingest.Config(srcDir.toString, tgt))
    val read = fileBytesRead() - before
    assert(reports.head.checksumOk && reports.head.nRows === 15600L)
    assert(read < size * 3 / 2, s"read $read bytes for a $size-byte dump")
  }

  test("chunk-crash resume keeps rowids collision-free (failpoint)") {
    // a chunked no-handle table crashes after the first chunk batch,
    // then resumes: fills from the second run must start above the
    // recorded max — a collision would double-count silently because
    // the accumulated checksum expects both rows
    val root = Files.createTempDirectory("graft_rowid_fp")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val state = root.resolve("state").toString
    val tgt = root.resolve("out").toString
    Files.writeString(srcDir.resolve("d.t-schema.sql"),
      "CREATE TABLE t (pk varchar(8) NOT NULL, PRIMARY KEY (pk));")
    Files.writeString(srcDir.resolve("d.t.0001.csv"),
      (1 to 40).map(i => f"pk$i%04d").mkString("", "\n", "\n"))
    val cfg = Ingest.Config(srcDir.toString, tgt, stateDir = Some(state),
      strictFormat = true, chunkBytes = 64L, chunkBatch = 1)
    intercept[IllegalStateException] {
      Ingest.run(spark, cfg.copy(failpointAfterBatches = Some(2)))
    }
    val reports = Ingest.run(spark, cfg)
    assert(reports.head.checksumOk)
    val ids = spark.read.parquet(s"$tgt/d.t").collect()
      .map(_.getAs[Number]("_tidb_rowid").longValue)
    assert(ids.length === 40)
    assert(ids.distinct.length === 40, "rowid collision across resume")
  }

  test("incremental resume rebases rowid fills past the prior max") {
    // import half the rows, then the rest with state — fills must not
    // collide across the two runs
    val root = Files.createTempDirectory("graft_rowid_inc")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val state = root.resolve("state").toString
    val tgt = root.resolve("out").toString
    Files.writeString(srcDir.resolve("d.t-schema.sql"),
      "CREATE TABLE t (pk varchar(6) NOT NULL, PRIMARY KEY (pk));")
    Files.writeString(srcDir.resolve("d.t.0001.sql"),
      "insert into t values ('a'), ('b'), ('c');")
    val cfg = Ingest.Config(srcDir.toString, tgt, stateDir = Some(state))
    Ingest.run(spark, cfg)
    Files.writeString(srcDir.resolve("d.t.0002.sql"),
      "insert into t values ('d'), ('e');")
    Ingest.run(spark, cfg)
    val rows = spark.read.parquet(s"$tgt/d.t").collect()
      .map(r => r.getString(0) -> r.getAs[Number]("_tidb_rowid").longValue)
    assert(rows.length === 5)
    assert(rows.map(_._2).distinct.length === 5, s"rowid collision: ${rows.toSeq}")
  }
}
