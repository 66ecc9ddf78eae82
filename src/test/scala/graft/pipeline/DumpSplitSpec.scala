package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

import graft.SparkSpec

/** A single dump into a table whose only synthesized id is the dense
  * `_tidb_rowid` fill imports as one byte range per core. Ranges are
  * forced small (`Ingest.run`'s split floor) so kilobyte dumps split.
  * The split import must equal the whole-file import row for row —
  * same pk→`_tidb_rowid` pairs, same checksum — and a dump whose ranges
  * misparse must fall back to the whole-file read, not import the
  * misparse.
  */
class DumpSplitSpec extends SparkSpec {

  private val Ddl =
    "CREATE TABLE t (pk varchar(16) NOT NULL, v int, note varchar(80), PRIMARY KEY (pk));"

  /** MyDumper-shaped: versioned header, then statements of one row per line. */
  private def clean(stmts: Int, rowsPer: Int): String =
    "/*!40101 SET NAMES binary*/;\n" + (0 until stmts).map { s =>
      (0 until rowsPer).map { i =>
        val k = s * rowsPer + i
        s"('k$k',$k,'note ${"x" * (k % 40)} β$k')"
      }.mkString("INSERT INTO `t` VALUES\n", ",\n", ";\n")
    }.mkString

  private def srcDir(dump: String): Path = {
    val dir = Files.createTempDirectory("graft_split_src")
    Files.writeString(dir.resolve("d.t-schema.sql"), Ddl)
    Files.writeString(dir.resolve("d.t.sql"), dump)
    dir
  }

  private case class Imported(report: Ingest.TableReport, pairs: Map[String, Long],
      fileBytes: Long, rangeTasks: Seq[Int], stderr: String)

  private def fileBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** One import with the given split floor: its report, the
    * pk→`_tidb_rowid` pairs, the Hadoop `file` bytes it read, the task
    * counts of the stages that parsed dump ranges, and its stderr.
    */
  private def importWith(src: Path, splitMinBytes: Long): Imported = {
    val sc = spark.sparkContext
    val tgt = Files.createTempDirectory("graft_split_out").toString
    val rangeTasks = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.startsWith("dump ranges of")))
          rangeTasks.synchronized(rangeTasks += e.stageInfo.numTasks)
    }
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    sc.addSparkListener(listener)
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val before = fileBytesRead()
    val reports =
      try Ingest.run(spark, Ingest.Config(src.toString, tgt), splitMinBytes)
      finally {
        System.setErr(stderr)
        ListenerDrain(sc)
        sc.removeSparkListener(listener)
      }
    val read = fileBytesRead() - before
    assert(reports.size === 1 && reports.head.checksumOk, reports)
    val pairs = spark.read.parquet(s"$tgt/d.t").collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[Number]("_tidb_rowid").longValue).toMap
    Imported(reports.head, pairs, read, rangeTasks.synchronized(rangeTasks.toSeq),
      err.toString("UTF-8"))
  }

  private val Whole = Long.MaxValue

  test("a split import gives the whole-file import's rowids and checksum, reading the dump about once") {
    val src = srcDir(clean(150, 120))
    val size = Files.size(src.resolve("d.t.sql"))
    val whole = importWith(src, Whole)
    val split = importWith(src, size / 8)
    assert(whole.rangeTasks.isEmpty)
    assert(split.rangeTasks.nonEmpty && split.rangeTasks.forall(_ == 4), split.rangeTasks)
    assert(!split.stderr.contains("[dump-split]"), split.stderr)
    assert(split.report.nRows === 18000L)
    assert(split.report.checksum === whole.report.checksum)
    assert(split.pairs === whole.pairs)
    assert(split.pairs.values.toSet === (1L to 18000L).toSet)
    assert(split.fileBytes < size * 13 / 10, s"read ${split.fileBytes} bytes for a $size-byte dump")
  }

  test("a dump whose ranges misparse falls back to the whole-file read and still matches it") {
    // a literal with raw newlines whose inner line reads as an INSERT,
    // and a multi-line plain comment of INSERT lines longer than a
    // range: a range that starts inside accepts a phantom statement,
    // so the chain breaks
    val body = clean(12, 60)
    val cut = body.indexOf("INSERT", body.length / 2)
    val dump = body.substring(0, cut) +
      "INSERT INTO `t` VALUES ('lit',1,'first\n" +
      "INSERT INTO `t` VALUES (''phantom1'',-1,''x'');\n" +
      "last');\n/* a comment\n" + ("INSERT INTO `t` VALUES ('phantom2',-2,'y');\n" * 800) +
      "*/\n" + body.substring(cut)
    val src = srcDir(dump)
    val size = Files.size(src.resolve("d.t.sql"))
    val whole = importWith(src, Whole)
    assert(!whole.pairs.contains("phantom2") && !whole.pairs.keys.exists(_.contains("phantom1")))
    val split = importWith(src, size / 4)
    assert(split.rangeTasks.nonEmpty, "the split read must have run")
    assert(split.stderr.contains("[dump-split]") && split.stderr.contains("whole-file"),
      split.stderr)
    assert(split.report.checksum === whole.report.checksum)
    assert(split.pairs === whole.pairs)
  }

  test("an unpartitioned import records the read-back's row count as a scanning ANALYZE would") {
    val src = srcDir(clean(5, 20))
    val tgt = Files.createTempDirectory("graft_split_stats").toString
    val reports = Ingest.run(spark, Ingest.Config(src.toString, tgt))
    assert(reports.head.checksumOk && reports.head.nRows === 100L)
    assert(reports.head.statsRows === Some(100L))
    val tbl = Analyze.tableName("d.t")
    def statistics(): String = spark.sql(s"DESCRIBE TABLE EXTENDED `$tbl`").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1)).getOrElse("none")
    val recorded = statistics()
    assert(recorded.endsWith(" bytes, 100 rows"), recorded)
    assert(Analyze.analyze(spark, "d.t", s"$tgt/d.t") === Some(100L))
    assert(statistics() === recorded)
  }
}
