package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.verify.Checksum

/** `Ctl compact` (D6) on what the import really writes: a table keeps
  * its output format and its `PARTITION BY` dirs across the rewrite,
  * and its rows and CRC64 checksum — read back the way `Ingest` reads
  * its own output — are unchanged.
  */
class CompactionSpec extends SparkSpec {

  /** The DDL's column order and types — `Ingest`'s written schema. */
  private val written = StructType(Seq(
    StructField("id", IntegerType), StructField("grp", IntegerType),
    StructField("v", StringType)))

  private def imported(ddlTail: String, format: String): String = {
    val src = Files.createTempDirectory("graft_compact_src")
    Files.writeString(src.resolve("d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, grp int, v varchar(10), " +
        s"PRIMARY KEY (id)) $ddlTail;")
    Files.writeString(src.resolve("d.t.0001.csv"),
      (1 to 60).map(i => s"$i,${i % 3},\"v$i\"").mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("graft_compact_out").toString
    val r = Ingest.run(spark, Ingest.Config(src.toString, out,
      outputFormat = format)).head
    assert(r.nRows === 60 && r.checksumOk, r)
    s"$out/d.t"
  }

  private def visibleUnder(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try {
      val b = Seq.newBuilder[Path]
      walk.forEach { p =>
        val rel = Paths.get(dir).relativize(p)
        if (Files.isRegularFile(p) && (0 until rel.getNameCount).forall { i =>
            val n = rel.getName(i).toString
            !n.startsWith("_") && !n.startsWith(".")
          }) b += rel
      }
      b.result()
    } finally walk.close()
  }

  private def partDirs(dir: String): Set[String] =
    visibleUnder(dir).filter(_.getNameCount > 1).map(_.getName(0).toString).toSet

  private def rowBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def checksum(df: DataFrame): Seq[Any] =
    Checksum.tableChecksum(df).head().toSeq

  test("compacting an ORC table keeps ORC, its rows and its checksum") {
    val table = imported("", "orc")
    def readBack = spark.read.format("orc").load(table)
    val (rows0, sum0) = (rowBag(readBack), checksum(readBack))
    val files0 = visibleUnder(table).size
    val (before, after) = Compaction.compact(spark, table, 1)
    assert(before === files0 && after === 1)
    val files = visibleUnder(table).map(_.getFileName.toString)
    assert(files.nonEmpty && files.forall(_.endsWith(".orc")), files)
    assert(rowBag(readBack) === rows0)
    assert(checksum(readBack) === sum0)
  }

  test("compacting a PARTITION BY table keeps its col=value dirs, rows and checksum") {
    val table = imported("partition by hash(grp) partitions 4", "parquet")
    def readBack = spark.read.schema(written).format("parquet").load(table)
    val dirs0 = partDirs(table)
    assert(dirs0 === Set("grp=0", "grp=1", "grp=2"))
    val (rows0, sum0) = (rowBag(readBack), checksum(readBack))
    val files0 = visibleUnder(table).size
    val (before, after) = Compaction.compact(spark, table, 1)
    assert(before === files0, "files under the partition dirs must count")
    assert(after === dirs0.size, "one file per partition dir")
    assert(partDirs(table) === dirs0)
    assert(visibleUnder(table).forall(p =>
      p.getNameCount == 2 && p.getFileName.toString.endsWith(".parquet")))
    assert(spark.read.format("parquet").load(table).columns.toSeq ===
      Seq("id", "v", "grp"), "files carry the data columns; grp stays a dir")
    assert(rowBag(readBack) === rows0)
    assert(checksum(readBack) === sum0)
  }
}
