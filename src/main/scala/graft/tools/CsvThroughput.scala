package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.sources.{CsvDialect, MySqlCsv}

/** Throughput probe for the CSV paths: Spark's native reader (the
  * default-dialect fast path) vs the distributed tokenizer (the path
  * every strict-format/chunked/multi-sep/exotic-charset import takes).
  * The tokenizer's cost is what a chunk-resumable 100 TB import pays
  * per byte, so it must stay in the native reader's league.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.CsvThroughput [cores]"
  */
object CsvThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = args.headOption.map(_.toInt).getOrElse(8)
    val spark = GraftSession.session(cores)
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = Paths.get(s"/tmp/graft_csv_probe_$tag")
    val nShards = cores
    if (!Files.exists(dir.resolve(s"done_$nShards"))) {
      Files.createDirectories(dir)
      // drop any other grid's marker FIRST: csv/ is about to be
      // rewritten with this run's shard count, so a later run at the
      // old count must regenerate rather than probe the wrong layout
      val stale = Files.list(dir)
      try stale.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("done_"))
        .foreach(Files.delete)
      finally stale.close()
      // file-per-core layout, quoted strings + escapes in the mix
      val df = GraftSession.table(spark, sfDir, "lineitem")
        .repartition(nShards)
      MySqlCsv.writeRaw(df, dir.resolve("csv").toString)
      Files.writeString(dir.resolve(s"done_$nShards"), "ok")
    }
    val csvDir = dir.resolve("csv").toString
    val listing = Files.list(Paths.get(csvDir))
    val bytes =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".txt")).map(Files.size).sum
      finally listing.close()
    val cols = GraftSession.table(spark, sfDir, "lineitem").columns.toSeq
    val dialect = CsvDialect()
    def timed(force: Boolean): (Long, Double) = {
      MySqlCsv.readRaw(spark, Seq(csvDir), cols, dialect, forceTokenizer = force).count()
      val t0 = System.nanoTime()
      val n = MySqlCsv.readRaw(spark, Seq(csvDir), cols, dialect, forceTokenizer = force).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val (nN, secN) = timed(force = false)
    val (nT, secT) = timed(force = true)
    val mibN = bytes / 1048576.0 / secN
    val mibT = bytes / 1048576.0 / secT
    println(f"""{"metric":"csv_parse","bytes":$bytes,"rows_native":$nN,"native_sec":$secN%.3f,"native_mib_per_sec":$mibN%.1f,"rows_tokenizer":$nT,"tokenizer_sec":$secT%.3f,"tokenizer_mib_per_sec":$mibT%.1f,"cores":$cores}""")
    spark.stop()
  }
}
