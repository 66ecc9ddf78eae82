package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sink.InsertDumpWriter
import graft.sources.DumpSource

/** Manual throughput probe for the INSERT-dump parser (SURVEY §7.5
  * risk register): renders lineitem into a MyDumper-style dump file,
  * then times a full distributed parse. The reference's published
  * anchor is ~28 MiB/s whole-cluster import throughput
  * (`lightning/restore/restore.go:959`); this isolates OUR parse leg
  * so the comparison is explicit and reproducible.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.tools.DumpThroughput [cores]"
  */
object DumpThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = args.headOption.map(_.toInt).getOrElse(8)
    val spark = GraftSession.session(cores)
    // fixture paths carry the sf dir so a re-run against a different
    // scale never silently reuses stale data
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val dump = Paths.get(s"/tmp/graft_dump_probe_$tag.sql")
    if (!Files.exists(dump) || Files.size(dump) < (1L << 20)) {
      val stmts = InsertDumpWriter.statements(
        GraftSession.table(spark, sfDir, "lineitem"), "lineitem", 100)
      val text = stmts.collect().map(_.getString(0)).mkString("\n")
      Files.writeString(dump, text)
    }
    val bytes = Files.size(dump)
    // Three shapes: single file through the whole-file reader (per-core
    // parse speed), the file-per-core layout a MyDumper directory has,
    // and the single file CHUNKED through readRawChunk — the shape
    // that parallelizes inside one big file, which the reference never
    // does (its region maker splits CSV only).
    val shardDir = Paths.get(s"/tmp/graft_dump_probe_shards_$tag")
    val nShards = cores
    if (!Files.exists(shardDir.resolve(s"done_$nShards"))) {
      // statements span multiple lines (one tuple per line) — shard by
      // statement block, never by raw line
      import scala.jdk.CollectionConverters._
      val blocks = scala.collection.mutable.ArrayBuffer[StringBuilder]()
      Files.readAllLines(dump).asScala.foreach { line =>
        if (line.startsWith("INSERT") || blocks.isEmpty)
          blocks += new StringBuilder(line)
        else blocks.last.append('\n').append(line)
      }
      Files.createDirectories(shardDir)
      (0 until nShards).foreach { s =>
        val part = (s until blocks.size by nShards).map(blocks(_).toString)
        Files.writeString(shardDir.resolve(s"part$s.sql"), part.mkString("\n"))
      }
      Files.writeString(shardDir.resolve(s"done_$nShards"), "ok")
    }
    val shardPaths = (0 until nShards).map(s => shardDir.resolve(s"part$s.sql").toString)
    val cols = GraftSession.table(spark, sfDir, "lineitem").columns.toSeq
    // Bench's discipline, adopted after r10's numbers halved vs r9's
    // from ambient load alone: one warm-up, then median-of-3 with the
    // spread RECORDED beside the number, so a round-to-round delta is
    // falsifiable against the run's own noise band.
    def medianOf3(run: () => Long): (Long, Double, Double, Double) = {
      run() // warm-up: JIT + codegen + page cache
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = run()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val secs = samples.map(_._2).sorted
      (samples.head._1, secs(1), secs.head, secs.last)
    }
    def timed(paths: Seq[String]) =
      medianOf3(() => DumpSource.readRaw(spark, paths, cols).count())
    val (n1, sec1, lo1, hi1) = timed(Seq(dump.toString))
    val (nk, seck, lok, hik) = timed(shardPaths)
    def chunkedDf(nChunks: Int) = {
      val grid = math.max(1L, (bytes + nChunks - 1) / nChunks)
      (0L until bytes by grid)
        .map(off => DumpSource.readRawChunk(
          spark, dump.toString, off, math.min(grid, bytes - off), cols))
        .reduce(_ union _)
    }
    val (nc, secc, loc, hic) = medianOf3(() => chunkedDf(cores).count())
    def mib(sec: Double): Double = bytes / 1048576.0 / sec
    // MiB/s from the median; the spread is the (min..max) MiB/s band
    // of the 3 runs (min seconds = max throughput)
    println(f"""{"metric":"dump_parse","bytes":$bytes,"rows":$n1,"single_file_sec":$sec1%.3f,"single_file_mib_per_sec":${mib(sec1)}%.1f,"single_file_mib_band":[${mib(hi1)}%.1f,${mib(lo1)}%.1f],"sharded_rows":$nk,"sharded_sec":$seck%.3f,"sharded_mib_per_sec":${mib(seck)}%.1f,"sharded_mib_band":[${mib(hik)}%.1f,${mib(lok)}%.1f],"chunked_rows":$nc,"chunked_sec":$secc%.3f,"chunked_mib_per_sec":${mib(secc)}%.1f,"chunked_mib_band":[${mib(hic)}%.1f,${mib(loc)}%.1f],"shards":$nShards,"cores":$cores,"runs":3}""")
    spark.stop()
  }
}
