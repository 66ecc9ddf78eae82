package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextQueries

/** The one commit path into append-maintained dirs
  * (`GraftSession.commitAppend`): a live peer's Hadoop `_temporary`
  * tree in a layout relation dir or a door sink dir is never touched
  * by an untagged append or a once-append, and a once-append that
  * crashed after staging never blocks — or leaks into — the next
  * batch.
  */
class CommitAppendSpec extends SparkSpec {

  private def corpus(name: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(name).toString
    (1 to 10).map(i => DriftDoc(i.toLong, "t", "en"))
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def hist(corpusDir: String): Map[String, Long] =
    TextQueries.langStats.read(spark, corpusDir)
      .groupBy("lang").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** A live peer's in-flight task file under `dir/_temporary/0/…`. */
  private def plantPeer(dir: String): Path = {
    val task = Paths.get(dir, "_temporary", "0", "_temporary",
      "attempt_peer_0000_m_000000_0")
    Files.createDirectories(task)
    Files.writeString(task.resolve("part-00000.parquet"), "a live peer's bytes")
  }

  private def stagesIn(dir: String): Seq[String] = {
    val l = Files.list(Paths.get(dir))
    try {
      val b = Seq.newBuilder[String]
      l.forEach { p =>
        if (p.getFileName.toString.contains("_stage_")) b += p.getFileName.toString
      }
      b.result()
    } finally l.close()
  }

  test("a live peer's _temporary in a layout relation dir survives an untagged append and a once-append") {
    import spark.implicits._
    val corpusDir = corpus("graft_commit_peer")
    assert(hist(corpusDir) === Map("en" -> 10L)) // seed built
    val peer = plantPeer(s"${TextQueries.langStats.dir(corpusDir)}/hist")
    TextQueries.langStats.append(spark, corpusDir,
      Seq(DriftDoc(50, "u", "fr")).toDF())
    assert(TextQueries.langStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(51, "v", "de"), DriftDoc(52, "w", "de")).toDF(), 0L))
    assert(!TextQueries.langStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(51, "v", "de"), DriftDoc(52, "w", "de")).toDF(), 0L),
      "a replayed batch must be a no-op")
    assert(Files.readString(peer) === "a live peer's bytes",
      "an append deleted a live peer's in-flight task file")
    assert(hist(corpusDir) === Map("en" -> 10L, "fr" -> 1L, "de" -> 2L))
    assert(stagesIn(TextQueries.langStats.dir(corpusDir)).isEmpty)
  }

  test("a live peer's _temporary in a door sink dir survives the door's once-appends") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusDir = corpus("graft_commit_door")
    val outDir = Files.createTempDirectory("graft_commit_door_out").toString
    val peer = plantPeer(outDir)
    val input = MemoryStream[DriftDoc]
    val q = StreamingOps.driftGateStream(input.toDF(), corpusDir, outDir).start()
    try {
      input.addData(DriftDoc(100, "a", "en"))
      q.processAllAvailable()
      input.addData(DriftDoc(101, "b", "fr"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Files.readString(peer) === "a live peer's bytes",
      "a door batch deleted a live peer's in-flight task file")
    assert(spark.read.parquet(outDir).select("batch_id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
    assert(stagesIn(outDir).isEmpty)
  }

  test("a once-append that crashed after staging never blocks or leaks into the next batch") {
    import spark.implicits._
    val corpusDir = corpus("graft_commit_crash")
    assert(hist(corpusDir) === Map("en" -> 10L)) // seed built
    val layout = TextQueries.langStats.dir(corpusDir)
    // batch 0 crashed after staging: its stage — a complete leg of
    // real counts — stands under the marker's own stage name
    val marker = Paths.get(layout, "_LAST_BATCH")
    val stage = Paths.get(layout,
      s".append_stage_${graft.GraftSession.onceStageName(marker)}")
    Seq(("zz", 7L)).toDF("lang", "n").coalesce(1)
      .write.parquet(stage.resolve("hist").toString)
    // the next batch commits with no operator step
    assert(TextQueries.langStats.appendOnce(spark, corpusDir,
      Seq(DriftDoc(60, "x", "fr")).toDF(), 1L))
    assert(hist(corpusDir) === Map("en" -> 10L, "fr" -> 1L),
      "the crashed batch's staged rows leaked into the layout")
    assert(!Files.exists(stage))
    assert(graft.GraftSession.lastBatchIn(layout) === 1L)
  }
}
