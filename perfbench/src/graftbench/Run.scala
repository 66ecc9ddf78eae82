package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the correctness gate's tallies, set-up
  * timings and the metrics it reports.
  */
class Run(val spark: SparkSession, val seed: Long, val seconds: Double, val work: Path,
    val scale: Fixtures.Scale, val sessionS: Double) {
  var attempted = 0L
  var failed = 0L
  /** Every failed operation or check, with what failed. */
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  var fixtures: Map[String, Any] = Map.empty
  var fixtureBytes = 0L
  /** Diagnostics kept in the artifact, beside the metrics. */
  val details = mutable.LinkedHashMap[String, Any]()
  private var genS = Seq.empty[Double]
  private var warmS = 0.0
  private var opTimes = Seq.empty[Double]
  private var memory = Map.empty[String, Double]

  /** One gated operation: its value, or None after counting it failed.
    * The body returns its value and the problems its checks found.
    */
  def op[T](name: String)(body: => (T, Seq[String])): Option[T] = {
    attempted += 1
    val outcome =
      try Right(body)
      catch { case e: Exception => Left(s"threw $e") }
    outcome match {
      case Right((v, Nil)) => Some(v)
      case Right((_, problems)) => fail(s"$name: ${problems.mkString("; ")}"); None
      case Left(msg) => fail(s"$name: $msg"); None
    }
  }

  private def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Generates the fixtures `Run.GenRepeats` times into `dir`. Set-up
    * time takes the median; every repeat must produce the same bytes.
    */
  def generateFixtures(dir: Path)(gen: () => Seq[Fixtures.TableStats]): Unit = {
    val runs = (1 to Run.GenRepeats).map { _ =>
      Run.deleteTree(dir)
      val t0 = System.nanoTime()
      val stats = gen()
      val s = (System.nanoTime() - t0) / 1e9
      (s, stats, Fixtures.digest(dir))
    }
    genS = runs.map(_._1)
    val (_, stats, (sha, bytes)) = runs.head
    // the byte-identity check is one gated operation
    attempted += 1
    if (runs.map(_._3._1).distinct.size != 1) fail("fixtures: the same seed generated different bytes")
    fixtureBytes = bytes
    fixtures = Map("bytes" -> bytes, "sha256" -> sha, "tables" -> stats.map(t =>
      Map("table" -> t.table, "rows" -> t.rows, "files" -> t.files, "key_col" -> t.keyCol,
        "key_sum" -> t.keySum, "num_col" -> t.numCol, "num_sum_x100" -> t.numSum)))
  }

  /** The warm-up: it counts into set-up time, not the loop. */
  def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmS = (System.nanoTime() - t0) / 1e9
    Run.release(spark)
  }

  /** Closed loop, one operation at a time, for `seconds` and until
    * `Run.MinOps` operations passed (or three failed), so every median
    * has two samples even when one operation outlasts `seconds`.
    */
  def loop(body: => Option[Double]): Seq[Double] =
    loopSamples(body.map(t => Map("op" -> t))).map(_("op"))

  def loopSamples(body: => Option[Map[String, Double]]): Seq[Map[String, Double]] = {
    val out = mutable.ArrayBuffer[Map[String, Double]]()
    val probe = new MemoryProbe
    val t0 = System.nanoTime()
    while (out.size < Run.MinOps && failed < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      body.foreach(out += _)
      Run.release(spark)
    }
    memory = probe.stop()
    details("memory_mib") = memory
    out.toSeq
  }

  /** The end-to-end metrics, from the median operation time. */
  def endToEnd(opS: Double, times: Seq[Double], srcBytes: Long): Unit = {
    opTimes = times
    if (times.nonEmpty)
      metrics ++= Seq("mib_s" -> srcBytes / Run.MiB / opS, "op_s" -> opS,
        "setup_s" -> (sessionS + Run.median(genS) + warmS),
        "peak_heap_mib" -> memory("heap"))
  }

  /** Medians over the traced samples of every per-layer metric
    * `BENCHMARK.json` names. A metric of a layer in `neverRun` (the part
    * of its name before the first dot) reads 0 when no sample has it;
    * any other metric no sample has stays out, and the run fails as
    * unmeasured.
    */
  def perLayer(samples0: Seq[Map[String, Double]], neverRun: Set[String]): Unit = {
    val samples = samples0.map(_ + ("spark.peak_memory_mib" -> memory("spark")))
    if (samples.nonEmpty) Run.perLayerNames.foreach { name =>
      val layerIdle = neverRun(name.takeWhile(_ != '.'))
      if (layerIdle || samples.forall(_.contains(name)))
        metrics += name -> Run.median(samples.map(_.getOrElse(name, 0.0)))
    }
  }

  def toJson(stamp: Map[String, Any]): String = Json(Map(
    "stamp" -> stamp, "fixtures" -> fixtures, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq, "op_s" -> opTimes, "setup" -> Map(
      "session_s" -> sessionS, "fixture_gen_s" -> genS, "warmup_s" -> warmS),
    "metrics" -> metrics.toMap, "details" -> details.toMap))
}

object Run {
  val MiB: Double = 1024.0 * 1024.0
  val GenRepeats = 3
  val MinOps = 2

  /** The per-layer metric names, as `BENCHMARK.json` (in the working
    * directory, the repo root) lists them.
    */
  lazy val perLayerNames: Seq[String] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    spec.get("per_layer").elements().asScala.map(_.get("name").asText()).toSeq
  }

  /** The low median: the lower middle value for an even count, so a
    * burst of load from outside that slows one of two samples does not
    * move it.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply((xs.size - 1) / 2)

  /** Drops cached and checkpointed blocks now, not at the next GC, so
    * one operation's blocks never linger into the next one's timing.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** Bytes of RDD blocks currently stored (memory and disk). */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Bytes read so far through Hadoop's local file system. */
  def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    }

  def treeBytes(dir: Path, suffix: String): Long =
    files(dir).filter(_.getFileName.toString.endsWith(suffix)).map(Files.size).sum

  def treeFiles(dir: Path, suffix: String): Long =
    files(dir).count(_.getFileName.toString.endsWith(suffix)).toLong

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

/** Peak memory of the measured loop, from its start to `stop`, in MiB.
  * `heap` is the most heap in use right after any garbage collection
  * plus the non-heap memory (metaspace, code cache) in use at the end:
  * the live memory the program holds, which, unlike the resident set of
  * a JVM with a fixed heap, does not depend on how much of the heap the
  * collector happened to touch. `spark` is the most on-heap execution
  * plus storage memory Spark held, sampled every 10 ms.
  */
final class MemoryProbe {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var afterGc = 0L
  @volatile private var sparkPeak = 0L
  @volatile private var stopped = false
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        MemoryProbe.this.synchronized { afterGc = math.max(afterGc, used) }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))
  private val sampler = new Thread(() => {
    while (!stopped) {
      sparkPeak = math.max(sparkPeak, org.apache.spark.BenchBus.memoryUsed())
      Thread.sleep(10)
    }
  })
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Map[String, Double] = {
    stopped = true
    sampler.join()
    emitters.foreach(_.removeNotificationListener(listener))
    val afterGcPeak: Long = synchronized(afterGc)
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    Map("heap" -> (afterGcPeak + nonHeap) / Run.MiB, "spark" -> sparkPeak / Run.MiB)
  }
}

/** JSON of the run artifact (maps, sequences, strings, numbers). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
