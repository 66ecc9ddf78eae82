package graftbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark run in one JVM: start the session, generate fixtures,
  * warm up, then measure the workload for `--seconds`, untraced
  * (end-to-end metrics) or traced (per-layer metrics). Writes the
  * run's JSON artifact to `--out`; `perfbench/run.py` prints the result.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus N --scale bench|tiny --work DIR --out FILE
  */
object Main {
  /** Single-thread CPU yardstick: the xorshift loop of `graft.Bench`,
    * over a seventh of its iterations. Seconds per 1e8 iterations.
    */
  def yardstick(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("yardstick sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val scale = Fixtures.Scales(opts("scale"))
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val yardBefore = yardstick()
    val t0 = System.nanoTime()
    val spark = GraftSession.benchSession(cpus.toString)
    val run = new Run(spark, opts("seed").toLong, opts("seconds").toDouble, work, scale,
      (System.nanoTime() - t0) / 1e9)
    val (setup, measure, measureTraced) = workload match {
      case "sql_lineitem" =>
        val w = new ImportWorkload(run)
        (() => w.setup(), () => w.measure(), (l: LayerListener) => w.measureTraced(l))
      case "operators_basket" =>
        val w = new BasketWorkload(run)
        (() => w.setup(), () => w.measure(), (l: LayerListener) => w.measureTraced(l))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    setup()
    if (!trace) measure()
    else {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      measureTraced(listener)
    }
    val yardAfter = yardstick()
    val stamp = Map("workload" -> workload, "seed" -> run.seed, "trace" -> trace,
      "seconds" -> run.seconds, "scale" -> opts("scale"), "cores" -> cpus,
      "master" -> spark.sparkContext.master,
      "heap_max_mib" -> Runtime.getRuntime.maxMemory / (1024L * 1024L),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "yardstick_s_per_1e8" -> Map("before" -> yardBefore, "after" -> yardAfter))
    Files.writeString(Paths.get(opts("out")), run.toJson(stamp) + "\n")
    spark.stop()
  }
}
