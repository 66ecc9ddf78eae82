package graft

/** Single-query timing harness for iterating on one operator:
  * `runMain graft.BenchOne <queryName> [reps]`. Shares [[GraftSession]]
  * session config and warm-up with [[Bench]]; prints one line per rep
  * so plan-flip nondeterminism (AQE broadcast decisions, cache
  * warm-up) is visible across reps.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session()
    GraftSession.warmAll(spark, sfDir)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"BENCHONE $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
