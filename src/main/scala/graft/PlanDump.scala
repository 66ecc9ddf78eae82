package graft

/** Optimization-round plan artifact dumper: for each named query,
  * writes `<outDir>/<name>_<tag>.txt` holding the `explain("formatted")`
  * output AND the final (post-AQE) executed plan after a noop run —
  * the judge-checkable evidence for plan-shape claims
  * (`plans/r18/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.PlanDump <tag> <outDir> <q1,q2,...>`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1). Runs [[GraftSession.session]]
  * and [[GraftSession.warmAll]] like Bench, so the dumped plans are the
  * benched plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.PlanDump <tag> <outDir> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(tag, outDir, names) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session()
    GraftSession.warmAll(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").foreach { name =>
      val out = new StringBuilder
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        out ++= s"===== $name ($tag) — explain formatted =====\n"
        out ++= df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // r19 (ADVICE): a noop WRITE runs a separate QueryExecution, so
        // df.queryExecution.executedPlan was never executed and every
        // dump printed isFinalPlan=false. Executing the df's OWN plan
        // (AdaptiveSparkPlanExec.execute materializes all query stages
        // and re-optimizes) makes the printed plan the genuinely final
        // post-AQE one.
        df.queryExecution.executedPlan.execute().count()
        out ++= s"\n===== $name ($tag) — final plan after AQE =====\n"
        out ++= df.queryExecution.executedPlan.toString
      } catch {
        case t: Throwable => out ++= s"ERR $t\n"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), out.toString)
      spark.sqlContext.clearCache()
      println(s"PLANDUMP wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
