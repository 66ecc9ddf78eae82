package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration;
    // the driver always passes exactly two args → full run)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = GraftSession.session()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    // a failed query leaves no output dir and silently vanishes from
    // the downstream compare (how 13 broken queries hid for two
    // rounds) — leave a loud manifest beside the outputs
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      Json.write(errors.map { case (k, v) => k -> v.take(300) }))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
