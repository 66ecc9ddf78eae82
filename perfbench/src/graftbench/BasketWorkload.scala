package graftbench

import java.nio.file.Files

import graft.SparkEntry

/** `operators_basket`: a closed loop of basket passes. One pass runs the
  * six queries in name order, each written through the noop sink. The
  * warm-up pass writes every result as parquet instead, for the DuckDB
  * oracle compare that `run.py` makes against `oracle_sql.json`. The
  * first measured pass still runs 10-20% slow; each query's low median
  * over two passes takes the settled one.
  */
class BasketWorkload(r: Run) {
  private val spark = r.spark
  private val sfDir = r.work.resolve("sf")
  private var srcBytes = 0L

  def setup(): Unit = {
    r.generateFixtures(sfDir)(() => Fixtures.writeBasket(spark, sfDir, r.seed, r.scale))
    srcBytes = r.fixtureBytes
    val results = r.work.resolve("results")
    Run.deleteTree(results)
    Files.createDirectories(results)
    r.warm {
      BasketWorkload.Queries.foreach { q =>
        r.op(q) {
          SparkEntry.queries(q)(spark, sfDir.toString)
            .write.mode("overwrite").parquet(results.resolve(q).toString)
          ((), Nil)
        }
        Run.release(spark)
      }
    }
    Files.writeString(results.resolve("oracle_sql.json"), Json(
      BasketWorkload.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }

  /** One pass: per-query noop-sink seconds, or None if a query failed. */
  private def pass(): Option[Seq[Double]] = {
    val times = BasketWorkload.Queries.map { q =>
      val t = r.op(q) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir.toString).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, Nil)
      }
      Run.release(spark)
      t
    }
    if (times.forall(_.isDefined)) Some(times.flatten) else None
  }

  /** One pass's time is the sum of its query times; the reported pass
    * time sums each query's median over the passes, so a burst of
    * outside load that slows one query of one pass does not move it.
    */
  def measure(): Unit = {
    val passes = r.loopSamples(pass().map(ts => BasketWorkload.Queries.zip(ts).toMap))
    val opS = BasketWorkload.Queries.map(q => Run.median(passes.map(_(q)))).sum
    r.endToEnd(opS, passes.map(_.values.sum), srcBytes)
  }

  /** Traced passes with the listener, each followed by an untraced pass,
    * so the difference of their medians is the tracing overhead.
    */
  def measureTraced(listener: LayerListener): Unit = {
    val sc = spark.sparkContext
    var untraced = Vector.empty[Double]
    val samples = r.loopSamples {
      val before = listener.snapshot(sc)
      val traced = pass()
      val byLayer = LayerListener.diff(listener.snapshot(sc), before)
      r.details("pass_layers") = byLayer.map { case (k, v) => k -> v.toMap }
      val d = LayerListener.total(byLayer)
      sc.removeSparkListener(listener)
      untraced ++= pass().map(_.sum)
      sc.addSparkListener(listener)
      traced.map { ts =>
        val ops = BasketWorkload.Queries.zip(ts).map { case (q, t) => s"operators.${q}_s" -> t }
        Map("pass_s" -> ts.sum, "operators.tasks" -> d.tasks.toDouble,
          "operators.shuffle_write_mib" -> d.shuffleWrite / Run.MiB,
          "operators.spill_mib" -> d.spill / Run.MiB, "operators.gc_s" -> d.gcMs / 1e3,
          "spark.tasks" -> d.tasks.toDouble, "spark.executor_run_s" -> d.runMs / 1e3,
          "spark.gc_s" -> d.gcMs / 1e3, "spark.shuffle_write_mib" -> d.shuffleWrite / Run.MiB,
          "spark.spill_mib" -> d.spill / Run.MiB) ++ ops
      }
    }
    val overhead = Run.median(samples.map(_("pass_s"))) - Run.median(untraced)
    r.perLayer(samples.map(s => s - "pass_s" + ("trace.overhead_s" -> overhead)),
      neverRun = Set("discover", "schema", "sources", "transform", "sink", "verify", "pipeline"))
  }
}

object BasketWorkload {
  val Queries: Seq[String] = Seq("q_checksum_lineitem", "q_dedup_minhash", "q_dedup_ngram",
    "q_knn_recall", "q_lm_score", "q_source_overlap")
}
