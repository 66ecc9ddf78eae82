package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The sketch-rollup merge audit + live-maintenance parity.
  *
  * `q_sketch_rollup` serves weekly distinct-users estimates by merging
  * the standing per-day HLL partials and ships the merge guarantee as
  * a certified verdict (the `q_profile_approx` convention). The
  * certification lives here: (1) the merged-from-partials weekly
  * estimate must equal a direct sketch over the raw weekly events —
  * sketch-of-union == union-of-sketches for a fixed lgK, the property
  * `SketchSpec` pins on halves; (2) a layout maintained by streaming
  * appends must serve the same estimates as one built from the union
  * corpus in a single pass.
  */
class SketchRollupSpec extends SparkSpec {

  private def directWeekly(events: org.apache.spark.sql.DataFrame) =
    events
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")
        .as("week"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(CoreQueries.SketchLgK)))
        .as("est_users"))

  private def collectEst(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.get(0).toString -> r.getLong(1)).toMap

  test("merged weekly estimate == direct sketch over the raw events") {
    val served = collectEst(CoreQueries.sketchRollupEstimates(spark, sf()))
    val direct = collectEst(
      directWeekly(graft.GraftSession.table(spark, sf(), "events")))
    assert(served.nonEmpty)
    assert(served === direct,
      "union-of-daily-sketches must equal sketch-of-raw-week")
    // and the registered query's exact anchor agrees with raw counts
    val anchor = CoreQueries.sketchRollup(spark, sf()).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val exact = graft.GraftSession.table(spark, sf(), "events")
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")
        .as("week"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(anchor === exact)
  }

  test("two concurrent staged appends both commit; estimates == one-pass build") {
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val ev = graft.GraftSession.table(spark, sf(), "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val half = ev.agg(expr("percentile(event_id, 0.5)")).head().getDouble(0)
    val seed = ev.where(col("event_id") <= half)
    val restA = ev.where(col("event_id") > half && col("event_id") % 2 === 0)
    val restB = ev.where(col("event_id") > half && col("event_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_race").toString
    seed.write.mode("overwrite").parquet(s"$dir/events.parquet")
    CoreQueries.sketchRollup(spark, dir).count() // base layout before the race
    // the race: two appenders in flight at once, distinct tags —
    // partials are summable, so the interleaving cannot matter once
    // each stages privately (no shared _temporary)
    val f1 = Future(CoreQueries.sketchAppend(spark, dir, restA, Some("w1")))
    val f2 = Future(CoreQueries.sketchAppend(spark, dir, restB, Some("w2")))
    Await.result(f1, 5.minutes); Await.result(f2, 5.minutes)
    assert(collectEst(CoreQueries.sketchRollupEstimates(spark, dir))
      === collectEst(directWeekly(ev)),
      "a concurrent appender's partials were lost or doubled")
    assert(CoreQueries.sketchRollup(spark, dir)
      .agg(sum("n_events")).head().getLong(0) === ev.count(),
      "the exact anchor diverged under the race")
    // retry idempotence: the same tag re-staged sweeps its own files
    CoreQueries.sketchAppend(spark, dir, restA, Some("w1"))
    assert(CoreQueries.sketchRollup(spark, dir)
      .agg(sum("n_events")).head().getLong(0) === ev.count(),
      "a retried tag doubled its partials")
  }

  test("streaming-maintained layout serves the same estimates as a one-pass build") {
    // seed corpus = first half of the events; two appended "batches"
    // = the second half, split — replayed batch must be a no-op
    val ev = graft.GraftSession.table(spark, sf(), "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val half = ev.agg(expr("percentile(event_id, 0.5)")).head().getDouble(0)
    val seed = ev.where(col("event_id") <= half)
    val restA = ev.where(col("event_id") > half && col("event_id") % 2 === 0)
    val restB = ev.where(col("event_id") > half && col("event_id") % 2 =!= 0)

    val dir = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    seed.write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(CoreQueries.sketchAppendOnce(spark, dir, restA, batchId = 0L))
    assert(!CoreQueries.sketchAppendOnce(spark, dir, restA, batchId = 0L),
      "replayed batch must not double the n_events anchor")
    assert(CoreQueries.sketchAppendOnce(spark, dir, restB, batchId = 1L))

    assert(collectEst(CoreQueries.sketchRollupEstimates(spark, dir))
      === collectEst(directWeekly(ev)),
      "maintained partials must merge to the union's direct estimates")
    // exact anchor: seed + two appends == all events
    val n = CoreQueries.sketchRollup(spark, dir)
      .agg(sum("n_events")).head().getLong(0)
    assert(n === ev.count())

    // SEMANTIC compaction: N batch partials collapse to one row per
    // day; estimates and anchors invariant, row count = |days|
    val daily = CoreQueries.userSketchLayout(spark, dir)
    val estBefore = collectEst(CoreQueries.sketchRollupEstimates(spark, dir))
    val rowsBefore = spark.read.parquet(daily).count()
    val days = spark.read.parquet(daily).select("day").distinct().count()
    assert(rowsBefore > days, "appends must have produced multiple partials per day")
    CoreQueries.sketchCompact(spark, dir)
    assert(spark.read.parquet(daily).count() === days,
      "compaction must merge to exactly one row per day")
    assert(collectEst(CoreQueries.sketchRollupEstimates(spark, dir)) === estBefore)
    assert(CoreQueries.sketchRollup(spark, dir)
      .agg(sum("n_events")).head().getLong(0) === n)
  }

  test("arbitrary-window estimate == direct sketch over the raw slice") {
    // the layout never baked in a window alignment: any [start, end)
    // merges register-wise to exactly the sketch a direct pass over
    // the raw slice builds — here the registered two-week window
    // (min day + 7 … + 21, deliberately not week-aligned)
    val ev = graft.GraftSession.table(spark, sf(), "events")
    val d0 = ev.agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate
    val (start, end) = (d0.plusDays(7).toString, d0.plusDays(21).toString)
    val served = CoreQueries.sketchWindowEstimate(spark, sf(), start, end)
      .head().getLong(0)
    val direct = ev
      .where(to_date(col("ts")) >= lit(start) && to_date(col("ts")) < lit(end))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(CoreQueries.SketchLgK))))
      .head().getLong(0)
    assert(served === direct,
      "union-of-daily-sketches over the slice must equal sketch-of-raw-slice")
    // and the registered form's exact anchors agree with raw counts
    val row = graft.SparkEntry.queries("q_sketch_window")(spark, sf()).head()
    assert(row.getString(0) === start && row.getString(1) === end)
    assert(row.getLong(2) === 14L) // both SFs span 30 contiguous days
    assert(row.getLong(3) === ev
      .where(to_date(col("ts")) >= lit(start) && to_date(col("ts")) < lit(end))
      .count())
  }

  test("sketch compaction preserves a partial appended DURING the compaction") {
    val ev = graft.GraftSession.table(spark, sf(), "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val seed = ev.where(col("event_id") % 2 === 0)
    val late = ev.where(col("event_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_cc").toString
    seed.write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(!CoreQueries.userSketchPresent(dir),
      "Ctl's nothing-to-compact guard must be false before the build")
    CoreQueries.userSketchLayout(spark, dir)
    assert(CoreQueries.userSketchPresent(dir))
    // the append lands after the staged merge + manifest, before the
    // swap — snapshot isolation must keep it
    CoreQueries.sketchCompact(spark, dir,
      () => assert(CoreQueries.sketchAppendOnce(spark, dir, late, batchId = 0L)))
    assert(collectEst(CoreQueries.sketchRollupEstimates(spark, dir))
      === collectEst(directWeekly(ev)),
      "the mid-compaction append must survive the swap")
    assert(CoreQueries.sketchRollup(spark, dir)
      .agg(sum("n_events")).head().getLong(0) === ev.count())
  }
}
