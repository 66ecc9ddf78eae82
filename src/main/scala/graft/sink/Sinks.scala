package graft.sink

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoders}

import graft.sources.SqlLiterals

/** Bulk-load sinks (SURVEY §2.5 D1–D6 + §2.4 E3/E4).
  *
  * The reference's local backend external-sorts all KVs in an LSM and
  * ships ≤96 MiB sorted ranges (`lightning/backend/local.go:877-950`).
  * Spark's sort-based shuffle *is* that external sort:
  * `repartitionByRange(pk).sortWithinPartitions(pk)` yields globally
  * range-partitioned, internally sorted output — each task writes one
  * "SST", the commit protocol is the ingest. AQE's advisory partition
  * size plays the role of the 96 MiB range splitter.
  */
object SortedParquetSink {

  /** Reference range-size target: 96 MiB per sorted range
    * (`lightning/config/const.go:25`).
    */
  val RangeBytes: Long = 96L * 1024 * 1024

  /** Range count for `df` from the optimizer's size estimate —
    * ceil(bytes / 96 MiB), the reference's splitter rule. Catalyst's
    * `sizeInBytes` flows from file sizes through filters/projections,
    * so this is O(1) driver-side (no extra job).
    *
    * Plans with no real estimate (RDD-backed sources report the
    * defaultSizeInBytes sentinel, effectively infinite) fall back to
    * the session's shuffle parallelism instead of exploding into a
    * file-per-96MiB-of-infinity.
    */
  def rangesFor(df: DataFrame, targetBytes: Long = RangeBytes): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = bytes <= 0 || bytes > (BigInt(1L) << 50) // >1 PiB = sentinel, not a real estimate
    if (unknown) {
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    } else {
      val n = (bytes + targetBytes - 1) / targetBytes
      n.max(1).min(10000).toInt
    }
  }

  /** Range-partitioned, sorted, verified bulk write.
    *
    * @param numRanges target range count; 0 = size from the plan's
    *   byte estimate at 96 MiB per range ([[rangesFor]]), the
    *   reference's splitter rule. AQE may still coalesce further.
    */
  def write(df: DataFrame, path: String, sortCols: Seq[String], numRanges: Int = 0,
      mode: String = "overwrite", partitionCols: Seq[String] = Nil,
      format: String = "parquet"): Unit = {
    // With partition columns the range shuffle leads with them, so each
    // task holds a contiguous run of partition values and writes a few
    // directories instead of fanning a file into every one (the
    // small-files failure mode of hash-partitioned partitionBy writes).
    val keys = (partitionCols ++ sortCols.filterNot(partitionCols.contains)).map(col)
    val n = if (numRanges > 0) numRanges else rangesFor(df)
    val sorted = df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
    val w = sorted.write.mode(mode).format(format)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(path)
  }

  /** [[write]] with an observed metric riding the write pass, so the
    * caller gets an aggregate (e.g. the pre-write checksum) without a
    * second scan of the source.
    *
    * The observation is attached ABOVE the range shuffle: the
    * RangePartitioner's sampling job re-executes the plan below the
    * exchange, so a metric observed there accumulates twice (verified:
    * a 1000-row df observed under `repartitionByRange` reports
    * count=2000). Post-shuffle, rows flow through exactly once.
    */
  def writeObserved(df: DataFrame, path: String, sortCols: Seq[String],
      obs: org.apache.spark.sql.Observation, metric: DataFrame => Column,
      numRanges: Int = 0, mode: String = "overwrite"): Unit =
    writeObservedMetrics(df, path, sortCols, obs, d => Seq(metric(d)),
      Nil, numRanges, mode)

  /** [[writeObserved]] with several metrics and optional transport-only
    * columns to drop after observation (e.g. a cast-error counter that
    * must ride the pass but not land in the output files).
    */
  def writeObservedMetrics(df: DataFrame, path: String, sortCols: Seq[String],
      obs: org.apache.spark.sql.Observation, metrics: DataFrame => Seq[Column],
      dropCols: Seq[String], numRanges: Int = 0, mode: String = "overwrite",
      partitionCols: Seq[String] = Nil, format: String = "parquet"): Unit = {
    val keys = (partitionCols ++ sortCols.filterNot(partitionCols.contains)).map(col)
    val n = if (numRanges > 0) numRanges else rangesFor(df)
    val ranged = df.repartitionByRange(n, keys: _*)
    val ms = metrics(ranged)
    val sorted = ranged
      .observe(obs, ms.head, ms.tail: _*)
      .drop(dropCols: _*)
      .sortWithinPartitions(keys: _*)
    val w = sorted.write.mode(mode).format(format)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(path)
  }

  /** The on-duplicate policy as a standalone operator (reference
    * `lightning/config/config.go:62-67`, `tests/tidb_duplicate_data`):
    * "error" asserts key uniqueness and FAILS the job on the first
    * conflict (the reference surfaces the duplicate-key error from the
    * target); "replace"/"ignore" keep last/first per key.
    */
  def dedup(df: DataFrame, keyCols: Seq[String],
      policy: String, orderCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    policy match {
      case "error" =>
        // Conflicting keys come from a map-side-combined groupBy (the
        // shuffle carries (key, partial-count), never rows) and join
        // back onto the data path; a clean input's conflict set is
        // EMPTY, so AQE broadcasts it and the data never shuffles. Any
        // matched row raises with the offending key in the message —
        // assert_true is NULL when the predicate holds, so the filter
        // passes every row of a clean input untouched.
        val keyTxt = concat_ws(",", keyCols.map(c => col(c).cast("string")): _*)
        val msg = concat(lit("on-duplicate policy 'error': duplicate key ("),
          keyTxt, lit(s") on [${keyCols.mkString(",")}]"))
        val confl = conflicts(df, keyCols).withColumnRenamed("n_rows", "_g_cnt")
        df.join(confl, keyCols, "left")
          .filter(assert_true(col("_g_cnt").isNull, msg).isNull)
          .select(df.columns.map(col): _*) // restore input column order
      case "replace" | "ignore" =>
        val ord = orderCol.map(col).getOrElse(lit(1))
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(if (policy == "replace") ord.desc else ord.asc)
        df.withColumn("_g_rn", row_number().over(w))
          .filter(col("_g_rn") === 1).drop("_g_rn")
    }
  }

  /** Duplicate-key report — the non-throwing face of the "error"
    * policy, surfaced like `badRows`: one row per conflicting key with
    * its multiplicity. Empty ⇔ `dedup(df, keys, "error")` would pass.
    * A single map-side-combined groupBy; no window, no sort.
    */
  def conflicts(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)
}

/** Executor-side connection source for [[JdbcSink]]. Serializable so
  * each partition opens its own connection (the reference opens one DB
  * session per write thread, `lightning/backend/tidb.go:350-360`).
  */
trait ConnectionProvider extends Serializable {
  def connect(): java.sql.Connection
}

/** Standard DriverManager-backed provider. */
case class DriverManagerProvider(url: String, props: Map[String, String] = Map.empty)
    extends ConnectionProvider {
  override def connect(): java.sql.Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, p)
  }
}

/** SQL-statement-executing sink — the reference's "tidb backend"
  * (`WriteRows`/`WriteRowsToDB`, `lightning/backend/tidb.go:350-419`):
  * multi-row INSERT statements built executor-side and executed over
  * JDBC, with the on-duplicate policy rendered into the statement
  * (reference `lightning/config/config.go:62-67`):
  * error → `INSERT INTO`, replace → `REPLACE INTO`,
  * ignore → `INSERT IGNORE INTO`.
  *
  * Fully distributed: `foreachPartition` opens one connection per
  * partition, renders `rowsPerStatement`-tuple statements (E3's chunk
  * re-batching), executes them in JDBC batches of `statementsPerBatch`,
  * and retries a failed batch up to `maxRetries` times (the reference
  * retries per-statement the same way, `tidb.go:370-393`). Rows never
  * touch the driver.
  */
object JdbcSink {

  def writeRows(df: DataFrame, table: String, provider: ConnectionProvider,
      policy: String = "error", rowsPerStatement: Int = 100,
      statementsPerBatch: Int = 32, maxRetries: Int = 3): Unit = {
    val cols = df.columns
    val prefix = (policy match {
      case "replace" => s"REPLACE INTO `$table`"
      case "ignore" => s"INSERT IGNORE INTO `$table`"
      case _ => s"INSERT INTO `$table`"
    }) + cols.mkString(" (`", "`,`", "`) VALUES ")
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val conn = provider.connect()
        try {
          conn.setAutoCommit(false)
          val st = conn.createStatement()
          val pending = scala.collection.mutable.ArrayBuffer[String]()
          it.grouped(rowsPerStatement).foreach { rows =>
            pending += prefix + rows.map { row =>
              cols.indices.map(i => SqlLiterals.literal(row.get(i)))
                .mkString("(", ",", ")")
            }.mkString(",")
            if (pending.size >= statementsPerBatch) {
              execBatch(conn, st, pending.toSeq, maxRetries)
              pending.clear()
            }
          }
          if (pending.nonEmpty) execBatch(conn, st, pending.toSeq, maxRetries)
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** Execute one JDBC batch as its own sub-transaction attempt: each
    * batch commits on success; on SQLException the transaction rolls
    * back BEFORE the retry, so statements a partially-executed batch
    * already applied are undone rather than re-applied (the JDBC spec
    * allows executeBatch to fail midway; without the rollback a retry
    * would duplicate the applied rows). The SQL list is kept aside and
    * re-added each attempt — batch state is undefined after a
    * BatchUpdateException.
    */
  private def execBatch(conn: java.sql.Connection, st: java.sql.Statement,
      sqls: Seq[String], maxRetries: Int): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        sqls.foreach(st.addBatch)
        st.executeBatch()
        st.clearBatch()
        conn.commit()
        done = true
      } catch {
        case e: java.sql.SQLException =>
          try st.clearBatch() catch { case _: java.sql.SQLException => }
          try conn.rollback() catch { case _: java.sql.SQLException => }
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(50L * attempt)
      }
    }
  }
}

/** INSERT-statement emitter (SURVEY E3/E4 + T9): renders rows as
  * MyDumper-style `INSERT INTO t (cols) VALUES (…),(…);` batches. The
  * reference streams these over MySQL protocol
  * (`lightning/backend/tidb.go:350-419`); our file form doubles as the
  * fixture generator for the dump-parser round-trip, and a JDBC
  * `foreachPartition` variant would reuse the same statement builder.
  * Fully distributed: one statement batch per `rowsPerStatement` rows,
  * rendered inside the executors.
  */
object InsertDumpWriter {

  def statements(df: DataFrame, table: String, rowsPerStatement: Int = 100): DataFrame = {
    val cols = df.columns
    val header = s"INSERT INTO $table (${cols.mkString(",")}) VALUES "
    import df.sparkSession.implicits._
    df.mapPartitions { it =>
      it.grouped(rowsPerStatement).map { batch =>
        val tuples = batch.map { row =>
          cols.indices.map(i => SqlLiterals.literal(row.get(i))).mkString("(", ",", ")")
        }
        header + tuples.mkString(",\n") + ";"
      }
    }(Encoders.STRING).toDF("stmt")
  }

  def write(df: DataFrame, table: String, path: String, rowsPerStatement: Int = 100): Unit =
    statements(df, table, rowsPerStatement).write.mode("overwrite").text(path)
}
