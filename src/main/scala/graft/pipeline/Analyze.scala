package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

/** A7: post-import ANALYZE (reference `analyzeTable`,
  * `lightning/restore/restore.go:2215-2220`; levels
  * `lightning/config/config.go:170-241`).
  *
  * The written parquet directory is registered as an external catalog
  * table and `ANALYZE TABLE … COMPUTE STATISTICS` records its size and
  * row count in the catalog — where Catalyst's cost-based optimizer
  * (join reorder, broadcast-hash selection, AQE hints) reads them for
  * every later query over the imported table. Same rationale as the
  * reference: imports bypass the stats pipeline, so collect stats as
  * the final import step.
  */
object Analyze {

  def tableName(key: String): String =
    "graft_" + key.replaceAll("[^A-Za-z0-9_]", "_")

  /** Register `path` as external table `tableName(key)` and compute
    * table-level statistics; returns the catalog-recorded row count.
    */
  def analyze(spark: SparkSession, key: String, path: String,
      format: String = "parquet"): Option[Long] = {
    val tbl = tableName(key)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"CREATE TABLE `$tbl` USING $format LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE `$tbl` COMPUTE STATISTICS")
    statsRowCount(spark, tbl)
  }

  /** What [[analyze]] records, without scanning the data: registers
    * `path` with its known `schema` (no inference job), lets `ANALYZE …
    * NOSCAN` list the files for the size, and sets the row count to
    * `rows`, a count the caller has already verified. Leaves the same
    * Statistics as a scanning [[analyze]] of the directory.
    */
  def record(spark: SparkSession, key: String, path: String, schema: StructType,
      rows: Long, format: String = "parquet"): Option[Long] = {
    val tbl = tableName(key)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.catalog.createTable(tbl, format, schema, Map("path" -> path))
    spark.sql(s"ANALYZE TABLE `$tbl` COMPUTE STATISTICS NOSCAN")
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(tbl)
    catalog.alterTableStats(ident,
      catalog.getTableMetadata(ident).stats.map(_.copy(rowCount = Some(BigInt(rows)))))
    statsRowCount(spark, tbl)
  }

  /** Row count as recorded in the catalog statistics (None if the
    * table has no stats entry).
    */
  def statsRowCount(spark: SparkSession, tbl: String): Option[Long] =
    spark.sql(s"DESCRIBE TABLE EXTENDED `$tbl`").collect()
      .find(r => r.getString(0) == "Statistics")
      .flatMap(r => "(\\d+) rows".r.findFirstMatchIn(r.getString(1)).map(_.group(1).toLong))
}
