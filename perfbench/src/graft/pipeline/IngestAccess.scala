package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.discover.FileKind
import graft.schema.TableSchema

/** `Ingest`'s non-public choices, for the benchmark's staged import, so
  * it reads, splits and fills exactly as `Ingest.run` does.
  */
object IngestAccess {
  /** One import unit: a whole file, or a byte range of one. */
  case class DataUnit(path: String, kind: FileKind.Value, start: Long, len: Long) {
    def isChunk: Boolean = len >= 0L
  }

  /** Whether the table gets a synthesized `_tidb_rowid`, and its schema
    * with the column when it does.
    */
  def rowidRequired(ts: TableSchema, cfg: Ingest.Config): Boolean =
    !cfg.noSchema && Ingest.rowidRequired(ts, cfg.clusteredIndex)

  def withRowid(ts: TableSchema): TableSchema = Ingest.withRowid(ts)

  /** The units `Ingest.run` imports a table's files as. `expandUnits` is
    * private to `Ingest`, so it is called reflectively; a renamed or
    * re-typed method fails the run rather than going untimed.
    */
  def expandUnits(spark: SparkSession, cfg: Ingest.Config,
      d: Ingest.Discovered): Seq[DataUnit] = {
    val m = Ingest.getClass.getDeclaredMethods.find(_.getName.endsWith("expandUnits"))
      .getOrElse(throw new NoSuchMethodException("graft.pipeline.Ingest.expandUnits"))
    m.setAccessible(true)
    m.invoke(Ingest, spark, cfg, d).asInstanceOf[Seq[Ingest.DataUnit]]
      .map(u => DataUnit(u.path, u.kind, u.start, u.len))
  }
}
