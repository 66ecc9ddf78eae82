package graft.verify

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Table checksum triple, mirroring the reference's verification value
  * (reference `lightning/verification/checksum.go:27-93`): a CRC64
  * combined by XOR plus KV count and byte size. XOR+sum+count are all
  * commutative/associative, so the aggregate is order- and
  * partitioning-independent — it distributes over any shuffle layout,
  * which is exactly why the reference chose it and why it scales to
  * 100 TB without a sort.
  */
case class KvChecksum(checksum: Long, totalKvs: Long, totalBytes: Long) {
  def add(o: KvChecksum): KvChecksum =
    KvChecksum(checksum ^ o.checksum, totalKvs + o.totalKvs, totalBytes + o.totalBytes)
}

object Checksum {

  import graft.functions.Crc64Expr.crc64

  /** Canonical row serialization: JSON of the row struct with fields in
    * lexicographic column order. Deterministic for a given session
    * timezone (UTC) and invariant under a parquet write/read round
    * trip, which is what end-to-end verification needs (reference
    * compares local vs remote checksums the same way,
    * `lightning/restore/restore.go:2194-2213`).
    */
  def canonicalBytes(df: DataFrame): Column = canonicalBytesOf(df.columns.toSeq)

  /** [[canonicalBytes]] over an explicit column subset (e.g. excluding
    * transport-only marker columns).
    */
  def canonicalBytesOf(columns: Seq[String]): Column = {
    val cols = columns.sorted.map(c => col(c))
    // to_json emits valid UTF-8, so the binary cast gives the bytes
    // encode(…, "UTF-8") would, without its per-row validity scan
    to_json(struct(cols: _*)).cast("binary")
  }

  /** The checksum triple as one aggregate struct: XOR of per-row
    * CRC64s ([[graft.functions.Crc64Expr]], codegen'd) + row count +
    * byte total — all builtin aggregates, so the whole triple
    * map-side-combines and stays inside whole-stage codegen.
    * `coalesce(..., 0)` keeps the empty-table value at (0, 0, 0), the
    * reference's zero checksum.
    */
  private def kvStruct(df: DataFrame): Column = kvStructOf(df.columns.toSeq)

  private def kvStructOf(columns: Seq[String]): Column = {
    val kv = canonicalBytesOf(columns)
    struct(
      coalesce(bit_xor(crc64(kv)), lit(0L)).as("checksum"),
      count(lit(1)).as("totalKvs"),
      coalesce(sum(octet_length(kv).cast("long")), lit(0L)).as("totalBytes"))
  }

  /** [[kvStruct]] aliased for `df.observe(...)`: the metric rides the
    * write pass, so ingest computes the pre-write checksum without a
    * second scan (reference computes checksums inside the one encode
    * pass the same way, `lightning/restore/restore.go:2382-2480`).
    *
    * IMPORTANT: the observation must be attached ABOVE any shuffle
    * boundary (e.g. after `repartitionByRange`). A RangePartitioner
    * runs a sampling job that executes the plan *below* the exchange a
    * second time, double-counting any metric observed there (each
    * row's CRC64 XORs twice → checksum cancels to 0). Post-shuffle the
    * plan executes exactly once. See [[graft.sink.SortedParquetSink.writeObserved]].
    */
  def checksumCol(df: DataFrame): Column =
    kvStruct(df).as("kv_checksum")

  /** [[checksumCol]] over an explicit column subset. */
  def checksumColOf(columns: Seq[String]): Column =
    kvStructOf(columns).as("kv_checksum")

  /** Extract the [[KvChecksum]] from an observed [[checksumCol]] metric. */
  def fromMetric(m: Any): KvChecksum = {
    val r = m.asInstanceOf[org.apache.spark.sql.Row]
    KvChecksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One-row DataFrame (checksum, total_kvs, total_bytes) for a table. */
  def tableChecksum(df: DataFrame): DataFrame =
    df.agg(kvStruct(df).as("c"))
      .select(
        col("c.checksum").as("checksum"),
        col("c.totalKvs").as("total_kvs"),
        col("c.totalBytes").as("total_bytes"))

  /** Compare two checksums, reference `compareChecksum` semantics. */
  def matches(a: KvChecksum, b: KvChecksum): Boolean = a == b
}
