package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode

import graft.Json

/** Minimal resumable job state (the reference's checkpoint surface,
  * `lightning/checkpoints/checkpoints.go` — per-table status machine
  * with per-chunk progress, `checkpoints.go:231-274`).
  * One JSON line per table-state transition in `<dir>/state.jsonl`,
  * append-only; the latest line per key wins, so a crashed run resumes
  * by replaying the file. Each record carries the verified checksum
  * triple AND the set of source files it covers, which is what makes
  * file-level incremental resume possible: a re-run imports only data
  * files not in the verified set (see `Ingest.run`). Driver-side (state
  * is O(#tables + #files), not O(data)); a cluster deployment would
  * point `dir` at a shared filesystem. This object is the one reader
  * and writer of the file: keys and paths go through [[graft.Json]], so
  * they come back exactly as they went in, whatever characters they
  * hold.
  */
class JobState(dir: Option[String]) {

  import JobState._

  private val file = dir.map { d =>
    Files.createDirectories(Paths.get(d))
    fileIn(d)
  }

  private val cache: scala.collection.mutable.Map[String, Record] =
    scala.collection.mutable.Map.from(dir.toSeq.flatMap(latest).map(r => r.key -> r))

  def get(key: String): Option[Record] = synchronized { cache.get(key) }

  // synchronized: concurrent table restores (Ingest tableConcurrency)
  // record their state from separate driver threads
  def put(r: Record): Unit = synchronized {
    cache(r.key) = r
    file.foreach { f =>
      Files.writeString(f, render(r) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }
}

object JobState {
  /** `maxId` is the table's max auto-increment/row-ID value at record
    * time — the allocator rebase point for incremental appends
    * (reference persists the same rebase in its checkpoint + final
    * `ALTER TABLE AUTO_INCREMENT=`, `lightning/restore/tidb.go:349-367`).
    */
  /** `taskTs` is the import's epoch-millis task timestamp — the ONE
    * value every CURRENT_TIMESTAMP default evaluates to for the whole
    * table, stable across chunk batches and crash-resume (reference
    * `tests/checkpoint_timestamp`: 98 all-default rows through a
    * mid-chunk crash land ONE distinct ts; the reference anchors its
    * task id to the same clock). 0 = legacy record, a resume mints a
    * fresh value.
    */
  case class Record(key: String, status: String, nRows: Long, checksum: Long,
      nBytes: Long = 0L, files: Seq[String] = Nil, maxId: Long = 0L,
      maxRowid: Long = 0L, taskTs: Long = 0L)

  private def fileIn(dir: String): Path = Paths.get(dir, "state.jsonl")

  /** The latest record per key in `dir`'s state, keys in first-seen
    * order; nothing when there is no state yet. Unparseable lines are
    * skipped.
    */
  def latest(dir: String): Seq[Record] = {
    val f = fileIn(dir)
    if (!Files.exists(f)) return Seq.empty
    val byKey = scala.collection.mutable.LinkedHashMap[String, Record]()
    Files.readAllLines(f).asScala.flatMap(parse).foreach(r => byKey(r.key) = r)
    byKey.values.toSeq
  }

  /** Replaces `dir`'s state with `records`: written to a temp file, then
    * moved over the old one atomically, so a crash leaves either state
    * whole.
    */
  def replace(dir: String, records: Seq[Record]): Unit = {
    val f = fileIn(dir)
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.writeString(tmp, records.map(render(_) + "\n").mkString)
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The record as a JSON object, fields in their line order. */
  private[pipeline] def fields(r: Record): ListMap[String, Any] = ListMap(
    "key" -> r.key, "status" -> r.status, "nRows" -> r.nRows,
    "checksum" -> r.checksum, "nBytes" -> r.nBytes, "files" -> r.files,
    "maxId" -> r.maxId, "maxRowid" -> r.maxRowid, "taskTs" -> r.taskTs)

  private[pipeline] def render(r: Record): String = Json.write(fields(r))

  /** One state line; `key`, `status`, `nRows` and `checksum` are
    * required, and a missing later field (lines of older versions)
    * takes its default.
    */
  private[pipeline] def parse(line: String): Option[Record] = Try {
    val o = Json.read(line)
    def text(n: JsonNode) = { require(n.isTextual); n.textValue }
    def long(n: JsonNode) = { require(n.isIntegralNumber && n.canConvertToLong); n.longValue }
    def opt(k: String) = Option(o.get(k)).fold(0L)(long)
    val files = Option(o.get("files")).fold(Seq.empty[String]) { a =>
      require(a.isArray); a.asScala.map(text).toSeq }
    Record(text(o.required("key")), text(o.required("status")),
      long(o.required("nRows")), long(o.required("checksum")), opt("nBytes"),
      files, opt("maxId"), opt("maxRowid"), opt("taskTs"))
  }.toOption
}
