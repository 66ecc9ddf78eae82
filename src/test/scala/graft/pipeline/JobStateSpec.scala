package graft.pipeline

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class JobStateSpec extends AnyFunSuite {

  // the reference's tests/exotic_filenames db name, plus every
  // character a hand-rolled JSON line gets wrong
  private val exotic = JobState.Record("x`f\"n.t,1", "verified", 3L, -7L, 12L,
    Seq("/dump,2026/x`f\"n.t.sql", "C:\\dumps\\t.csv", "/a\nb/t.csv", "/données/表.sql"),
    maxId = 9L, maxRowid = 11L, taskTs = 1700000000000L)

  test("keys and paths holding , \" \\ newline and non-ASCII round-trip") {
    val line = JobState.render(exotic)
    assert(!line.contains("\n"), line)
    assert(JobState.parse(line) === Some(exotic))
  }

  test("latest keeps the last record per key; replace writes the set back") {
    val dir = Files.createTempDirectory("graft_jobstate").toString
    assert(JobState.latest(dir).isEmpty)
    val state = new JobState(Some(dir))
    state.put(exotic.copy(status = "imported"))
    state.put(JobState.Record("d.t", "verified", 1L, 2L))
    state.put(exotic)
    Files.writeString(java.nio.file.Paths.get(dir, "state.jsonl"), "{torn line\n",
      java.nio.file.StandardOpenOption.APPEND)
    assert(JobState.latest(dir) === Seq(exotic, JobState.Record("d.t", "verified", 1L, 2L)))
    JobState.replace(dir, Seq(exotic))
    assert(JobState.latest(dir) === Seq(exotic))
    assert(new JobState(Some(dir)).get(exotic.key) === Some(exotic))
  }
}
