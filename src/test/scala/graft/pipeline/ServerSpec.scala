package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class ServerSpec extends SparkSpec {

  private def mkSource(): String = {
    val root = Files.createTempDirectory("graft_server_src").toString
    Files.writeString(Paths.get(root, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, v varchar(10), PRIMARY KEY (id));")
    Files.writeString(Paths.get(root, "d.t.0001.csv"), "1,\"a\"\n2,\"b\"\n")
    root
  }

  test("drainOnce runs queued tasks in order and files results") {
    val src = mkSource()
    val out1 = Files.createTempDirectory("graft_server_out1").toString
    val out2 = Files.createTempDirectory("graft_server_out2").toString
    val spool = Files.createTempDirectory("graft_server_spool")
    Files.createDirectories(spool.resolve("queue"))
    Files.writeString(spool.resolve("queue/002-second.json"),
      s"""{"sourceDir":"$src","targetDir":"$out2"}""")
    Files.writeString(spool.resolve("queue/001-first.json"),
      s"""{"sourceDir":"$src","targetDir":"$out1"}""")

    val results = Server.drainOnce(spark, spool.toString)
    assert(results.map(_.task) === Seq("001-first.json", "002-second.json"))
    assert(results.forall(r => r.ok && r.tables === 1))
    assert(spark.read.parquet(s"$out1/d.t").count() === 2)
    assert(spark.read.parquet(s"$out2/d.t").count() === 2)
    assert(!Files.list(spool.resolve("queue")).iterator().hasNext)
    assert(Files.exists(spool.resolve("done/001-first.json.result")))
  }

  test("reorder moves a queued task to the front or back (reference PATCH /tasks front|back)") {
    val spool = Files.createTempDirectory("graft_server_reorder")
    val queue = Files.createDirectories(spool.resolve("queue"))
    Seq("001-a.json", "002-b.json", "003-c.json")
      .foreach(n => Files.writeString(queue.resolve(n), "{}"))

    // by base name, to the front: c jumps ahead of a and b
    assert(Server.reorder(spool.toString, "c.json", front = true)
      === Some("000-c.json"))
    def names() = {
      val l = Files.list(queue)
      try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally l.close()
    }
    assert(names() === Seq("000-c.json", "001-a.json", "002-b.json"))

    // by full filename, to the back: c returns to the tail
    assert(Server.reorder(spool.toString, "000-c.json", front = false)
      === Some("002-c.json"))
    assert(names() === Seq("000-a.json", "001-b.json", "002-c.json"))

    // unknown task is a loud no-op
    assert(Server.reorder(spool.toString, "zzz.json", front = true) === None)
    assert(names() === Seq("000-a.json", "001-b.json", "002-c.json"))
  }

  test("a broken task lands in failed/ and does not block the queue") {
    val src = mkSource()
    val out = Files.createTempDirectory("graft_server_out3").toString
    val spool = Files.createTempDirectory("graft_server_spool2")
    Files.createDirectories(spool.resolve("queue"))
    Files.writeString(spool.resolve("queue/001-bad.json"),
      """{"sourceDir":"/nonexistent/nowhere"}""") // missing targetDir
    Files.writeString(spool.resolve("queue/002-good.json"),
      s"""{"sourceDir":"$src","targetDir":"$out"}""")
    val results = Server.drainOnce(spark, spool.toString)
    assert(results.map(_.ok) === Seq(false, true))
    assert(Files.exists(spool.resolve("failed/001-bad.json")))
    assert(Files.exists(spool.resolve("done/002-good.json")))
    assert(spark.read.parquet(s"$out/d.t").count() === 2)
  }

  test("pause file parks the import at the table boundary; delete resumes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val src = mkSource()
    val out = Files.createTempDirectory("graft_pause_out").toString
    val pause = Files.createTempDirectory("graft_pause").resolve("pause")
    Files.createFile(pause)
    val fut = Future {
      Ingest.run(spark, Ingest.Config(src, out, pauseFile = Some(pause.toString)))
    }
    Thread.sleep(1000L)
    // gate is checked before the first table: nothing may have started
    assert(!fut.isCompleted, "import must park while the pause file exists")
    assert(!Files.exists(Paths.get(s"$out/d.t")))
    Files.delete(pause)
    val reports = Await.result(fut, 60.seconds)
    assert(reports.length === 1 && reports.head.checksumOk)
    assert(spark.read.parquet(s"$out/d.t").count() === 2)
  }

  test("pause file parks a chunked import at the next batch boundary") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // reference Pauser semantics (`restore.go:2412`): a RUNNING import
    // parks mid-table — here at the next chunk-batch boundary, where
    // state is recorded and nothing is half-written.
    val root = Files.createTempDirectory("graft_bpause_src").toString
    Files.writeString(Paths.get(root, "d.big-schema.sql"),
      "CREATE TABLE big (id int NOT NULL, v varchar(24), PRIMARY KEY (id));")
    val body = (1 to 800).map(i => s"""$i,"val_$i"""").mkString("", "\n", "\n")
    Files.writeString(Paths.get(root, "d.big.0001.csv"), body)
    val out = Files.createTempDirectory("graft_bpause_out").toString
    val stateDir = Files.createTempDirectory("graft_bpause_state").toString
    val pause = Files.createTempDirectory("graft_bpause").resolve("pause")
    val statePath = Paths.get(stateDir, "state.jsonl")
    val fut = Future {
      Ingest.run(spark, Ingest.Config(root, out, stateDir = Some(stateDir),
        pauseFile = Some(pause.toString),
        strictFormat = true, chunkBytes = 1024L, chunkBatch = 1))
    }
    // wait for the first batch record, then drop the pause file while
    // the import is mid-table
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((!Files.exists(statePath) ||
        !Files.readString(statePath).contains("\"imported\"")) &&
        System.nanoTime() < deadline && !fut.isCompleted)
      Thread.sleep(20L)
    assert(!fut.isCompleted, "import finished before the pause could land")
    Files.createFile(pause)
    Thread.sleep(1500L)
    val lines1 = Files.readString(statePath).trim.linesIterator.size
    Thread.sleep(1500L)
    val lines2 = Files.readString(statePath).trim.linesIterator.size
    assert(lines1 === lines2, "batches kept landing while paused")
    assert(!fut.isCompleted, "import must park at the batch boundary")
    Files.delete(pause)
    val reports = Await.result(fut, 120.seconds)
    assert(reports.length === 1 && reports.head.checksumOk)
    assert(reports.head.nRows === 800)
  }

  test("a JSON task refuses a bad row like a TOML task does: it lands in failed/") {
    val src = Files.createTempDirectory("graft_server_badrow").toString
    Files.writeString(Paths.get(src, "d.t-schema.sql"),
      "CREATE TABLE t (id int NOT NULL, n int, PRIMARY KEY (id));")
    Files.writeString(Paths.get(src, "d.t.0001.csv"), "1,10\n2,oops\n3,30\n")
    val out = Files.createTempDirectory("graft_server_badrow_out").toString
    val spool = Files.createTempDirectory("graft_server_badrow_spool")
    Files.createDirectories(spool.resolve("queue"))
    Files.writeString(spool.resolve("queue/001-json.json"),
      s"""{"sourceDir":"$src","targetDir":"$out"}""")
    val json = Files.readString(spool.resolve("queue/001-json.json"))
    val results = Server.drainOnce(spark, spool.toString)
    assert(results.map(_.ok) === Seq(false))
    assert(Files.exists(spool.resolve("failed/001-json.json")))
    assert(!Files.exists(spool.resolve("done/001-json.json")))
    // the JSON and TOML bodies carry the same budget
    assert(Server.parseTask(json).maxError === TomlConfig.load(
      s"""[mydumper]
         |data-source-dir = "$src"
         |""".stripMargin, targetDirOverride = Some(out)).config.maxError)
  }

  test("task JSON parses filters and stateDir") {
    val cfg = Server.parseTask(
      """{"sourceDir":"/s","targetDir":"/t","filters":"a.*, !a.junk","stateDir":"/st"}""")
    assert(cfg.sourceDir === "/s" && cfg.targetDir === "/t")
    assert(cfg.filters === Seq("a.*", "!a.junk"))
    assert(cfg.stateDir === Some("/st"))
  }

  test("task JSON decodes escapes: escaped slashes and unicode resolve to the decoded paths") {
    // PHP's json_encode escapes every slash; the body is standard JSON
    val cfg = Server.parseTask(
      "{\"sourceDir\":\"\\/data\\/dump\",\"targetDir\":\"\\/out\\/caf\\u00e9\"," +
        "\"stateDir\":\"\\/st\\/q\\\"x\"}")
    assert(cfg.sourceDir === "/data/dump")
    assert(cfg.targetDir === "/out/café")
    assert(cfg.stateDir === Some("/st/q\"x"))
  }
}
