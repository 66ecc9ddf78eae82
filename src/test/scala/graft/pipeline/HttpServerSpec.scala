package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Real localhost round trips through the HTTP shim: every verb the
  * reference REST API serves (`lightning/lightning.go:137-144`) maps
  * onto the spool queue and back. No Spark session needed — the shim
  * is pure queue administration; [[ServerSpec]] covers the drain loop
  * the queue feeds.
  */
class HttpServerSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def req(base: String, method: String, path: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withShim(f: (String, java.nio.file.Path) => Unit): Unit = {
    val spool = Files.createTempDirectory("graft_http_spool")
    val srv = HttpServer.start(spool.toString, 0) // ephemeral port
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}", spool)
    finally srv.stop(0)
  }

  private def task(n: Int) =
    s"""{"sourceDir":"/tmp/src$n","targetDir":"/tmp/out$n"}"""

  test("POST enqueues validated tasks; GET lists them in execution order") {
    withShim { (base, spool) =>
      assert(req(base, "GET", "/tasks") === ((200, """{"queue":[],"running":[]}""")))
      val (c1, b1) = req(base, "POST", "/tasks?name=alpha", task(1))
      assert(c1 === 200 && b1 === """{"id":"000-alpha.json"}""")
      val (c2, b2) = req(base, "POST", "/tasks?name=beta", task(2))
      assert(c2 === 200 && b2 === """{"id":"001-beta.json"}""")
      assert(req(base, "GET", "/tasks")._2 ===
        """{"queue":["000-alpha.json","001-beta.json"],"running":[]}""")
      // the enqueued file is drain-loop-parseable and body-identical
      assert(req(base, "GET", "/tasks/000-alpha.json") === ((200, task(1))))
      assert(Server.parseTask(
        Files.readString(spool.resolve("queue/000-alpha.json"))).sourceDir
        === "/tmp/src1")
    }
  }

  test("malformed task bodies 400 at submission, not in the drain loop") {
    withShim { (base, spool) =>
      val (code, body) = req(base, "POST", "/tasks", """{"sourceDir":"/x"}""")
      assert(code === 400 && body.contains("targetDir"))
      assert(req(base, "GET", "/tasks")._2 === """{"queue":[],"running":[]}""")
    }
  }

  test("PATCH front/back reorders; DELETE cancels; 404 on unknown tasks") {
    withShim { (base, _) =>
      req(base, "POST", "/tasks?name=a", task(1))
      req(base, "POST", "/tasks?name=b", task(2))
      req(base, "POST", "/tasks?name=c", task(3))
      val (pc, pb) = req(base, "PATCH", "/tasks/c.json/front")
      assert(pc === 200 && pb === """{"id":"000-c.json"}""")
      assert(req(base, "GET", "/tasks")._2 ===
        """{"queue":["000-c.json","001-a.json","002-b.json"],"running":[]}""")
      val (dc, db) = req(base, "DELETE", "/tasks/001-a.json")
      assert(dc === 200 && db === """{"cancelled":"001-a.json"}""")
      assert(req(base, "GET", "/tasks")._2 ===
        """{"queue":["000-c.json","002-b.json"],"running":[]}""")
      assert(req(base, "PATCH", "/tasks/nope.json/front")._1 === 404)
      assert(req(base, "DELETE", "/tasks/nope.json")._1 === 404)
      assert(req(base, "GET", "/tasks/nope.json")._1 === 404)
    }
  }

  test("GET progress serves the task's job-state records") {
    withShim { (base, spool) =>
      val stateDir = Files.createTempDirectory("graft_http_state")
      Files.writeString(stateDir.resolve("state.jsonl"),
        """{"key":"d.t","status":"imported","nRows":2,"checksum":7}""" + "\n")
      val body = s"""{"sourceDir":"/tmp/s","targetDir":"/tmp/t","stateDir":"$stateDir"}"""
      val (_, idBody) = req(base, "POST", "/tasks?name=p", body)
      val id = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(idBody).get.group(1)
      val (c, b) = req(base, "GET", s"/tasks/$id/progress")
      assert(c === 200 && b.contains("\"status\":\"imported\"") &&
        b.startsWith("[") && b.endsWith("]"), b)
      // a task without a stateDir reports an empty record set, not a 500
      val (_, id2Body) = req(base, "POST", "/tasks?name=q", task(9))
      val id2 = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(id2Body).get.group(1)
      assert(req(base, "GET", s"/tasks/$id2/progress") === ((200, "[]")))
      assert(req(base, "GET", "/tasks/nope.json/progress")._1 === 404)
      // a task whose BODY does not parse is a 422, not an empty array —
      // "no progress yet" and "malformed task" must be tellable apart
      // (POST validates, so plant the bad body in the spool directly)
      Files.writeString(spool.resolve("queue").resolve("999-bad.json"),
        "{not json at all")
      val (cBad, bBad) = req(base, "GET", "/tasks/999-bad.json/progress")
      assert(cBad === 422, s"$cBad $bBad")
    }
  }

  test("GET progress over an exotic table key serves JSON the codec parses") {
    withShim { (base, _) =>
      val stateDir = Files.createTempDirectory("graft_http_state_exotic").toString
      new JobState(Some(stateDir)).put(
        JobState.Record("x`f\"n.t", "verified", 2L, 7L, files = Seq("/d,1/x`f\"n.t.sql")))
      val body = graft.Json.write(Map("sourceDir" -> "/tmp/s", "targetDir" -> "/tmp/t",
        "stateDir" -> stateDir))
      val (_, idBody) = req(base, "POST", "/tasks?name=x", body)
      val id = graft.Json.read(idBody).get("id").textValue
      val (c, b) = req(base, "GET", s"/tasks/$id/progress")
      assert(c === 200, b)
      val recs = graft.Json.read(b)
      assert(recs.size === 1, b)
      assert(recs.get(0).get("key").textValue === "x`f\"n.t", b)
      assert(recs.get(0).get("files").get(0).textValue === "/d,1/x`f\"n.t.sql", b)
    }
  }

  test("pause/resume toggle the drain gate file") {
    withShim { (base, spool) =>
      assert(req(base, "GET", "/pause")._2 === """{"paused":false}""")
      assert(req(base, "PUT", "/pause")._2 === """{"paused":true}""")
      assert(Files.exists(spool.resolve("pause")))
      assert(req(base, "PUT", "/pause")._2 === """{"paused":true}""") // idempotent
      assert(req(base, "PUT", "/resume")._2 === """{"paused":false}""")
      assert(!Files.exists(spool.resolve("pause")))
    }
  }

  test("concurrent POSTs from two shims on one spool never lose or clobber a task") {
    // the hard-link claim under real contention: two servers, many
    // parallel submissions with the SAME preferred name — every task
    // must land under a distinct name with its own body intact
    val spool = Files.createTempDirectory("graft_http_race")
    val s1 = HttpServer.start(spool.toString, 0)
    val s2 = HttpServer.start(spool.toString, 0)
    try {
      val bases = Seq(s"http://127.0.0.1:${s1.getAddress.getPort}",
        s"http://127.0.0.1:${s2.getAddress.getPort}")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val ids = Await.result(Future.sequence((0 until 20).map { i =>
        Future {
          val (c, b) = req(bases(i % 2), "POST", "/tasks?name=same",
            s"""{"sourceDir":"/tmp/s$i","targetDir":"/tmp/t$i"}""")
          assert(c === 200, b)
          "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(b).get.group(1)
        }
      }), 60.seconds)
      assert(ids.distinct.size === 20, ids.sorted.mkString(","))
      // every body survived intact under its returned name
      val bodies = ids.map(id =>
        Files.readString(spool.resolve(s"queue/$id"))).toSet
      assert(bodies.size === 20)
      // no temp droppings left behind
      import scala.jdk.CollectionConverters._
      val leftovers = Files.list(spool.resolve("queue"))
      try assert(!leftovers.iterator().asScala
        .exists(_.getFileName.toString.startsWith(".")))
      finally leftovers.close()
    } finally { s1.stop(0); s2.stop(0) }
  }

  test("GET result serves done/failed records; dot names never resolve") {
    withShim { (base, spool) =>
      Files.createDirectories(spool.resolve("done"))
      Files.writeString(spool.resolve("done/000-t.json"), task(1))
      Files.writeString(spool.resolve("done/000-t.json.result"),
        """{"task":"000-t.json","ok":true,"tables":1,"detail":"d.t:2"}""" + "\n")
      val (c, b) = req(base, "GET", "/tasks/000-t.json/result")
      assert(c === 200 && b.contains("\"ok\":true"))
      assert(req(base, "GET", "/tasks/000-t.json")._1 === 200) // from done/
      assert(req(base, "GET", "/tasks/missing.json/result")._1 === 404)
      // internal temp names and traversal shapes are invisible
      Files.writeString(spool.resolve("queue/.post-hidden.json"), task(1))
      assert(req(base, "GET", "/tasks/.post-hidden.json")._1 === 404)
      assert(req(base, "DELETE", "/tasks/..")._1 === 404)
    }
  }
}
