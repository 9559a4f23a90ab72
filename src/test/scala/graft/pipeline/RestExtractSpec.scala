package graft.pipeline

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Live REST extraction against a local stub server speaking the
  * Airflow-REST page shape: pagination fans out across tasks, the watermark
  * narrows the server-side result, and the full
  * extract→stage→watermark→dedup-load path lands correct rows. */
class RestExtractSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var server: HttpServer = _
  private var base: String = _
  private var secBase: String = _

  private val listCalls = new java.util.concurrent.atomic.AtomicInteger
  private val detailCalls = new java.util.concurrent.atomic.AtomicInteger
  private val flakyCalls = new java.util.concurrent.atomic.AtomicInteger
  private val downCalls = new java.util.concurrent.atomic.AtomicInteger
  private val flakySeen =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private var flakyBase: String = _
  private var downBase: String = _
  private var postBase: String = _

  // 25 dag_runs, start_date 2022-03-01T00:00:05Z + i hours
  private def runJson(i: Int): String = {
    val start = java.time.Instant.parse("2022-03-01T00:00:05Z")
      .plusSeconds(3600L * i)
    s"""{"dag_id": "live_dag", "dag_run_id": "run_$i",
        "end_date": null, "execution_date": "$start",
        "external_trigger": false, "logical_date": "$start",
        "start_date": "$start", "state": "success"}"""
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.length == 0) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def dagRunPage(ex: HttpExchange): String = {
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val limit = params.getOrElse("limit", "1000").toInt
    val offset = params.getOrElse("offset", "0").toInt
    val wm = params.get("start_date_gte").map(java.time.Instant.parse)
    // INCLUSIVE >= semantics (the Airflow API contract): boundary rows
    // are returned; the engine's residual strict > must drop them
    val all = (0 until 25).filter { i =>
      val start = java.time.Instant.parse("2022-03-01T00:00:05Z")
        .plusSeconds(3600L * i)
      wm.forall(w => !start.isBefore(w))
    }
    val page = all.slice(offset, offset + limit).map(runJson)
    s"""{"items": [${page.mkString(",")}], "total_entries": ${all.size}}"""
  }

  // batch-list POST protocol (airflow_to_gcs.py:174,225,268): record every
  // (method, path, body) so tests can assert the paging rides in the body
  private val postReqs =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]

  private def tiJson(i: Int): String = {
    val start = java.time.Instant.parse("2022-03-01T00:00:05Z")
      .plusSeconds(3600L * i)
    s"""{"dag_id": "live_dag", "task_id": "task_$i",
        "execution_date": "$start", "start_date": "$start",
        "end_date": null, "duration": ${i * 1.5}, "state": "success",
        "try_number": 1, "max_tries": 2, "hostname": "h$i",
        "unixname": "airflow", "pool": "default_pool", "pool_slots": 1,
        "queue": "default", "priority_weight": 1, "operator": "BashOperator",
        "queued_when": "$start", "pid": ${1000 + i}, "executor_config": "{}"}"""
  }

  private def batchListPage(ex: HttpExchange, itemsKey: String,
                            rowJson: Int => String): String = {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    postReqs.add((ex.getRequestMethod, ex.getRequestURI.getPath, body))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val limit = node.get("page_limit").asInt
    val offset = node.get("page_offset").asInt
    val wm = Option(node.get("start_date_gte")).map(n =>
      java.time.Instant.parse(n.asText))
    val all = (0 until 25).filter { i =>
      val start = java.time.Instant.parse("2022-03-01T00:00:05Z")
        .plusSeconds(3600L * i)
      wm.forall(w => !start.isBefore(w)) // inclusive >=, like the GET stub
    }
    val page = all.slice(offset, offset + limit).map(rowJson)
    s"""{"$itemsKey": [${page.mkString(",")}], "total_entries": ${all.size}}"""
  }

  private def dagDetailJson(id: String): String =
    s"""{"dag_id": "$id", "is_paused": false, "is_subdag": false,
        "is_active": true, "fileloc": "/dags/$id.py", "file_token": "tk_$id",
        "owners": "airflow", "description": "stub dag $id",
        "root_dag_id": null, "schedule_interval": "@daily"}"""

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/api/dag_run", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        respond(ex, 200, dagRunPage(ex))
    })
    // dags mode: list at /api/dag (summary items), detail at /api/dag/{id}
    // — longest-prefix routing keeps /api/dag_run on its own context
    server.createContext("/api/dag", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        if (path == "/api/dag") {
          listCalls.incrementAndGet()
          val params = Option(ex.getRequestURI.getQuery).getOrElse("")
            .split("&").filter(_.contains("="))
            .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
          val limit = params.getOrElse("limit", "1000").toInt
          val offset = params.getOrElse("offset", "0").toInt
          val all = (0 until 25).map(i => f"stub dag $i%02d")
          val page = all.slice(offset, offset + limit)
            .map(id => s"""{"dag_id": "$id"}""")
          respond(ex, 200,
            s"""{"items": [${page.mkString(",")}], "total_entries": ${all.size}}""")
        } else {
          detailCalls.incrementAndGet()
          val id = java.net.URLDecoder.decode(
            path.stripPrefix("/api/dag/"), "UTF-8")
          respond(ex, 200, dagDetailJson(id))
        }
      }
    })
    // Airflow batch-list endpoints: POST-only, JSON body paging, items
    // keyed by entity. 405 on GET — a real Airflow rejects GET here, which
    // is exactly why the engine needs the POST mode.
    server.createContext("/post/dags/~/dagRuns/~/taskInstances/list",
      new HttpHandler {
        override def handle(ex: HttpExchange): Unit =
          if (ex.getRequestMethod != "POST") respond(ex, 405, "")
          else respond(ex, 200, batchListPage(ex, "task_instances", tiJson))
      })
    server.createContext("/post/dags/~/dagRuns/list", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        if (ex.getRequestMethod != "POST") respond(ex, 405, "")
        else respond(ex, 200, batchListPage(ex, "dag_runs", runJson))
    })
    // auth-gated mirror of /api/dag_run: 401 unless the request carries
    // basic admin:admin or bearer secret123 — every page fetch must
    // authenticate, not just the driver probe
    val basicOk = "Basic " + java.util.Base64.getEncoder
      .encodeToString("admin:admin".getBytes("UTF-8"))
    server.createContext("/sec/dag_run", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (auth.contains(basicOk) || auth.contains("Bearer secret123"))
          respond(ex, 200, dagRunPage(ex))
        else respond(ex, 401, "")
      }
    })
    // flaky mirror: each distinct URI 503s twice, then serves — the
    // transient-proxy-failure case the retry policy exists for
    server.createContext("/flaky/dag_run", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        flakyCalls.incrementAndGet()
        val uri = ex.getRequestURI.toString
        val n = flakySeen.merge(uri, 1, (a, b) => a + b)
        if (n <= 2) respond(ex, 503, "")
        else respond(ex, 200, dagRunPage(ex))
      }
    })
    // hard-down mirror: always 503
    server.createContext("/down/dag_run", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        downCalls.incrementAndGet()
        respond(ex, 503, "")
      }
    })
    server.start()
    base = s"http://localhost:${server.getAddress.getPort}/api"
    postBase = s"http://localhost:${server.getAddress.getPort}/post"
    secBase = s"http://localhost:${server.getAddress.getPort}/sec"
    flakyBase = s"http://localhost:${server.getAddress.getPort}/flaky"
    downBase = s"http://localhost:${server.getAddress.getPort}/down"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("paged fetch fans out and returns every row, typed") {
    val api = RestExtract.Api(base, batchSize = 10)
    val df = RestExtract.fetch(spark, api, "dag_run")
    assert(df.count() == 25)
    assert(df.schema("start_date").dataType.typeName == "timestamp")
    assert(df.select("dag_run_id").distinct().count() == 25)
  }

  test("watermark narrows the extraction server-side (inclusive raw fetch)") {
    val api = RestExtract.Api(base, batchSize = 10)
    // watermark at run_19's start: the raw fetch keeps the inclusive
    // boundary row (server >= semantics) — runs 19..24; the strict > is
    // applied by extractStageLoad / the DSv2 residual filter
    val wm = java.time.Instant.parse("2022-03-01T00:00:05Z").plusSeconds(3600L * 19)
    val df = RestExtract.fetch(spark, api, "dag_run", Some(wm.toString))
    assert(df.count() == 6)
  }

  test("DSv2 connector: watermark filter pushes into the HTTP query") {
    val df = spark.read.format("graft.sources.RestDataSource")
      .option("baseUrl", base).option("entity", "dag_run")
      .option("batchSize", "10")
      .load()
    assert(df.count() == 25)
    val wm = java.sql.Timestamp.from(
      java.time.Instant.parse("2022-03-01T00:00:05Z").plusSeconds(3600L * 19))
    val filtered = df.filter(col("start_date") > lit(wm))
    assert(filtered.count() == 5, "server must receive the pushed watermark")
    // the pushed predicate is visible in the scan description
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("watermark=2022-03-01T19:00:05Z"), plan.take(600))
    // residual filters still evaluate in Spark
    assert(df.filter(col("state") === "success").count() == 25)
    assert(df.filter(col("state") === "failed").count() == 0)
  }

  test("auth: unauthenticated requests 401; basic and bearer both succeed") {
    val noAuth = RestExtract.Api(secBase, batchSize = 10)
    val e = intercept[Exception] {
      RestExtract.totalEntries(noAuth, "dag_run", None)
    }
    assert(e.getMessage.contains("401"), e.getMessage)
    val basic = noAuth.copy(auth = Some(RestExtract.BasicAuth("admin", "admin")))
    // full fetch: the header must ride along on EXECUTOR page fetches too,
    // not just the driver probe
    assert(RestExtract.fetch(spark, basic, "dag_run").count() == 25)
    val bearer = noAuth.copy(auth = Some(RestExtract.BearerAuth("secret123")))
    assert(RestExtract.fetch(spark, bearer, "dag_run").count() == 25)
    val badPass = noAuth.copy(auth = Some(RestExtract.BasicAuth("admin", "wrong")))
    assert(intercept[Exception] {
      RestExtract.totalEntries(badPass, "dag_run", None)
    }.getMessage.contains("401"))
  }

  test("DSv2 connector: credential options authenticate probe and pages") {
    val df = spark.read.format("graft.sources.RestDataSource")
      .option("baseUrl", secBase).option("entity", "dag_run")
      .option("batchSize", "10")
      .option("user", "admin").option("password", "admin")
      .load()
    assert(df.count() == 25)
    val tok = spark.read.format("graft.sources.RestDataSource")
      .option("baseUrl", secBase).option("entity", "dag_run")
      .option("batchSize", "10").option("token", "secret123")
      .load()
    assert(tok.count() == 25)
  }

  test("dags mode: list→detail fan-out, 1+pages list calls, N detail calls") {
    listCalls.set(0); detailCalls.set(0)
    val api = RestExtract.Api(base, batchSize = 10)
    val df = RestExtract.fetchDags(spark, api)
    val rows = df.collect()
    // one driver probe + ceil(25/10)=3 page fetches; one detail GET per dag
    assert(listCalls.get() == 4, s"list calls = ${listCalls.get()}")
    assert(detailCalls.get() == 25, s"detail calls = ${detailCalls.get()}")
    assert(rows.length == 25)
    // projected to the 10-field dag schema, typed (reference's row dict)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Schemas.dag.fields.map(f => (f.name, f.dataType)).toSeq)
    val r = rows.map(r => r.getString(0) -> r).toMap.apply("stub dag 07")
    assert(r.getAs[Boolean]("is_active") && !r.getAs[Boolean]("is_paused"))
    assert(r.getAs[String]("fileloc") == "/dags/stub dag 07.py")
    assert(rows.forall(_.isNullAt(df.schema.fieldIndex("root_dag_id"))))
  }

  test("dag entity routes through the fan-out in extractStageLoad") {
    Catalog.drop(spark); Catalog.ensure(spark)
    val api = RestExtract.Api(base, batchSize = 10)
    TestSpark.withTempDir("graft-dags") { d =>
      val stagingBase = d.toString
      RestExtract.extractStageLoad(spark, api, "dag", stagingBase, "20220301T000000")
      assert(spark.table("rpt.dag").count() == 25)
      // full-refresh mode + PK dedup on dag_id → second run stays at 25
      RestExtract.extractStageLoad(spark, api, "dag", stagingBase, "20220301T010000")
      assert(spark.table("rpt.dag").count() == 25)
    }
  }

  test("live extract→stage→load is incremental and idempotent") {
    Catalog.drop(spark); Catalog.ensure(spark)
    val api = RestExtract.Api(base, batchSize = 7)
    TestSpark.withTempDir("graft-live") { d =>
      val stagingBase = d.toString
      RestExtract.extractStageLoad(spark, api, "dag_run", stagingBase, "20220301T000000")
      assert(spark.table("rpt.dag_run").count() == 25)
      // second run: watermark = max(start_date) → server returns nothing new
      RestExtract.extractStageLoad(spark, api, "dag_run", stagingBase, "20220301T010000")
      assert(spark.table("rpt.dag_run").count() == 25)
    }
  }

  test("batch-list POST: offset advances in the body, watermark rides every page") {
    postReqs.clear()
    val api = RestExtract.Api(postBase, batchSize = 10, postList = true)
    val wm = java.time.Instant.parse("2022-03-01T00:00:05Z").plusSeconds(3600L * 4)
    val df = RestExtract.fetch(spark, api, "dag_run", Some(wm.toString))
    assert(df.count() == 21) // runs 4..24, inclusive >= boundary
    assert(df.schema("start_date").dataType.typeName == "timestamp")
    val reqs = postReqs.toArray(Array.empty[(String, String, String)])
    assert(reqs.forall(_._1 == "POST"), "every batch-list request must POST")
    assert(reqs.forall(_._2 == "/post/dags/~/dagRuns/list"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bodies = reqs.map(r => mapper.readTree(r._3))
    // probe (offset 0) + ceil(21/10)=3 pages → offsets {0, 0, 10, 20}
    assert(bodies.map(_.get("page_offset").asInt).sorted.toSeq == Seq(0, 0, 10, 20))
    assert(bodies.forall(_.get("page_limit").asInt == 10))
    // intended semantics: the watermark is in EVERY page body, not only the
    // first (the reference drops it after page 1 — a documented bug we fix)
    assert(bodies.forall(b => Option(b.get("start_date_gte"))
      .exists(_.asText == wm.toString)))
  }

  test("batch-list POST: taskInstances path, entity items key, full pagination") {
    postReqs.clear()
    val api = RestExtract.Api(postBase, batchSize = 7, postList = true)
    val rows = RestExtract.fetch(spark, api, "task_instance").collect()
    assert(rows.length == 25) // the reference stops after one page; we don't
    assert(rows.map(_.getAs[String]("task_id")).distinct.length == 25)
    val reqs = postReqs.toArray(Array.empty[(String, String, String)])
    assert(reqs.forall(_._2 == "/post/dags/~/dagRuns/~/taskInstances/list"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // probe at 0, then ceil(25/7)=4 pages — every page window requested
    assert(reqs.map(r => mapper.readTree(r._3).get("page_offset").asInt)
      .distinct.sorted.toSeq == Seq(0, 7, 14, 21))
  }

  test("DSv2 connector: postList option speaks the batch-list protocol end-to-end") {
    // the O7 pagination protocol through the DSv2 layer: planning probes
    // total_entries once, each page is one InputPartition fetched by a
    // POST on the executors, and the pushed watermark rides in EVERY page
    // body — live cross-dag extraction is now executor-parallel through
    // the same connector that serves the GET protocol
    postReqs.clear()
    val df = spark.read.format("graft.sources.RestDataSource")
      .option("baseUrl", postBase).option("entity", "dag_run")
      .option("batchSize", "10").option("postList", "true")
      .load()
    val wmI = java.time.Instant.parse("2022-03-01T00:00:05Z").plusSeconds(3600L * 4)
    val filtered = df.filter(col("start_date") > lit(java.sql.Timestamp.from(wmI)))
    // server returns 21 rows (inclusive >=); the residual strict > drops
    // the boundary run exactly like the GET path
    assert(filtered.count() == 20)
    val reqs = postReqs.toArray(Array.empty[(String, String, String)])
    assert(reqs.nonEmpty && reqs.forall(_._1 == "POST"),
      "every DSv2 batch-list request must POST")
    assert(reqs.forall(_._2 == "/post/dags/~/dagRuns/list"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bodies = reqs.map(r => mapper.readTree(r._3))
    // probe(s) at offset 0 + ceil(21/10)=3 page partitions (planning may
    // probe more than once — e.g. statistics + execution) → every page
    // window requested exactly, nothing beyond 20
    assert(bodies.map(_.get("page_offset").asInt).distinct.sorted.toSeq ==
      Seq(0, 10, 20))
    assert(bodies.forall(b => Option(b.get("start_date_gte"))
      .exists(_.asText == wmI.toString)),
      "the pushed watermark must ride in every page body, probe included")
    // and without a filter the full set pages through
    postReqs.clear()
    assert(df.count() == 25)
  }

  test("batch-list POST mode runs the full extract→stage→load incrementally") {
    Catalog.drop(spark); Catalog.ensure(spark)
    val api = RestExtract.Api(postBase, batchSize = 10, postList = true)
    TestSpark.withTempDir("graft-post") { d =>
      val stagingBase = d.toString
      RestExtract.extractStageLoad(spark, api, "dag_run", stagingBase, "20220301T000000")
      assert(spark.table("rpt.dag_run").count() == 25)
      // second run: watermark = max(start_date); server-side >= returns only
      // the boundary row, residual strict > drops it → still 25
      RestExtract.extractStageLoad(spark, api, "dag_run", stagingBase, "20220301T010000")
      assert(spark.table("rpt.dag_run").count() == 25)
    }
  }

  test("transient 503s are retried with backoff; extraction still succeeds") {
    flakyCalls.set(0); flakySeen.clear()
    val api = RestExtract.Api(flakyBase, batchSize = 10,
      maxAttempts = 4, retryBaseMs = 1L)
    val out = RestExtract.fetch(spark, api, "dag_run")
    assert(out.count() == 25)
    // 3 distinct URIs (probe shares page-0's). Probe: 2 fails + success;
    // page 0 re-fetches the now-warm URI (1 call); pages 1-2: 3 calls each
    assert(flakySeen.size() == 3, s"URIs: $flakySeen")
    assert(flakyCalls.get() == 3 + 1 + 3 + 3, s"calls: ${flakyCalls.get()}")
  }

  test("a hard-down endpoint fails after maxAttempts, not infinitely") {
    downCalls.set(0)
    val api = RestExtract.Api(downBase, batchSize = 10,
      maxAttempts = 3, retryBaseMs = 1L)
    val e = intercept[java.io.IOException] {
      RestExtract.totalEntries(api, "dag_run", None)
    }
    assert(e.getMessage.contains("503") && e.getMessage.contains("3 attempts"))
    assert(downCalls.get() == 3)
  }

  test("non-retryable 4xx fails immediately (single request, no backoff)") {
    // the secured context 401s without credentials; auth errors must not
    // burn retry attempts
    val api = RestExtract.Api(secBase, batchSize = 10,
      maxAttempts = 4, retryBaseMs = 1000L)
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException] {
      RestExtract.totalEntries(api, "dag_run", None)
    }
    // with retries this would sleep >= 1s + 2s + 4s; fail-fast is instant
    assert((System.nanoTime() - t0) / 1e9 < 0.9,
      "401 must not be retried/backed off")
  }
}
