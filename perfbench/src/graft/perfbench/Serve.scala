package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dialects.{GrammarTranslator, GraphQL, NlGate, SavedQueries}
import graft.server.Server
import graft.sources.{DatasetRegistry, TableRegistry}

/** The two serving workloads, driven through `Server.HttpApi` over
  * loopback, closed loop: each client sends its next request only when
  * the last one has returned.
  *
  *   serve_read — 1 client, no catalog; a third each of SQL, NL and
  *                GraphQL from the committed corpora.
  *   serve_rw   — 3 reader clients (fixtures and registered CSV/TSV
  *                datasets, all three dialects) and 1 writer client that
  *                churns the embedded Derby catalog.
  *
  * The traced run replays every request in process through the same
  * public calls, in the same order, as `Server.handle` / `NlGate.run`,
  * with a span around each call.
  */
object Serve {

  /** One HTTP operation. `kind` is the dialect for a query, or the write
    * it performs; `check` validates the response body.
    */
  final case class Req(kind: String, method: String, path: String, body: String,
                       dialect: String = "", query: String = "",
                       check: String => Option[String] = _ => None,
                       before: () => Unit = () => ())

  final case class Done(req: Req, latMs: Double, startMs: Long, endMs: Long,
                        resp: String, wrong: Option[String])

  val Writes = Set("register", "unregister", "save", "delete")

  def body(dialect: String, query: String, dir: String): String = {
    val n = Common.obj()
    n.put("dialect", dialect); n.put("query", query); n.put("dir", dir)
    Common.mapper.writeValueAsString(n)
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def send(method: String, path: String, body: String): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(150))
        .header("Content-Type", "application/json")
      val req = method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case _ => b.POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      }
      val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode, r.body)
    }

    def run(r: Req): Done = {
      r.before()
      val t0 = System.nanoTime()
      val s = System.currentTimeMillis()
      val (code, resp) =
        try send(r.method, r.path, r.body)
        catch { case e: Exception => (-1, s"""{"error":"client: ${e.getClass.getSimpleName}"}""") }
      val lat = (System.nanoTime() - t0) / 1e6
      val wrong =
        if (code != 200) Some(s"HTTP $code: ${resp.take(300)}")
        else try r.check(resp) catch { case e: Exception => Some(s"unreadable response: ${e.getMessage}") }
      Done(r, lat, s, System.currentTimeMillis(), resp, wrong)
    }
  }

  /** A `/query` answer against its committed expectation: an error body
    * is always a failure; rows and columns must match, and the checksum
    * too where the expectation has one.
    */
  def checkAnswer(expect: JsonNode)(resp: String): Option[String] =
    Common.answer(resp) match {
      case Left(err) => Some(s"error: ${err.take(300)}")
      case Right(a) =>
        if (expect.has("error")) Some("expected an error, got rows")
        else if (a.rows != expect.get("rows").asLong || a.columns != expect.get("columns").asText)
          Some(s"rows/columns ${a.rows} [${a.columns}] != expected ${expect.get("rows")} [${expect.get("columns").asText}]")
        else if (!expect.get("checksum").isNull && a.checksum != expect.get("checksum").asLong)
          Some(s"checksum ${a.checksum} != expected ${expect.get("checksum")}")
        else None
    }

  def queryReq(dialect: String, query: String, dir: String, expect: JsonNode): Req =
    Req(dialect, "POST", "/query", body(dialect, query, dir), dialect, query, checkAnswer(expect))

  /** The committed corpus, by dialect, as `/query` requests. */
  def corpus(data: String, dir: String): Map[String, IndexedSeq[Req]] =
    Common.readJson(s"$data/requests.json").get("requests").elements().asScala.toIndexedSeq
      .map(n => queryReq(n.get("dialect").asText, n.get("query").asText, dir, n))
      .groupBy(_.dialect)

  /** `rounds` rounds of one request per dialect, dialect order and draws
    * (without replacement within a dialect) by seed.
    */
  def mix(byDialect: Map[String, IndexedSeq[Req]], rnd: scala.util.Random, rounds: Int): IndexedSeq[Req] = {
    val dialects = byDialect.keys.toIndexedSeq.sorted
    val decks = dialects.map(d => d -> rnd.shuffle(byDialect(d))).toMap
    (0 until rounds).flatMap { i =>
      rnd.shuffle(dialects).map(d => decks(d)(i % decks(d).size))
    }
  }

  // ---- serve_read --------------------------------------------------------

  def read(spark: SparkSession, o: Main.Opts): Main.Outcome = {
    val rnd = new scala.util.Random(o.seed)
    val sizing = Common.readJson(s"${o.data}/sizing.json")
    val rounds = math.max(1, math.round(o.seconds / sizing.get("serve_read_round_s").asDouble).toInt)
    val seq = mix(corpus(o.data, o.fixtures), rnd, rounds)
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = new Client(api.boundPort)
      // warm-up, untimed: the mix's first rounds
      seq.take(3 * sizing.get("serve_warmup_rounds").asInt).foreach(client.run)
      val m0 = serverMeans(client)
      val firstOpMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val done = seq.map(client.run)
      val wall = Common.secondsSince(t0)
      val m1 = serverMeans(client)
      val out = Main.outcome(done.map(d => Main.Op(d.req.kind, d.latMs, d.wrong.map(w => s"${d.req.kind} ${d.req.query.take(80)}: $w"))),
        wall, firstOpMs, Main.retainedHeapMb())
      perDialect(out, done)
      if (o.trace) out.layers ++= layersFromReplay(spark, o.fixtures, done, wall, edgeMs(done, m0, m1), exactJobs = true)
      out
    } finally api.stop()
  }

  /** Per-dialect latency p50s and the writes' p50, for the detail line. */
  def perDialect(out: Main.Outcome, done: Seq[Done]): Unit =
    done.groupBy(d => if (Writes(d.req.kind)) "write" else d.req.kind).foreach { case (k, ds) =>
      out.extra += s"${k}_p50_ms" -> (Common.pct(ds.map(_.latMs), 50), "ms")
      out.extra += s"${k}_n" -> (ds.size.toDouble, "count")
    }

  /** `/metrics` per-dialect (requests, total_ms). */
  def serverMeans(c: Client): Map[String, (Long, Long)] = {
    val n = Common.mapper.readTree(c.send("GET", "/metrics", "")._2).get("dialects")
    n.fields().asScala.map(e => e.getKey -> (e.getValue.get("requests").asLong, e.getValue.get("total_ms").asLong)).toMap
  }

  /** Client latency minus the server's own metered latency (`/metrics`
    * mean over the timed phase), per `/query` request: HTTP plus the wait
    * for a pool thread.
    */
  def edgeMs(done: Seq[Done], m0: Map[String, (Long, Long)], m1: Map[String, (Long, Long)]): Double = {
    val queries = done.filter(d => d.req.path == "/query" || d.req.path.endsWith("/run"))
    val serverMs = m1.toSeq.map { case (d, (r1, t1)) =>
      val (r0, t0) = m0.getOrElse(d, (0L, 0L)); (r1 - r0, t1 - t0)
    }
    val reqs = serverMs.map(_._1).sum
    if (reqs == 0 || queries.isEmpty) 0.0
    else queries.map(_.latMs).sum / queries.size - serverMs.map(_._2).sum.toDouble / reqs
  }

  // ---- the traced replay -------------------------------------------------

  /** In-process replay of one `/query` request through the calls
    * `Server.handleJson` → `Server.handle` make, in their order, each in
    * its span; returns the response body the server would have sent.
    */
  def replayQuery(spark: SparkSession, dir: String, dialect: String, query: String,
                  id: Long, maxRows: Int = Server.DefaultMaxRows): String =
    try {
      Trace.span("catalog.sync", id)(DatasetRegistry.syncIfStale(Some(spark)))
      val sess = Trace.span("server.session", id)(spark.newSession())
      val df: DataFrame = dialect match {
        case "sql" =>
          Trace.span("sources.register_all", id)(TableRegistry.registerAll(sess, dir))
          Trace.span("dialects.gate", id)(NlGate.validate(sess, query))
          Trace.span("catalyst.sql", id)(sess.sql(query))
        case "nl" =>
          Trace.span("sources.register_all", id)(TableRegistry.registerAll(sess, dir))
          val sql = Trace.span("dialects.translate", id)(GrammarTranslator.translate(query))
          Trace.span("dialects.gate", id)(NlGate.validate(sess, sql))
          Trace.span("catalyst.sql", id)(sess.sql(sql))
        case "graphql" =>
          Trace.span("dialects.graphql_build", id) {
            GraphQL.mutationRoot(query)
            GraphQL.run(sess, dir, query)
          }
      }
      Trace.span("server.render", id)(render(df, maxRows))
    } catch {
      case e: Throwable =>
        val err = Common.obj()
        err.put("error", Option(e.getMessage).getOrElse(e.getClass.getName))
        Common.mapper.writeValueAsString(err)
    }

  /** `Server.render`: fetch maxRows+1 rows as JSON, then build the body. */
  private def render(df: DataFrame, maxRows: Int): String = {
    val cols = df.columns
    val rows = df.limit(maxRows + 1).toJSON.collect()
    val out = Common.obj()
    val colArr = out.putArray("columns")
    cols.foreach(colArr.add)
    val rowArr = out.putArray("rows")
    rows.take(maxRows).foreach(r => rowArr.add(Common.mapper.readTree(r)))
    out.put("rowCount", math.min(rows.length, maxRows))
    out.put("truncated", rows.length > maxRows)
    Common.mapper.writeValueAsString(out)
  }

  /** Replay one recorded operation in process, each call in its span. */
  def replay(spark: SparkSession, dir: String, d: Done, id: Long): String = {
    val r = d.req
    r.kind match {
      case k if Writes(k) => Trace.span("catalog.write", id)(writeInProcess(spark, dir, r, id))
      case "run" => writeInProcess(spark, dir, r, id)
      case dialect => replayQuery(spark, dir, dialect, r.query, id)
    }
  }

  /** The REST catalog calls, in process: `Server.handleDatasets` /
    * `Server.handleQueries` are the protocol functions the HTTP routes
    * call, so the replay uses them directly (a saved-query run re-enters
    * the query path, traced like an ad-hoc request).
    */
  private def writeInProcess(spark: SparkSession, dir: String, r: Req, id: Long): String = {
    val name = r.path.split('/').lift(2).filter(_.nonEmpty)
    r.kind match {
      case "register" | "unregister" =>
        Server.handleDatasets(r.method, name, r.body, Some(spark))._2
      case "save" | "delete" =>
        Server.handleQueries(spark, r.method, name, r.body)._2
      case "run" =>
        SavedQueries.syncIfStale()
        val saved = SavedQueries.get(name.get).get
        replayQuery(spark, dir, saved.dialect, saved.text, id)
    }
  }

  /** Per-layer metrics of the traced replay of `done` (in their recorded
    * start order), reconciled against the HTTP run: every replayed answer
    * must equal the HTTP answer, and, with `exactJobs` (one client, so
    * each request's jobs are the jobs started during it), each request
    * must launch as many Spark jobs as it did over HTTP. A replay that
    * drifts from the server's call order fails the run.
    */
  def layersFromReplay(spark: SparkSession, dir: String, done0: Seq[Done], httpWall: Double,
                       edge: Double, exactJobs: Boolean): Seq[(String, (Double, String))] = {
    val done = done0.sortBy(_.startMs)
    val httpJobs = done.map(d => Trace.jobsStartedBetween(d.startMs, d.endMs))
    Trace.reset()
    Trace.on = true
    val t0 = System.nanoTime()
    val replayed = done.zipWithIndex.map { case (d, i) =>
      d.req.before()
      Trace.span("request", i.toLong)(replay(spark, dir, d, i.toLong))
    }
    val traced = Common.secondsSince(t0)
    Trace.on = false
    Trace.drain()
    val spans = Trace.allSpans
    val jobs = Trace.allJobs
    val spanReq = spans.map(s => s.id -> s.req).toMap
    val n = done.size.toDouble
    done.indices.foreach { i =>
      val (a, b) = (done(i).resp, replayed(i))
      val same = (scala.util.Try(Common.answer(a)).toOption, scala.util.Try(Common.answer(b)).toOption) match {
        case (Some(Right(x)), Some(Right(y))) => x == y
        case (Some(Left(_)), Some(Left(_))) => true
        case _ => a == b
      }
      if (!same) throw new IllegalStateException(
        s"replay drift: request $i (${done(i).req.kind}) answered differently in process:\n  http:   ${a.take(300)}\n  replay: ${b.take(300)}")
      if (exactJobs) {
        val rj = jobs.count(j => spanReq.get(j.span).contains(i.toLong))
        if (rj != httpJobs(i)) throw new IllegalStateException(
          s"replay drift: request $i (${done(i).req.kind} ${done(i).req.query.take(80)}) ran $rj Spark jobs in process, ${httpJobs(i)} over HTTP")
      }
    }
    val replayMs = spans.filter(_.name == "request").map(s => (s.endNs - s.startNs) / 1e6).sum
    val httpMs = done.map(_.latMs).sum
    if (exactJobs && math.abs(replayMs / httpMs - 1) > ReplayTolerance) throw new IllegalStateException(
      f"replay drift: in-process replay took $replayMs%.0f ms against $httpMs%.0f ms over HTTP (tolerance ${ReplayTolerance * 100}%.0f%%)")
    val self = Trace.selfNs(spans)
    def selfMs(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6 / n
    def totalMs(name: String) = spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e6 / n
    val schemaJobs = jobs.filter(Trace.isSchemaJob)
    val dynamicLoadJobs = schemaJobs.filter(j => !j.callSite.contains(" at Tables.scala:"))
    val sqlNl = done.indices.filter(i => Set("sql", "nl")(done(i).req.kind)).map(_.toLong).toSet
    val sqlNlJobs = jobs.filter(j => spanReq.get(j.span).exists(sqlNl))
    Seq(
      "sources.register_all_ms" -> (totalMs("sources.register_all"), "ms"),
      "sources.schema_jobs" -> (schemaJobs.size / n, "count"),
      "sources.load_entry_ms" -> (dynamicLoadJobs.map(jobWallMs).sum / n, "ms"),
      "catalog.sync_ms" -> (totalMs("catalog.sync"), "ms"),
      "catalog.write_ms" -> (selfMs("catalog.write"), "ms"),
      "dialects.translate_ms" -> (totalMs("dialects.translate"), "ms"),
      "dialects.gate_ms" -> (totalMs("dialects.gate"), "ms"),
      "dialects.graphql_build_ms" -> (totalMs("dialects.graphql_build"), "ms"),
      "server.render_ms" -> (totalMs("server.render"), "ms"),
      "server.edge_ms" -> (edge, "ms"),
      "trace.overhead_frac" -> (traced / httpWall - 1, "ratio"),
      "trace.unattributed_ms" -> (selfMs("request"), "ms"),
      // the lead under test: schema-inference jobs as a share of all jobs
      // of SQL and NL requests
      "detail.sql_nl_schema_job_share" -> (
        if (sqlNlJobs.isEmpty) 0.0 else sqlNlJobs.count(Trace.isSchemaJob).toDouble / sqlNlJobs.size, "ratio"),
      "detail.sql_nl_jobs_per_request" -> (
        if (sqlNl.isEmpty) 0.0 else sqlNlJobs.size.toDouble / sqlNl.size, "count"),
      "detail.sql_nl_schema_jobs_per_request" -> (
        if (sqlNl.isEmpty) 0.0 else sqlNlJobs.count(Trace.isSchemaJob).toDouble / sqlNl.size, "count"),
      "detail.replay_over_http" -> (replayMs / httpMs, "ratio")
    ) ++ Main.execLayers(jobs, n)
  }

  /** How far the replay's summed latency may sit from the HTTP run's. */
  val ReplayTolerance = 0.35

  def jobWallMs(j: Trace.Job): Double = if (j.endMs < 0) 0.0 else (j.endMs - j.startMs).toDouble

  // ---- serve_rw ----------------------------------------------------------

  /** Fixture tables copied to CSV / TSV at set-up and registered as
    * datasets: (dataset name, fixture table, separator).
    */
  val Copies: Seq[(String, String, String)] = Seq(
    ("customer_csv", "customer", ","),
    ("supplier_tsv", "supplier", "\t"),
    ("part_csv", "part", ","))

  /** The writer's dataset: supplier's first columns, re-written in place
    * with one more column (`s_tier`) half-way through each cycle.
    */
  val ChurnColumns = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

  private def csvCell(v: Any, sep: String): String = {
    val s = if (v == null) "" else v.toString
    if (s.contains(sep) || s.contains("\"") || s.contains("\n")) "\"" + s.replace("\"", "\"\"") + "\"" else s
  }

  /** Write a table's rows as one delimited file with a header line. */
  def writeDelimited(path: Path, header: Seq[String], rows: Iterator[Seq[Any]], sep: String): Unit = {
    val tmp = Paths.get(path.toString + ".tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try {
      w.write(header.mkString(sep)); w.write("\n")
      rows.foreach { r => w.write(r.map(csvCell(_, sep)).mkString(sep)); w.write("\n") }
    } finally w.close()
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  final class RwData(spark: SparkSession, fixtures: String, val dir: Path) {
    Files.createDirectories(dir)
    private def copyFile(name: String, sep: String): Path =
      dir.resolve(s"$name.${if (sep == ",") "csv" else "tsv"}")
    Copies.foreach { case (name, table, sep) =>
      val df = spark.read.parquet(s"$fixtures/$table.parquet")
      writeDelimited(copyFile(name, sep), df.columns.toSeq, df.collect().iterator.map(_.toSeq), sep)
    }
    val churnRows: IndexedSeq[Seq[Any]] =
      spark.read.parquet(s"$fixtures/supplier.parquet").select(ChurnColumns.map(org.apache.spark.sql.functions.col): _*)
        .orderBy("s_suppkey").collect().toIndexedSeq.map(_.toSeq)

    def registrations: Seq[String] = Copies.map { case (name, _, sep) =>
      registerBody(name, copyFile(name, sep).toString, sep)
    }

    def churnFile(c: Int): Path = dir.resolve(s"churn$c.csv")
    def writeChurn(c: Int, withTier: Boolean): Unit =
      if (withTier) writeDelimited(churnFile(c), ChurnColumns :+ "s_tier",
        churnRows.iterator.map(r => r :+ (r.head.toString.toLong % 3)), ",")
      else writeDelimited(churnFile(c), ChurnColumns, churnRows.iterator, ",")
  }

  def registerBody(name: String, path: String, sep: String): String = {
    val n = Common.obj()
    n.put("name", name); n.put("path", path); n.put("format", "csv")
    val opts = n.putObject("options")
    opts.put("header", "true"); opts.put("inferSchema", "true")
    if (sep != ",") opts.put("sep", sep)
    Common.mapper.writeValueAsString(n)
  }

  /** The reader templates over registered datasets (`rw.json`). */
  def rwReaders(data: String, dir: String): Map[String, IndexedSeq[Req]] =
    Common.readJson(s"$data/rw.json").get("readers").elements().asScala.toIndexedSeq
      .map(n => queryReq(n.get("dialect").asText, n.get("query").asText, dir, n))
      .groupBy(_.dialect)

  /** One writer cycle on dataset `churn<c>`: register, query, save a
    * query, run it, delete it, rewrite the CSV in place with an added
    * column, re-read it, unregister.
    */
  def writerCycle(data: RwData, c: Int, fixtures: String, expect: JsonNode): Seq[Req] = {
    val ds = s"churn$c"
    val q = s"churnq$c"
    val saved = Common.obj()
    saved.put("name", q); saved.put("dialect", "sql")
    saved.put("text", s"SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal FROM $ds GROUP BY s_nationkey ORDER BY s_nationkey")
    val run = Common.obj(); run.put("dir", fixtures)
    def ok(key: String)(resp: String): Option[String] =
      if (Common.mapper.readTree(resp).has(key)) None else Some(resp.take(300))
    val reread = s"SELECT * FROM $ds ORDER BY s_suppkey LIMIT 5"
    val newCols = (ChurnColumns :+ "s_tier").mkString(",")
    Seq(
      Req("register", "POST", "/datasets", registerBody(ds, data.churnFile(c).toString, ","),
        check = ok("registered"), before = () => data.writeChurn(c, withTier = false)),
      queryReq("sql", s"SELECT count(*) AS n, round(sum(s_acctbal), 2) AS bal FROM $ds", fixtures, expect.get("count")),
      Req("save", "POST", "/queries", Common.mapper.writeValueAsString(saved), check = ok("saved")),
      Req("run", "POST", s"/queries/$q/run", Common.mapper.writeValueAsString(run),
        check = checkAnswer(expect.get("saved"))),
      Req("delete", "DELETE", s"/queries/$q", "", check = ok("deleted")),
      // the read after the in-place rewrite must see the added column:
      // a stale schema is a wrong answer
      queryReq("sql", reread, fixtures, null).copy(
        before = () => data.writeChurn(c, withTier = true),
        check = resp => Common.answer(resp) match {
          case Left(err) => Some(s"error: ${err.take(300)}")
          case Right(a) if a.columns != newCols || a.rows != 5 =>
            Some(s"stale read after in-place rewrite: columns [${a.columns}], expected [$newCols]")
          case _ => None
        }),
      Req("unregister", "DELETE", s"/datasets/$ds", "", check = ok("unregistered"))
    )
  }

  def rw(spark: SparkSession, o: Main.Opts): Main.Outcome = {
    val rnd = new scala.util.Random(o.seed)
    val catalog = Paths.get(o.work, "catalog")
    Main.deleteTree(catalog)
    val data = new RwData(spark, o.fixtures, Paths.get(o.work, "rw-data"))
    val expect = Common.readJson(s"${o.data}/rw.json")
    val api = new Server.HttpApi(spark, 0, Some(catalog.toString))
    api.start()
    try {
      val setupClient = new Client(api.boundPort)
      data.registrations.foreach { b =>
        val (code, resp) = setupClient.send("POST", "/datasets", b)
        require(code == 200, s"set-up registration failed: $resp")
      }
      // introspection lists the registered datasets too, so beside the
      // writer its answer depends on timing; the expectation is catalog-less
      val fixtureReqs = corpus(o.data, o.fixtures)
        .map { case (d, rs) => d -> rs.filterNot(_.query.contains("__schema")) }
      val regReqs = rwReaders(o.data, o.fixtures)
      val sizing = Common.readJson(s"${o.data}/sizing.json")
      val rounds = math.max(1, math.round(o.seconds / sizing.get("serve_rw_round_s").asDouble).toInt)
      // each reader: rounds of (one fixture request per dialect, one
      // registered-dataset request per dialect), drawn by seed
      val readers = (0 until 3).map { _ =>
        mix(fixtureReqs, rnd, rounds).grouped(3).zip(mix(regReqs, rnd, rounds).grouped(3))
          .flatMap { case (a, b) => a ++ b }.toIndexedSeq
      }
      val cycleBase = new java.util.concurrent.atomic.AtomicInteger(0)
      def phase(): (Seq[Done], Double, Long) = {
        val deadline = new java.util.concurrent.atomic.AtomicBoolean(false)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val firstOpMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val rs = readers.map(seq => pool.submit(() => {
          val c = new Client(api.boundPort); seq.map(c.run)
        }))
        val w = pool.submit(() => {
          val c = new Client(api.boundPort)
          val out = Seq.newBuilder[Done]
          while (!deadline.get()) {
            // the cycle always completes, so no dataset outlives a phase
            writerCycle(data, cycleBase.incrementAndGet(), o.fixtures, expect.get("writer"))
              .foreach(r => out += c.run(r))
          }
          out.result()
        })
        val readDone = rs.flatMap(_.get())
        deadline.set(true)
        val all = readDone ++ w.get()
        pool.shutdown()
        (all, Common.secondsSince(t0), firstOpMs)
      }
      phase() // warm-up: the mix once, untimed
      val m0 = serverMeans(setupClient)
      val (done, wall, firstOpMs) = phase()
      val m1 = serverMeans(setupClient)
      val out = Main.outcome(done.map(d => Main.Op(d.req.kind, d.latMs,
        d.wrong.map(w => s"${d.req.kind} ${d.req.method} ${d.req.path} ${d.req.query.take(80)}: $w"))),
        wall, firstOpMs, Main.retainedHeapMb())
      perDialect(out, done)
      if (o.trace) out.layers ++= layersFromReplay(spark, o.fixtures, done, wall, edgeMs(done, m0, m1),
        exactJobs = false)
      out
    } finally api.stop()
  }

  /** Expected answers for serve_rw (`rw.json`), from the program as it
    * stands: the reader templates over the registered copies, and the
    * writer's two checked reads over a freshly written churn file.
    */
  def generateRw(spark: SparkSession, fixtures: String, out: String, work: String): Unit = {
    val templatesPath = Paths.get(out)
    val templates = Common.readJson(out).get("readers").elements().asScala.toIndexedSeq
    val catalog = Paths.get(work, "catalog")
    Main.deleteTree(catalog)
    val data = new RwData(spark, fixtures, Paths.get(work, "rw-data"))
    val api = new Server.HttpApi(spark, 0, Some(catalog.toString))
    api.start()
    try {
      val c = new Client(api.boundPort)
      data.registrations.foreach(b => require(c.send("POST", "/datasets", b)._1 == 200))
      val root = Common.obj()
      val arr = root.putArray("readers")
      templates.foreach { t =>
        val d = t.get("dialect").asText; val q = t.get("query").asText
        def ask() = Common.answer(c.send("POST", "/query", body(d, q, fixtures))._2)
        val n = arr.addObject(); n.put("dialect", d); n.put("query", q)
        Gen.putAnswer(n, ask(), ask())
      }
      val w = root.putObject("writer")
      val cycle = writerCycle(data, 0, fixtures, Common.mapper.createObjectNode()
        .set[ObjectNode]("count", Common.obj()).set[ObjectNode]("saved", Common.obj()))
      val answers = cycle.map { r => r.before(); r -> c.send(r.method, r.path, r.body)._2 }
      def putFrom(key: String, resp: String): Unit =
        Gen.putAnswer(w.putObject(key), Common.answer(resp), Common.answer(resp))
      putFrom("count", answers(1)._2)
      putFrom("saved", answers(3)._2)
      Common.writeJson(templatesPath.toString, root)
    } finally api.stop()
  }
}
