package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap

import graft.api.{AskAi, HttpFacade, LlmPorts, MiniJson, Rag, ResultTable}
import graft.api.MiniJson.{arr, obj}
import graft.core.{Num, Tables}
import graft.forecast.Forecasters
import graft.guard.SqlGuard
import graft.intent.{IntentCompiler, IntentParser, Router, SalesView, Templates}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `bi_serve`: a closed loop of HTTP clients, one connection each, against
  * an in-process `HttpFacade` on `graft.Serve`'s session conf with the
  * deterministic LLM and embedding fakes. Each client walks its own seeded
  * deck of requests a fixed number of times.
  *
  * inputs: `clients` (one deck per client; a request has id, route,
  * method, path, body), `setup` (the requests set-up sends, the same for
  * every seed), `cycles` and `keys` (route -> JSON keys every 200 body has).
  */
final class ServeLoad(run: Run, inputs: Map[String, Any], cpus: Int) extends Load {
  import ServeLoad.{Req, ReplayGuardS}

  private def reqs(v: Any): Seq[Req] = v.asInstanceOf[List[Any]].map { r =>
    val m = r.asInstanceOf[Map[String, Any]]
    Req(m("id").toString, m("route").toString, m("method").toString,
      m("path").toString, Option(m.getOrElse("body", null)).map(_.toString).orNull)
  }
  private val decks: Seq[Seq[Req]] = inputs("clients").asInstanceOf[List[Any]].map(reqs)
  private val setUpReqs = reqs(inputs("setup"))
  /** Each request of the decks once; the four decks share their requests. */
  private val distinct = decks.flatten.distinctBy(_.id).sortBy(_.id)
  private val cycles = inputs("cycles").toString.toDouble.toInt
  private val keys = inputs("keys").asInstanceOf[Map[String, Any]]
    .map { case (k, v) => k -> Harness.strings(v) }
  private val dir = run.dataDir
  /** Body digest per request id, recorded by the check pass. */
  private val expected = new ConcurrentHashMap[String, String]()
  /** Answering stage of each data ask in the timed window. */
  private val askStages = new ConcurrentHashMap[String, java.lang.Long]()

  private final class Client(port: Int, val id: Int = 0) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def send(r: Req): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      val req =
        if (r.method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
        else b.GET().build()
      http.send(req, HttpResponse.BodyHandlers.ofString())
    }
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Issue `r` as one op of `window`. A body passes when the status is 200,
    * every expected key is present and, outside the check pass, its digest
    * equals the one the check pass recorded for the same request.
    */
  private def issue(c: Client, window: String, r: Req): Unit = {
    val t0 = Clock.nowNs()
    def fail(stage: String, err: String): Unit =
      run.record(OpRec(window, r.id, r.route, t0, Clock.nowNs(), ok = false, stage, err, c.id))
    val res = try Right(c.send(r)) catch { case e: Exception => Left(e.toString) }
    val t1 = Clock.nowNs()
    res match {
      case Left(e) => fail("http", e)
      case Right(resp) if resp.statusCode != 200 =>
        fail("http", s"status ${resp.statusCode}: ${resp.body.take(200)}")
      case Right(resp) =>
        val body = resp.body
        val parsed = try MiniJson.parse(body) catch { case _: Exception => null }
        val fields = parsed match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case l: List[_] => Map("" -> l)
          case _ => Map.empty[String, Any]
        }
        val missing = keys.getOrElse(r.route, Nil).filterNot(fields.contains)
        val d = sha(body)
        if (missing.nonEmpty) fail("keys", s"missing ${missing.mkString(",")}")
        else if (window == "check") {
          expected.put(r.id, d)
          run.record(OpRec(window, r.id, r.route, t0, t1, ok = true, client = c.id))
        } else if (expected.get(r.id) != d) fail("digest", s"body digest changed: ${body.take(200)}")
        else {
          if (window == "timed" && r.route == "ask_data")
            askStages.merge(fields.getOrElse("stage", "none").toString, 1L, (a, b) => a + b)
          run.record(OpRec(window, r.id, r.route, t0, t1, ok = true, client = c.id))
        }
    }
  }

  /** Every client walks its own deck `cycles` times, sending each request
    * only when its previous one has completed.
    */
  private def closedLoop(port: Int, window: String, cycles: Int,
      deck: Int => Seq[Req]): Unit = {
    val threads = decks.indices.map { i =>
      new Thread(() => {
        val c = new Client(port, i)
        (1 to cycles).foreach(_ => deck(i).foreach(issue(c, window, _)))
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private var s: SparkSession = _
  private var facade: HttpFacade = _

  /** The set-up: a session on `graft.Serve`'s conf, the facade started,
    * and the set-up requests: `/data/inspect`, which loads the sales view,
    * and one data ask, on which the facade discovers the view's domains.
    */
  def setUp(): Unit = {
    s = Run.session("serve", cpus, run.workDir)
    facade = new HttpFacade(s, dir, 0, LlmPorts.fakeChat, Rag.hashEmbedder).start()
    val c = new Client(facade.boundPort)
    setUpReqs.foreach { r =>
      val resp = c.send(r)
      require(resp.statusCode == 200, s"set-up request ${r.id} failed: ${resp.body.take(200)}")
    }
  }

  def run(): MiniJson.Raw = {
    val setup = Harness.coldSetUp(setUp())
    val port = facade.boundPort
    // check pass: each distinct request once, spread over all clients; it
    // records the digests the timed window compares against and warms the
    // plan and JIT caches under the timed concurrency
    closedLoop(port, "check", 1, i => distinct.zipWithIndex.collect {
      case (r, j) if j % decks.size == i => r
    })
    val firstOp = Harness.sinceStart()
    val cpu0 = Harness.processCpuS()
    closedLoop(port, "timed", cycles, decks)
    val timedCpu = Harness.processCpuS() - cpu0
    val rss = Run.rssPeakMb()
    val heap = Run.heapLiveMb()
    val probe =
      if (!run.traced) None
      else {
        val p = new SparkProbe(s)
        p.start()
        closedLoop(port, "traced", cycles, decks)
        p.stop()
        run.trace.on = true
        replay()
        run.trace.on = false
        Some(p.toJson)
      }
    val conf = Run.confOf(s)
    Harness.result(run, setup, firstOp, timedCpu, rss, heap, conf, probe,
      obj("ask_stages" -> obj(askStages.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*)))
  }

  // ---- serial replay ------------------------------------------------------

  /** Replays each distinct request of the decks once, through one thread,
    * calling the public functions the handlers call, with a span around
    * each. The handler glue (parameter parsing, the plans it builds inline)
    * is mirrored here; the spans are what the traced run reports per layer.
    */
  private def replay(): Unit = {
    val t = run.trace
    val sales = t.span("core.sales_view", "replay-setup")(SalesView(s, dir))
    val domains = t.span("intent.domains", "replay-setup")(IntentParser.discoverDomains(sales))
    val documents = Tables.documents(s, dir)
    val embeddings = Tables.embeddings(s, dir)
    def preview(op: String, df: => DataFrame, max: Int = 5000): ResultTable =
      t.span("result.preview", op)(ResultTable.preview(df, max))
    def json(op: String)(v: => MiniJson.Raw): String = t.span("api.json", op)(v.json)
    def rows(r: ResultTable) = arr(r.rows.map(arr))
    def daily = sales.groupBy(col("date").as("d")).agg(Num.dsum(col("sales")).as("v"))
    def history(op: String) =
      preview(op, daily.select(col("d").as("date"), col("v").as("sales")).orderBy("date"))
    def params(path: String): Map[String, String] =
      path.split("\\?", 2).drop(1).headOption.getOrElse("").split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
    def query(r: Req): String =
      MiniJson.parse(r.body).asInstanceOf[Map[String, Any]]("query").toString

    def serve(r: Req): String = r.route match {
      case "kpi" =>
        val row = graft.operators.Kpi.q50Kpi.plan(s, dir).collect().head
        json(r.id)(obj("total_sales" -> row.getAs[Any]("total_sales"),
          "top_region" -> row.getAs[Any]("top_region")))
      case "divergence" =>
        val tb = preview(r.id, Templates.regionsGrowthVsCsat(sales))
        json(r.id)(obj("rows" -> rows(tb), "columns" -> arr(tb.headers)))
      case "top_products" =>
        val limit = params(r.path).get("limit").map(_.toInt).getOrElse(2)
        val tb = preview(r.id, sales.filter(col("age") < 30).groupBy(col("product"))
          .agg(Num.dsum(col("sales")).as("total_sales"), count(lit(1)).as("n"))
          .orderBy(col("total_sales").desc, col("product")).limit(limit))
        json(r.id)(obj("rows" -> rows(tb), "columns" -> arr(tb.headers)))
      case "region_trends" =>
        val regions = params(r.path).getOrElse("regions", "").split(",").toSeq.filter(_.nonEmpty)
        val tb = preview(r.id, sales.filter(col("region").isin(regions: _*))
          .groupBy(date_trunc("month", col("date")).cast("date").as("month"), col("region"))
          .agg(Num.dsum(col("sales")).as("sales"), Num.davg(col("satisfaction")).as("satisfaction"))
          .orderBy(col("month"), col("region")))
        json(r.id)(obj("rows" -> rows(tb), "columns" -> arr(tb.headers)))
      case "sales_daily" =>
        val tb = history(r.id)
        json(r.id)(obj("columns" -> arr(tb.headers), "rows" -> rows(tb)))
      case "forecast" =>
        val p = params(r.path)
        val h = p.get("h").map(_.toInt).getOrElse(30)
        val window = p.get("window").map(_.toInt).getOrElse(7)
        val algo = p.getOrElse("algo", "ma7_baseline")
        val fc = t.span("forecast.build", r.id) {
          Forecasters.requirePoints(daily, algo)
          algo match {
            case "seasonal7" => Forecasters.seasonal7(daily, h)
            case "drift" => Forecasters.drift(daily, h, window)
            case _ => Forecasters.ma7Baseline(daily, h, window)
          }
        }
        val hist = history(r.id)
        val fct = preview(r.id, fc.orderBy("date"))
        json(r.id)(obj("model" -> algo, "history" -> rows(hist), "forecast" -> rows(fct)))
      case "route" =>
        val q = params(r.path).getOrElse("query", "")
        val (route, reason) = Router.decideSimple(q)
        json(r.id)(obj("route" -> route.name, "route_reason" -> reason))
      case "rag_stats" =>
        val ids = embeddings.select(col("vec_id")).orderBy("vec_id").limit(1).collect()
          .map(_.getLong(0))
        json(r.id)(obj("ok" -> true, "sample_ids" -> arr(ids.toSeq)))
      case "inspect" =>
        val (n, schema, sample) = t.span("result.preview", r.id)(ResultTable.inspect(sales))
        json(r.id)(obj("row_count" -> n, "columns" -> arr(schema.map(_._1)),
          "sample_rows" -> rows(sample)))
      case "ask_data" => askData(r.id, query(r))
      case "ask_docs" =>
        val q = query(r)
        t.span("intent.wants_data", r.id)(Router.wantsData(q))
        val embed: String => Array[Float] = x => t.span("rag.embed", r.id)(Rag.hashEmbedder(x))
        val (context, cites) =
          t.span("rag.retrieve", r.id)(Rag.retrieve(s, documents, embeddings, q, 3, embed))
        val answer = LlmPorts.fakeChat(s"QUESTION: $q\nCONTEXT:\n$context")
        json(r.id)(obj("answer" -> answer, "citations" -> arr(cites.map(c =>
          obj("index" -> c.index, "source" -> c.source, "id" -> c.id)))))
      case other => throw new IllegalArgumentException(s"no replay for route $other")
    }

    def guarded(op: String, q: String): Option[DataFrame] = {
      sales.createOrReplaceTempView("sales")
      t.span("guard.run_guarded", op)(SqlGuard.runGuarded(s, LlmPorts.fakeSqlGen(q, ""))).toOption
    }

    // AskAi.answer's cascade, one span per stage
    def askData(op: String, q: String): String = {
      t.span("intent.wants_data", op)(Router.wantsData(q))
      val ans: Option[AskAi.Answer] =
        t.span("intent.template", op)(Templates.maybeAnswer(q, sales))
          .map { case (name, plan) => AskAi.Answer("template", name, plan) }
          .orElse(
            try Some(t.span("intent.compile", op)(IntentCompiler.compile(q, sales, domains)))
              .map { case (plan, why) => AskAi.Answer("intent", why, plan) }
            catch { case _: Exception => None })
          .orElse(guarded(op, q).map(df => AskAi.Answer("llm-sql", "generated", df)))
      // No deck question falls through to the guarded LLM-SQL stage, so it
      // is also run on its own, on the fake generator's SQL for the question:
      // what the stage costs an ask that reaches it.
      if (!ans.exists(_.stage == "llm-sql"))
        require(guarded(op, q).isDefined, s"guarded SQL rejected for: $q")
      ans match {
        case Some(a) =>
          val tb = preview(op, a.table, 200)
          val answer = LlmPorts.summarizeTable(q, tb)
          json(op)(obj("answer" -> answer, "table" -> obj("headers" -> arr(tb.headers),
            "rows" -> rows(tb)), "stage" -> a.stage))
        case None => json(op)(obj("answer" -> "no confident answer from the data engine"))
      }
    }

    // the deadline only guards the run's time limit: a request it cuts off
    // is a failure, so the replayed set never depends on the program's speed
    val deadline = System.nanoTime() + (ReplayGuardS * 1e9).toLong
    distinct.foreach { r =>
      run.attempt("replay", r.id, r.route, "replay") {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"replay took over $ReplayGuardS s")
        serve(r)
      }
    }
  }
}

object ServeLoad {
  /** Time the serial replay may take before its remaining requests fail. */
  val ReplayGuardS = 60
  private final case class Req(id: String, route: String, method: String,
      path: String, body: String)
}
