package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.Random

import graft.{SparkEntry, Tables}
import graft.engine.{CacheRegistry, ConfigBoot, HttpGateway, NamedQuery, Namespaces, Router}

/** gateway_rest: a closed loop of 4 HTTP clients against
  * [[HttpGateway]], serving a namespace booted by [[ConfigBoot]] from
  * the config below plus code-registered DataFrame and federated
  * queries.
  */
object Gateway {
  private val Clients = 4
  private val Shop = "shop"
  private val Code = "graft"

  private val Config =
    """{"databases":[{"name":"shop","type":"pg","queries":{
      |"order_by_key":"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = ?",
      |"order_lines":"SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey = ? ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice",
      |"orders_big":"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = ? AND o_totalprice > $minp ORDER BY o_orderkey",
      |"customer_orders":"SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey WHERE c.c_custkey = ? ORDER BY o.o_orderkey"
      |}}]}""".stripMargin

  private val DataFrameRoutes = Seq("r_point_lookup", "r_page_keyset",
    "r_fk_lookup")
  // r_pgwire_scan is left out: its PostgreSQL server runs as `nobody`
  // and needs a data dir that user can reach, outside the run's root
  private val FederatedRoutes = Seq("r_jdbc_join", "r_jdbc_two_backends",
    "r_soql_pushdown")

  /** One request: route kind, path, `$var`s, and for a deliberately
    * invalid request the exact error body the reference returns.
    */
  final case class Req(kind: String, path: String, vars: Map[String, String],
      expect: Option[String]) {
    def url: String = path + (if (vars.isEmpty) "" else vars.map {
      case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("?", "&", ""))
  }

  private def err(msg: String) = Some("{\"ok\":false,\"error\":\"" +
    msg.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") +
    "\"}")

  private val Invalid = Seq(
    Req("invalid", "/q/nope/x", Map.empty, err("Database not found.")),
    Req("invalid", s"/q/$Shop/zzz", Map.empty, err("Query \"zzz\" not found.")),
    Req("invalid", "/what/ever/else", Map.empty, err("Route not found.")),
    Req("invalid", s"/q/$Shop/orders_big/F", Map.empty,
      err("Parameter \"minp\" is required!\n")),
    Req("invalid", s"/q/$Shop/orders_big/F", Map("minp" -> "1--2"),
      err("SQL comments are forbidden as inputs.")),
    Req("invalid", s"/q/$Shop/order_by_key", Map.empty,
      err("Missing parameter: p1")))

  /** Seeded request mix, dealt to all clients from shuffled decks of 20
    * so the run's mix is exact: 10 SQL-template requests (50 %), 6
    * DataFrame (30 %), 2 federated (10 %) and 2 invalid (10 %). Keys
    * are drawn from the fixtures' key sets.
    */
  final class Deck(r: Random, orderKeys: IndexedSeq[Long],
      custKeys: IndexedSeq[Long]) {
    private def pick(keys: IndexedSeq[Long]) = keys(r.nextInt(keys.size))
    private var cards: List[Int] = Nil
    def next(): Req = synchronized {
      if (cards.isEmpty) cards = r.shuffle((0 until 20).toList)
      val c = cards.head
      cards = cards.tail
      if (c < 10) template(c % 4)
      else if (c < 16) Req("dataframe", s"/q/$Code/${DataFrameRoutes(c % 3)}",
        Map.empty, None)
      else if (c < 18) Req("federated",
        s"/q/$Code/${FederatedRoutes(r.nextInt(FederatedRoutes.size))}",
        Map.empty, None)
      else Invalid(r.nextInt(Invalid.size))
    }
    def template(k: Int): Req = k match {
      case 0 => Req("template", s"/q/$Shop/order_by_key/${pick(orderKeys)}",
        Map.empty, None)
      case 1 => Req("template", s"/q/$Shop/order_lines/${pick(orderKeys)}",
        Map.empty, None)
      case 2 => Req("template",
        s"/q/$Shop/orders_big/${Seq("F", "O", "P")(r.nextInt(3))}",
        Map("minp" -> s"${480000 + r.nextInt(19000)}.0"), None)
      case _ => Req("template",
        s"/q/$Shop/customer_orders/${pick(custKeys)}", Map.empty, None)
    }
    /** One request to every valid route. */
    def everyRoute(): Seq[Req] = (0 until 4).map(template) ++
      (DataFrameRoutes ++ FederatedRoutes).map(n =>
        Req(if (DataFrameRoutes.contains(n)) "dataframe" else "federated",
          s"/q/$Code/$n", Map.empty, None))
  }

  private def boot(): Namespaces = {
    val ns = ConfigBoot.boot(Config)
    val all = SparkEntry.queries
    (DataFrameRoutes ++ FederatedRoutes).foreach(n =>
      ns.register(Code, NamedQuery(n, all(n), None)))
    ns
  }

  private def http(base: String, req: Req): String = {
    val conn = new URI(base + req.url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8)
        finally in.close()
      if (code != 200) sys.error(s"HTTP $code: ${body.take(200)}")
      body
    } finally conn.disconnect()
  }

  /** The gateway's success envelope, built in process from the same
    * dispatch (as HttpGatewaySpec compares them).
    */
  private def inProcess(ctx: Ctx, ns: Namespaces, req: Req): String =
    CacheRegistry.scoped {
      Router.dispatch(ns, req.path, req.vars)(ctx.spark, ctx.dataDir) match {
        case Left(e) => s"error: $e"
        case Right(df) => s"""{"results":[${
          df.toJSON.take(HttpGateway.MaxResultRows).mkString(",")}],"ok":true}"""
      }
    }

  /** A request succeeded when an invalid one got its exact error body
    * and a valid one got a success envelope.
    */
  private def ok(req: Req, body: String): Boolean = req.expect match {
    case Some(e) => body == e
    case None => body.startsWith("""{"results":[""") &&
      body.endsWith("""],"ok":true}""")
  }

  private final case class Done(req: Req, ms: Double, good: Boolean,
      traced: Boolean, op: Long, body: String)

  /** The sorted values of one key column of a fixture table. */
  private def keys(ctx: Ctx, table: String, col: String): IndexedSeq[Long] =
    Tables.load(ctx.spark, ctx.dataDir, table).select(col).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq

  def run(ctx: Ctx): Outcome = {
    val orderKeys = keys(ctx, "orders", "o_orderkey")
    val custKeys = keys(ctx, "customer", "c_custkey")
    val notes = mutable.ArrayBuffer.empty[String]

    // cold pass: the first call of every route in the process
    val deck0 = new Deck(new Random(ctx.seed), orderKeys, custKeys)
    var gw = HttpGateway.start(boot(), ctx.spark, ctx.dataDir)
    var setupFailed = 0
    def send(req: Req): Unit =
      if (!scala.util.Try(ok(req, http(gw.baseUrl, req))).getOrElse(false))
        setupFailed += 1
    val c0 = System.nanoTime()
    val cold = deck0.everyRoute()
    cold.foreach(send)
    val coldS = (System.nanoTime() - c0) / 1e9
    gw.stop()

    // set-up, three times: boot the namespace and start the gateway
    var ns: Namespaces = null
    val prepare = (1 to 3).map { k =>
      if (k > 1) gw.stop()
      val t0 = System.nanoTime()
      ns = boot()
      gw = HttpGateway.start(ns, ctx.spark, ctx.dataDir)
      (System.nanoTime() - t0) / 1e9
    }
    if (setupFailed > 0) notes += s"$setupFailed set-up requests failed"

    // measured: closed loop, each client waits for its reply; the run
    // deals a fixed number of requests, four per second of --seconds
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val total = Clients * ctx.seconds
    val dealt = new java.util.concurrent.atomic.AtomicInteger(0)
    val deck = new Deck(new Random(ctx.seed * 7919), orderKeys, custKeys)
    val server = gw
    val nsFinal = ns
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { _ =>
      new Thread(() => {
        var i = dealt.getAndIncrement()
        while (i < total) {
          val req = deck.next()
          // a traced run traces every other request; the rest measure
          // what tracing costs
          val traced = ctx.traced && i % 2 == 1
          val op = if (traced) ctx.nextOp() else 0L
          val s0 = System.nanoTime()
          val body = scala.util.Try(
            if (traced) ctx.tracer.span("gateway.http", op) {
              http(server.baseUrl, req) }
            else ctx.tracer.untraced(http(server.baseUrl, req))).getOrElse("")
          val ms = (System.nanoTime() - s0) / 1e6
          done.add(Done(req, ms, ok(req, body), traced, op, body))
          i = dealt.getAndIncrement()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    gw.stop()

    // after the timed loop, one at a time so they never load the
    // server while it is timed: the in-process twin of each traced
    // request, whose spans time the layers; a twin that throws fails
    // the request it shadows
    import scala.jdk.CollectionConverters._
    val twinMs = done.asScala.toSeq.filter(_.traced).sortBy(_.op).map(d =>
      d.op -> scala.util.Try(twin(ctx, nsFinal, d.req, d.op)).toOption).toMap
    val all = done.asScala.toSeq.map(d =>
      if (d.traced && twinMs(d.op).isEmpty) d.copy(good = false) else d)
    val sampleR = new Random(ctx.seed ^ 0x5eed)
    val byRoute = all.filter(d => d.good && d.req.expect.isEmpty)
      .groupBy(_.req.path.split("/").take(4).mkString("/"))
    val sample = sampleR.shuffle(byRoute.values.toSeq.sortBy(_.head.req.url)
      .map(ds => ds(sampleR.nextInt(ds.size)))).take(3)
    val mismatched = sample.filter(d => inProcess(ctx, nsFinal, d.req) != d.body)
    mismatched.take(3).foreach(d => notes += s"wire != in-process: ${d.req.url}")
    val bad = mismatched.toSet
    val good = all.filter(d => d.good && !bad(d))
    val plain = good.filter(!_.traced)
    val failed = all.size - good.size
    all.filterNot(_.good).take(3).foreach(d =>
      notes += s"failed: ${d.req.url} -> ${d.body.take(160)}")
    notes += s"requests=${all.size} sampled=${sample.size}"

    val layers = mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val tr = good.filter(_.traced)
      layers("gateway.transport_ms") = mean(tr.filter(_.req.expect.isEmpty)
        .map(d => d.ms - twinMs(d.op).get))
      Seq("template", "dataframe", "federated").foreach(k =>
        layers(s"engine.dispatch_ms.$k") = ctx.meanMs(s"engine.dispatch.$k"))
      layers("engine.reject_ms") = ctx.meanMs("engine.reject")
      layers("engine.delivery_ms") = ctx.meanMs("engine.delivery")
      layers("catalyst.plan_ms") = ctx.meanMs("catalyst.plan")
      layers("tables.register_views_ms") = ctx.meanMs("tables.register_views")
      val dispatch = (s: Span) =>
        s.name.startsWith("engine.dispatch.") || s.name == "engine.reject"
      layers("engine.dispatch_jobs") = ctx.counts(dispatch).jobs.toDouble /
        math.max(1, ctx.tracer.spans.count(dispatch))
      val views = ctx.tracer.spans.count(_.name == "tables.register_views")
      layers("tables.register_views_jobs") =
        ctx.counts(_.name == "tables.register_views").jobs.toDouble /
          math.max(1, views)
      // wire time only: traced requests against untraced ones of the
      // same route kind, weighted by the traced requests of each kind,
      // so the two halves' different route mixes do not count
      val byKind = tr.groupBy(_.req.kind).toSeq.flatMap { case (k, ts) =>
        val us = plain.filter(_.req.kind == k)
        if (us.isEmpty) None
        else Some((Main.median(ts.map(_.ms)) - Main.median(us.map(_.ms)),
          ts.size))
      }
      layers("trace.overhead_ms") = byKind.map { case (d, n) => d * n }.sum /
        math.max(1, byKind.map(_._2).sum)
      layers ++= Batch.cacheLayers()
    }
    Outcome(prepare, coldS, mean(plain.map(_.ms)), plain.map(_.ms),
      good.size / wallS,
      all.size + cold.size, failed + setupFailed,
      mismatched.isEmpty && setupFailed == 0 && failed == 0, layers.toMap,
      notes.toSeq)
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The traced twin of a request: the same dispatch made in process,
    * one span per layer call. Returns the in-process time in ms, which
    * the wire time minus gives the transport time.
    */
  private def twin(ctx: Ctx, ns: Namespaces, req: Req, op: Long): Double = {
    val t = ctx.tracer
    if (req.expect.nonEmpty) {
      val s0 = System.nanoTime()
      t.span("engine.reject", op) {
        Router.dispatch(ns, req.path, req.vars)(ctx.spark, ctx.dataDir) }
      (System.nanoTime() - s0) / 1e6
    } else CacheRegistry.scoped {
      // Router.dispatch registers the fixture views itself on template
      // routes; a direct call beside it times that layer on its own
      if (req.kind == "template")
        t.span("tables.register_views", op) {
          Tables.registerViews(ctx.spark, ctx.dataDir) }
      val s0 = System.nanoTime()
      val df = t.span(s"engine.dispatch.${req.kind}", op) {
        Router.dispatch(ns, req.path, req.vars)(ctx.spark, ctx.dataDir)
      }.fold(e => sys.error(e), identity)
      t.span("catalyst.plan", op) { df.queryExecution.executedPlan }
      t.span("engine.delivery", op) {
        df.toJSON.take(HttpGateway.MaxResultRows) }
      (System.nanoTime() - s0) / 1e6
    }
  }
}
