package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.VersionedRoot
import graft.plans.BalanceMvRewrite
import graft.warehouse.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's user-facing query surface re-expressed as a thin HTTP/
  * JSON edge over the DataFrame builders — five root fields
  * (GraphQLService.scala:207-292) plus the health probe
  * (HealthCheckService.scala:8-18, probe = `tenants(limit 1)`).
  *
  * Transport is deliberately minimal (JDK HttpServer, GET + query params,
  * JSON out via Dataset.toJSON): the engine work — filters, pagination,
  * joins, balance aggregation — happens in the SAME Catalyst plans the
  * oracle gate checks; the edge only parses arguments and serializes rows.
  * Sangria's deferred-Fetcher waves (GraphQLService.scala:118-151) have no
  * analog here because nested fields are joins inside one plan.
  *
  * Routes:
  *   GET /health                             → {"healthy":bool,"graphql":bool}
  *   GET /tenants?limit=&offset=
  *   GET /tenant?name=
  *   GET /accounts?tenant=&currency=&format=&limit=&offset=
  *   GET /account?tenant=&name=               (includes computed balance)
  *   GET /transfers?tenant=&currency=&status=&amount_lt|lte|gt|gte=&
  *       value_date_lt|lte|gt|gte=&limit=&offset=&resolve=true|false
  *   GET /balances?tenant=                     (full per-tenant balance
  *       report — MV-answered when the sync-maintained pre-agg exists)
  *
  *   POST/GET /graphql                       → the GraphQL surface (see
  *       GraphQLExecutor; selection sets drive the plans)
  *
  * Requests are served by a small fixed pool over one shared
  * SparkSession, and rendered 200 bodies are memoized per (route, args)
  * until refresh() — see the response-memo note below.
  */
final class HttpEdge(spark: SparkSession, warehouseDir: String, port: Int) {

  private def table(name: String): DataFrame =
    spark.read.parquet(s"$warehouseDir/$name")

  // ---- response memo -----------------------------------------------------
  //
  // The edge promises snapshot semantics between refresh() calls: a
  // normalized (route, args) key answers from the warehouse state it first
  // read. Parquet files and the pinned MV version are immutable, so
  // re-running a key's plan would return the body its first run rendered;
  // the memo stores that body instead of the plan, and a repeated request
  // plans and executes nothing. Only 200 bodies are stored: errors escape
  // `render` as exceptions. A request captures the snapshot it starts
  // under and writes only into it, so a request in flight across
  // refresh() cannot leave a pre-refresh body in the new memo.
  @volatile private var snapshot = new HttpEdge.Snapshot(None)

  /** Memoized response count of the current snapshot (bounded at
    * [[HttpEdge.MemoEntries]] entries and [[HttpEdge.MemoBytes]] bytes) —
    * exposed for tests/monitoring.
    */
  def cachedPlans: Int = snapshot.size

  /** Drop the memo so subsequent requests see the current warehouse state.
    * The balance MV's CURRENT pointer is re-resolved here and ONLY here
    * (and at start()): between refreshes the edge serves one pinned,
    * immutable MV version, so a sync publishing mid-request can never
    * yank files from a running scan — the swap-while-serving contract,
    * deployed. Both happen as one swap of the snapshot object.
    */
  def refresh(): Unit = synchronized {
    swapMvRule(resolveMvRule())
  }

  // ---- balance-MV rewrite on the serving path --------------------------
  //
  // M10 deployed: when the sync pass maintained `$warehouseDir/balances`
  // (Warehouse.sync does on every transfer-appending pass), the edge
  // installs BalanceMvRewrite on its session, so the declarative full-lake
  // balance report (`/balances`, GraphQL `balances`) plans as a scan of
  // |accounts| pre-aggregated rows instead of aggregating the transfer
  // lake per request. extraOptimizations is the runtime form of the
  // cluster deployment (`spark.sql.extensions=graft.functions
  // .GraftExtensions` + the spark.graft.balance.{mv,lake}Path confs —
  // GraftExtensions injects the same conf-bound rule at session build).
  // Scoped point lookups and pages keep their balanceOf/balancesFor plans:
  // the rule's soundness checks decline subset aggregates by design.

  /** The rule bound to the MV version CURRENT points at now, when the
    * sync pass maintains the MV.
    */
  private def resolveMvRule(): Option[BalanceMvRewrite] = {
    // the sync pass publishes the MV through VersionedRoot: resolve the
    // CURRENT pointer ONCE per snapshot — the resolved v<N> directory is
    // immutable, so every plan built until the next refresh() reads one
    // consistent MV version regardless of concurrent publishes. The
    // root helper dispatches the storage backend by scheme (r19): local
    // warehouseDirs read through java.nio, hdfs://-style ones through
    // the Hadoop FileSystem — same protocol, same pointer; copy-rename
    // object stores still fail fast (VStore.forRoot). Deployment
    // contract: refresh() at least every mvKeepVersions-1 sync passes,
    // or the pinned version can be vacuumed mid-serve (Warehouse.sync's
    // retire knob).
    val (mvStore, mvRoot) = Warehouse.balancesRoot(warehouseDir)
    if (!VersionedRoot.publishedAt(mvStore, mvRoot)) None
    else Some(BalanceMvRewrite.forSource(spark, VersionedRoot.resolveAt(mvStore, mvRoot),
      Warehouse.balances(Warehouse.balanceChanges(table("transfer")))))
  }

  /** Installs `rule` in place of the current snapshot's, then publishes a
    * fresh snapshot bound to it. Publishing last means every request that
    * captures the new snapshot plans under the new rule.
    */
  private def swapMvRule(rule: Option[BalanceMvRewrite]): Unit = synchronized {
    val old = snapshot.mvRule
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r => old.exists(_ eq r)) ++ rule
    snapshot = new HttpEdge.Snapshot(rule)
  }

  /** The full per-tenant balance report — the declarative lake aggregate
    * the MV rule answers from the pre-agg when installed. The tenant
    * filter sits ABOVE the aggregate (on its grouping key), so the
    * rewritten plan is a filtered MV scan.
    */
  private def balancesDf(tenant: String): DataFrame =
    Warehouse.balances(Warehouse.balanceChanges(table("transfer")))
      .filter(col("tenant") === lit(tenant))
      .withColumn("balance", col("balance").cast("double"))
      .orderBy("name")

  /** Injective key: components are re-encoded so decoded values containing
    * '&'/'=' cannot collide with genuinely distinct parameter sets.
    */
  private def cacheKey(path: String, p: Map[String, String]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    p.toSeq.sorted.map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString(s"$path?", "&", "")
  }


  private val server = HttpEdge.bind(port)

  /** Small fixed pool — the analog of the reference's bounded DB
    * connection pool. Each request runs read-only plans against a shared
    * SparkSession (thread-safe); the pool bounds how many Spark jobs the
    * edge can have in flight, backpressuring HTTP instead of flooding the
    * scheduler.
    */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors()))

  /** Bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String = "application/json"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def json(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** Serves `path`: `f` gets the exchange and the snapshot captured as the
    * request starts, and returns the 200 body. Error mapping follows
    * RootRouter.scala:22-41 — GraphQL syntax and query-analysis errors are
    * 400s carrying the source position, bad arguments 400s, the rest 500s.
    */
  private def handle(path: String)(f: (HttpExchange, HttpEdge.Snapshot) => Array[Byte]): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val snap = snapshot
      try respond(ex, 200, f(ex, snap))
      catch {
        case GraphQL.SyntaxError(msg, line, col) =>
          respond(ex, 400, utf8(
            s"""{"syntaxError":${quote(s"Syntax error while parsing GraphQL query. Invalid input, $msg")},""" +
              s""""locations":[{"line":$line,"column":$col}]}"""))
        case GraphQL.AnalysisError(msg, line, col) =>
          respond(ex, 400, utf8(
            s"""{"errors":[{"message":${quote(msg)},"locations":[{"line":$line,"column":$col}]}]}"""))
        case e: IllegalArgumentException =>
          respond(ex, 400, utf8(s"""{"error":${quote(e.getMessage)}}"""))
        case e: Throwable =>
          respond(ex, 500, utf8(s"""{"error":${quote(e.toString)}}"""))
      }
    })

  /** A REST route whose 200 bodies are memoized per [[cacheKey]]. */
  private def route(path: String)(df: Map[String, String] => DataFrame): Unit =
    handle(path) { (ex, snap) =>
      val p = params(ex)
      snap.memo(cacheKey(path, p))(json(df(p)))
    }

  private def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def required(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(s"missing arg: $k"))

  /** Cursor pagination contract, same as the GraphQL edge: a nonzero
    * offset next to `after` is a 400, never a silently-ignored parameter.
    */
  private def noOffsetWithAfter(p: Map[String, String]): Unit =
    if (p.get("offset").exists(_ != "0"))
      throw new IllegalArgumentException("offset must be 0 (or absent) when after is set")

  /** Status accepts the GraphQL enum word or the numeric code
    * (GraphQLService.scala:38-59). */
  private def parseStatus(s: String): Int = s match {
    case "committed" => 1
    case "rollbacked" => 2
    case "promised" => 0
    case n => n.toInt
  }

  /** GraphQL endpoint (GraphQLRouter.scala:14-64): POST /graphql with a
    * JSON body {query, operationName, variables} (array-wrapped bodies
    * accepted, :38-44) and GET /graphql?query=&operation=. Responses are
    * memoized per (document, operation, variables), like the REST routes.
    */
  private lazy val graphql = new GraphQLExecutor(
    () => table("tenant"), () => table("account"), () => table("transfer"))

  private def serveGraphql(ex: HttpExchange, snap: HttpEdge.Snapshot): Array[Byte] = {
    val (query, opName, vars) = ex.getRequestMethod match {
      case "POST" =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        parseGraphqlBody(body)
      case "GET" =>
        val p = params(ex)
        (p.getOrElse("query", throw new IllegalArgumentException("missing arg: query")),
          p.get("operation"), Map.empty[String, Any])
      case m =>
        throw new IllegalArgumentException(s"unsupported method $m")
    }
    snap.memo(gqlKey(query, opName, vars))(graphql.execute(query, opName, vars))
  }

  /** Injective key: encoded components so values containing the delimiters
    * cannot collide, and each variable tagged with its type so `5` and
    * `"5"` (or `null` and `"null"`) stay distinct requests.
    */
  private def gqlKey(query: String, opName: Option[String], vars: Map[String, Any]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def tagged(v: Any) =
      if (v == null) "null" else s"${v.getClass.getName}:${enc(v.toString)}"
    "graphql:" + enc(query) + " " + enc(opName.getOrElse("")) + " " +
      vars.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${tagged(v)}" }.mkString(",")
  }

  /** {query, operationName, variables} out of the POST body; a JSON array
    * body contributes its first element (GraphQLRouter.scala:38-44).
    */
  private def parseGraphqlBody(body: String): (String, Option[String], Map[String, Any]) = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root =
      try new ObjectMapper().readTree(body)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"request body is not JSON: ${e.getMessage}") }
    val obj = if (root != null && root.isArray && root.size > 0) root.get(0) else root
    if (obj == null || !obj.isObject)
      throw new IllegalArgumentException("request body must be a JSON object")
    val query = Option(obj.get("query")).filter(_.isTextual).map(_.asText)
      .getOrElse(throw new IllegalArgumentException("missing field: query"))
    val opName = Option(obj.get("operationName")).filter(_.isTextual).map(_.asText)
    val vars: Map[String, Any] = Option(obj.get("variables")).filter(_.isObject) match {
      case None => Map.empty
      case Some(v) =>
        val it = v.fields()
        val b = Map.newBuilder[String, Any]
        while (it.hasNext) {
          val e = it.next()
          val value: Any = e.getValue match {
            case n: JsonNode if n.isNull => null
            case n: JsonNode if n.isTextual => n.asText
            case n: JsonNode if n.isIntegralNumber => n.asLong
            case n: JsonNode if n.isNumber => BigDecimal(n.decimalValue)
            case n: JsonNode if n.isBoolean => n.asBoolean
            case n: JsonNode => n.toString
          }
          b += e.getKey -> value
        }
        b.result()
    }
    (query, opName, vars)
  }

  private def transferArgs(p: Map[String, String]): Api.TransferArgs = {
    // malformed user input must surface as a 400, not a 500
    def arg[T](k: String)(parse: String => T): Option[T] =
      p.get(k).map { v =>
        try parse(v)
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"bad $k: ${e.getMessage}")
        }
      }
    def dec(k: String) = arg(k)(BigDecimal(_))
    def ts(k: String) = arg(k)(v =>
      java.sql.Timestamp.from(java.time.Instant.parse(v)))
    Api.TransferArgs(
      currency = p.get("currency"),
      status = p.get("status").map(parseStatus),
      amountLt = dec("amount_lt"), amountLte = dec("amount_lte"),
      amountGt = dec("amount_gt"), amountGte = dec("amount_gte"),
      valueDateLt = ts("value_date_lt"), valueDateLte = ts("value_date_lte"),
      valueDateGt = ts("value_date_gt"), valueDateGte = ts("value_date_gte"))
  }

  def start(): HttpEdge = {
    // the probe is never memoized: it must touch the warehouse every time
    handle("/health") { (_, _) =>
      val ok =
        try Api.tenants(table("tenant"), limit = 1, offset = 0).count() >= 0
        catch { case _: Throwable => false }
      utf8(s"""{"healthy":$ok,"graphql":$ok}""")
    }
    route("/tenants") { p =>
      // `after=<name>` switches to keyset pagination (O(page) deep scans)
      p.get("after") match {
        case a @ Some(_) =>
          noOffsetWithAfter(p)
          Api.tenantsAfter(table("tenant"), a,
            p.getOrElse("limit", "100").toLong)
        case None => Api.tenants(table("tenant"),
          p.getOrElse("limit", "100").toLong, p.getOrElse("offset", "0").toLong)
      }
    }
    route("/tenant") { p => Api.tenant(table("tenant"), required(p, "name")) }
    route("/accounts") { p =>
      // page on the raw account table, join balances ONCE on the page
      // (feeding the balance join into the filter input would compute the
      // full aggregation twice per request)
      // `after=<name>` switches to keyset pagination, like /transfers
      val page = p.get("after") match {
        case a @ Some(_) =>
          noOffsetWithAfter(p)
          Api.accountsAfter(table("account"), required(p, "tenant"),
            currency = p.get("currency"), format = p.get("format"),
            after = a, limit = p.getOrElse("limit", "100").toLong)
        case None => Api.accounts(table("account"), required(p, "tenant"),
          currency = p.get("currency"), format = p.get("format"),
          limit = p.getOrElse("limit", "100").toLong,
          offset = p.getOrElse("offset", "0").toLong)
      }
      // balancesFor scopes the aggregate to the page's accounts
      page.join(Warehouse.balancesFor(table("transfer"), page),
        Seq("tenant", "name"), "left")
        .withColumn("balance",
          coalesce(col("balance"), lit(0).cast("decimal(38,18)")).cast("double"))
        .orderBy("name")
    }
    route("/account") { p =>
      val t = required(p, "tenant"); val n = required(p, "name")
      // point lookup: Warehouse.balanceOf pushes the credit/debit
      // disjunction into the transfer scan (the page route's shared
      // balance aggregate would scan every transfer for one account)
      Api.account(
        table("account")
          .join(Warehouse.balanceOf(table("transfer"), t, n),
            Seq("tenant", "name"), "left")
          .withColumn("balance",
            coalesce(col("balance"), lit(0).cast("decimal(38,18)")).cast("double"))
          .select("tenant", "name", "currency", "format", "balance"),
        t, n)
    }
    route("/transfers")(transfersDf)
    // the full per-tenant balance report (extension §2x): the declarative
    // lake aggregate, answered from the maintained MV when the snapshot's
    // rule is installed (see resolveMvRule) — the one route that would
    // otherwise aggregate the whole transfer lake per request
    route("/balances") { p => balancesDf(required(p, "tenant")) }
    handle("/graphql")(serveGraphql)
    // the reference serves a GraphiQL UI next to the endpoint
    // (GraphQLRouter.scala:66-73); self-contained equivalent, no CDN assets
    server.createContext("/graphiql", (ex: HttpExchange) =>
      respond(ex, 200, utf8(HttpEdge.GraphiqlHtml), "text/html; charset=utf-8"))
    // a small pool instead of serial dispatch: plans are read-only and
    // SparkSession actions are thread-safe; concurrent requests become
    // concurrent Spark jobs (FIFO-scheduled). Pool ≈ the reference's DB
    // connection pool, not one-thread-per-request.
    server.setExecutor(pool)
    refresh()
    server.start()
    this
  }

  private def transfersDf(p: Map[String, String]): DataFrame = {
    // `after=<transaction>,<transfer>` switches to keyset pagination —
    // the O(page) path for deep scans (offset stays for parity with the
    // reference's drop/take)
    val page = p.get("after") match {
        case Some(cursor) =>
          noOffsetWithAfter(p)
          val cur = cursor.split(",", 2) match {
            case Array(tx, tr) => (tx, tr)
            case _ => throw new IllegalArgumentException(
              "after must be <transaction>,<transfer>")
          }
          Api.transfersAfter(table("transfer"), required(p, "tenant"),
            transferArgs(p), after = Some(cur),
            limit = p.getOrElse("limit", "100").toLong)
        case None =>
          Api.transfers(table("transfer"), required(p, "tenant"),
            transferArgs(p),
            limit = p.getOrElse("limit", "100").toLong,
            offset = p.getOrElse("offset", "0").toLong)
      }
    val out =
      if (p.get("resolve").contains("true")) {
        // balance aggregation scoped to the page's credit/debit accounts
        val keys = page
          .select(col("credit_tenant").as("tenant"), col("credit_name").as("name"))
          .unionByName(page
            .select(col("debit_tenant").as("tenant"), col("debit_name").as("name")))
        Api.transfersResolved(page, table("account"),
          Warehouse.balancesFor(table("transfer"), keys))
          .withColumn("credit_balance", col("credit_balance").cast("double"))
          .withColumn("debit_balance", col("debit_balance").cast("double"))
      }
      else page.withColumn("status_word", Api.statusWord(col("status")))
    // joins do not preserve the page's sort order — reassert it so the
    // last JSON row is a valid keyset cursor for the next page
    out.withColumn("amount", col("amount").cast("double"))
      .orderBy("transaction", "transfer")
  }

  def stop(): Unit = {
    swapMvRule(None)
    server.stop(0)
    pool.shutdown()
  }
}

object HttpEdge {
  // The JDK server writes the response headers and the body as two small
  // segments. With Nagle on the accepted socket, the body waits for the
  // client's delayed ACK of the headers — about 40 ms on every response,
  // which would dominate a memo hit. The property is read once, when the
  // first HttpServer is created, so it must be set before bind().
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(port: Int): HttpServer = HttpServer.create(new InetSocketAddress(port), 0)

  /** Memo bounds per snapshot: entries, and total body bytes. */
  private[graft] val MemoEntries = 256
  private[graft] val MemoBytes = 16L << 20

  /** One serving snapshot: the balance-MV rule pinned at its creation, and
    * the LRU of 200 bodies rendered under it. refresh() replaces the whole
    * object; a request holds the one it started under.
    */
  private[graft] final class Snapshot(val mvRule: Option[BalanceMvRewrite]) {
    private val bodies = new java.util.LinkedHashMap[String, Array[Byte]](64, 0.75f, true)
    private var bytes = 0L

    def size: Int = synchronized(bodies.size)

    /** The stored body of `key`, else `render`'s, stored when it fits under
      * [[MemoBytes]] and served either way. An exception from `render`
      * stores nothing.
      */
    def memo(key: String)(render: => String): Array[Byte] = {
      val hit = synchronized(bodies.get(key))
      if (hit != null) hit
      else {
        val body = render.getBytes(StandardCharsets.UTF_8) // outside the lock
        if (body.length <= MemoBytes) synchronized {
          Option(bodies.put(key, body)).foreach(old => bytes -= old.length)
          bytes += body.length
          // access order: eldest first; `body` is newest and fits alone
          val it = bodies.values.iterator
          while (bytes > MemoBytes || bodies.size > MemoEntries) {
            bytes -= it.next().length
            it.remove()
          }
        }
        body
      }
    }
  }

  /** Minimal self-contained query console (the reference ships GraphiQL,
    * GraphQLRouter.scala:66-73; this needs no bundled JS assets).
    */
  private[api] val GraphiqlHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft graphql</title><style>
      |body{font-family:monospace;margin:1rem;display:flex;gap:1rem;height:90vh}
      |textarea,pre{flex:1;padding:.5rem;border:1px solid #888;overflow:auto}
      |button{position:fixed;top:.3rem;right:1rem}
      |</style></head><body>
      |<textarea id="q">query {
      |  tenants(limit: 10, offset: 0) { name }
      |}</textarea>
      |<pre id="out">ctrl-enter or Run</pre>
      |<button onclick="run()">Run</button>
      |<script>
      |async function run(){
      |  const r = await fetch('/graphql', {method:'POST',
      |    headers:{'Content-Type':'application/json'},
      |    body: JSON.stringify({query: document.getElementById('q').value,
      |                          variables: null, operationName: null})});
      |  const t = await r.text();
      |  let out = t;
      |  try { out = JSON.stringify(JSON.parse(t), null, 2) } catch (e) {}
      |  document.getElementById('out').textContent = r.status + '\n' + out;
      |}
      |document.getElementById('q').addEventListener('keydown', e => {
      |  if (e.ctrlKey && e.key === 'Enter') run();
      |});
      |</script></body></html>""".stripMargin
}
