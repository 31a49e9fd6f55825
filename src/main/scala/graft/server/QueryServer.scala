package graft.server

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.result.JsonResults
import graft.sparql.{Parser, Sparql}

/** HTTP query endpoint (reference `src/server.rs:24-141`): `GET
  * /query?query=<sparql>` → 200 + W3C SPARQL-Results-JSON; missing
  * `query` param or parse error → 400 with the message; CORS
  * `Access-Control-Allow-Origin: *` on every response (the reference
  * uses warp's `allow_any_origin`). Beyond the reference: SPARQL 1.1
  * Protocol POST (urlencoded form body or `application/sparql-query`)
  * and the OPTIONS preflight, so large queries are not bounded by
  * URL length.
  *
  * One shared SparkSession serves all requests. Unlike the reference
  * (which serves synchronously, one query at a time), requests run on
  * a thread pool — Spark's scheduler interleaves concurrent jobs — and
  * each query is bounded by `spark.graft.server.timeoutMs` (default
  * 0 = unbounded): on expiry the query's job group is cancelled and
  * the client gets 503, so one runaway query can neither wedge the
  * server nor keep burning the cluster. This is a protocol front-end,
  * not an operator — result sets are bounded by the serializer's limit.
  */
object QueryServer {

  private val reqIds = new AtomicLong()

  /** Bounded LRU of translated (analyzed, unexecuted) DataFrames.
    * Every repeated SPARQL string otherwise re-pays
    * parse → translate → analyze on the driver — 50–300 ms for typical
    * queries — which for a dashboard-style workload of a few hot
    * queries is pure waste. A DataFrame is an immutable plan, so
    * serving the same instance to concurrent requests is safe; each
    * request still executes under its own job group/FAIR pool (both are
    * applied at action time, not build time).
    *
    * The key carries everything translation depends on besides the
    * text: the store dir, the store's in-process rebuild epoch
    * ([[graft.ingest.WikidataIngest.storeEpoch]] — a `create-db` into a
    * served dir must not keep serving plans over the old file listing),
    * and the translate-time semantics flags (spec OPTIONAL/LATERAL/
    * functions, path budget), which are read during plan construction
    * and would otherwise be baked stale into a shared plan.
    *
    * Size via `spark.graft.server.planCacheSize` (entries; 0 disables).
    * Plans are driver-heap small (no data), so the default is generous.
    */
  private val PlanCacheDefaultSize = 256
  private val planCache =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.DataFrame](
      16, 0.75f, /*accessOrder=*/ true) {
      @volatile var maxEntries: Int = PlanCacheDefaultSize
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.sql.DataFrame]): Boolean =
        size() > maxEntries
    }
  // test/ops visibility: how often the cache short-circuits translation
  private[graft] val planCacheHits = new AtomicLong()
  private[graft] val planCacheMisses = new AtomicLong()
  private[graft] def planCacheReset(): Unit = planCache.synchronized {
    planCache.clear(); planCacheHits.set(0L); planCacheMisses.set(0L)
  }

  /** Translate `q` against `dir`, through the plan cache. Parse errors
    * propagate (and are never cached — a later fixed parser/flag state
    * must get a fresh attempt).
    */
  private def translated(spark: SparkSession, q: String, dir: String): org.apache.spark.sql.DataFrame = {
    val maxEntries = spark.conf
      .get("spark.graft.server.planCacheSize", PlanCacheDefaultSize.toString)
      .toIntOption.filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        "spark.graft.server.planCacheSize must be a non-negative int"))
    if (maxEntries == 0) return Sparql.query(spark, q, dir)
    // EVERY conf read during plan construction is in the key via the
    // TranslateFlags registry: read sites can only read registered
    // names (TranslateFlags.get throws on an unregistered one) and the
    // fingerprint iterates the same registry, so the list cannot drift
    val flags = graft.sparql.TranslateFlags.fingerprint(spark)
    val key = s"$dir|${graft.ingest.WikidataIngest.storeEpoch(dir)}|$flags|$q"
    val cached = planCache.synchronized {
      planCache.maxEntries = maxEntries
      // removeEldestEntry evicts at most one entry per put, so a
      // LOWERED size bound needs an explicit trim or the cache stays
      // pinned at its previously attained size forever
      val it = planCache.entrySet().iterator()
      while (planCache.size() > maxEntries && it.hasNext) {
        it.next(); it.remove()
      }
      Option(planCache.get(key))
    }
    cached match {
      case Some(df) => planCacheHits.incrementAndGet(); df
      case None =>
        // translate OUTSIDE the lock: translation can take hundreds of
        // ms and must not serialize unrelated queries. Concurrent
        // misses on the same key both translate; last write wins —
        // identical plans, so the duplicated work is one-off.
        val df = Sparql.query(spark, q, dir)
        planCacheMisses.incrementAndGet()
        planCache.synchronized { planCache.put(key, df) }
        df
    }
  }

  private def daemonFactory(prefix: String): ThreadFactory = new ThreadFactory {
    private val n = new AtomicLong()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Workers that execute the Spark actions; the job group is set on
    * the worker thread (it is thread-local) so a timeout can cancel
    * exactly this request's jobs.
    */
  private lazy val queryPool =
    Executors.newCachedThreadPool(daemonFactory("graft-query"))

  def start(spark: SparkSession, dir: String, port: Int): HttpServer = {
    // opt-in warmup (spark.graft.server.warmup=true): a fresh JVM pays
    // seconds of JIT + codegen + parquet-footer listing on its FIRST
    // real query (PERF_r11 PlanDump rep-0: 5.6 s build vs 0.7 s warm).
    // One representative translation + tiny action before binding the
    // port moves that cost out of the first client's latency. Failure
    // is non-fatal — a warmup must never stop the server from serving.
    if (spark.conf.get("spark.graft.server.warmup", "false").toBoolean) {
      val t0 = System.nanoTime()
      try {
        translated(spark,
          "SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(ISIRI(?s)) } ORDER BY ?o LIMIT 1",
          dir).collect()
        System.err.println(f"[graft-server] warmup in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft-server] warmup failed (serving anyway): $e")
      }
    }
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/query", (ex: HttpExchange) => handle(spark, dir, ex))
    server.createContext("/update", (ex: HttpExchange) => handleUpdate(spark, dir, ex))
    // static query UI (reference frontend/ parity; original page)
    server.createContext("/", (ex: HttpExchange) => {
      val bytes =
        if (ex.getRequestURI.getPath == "/" || ex.getRequestURI.getPath == "/index.html")
          Frontend.indexHtml.getBytes(StandardCharsets.UTF_8)
        else null
      try {
        if (bytes == null) {
          ex.sendResponseHeaders(404, -1L)
        } else {
          ex.getResponseHeaders.add("Content-Type", "text/html; charset=utf-8")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
        }
      } finally ex.close()
    })
    // handler pool: without one the JDK server dispatches serially
    server.setExecutor(Executors.newCachedThreadPool(daemonFactory("graft-http")))
    server.start()
    server
  }

  /** Stamped into a chunked body when the stream fails mid-write, so an
    * aborted response is detectable even by a consumer that does not
    * JSON-parse. It is raw bytes inside the (unterminated) JSON text,
    * so the body is guaranteed invalid JSON after an abort.
    */
  val StreamAbortMarker = "\n\u0000GRAFT-STREAM-ABORTED\u0000"

  /** Reflectively close the exchange's underlying TCP connection (the
    * only way to make the JDK http server drop a chunked response
    * mid-body without the terminal 0-chunk — the public API always
    * finishes the chunked encoding on close; needs `--add-opens
    * jdk.httpserver/sun.net.httpserver=ALL-UNNAMED`). Also the only
    * way a watchdog thread can unblock a writer stuck in a socket
    * write to a client that stopped reading: socket writes are not
    * interrupt-responsive, so `task.cancel(true)` alone leaves the
    * worker pinned until TCP timeouts.
    */
  private[graft] def forceCloseConnection(ex: HttpExchange): Boolean =
    try {
      val implField = ex.getClass.getDeclaredField("impl")
      implField.setAccessible(true)
      val impl = implField.get(ex)
      // getConnection/close live on PACKAGE-PRIVATE sun.net.httpserver
      // classes — getMethod only sees public members of accessible
      // classes, so it throws NoSuchMethodException even when
      // --add-opens is set; getDeclaredMethod + setAccessible is the
      // working path (walking up from the runtime class, since the
      // method may sit on a superclass like ExchangeImpl)
      def declared(o: AnyRef, name: String): java.lang.reflect.Method = {
        var c: Class[_] = o.getClass
        while (c != null) {
          try {
            val m = c.getDeclaredMethod(name)
            m.setAccessible(true)
            return m
          } catch { case _: NoSuchMethodException => c = c.getSuperclass }
        }
        throw new NoSuchMethodException(s"$name on ${o.getClass.getName}")
      }
      val conn = declared(impl, "getConnection").invoke(impl)
      declared(conn, "close").invoke(conn)
      true
    } catch {
      case t: Throwable =>
        // a sealed jdk.httpserver module (missing --add-opens) lands
        // here EVERY time — without a diagnostic the stuck-writer
        // mitigation silently does not exist on such JVMs. Warn once.
        if (forceCloseWarned.compareAndSet(false, true))
          System.err.println(
            "graft: forceCloseConnection unavailable (" + t.getClass.getSimpleName +
              "); run with --add-opens jdk.httpserver/sun.net.httpserver=ALL-UNNAMED " +
              "or stalled writers to dead clients will pin worker threads until TCP timeouts")
        false
    }

  private val forceCloseWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Abort a started chunked response so the client cannot mistake it
    * for a complete transfer. Best effort, in preference order: close
    * the raw connection without the terminal 0-chunk
    * ([[forceCloseConnection]]); otherwise stamp [[StreamAbortMarker]]
    * into the body before closing, which leaves the JSON unbalanced
    * AND explicitly marked. Either way the abort is observable; it is
    * never a clean-looking prefix of a valid body.
    */
  private def abortStream(ex: HttpExchange, os: java.io.OutputStream): Unit = {
    val hardClosed = forceCloseConnection(ex)
    if (!hardClosed) {
      try os.write(StreamAbortMarker.getBytes(StandardCharsets.UTF_8))
      catch { case _: Throwable => }
      try os.close() catch { case _: Throwable => }
    }
  }

  /** SPARQL 1.1 Protocol §2.2 update endpoint (POST only): the request
    * carries the update either as a urlencoded form field `update` or
    * directly as `application/sparql-update`. Responds with a small
    * JSON summary `{"inserted":…,"deleted":…,"undeleted":…}`. Updates
    * are serialized per server (one writer at a time — the store's
    * maintenance operations are single-writer by contract); queries
    * keep running concurrently and see each committed update via the
    * store-epoch plan-cache key.
    */
  private def handleUpdate(spark: SparkSession, dir: String, ex: HttpExchange): Unit = {
    def respond(code: Int, body: String, contentType: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
      ex.getResponseHeaders.add("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    try {
      if (ex.getRequestMethod == "OPTIONS") {
        ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
        ex.getResponseHeaders.add("Access-Control-Allow-Methods", "POST, OPTIONS")
        ex.getResponseHeaders.add("Access-Control-Allow-Headers", "Content-Type")
        ex.sendResponseHeaders(204, -1L)
        ex.close()
        return
      }
      if (ex.getRequestMethod != "POST") {
        respond(405, "updates require POST (SPARQL 1.1 Protocol §2.2)", "text/plain")
        return
      }
      val maxBody = spark.conf
        .get("spark.graft.server.maxBodyBytes", (1 << 20).toString)
        .toIntOption.filter(_ > 0).getOrElse(1 << 20)
      val bytes = ex.getRequestBody
        .readNBytes(math.min(maxBody.toLong + 1, Int.MaxValue.toLong).toInt)
      if (bytes.length > maxBody) {
        respond(413, s"request body exceeds " +
          s"spark.graft.server.maxBodyBytes=$maxBody", "text/plain")
        return
      }
      val body = new String(bytes, StandardCharsets.UTF_8)
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val updateText =
        if (ct.split(';').head.trim.equalsIgnoreCase("application/sparql-update"))
          Some(body)
        else body.split('&').iterator.map(_.split("=", 2))
          .collectFirst { case Array(k, v)
              if URLDecoder.decode(k, "UTF-8") == "update" =>
            URLDecoder.decode(v, "UTF-8")
          }
      updateText match {
        case None => respond(400, "missing 'update' parameter", "text/plain")
        case Some(u) =>
          val r = updateLock.synchronized {
            graft.sparql.Update.execute(spark, u, dir)
          }
          respond(200, s"""{"inserted": ${r.inserted}, "deleted": ${r.deleted}, """ +
            s""""undeleted": ${r.undeleted}}""", "application/json")
      }
    } catch {
      case e: graft.sparql.Parser.ParseException =>
        respond(400, s"update parse error: ${e.getMessage}", "text/plain")
      case e: IllegalArgumentException =>
        respond(409, s"store not updatable: ${e.getMessage}", "text/plain")
      case scala.util.control.NonFatal(e) =>
        respond(500, s"update failed: ${e.getClass.getSimpleName}: ${e.getMessage}",
          "text/plain")
    } finally ex.close()
  }

  /** One writer at a time ([[handleUpdate]]); the store's maintenance
    * primitives (tombstone swap, meta write) assume a single mutator.
    */
  private val updateLock = new Object

  private def handle(spark: SparkSession, dir: String, ex: HttpExchange): Unit = {
    def respond(code: Int, body: String, contentType: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
      ex.getResponseHeaders.add("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def formParams(s: String): Map[String, String] = s.split('&')
      .iterator.map(_.split("=", 2))
      .collect { case Array(k, v) =>
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
      }.toMap
    try {
      // CORS preflight: a browser POSTing application/sparql-query
      // sends OPTIONS first
      if (ex.getRequestMethod == "OPTIONS") {
        ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
        ex.getResponseHeaders.add("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
        ex.getResponseHeaders.add("Access-Control-Allow-Headers", "Content-Type")
        ex.sendResponseHeaders(204, -1L)
        ex.close()
        return
      }
      // malformed percent-escapes (URLDecoder throws) are a client
      // error, not a silent connection close
      val params =
        try {
          val qsParams = formParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          // SPARQL 1.1 Protocol §2.1.2/2.1.3: POST carries the query
          // either as a urlencoded form body or directly as
          // application/sparql-query (the only way to send queries past
          // URL-length limits; the reference is GET-only, server.rs:87-141)
          if (ex.getRequestMethod == "POST") {
            // bounded read: an unbounded readAllBytes would let one
            // client buffer arbitrary bytes into the server heap
            val maxBodyOpt = spark.conf
              .get("spark.graft.server.maxBodyBytes", (1 << 20).toString)
              .toIntOption.filter(_ > 0)
            if (maxBodyOpt.isEmpty) {
              respond(500, "spark.graft.server.maxBodyBytes must be a " +
                "positive int", "text/plain")
              return
            }
            val maxBody = maxBodyOpt.get
            val fetch = math.min(maxBody.toLong + 1, Int.MaxValue.toLong).toInt
            val bytes = ex.getRequestBody.readNBytes(fetch)
            if (bytes.length > maxBody) {
              // drain (bounded) before responding: on keep-alive
              // connections an undrained body makes the JDK server
              // reset the connection mid-upload instead of delivering
              // the 413. Clients streaming past the drain cap lose the
              // connection — that is the correct outcome for them.
              val drainBuf = new Array[Byte](8192)
              var drained = 0L
              var n = 0
              while (n >= 0 && drained < (8L << 20)) {
                n = ex.getRequestBody.read(drainBuf)
                if (n > 0) drained += n
              }
              respond(413, s"request body exceeds " +
                s"spark.graft.server.maxBodyBytes=$maxBody", "text/plain")
              return
            }
            val body = new String(bytes, StandardCharsets.UTF_8)
            val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
            if (ct.split(';').head.trim.equalsIgnoreCase("application/sparql-query"))
              qsParams + ("query" -> body)
            else qsParams ++ formParams(body)
          } else qsParams
        } catch {
          case e: IllegalArgumentException =>
            respond(400, s"malformed request encoding: ${e.getMessage}", "text/plain")
            return
        }
      params.get("query") match {
        case None => respond(400, "missing 'query' parameter", "text/plain")
        case Some(q) =>
          // `&explain=true` (or =simple|extended|codegen|cost|formatted)
          // returns the Catalyst plan as text WITHOUT running any job —
          // observability the reference's endpoint has no analogue of
          val explainMode = params.get("explain").map {
            case "" | "true" | "1" => "formatted"
            case m => m
          }
          // validate the mode BEFORE the query runs: an invalid mode is
          // a clean 400 here, and an IllegalArgumentException thrown
          // later by the query itself is never mislabeled as one
          val badMode = explainMode.flatMap { m =>
            try { org.apache.spark.sql.execution.ExplainMode.fromString(m); None }
            catch { case e: IllegalArgumentException => Some(e.getMessage) }
          }
          if (badMode.isDefined) {
            respond(400, s"bad explain mode: ${badMode.get}", "text/plain")
            return
          }
          val timeoutMsOpt = spark.conf
            .get("spark.graft.server.timeoutMs", "0").toLongOption.filter(_ >= 0)
          if (timeoutMsOpt.isEmpty) {
            respond(500, "spark.graft.server.timeoutMs must be a " +
              "non-negative long", "text/plain")
            return
          }
          val timeoutMs = timeoutMsOpt.get
          // opt-in chunked streaming (`spark.graft.server.streamResults`):
          // bindings flow to the socket via toLocalIterator under a hard
          // BYTE budget instead of buffering under the row cap — the
          // 100 TB sink. Once the stream starts, a failure breaks the
          // chunked body mid-JSON and stamps an explicit abort marker;
          // it is never papered over with a syntactically complete
          // 200 body (see the abort path below for the exact contract).
          val streaming = explainMode.isEmpty && spark.conf
            .get("spark.graft.server.streamResults", "false")
            .equalsIgnoreCase("true")
          // exactly-one-response guard: the worker (streaming success)
          // and the watchdog (timeout 503) race for the response; the
          // CAS decides, and a started stream wins by construction
          val sent = new java.util.concurrent.atomic.AtomicBoolean(false)
          // cumulative bytes the stream has written (-1 = not writing
          // yet): the watchdog reads it to tell a flowing transfer from
          // a hung one
          val streamedBytes = new AtomicLong(-1L)
          def respondOnce(code: Int, body: String, contentType: String): Unit =
            if (sent.compareAndSet(false, true)) respond(code, body, contentType)
          val reqId = reqIds.incrementAndGet()
          val group = s"graft-http-$reqId"
          val task = queryPool.submit(new Callable[Option[String]] {
            def call(): Option[String] = {
              spark.sparkContext.setJobGroup(group, s"HTTP query: $q",
                interruptOnCancel = true)
              // per-request FAIR pool (bounded name set — pools live for
              // the scheduler's lifetime): concurrent requests share the
              // executor fairly instead of FIFO-queueing behind the
              // first query's stages
              spark.sparkContext.setLocalProperty("spark.scheduler.pool",
                s"graft-req-${reqId % 16}")
              try {
                val df = translated(spark, q, dir)
                explainMode match {
                  case Some(m) => Some(df.queryExecution.explainString(
                    org.apache.spark.sql.execution.ExplainMode.fromString(m)))
                  case None if streaming =>
                    val budget = spark.conf
                      .get("spark.graft.server.maxResultBytes", (1L << 30).toString)
                      .toLongOption.filter(_ > 0)
                      .getOrElse(throw new IllegalArgumentException(
                        "spark.graft.server.maxResultBytes must be a positive long"))
                    // materialize the first batch of bindings BEFORE
                    // claiming the response: every Spark job needed for
                    // the first rows runs here, under this thread's job
                    // group, where the timeout watchdog can still cancel
                    // it and serve a clean 503. Only a query that has
                    // demonstrably started producing claims the stream.
                    // The budget also bounds each fetched partition, and
                    // a cancelled fetch stops at once (renderBindings),
                    // so a runaway cannot fill the heap after its 503.
                    val prepared = JsonResults.prepare(df, Int.MaxValue, budget)
                    if (sent.compareAndSet(false, true)) {
                      ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
                      ex.getResponseHeaders.add("Content-Type", "application/json")
                      ex.sendResponseHeaders(200, 0L) // 0 = chunked
                      val os = ex.getResponseBody
                      streamedBytes.set(0L)
                      var ok = false
                      try {
                        prepared.write(os, budget, n => streamedBytes.set(n))
                        ok = true
                      } finally {
                        if (ok) { try os.close() catch { case _: Throwable => } }
                        else abortStream(ex, os)
                      }
                    }
                    None
                  case None => Some(JsonResults.toJson(df))
                }
              } finally {
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
                spark.sparkContext.clearJobGroup()
              }
            }
          })
          try {
            val body =
              if (timeoutMs > 0) task.get(timeoutMs, TimeUnit.MILLISECONDS)
              else task.get()
            body.foreach(b => respondOnce(200, b,
              if (explainMode.isDefined) "text/plain; charset=utf-8"
              else "application/json"))
          } catch {
            case _: TimeoutException =>
              // the timeout bounds time-to-first-rows. If the stream
              // already claimed the response, the first partition's rows
              // were materialized before headers went out, so the
              // elapsed time is transfer (bounded by the byte budget) —
              // killing the job group NOW would truncate a HEALTHY large
              // response mid-body. But later partitions still execute
              // lazily during the write, so "wait it out" must not be
              // unbounded: cancel only after a STALL budget passes with
              // ZERO byte progress. The budget is deliberately much
              // larger than the timeout (`streamStallMs`, default
              // 10×timeoutMs, floor 60 s): a later partition can
              // legitimately compute for longer than time-to-first-rows
              // without writing a byte, and cutting a healthy response
              // is worse than holding a worker a little longer — only a
              // genuinely hung query trips it.
              if (sent.get()) {
                val stallMs = spark.conf
                  .get("spark.graft.server.streamStallMs",
                    math.max(10 * timeoutMs, 60000L).toString)
                  .toLongOption.filter(_ > 0)
                  .getOrElse(math.max(10 * timeoutMs, 60000L))
                var finished = false
                var last = streamedBytes.get()
                while (!finished) {
                  try { task.get(stallMs, TimeUnit.MILLISECONDS); finished = true }
                  catch {
                    case _: TimeoutException =>
                      val cur = streamedBytes.get()
                      if (cur == last) {
                        spark.sparkContext.cancelJobGroup(group)
                        task.cancel(true)
                        // a writer blocked in a socket write to a dead
                        // client is NOT interrupt-responsive — without
                        // this, each such client pins a worker thread
                        // until TCP-level timeouts and a few of them
                        // drain the bounded pool despite the stall budget
                        forceCloseConnection(ex)
                        try ex.close() catch { case _: Throwable => }
                        finished = true
                      } else last = cur
                    case _: Throwable => finished = true
                  }
                }
              } else {
                spark.sparkContext.cancelJobGroup(group)
                task.cancel(true)
                respondOnce(503,
                  s"query exceeded spark.graft.server.timeoutMs=$timeoutMs", "text/plain")
              }
            case e: ExecutionException => e.getCause match {
              case pe: Parser.ParseException =>
                respondOnce(400, s"parse error: ${pe.msg}", "text/plain")
              // explain modes are validated before submission, so an
              // IllegalArgumentException here is the QUERY's, not the
              // mode's — it takes the generic 500 like any other cause
              case c =>
                respondOnce(500, s"error: ${c.getMessage}", "text/plain")
            }
            case _: InterruptedException =>
              spark.sparkContext.cancelJobGroup(group)
              // respond BEFORE restoring the interrupt flag: the JDK
              // server writes through an interruptible SocketChannel,
              // and a blocking write on an already-interrupted thread
              // throws ClosedByInterruptException instead of delivering
              // the 500
              respondOnce(500, "query execution interrupted", "text/plain")
              Thread.currentThread().interrupt() // preserve interrupt status for the pool
            case _: java.util.concurrent.CancellationException =>
              spark.sparkContext.cancelJobGroup(group)
              respondOnce(500, "query execution interrupted", "text/plain")
          }
      }
    } catch {
      case _: Throwable => try ex.close() catch { case _: Throwable => }
    }
  }

  /** `runMain graft.server.QueryServer [port] [storeDir]` — serves until
    * killed (reference default port 8005, `src/cli.rs:66-67`).
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8005)
    val dir = args.lift(1).getOrElse(graft.ingest.WikidataIngest.defaultDir)
    val spark = graft.GraftSession.get()
    start(spark, dir, port)
    println(s"listening on http://localhost:$port/query")
    Thread.currentThread().join()
  }
}
