package graft

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import graft.ingest.WikidataIngest
import graft.server.QueryServer

/** Concurrent-serving evidence for the HTTP surface — the missing
  * scale dimension after [[QuadScale]]: that harness measures one
  * query at a time, but the server shares ONE SparkSession across
  * clients (the reference serves concurrently over `Arc<Storage>`,
  * `/root/reference/src/server.rs:24-141`; our analog is the shared
  * session + per-request FAIR pools + the plan cache). This bench
  * builds (or reuses) a QuadScale store, starts the REAL
  * [[QueryServer]] on an ephemeral port, and drives it with N
  * simultaneous HTTP clients issuing the headline shapes, reporting
  * per-shape p50/p95 latency, aggregate throughput, and plan-cache
  * hit rates — then a fairness scenario: short queries racing a
  * full-scan heavyweight, where FAIR scheduling must keep the short
  * p95 from degrading to the heavyweight's runtime.
  *
  * Shapes use aggregate/bounded outputs (COUNT wrappers, LIMIT
  * shapes) so the measurement is query execution, not JSON transfer
  * of megarow results; each response is still checked for HTTP 200
  * and, for counting shapes, the PLANTED count in the body — a
  * server that returns wrong answers under concurrency fails the
  * bench, not just slows it.
  *
  * Usage: `runMain graft.ConcurrencyBench [quads] [baseDir] [levels]
  * [roundsPerClient]` (defaults 32000000, temp dir, `1,8,32`, 4).
  */
object ConcurrencyBench {

  private case class Shape(name: String, text: String, mustContain: Option[String])

  def main(args: Array[String]): Unit = {
    val target = args.lift(0).map(_.toLong).getOrElse(32000000L)
    val baseDir = args.lift(1).getOrElse(
      Workspace.scratch("graft-concbench"))
    val levels = args.lift(2).getOrElse("1,8,32").split(",").map(_.trim.toInt).toSeq
    val rounds = args.lift(3).map(_.toInt).getOrElse(4)

    val spark = GraftSession.get()
    val nE = math.max(800L, math.round(target / 9.0 / QuadScale.Classes) * QuadScale.Classes)
    val total = QuadScale.totalQuads(nE)
    val flat = s"$baseDir/flat_uniform_$nE"
    val idx = s"$baseDir/idx_uniform_$nE"
    // keyed on the success marker alone: a partially written index
    // (crashed prior build) has the directory but no marker and must
    // be rebuilt, not silently reused
    if (!new java.io.File(s"$idx/_SUCCESS_GRAFT_INDEX").exists()) {
      System.err.println(s"[concbench] building $total-quad store under $baseDir")
      WikidataIngest.writeStore(spark, QuadScale.syntheticStatements(spark, nE), flat)
      WikidataIngest.createIndex(spark, flat, idx)
    } else System.err.println(s"[concbench] reusing store at $idx")

    val perClass = nE / QuadScale.Classes
    // planted-count shapes (the QuadScale headline set, COUNT-wrapped
    // where the raw result would be megarows of JSON)
    val shapes = Seq(
      Shape("pred_scan_count",
        "SELECT (COUNT(?x) AS ?n) WHERE { ?x wdt:P1 ?c }", Some(s""""$nE"""")),
      Shape("po_bound_count",
        "SELECT (COUNT(?x) AS ?n) WHERE { ?x wdt:P1 wd:Q5 }", Some(s""""$perClass"""")),
      Shape("bgp_join_count",
        "SELECT (COUNT(?x) AS ?n) WHERE { ?x wdt:P1 ?c . ?c wdt:P2 ?d }",
        Some(s""""${perClass * (QuadScale.Classes - 1)}"""")),
      Shape("qualifier_join_count",
        "SELECT (COUNT(?v) AS ?n) WHERE { ?x p:P1 ?stmt . ?stmt wdt:P10 ?v }",
        Some(s""""$nE"""")),
      Shape("label_service_count",
        """SELECT (COUNT(?xLabel) AS ?n) WHERE { ?x wdt:P1 wd:Q3 .
          |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
        Some(s""""$perClass"""")),
      Shape("path_star", "SELECT ?c WHERE { wd:Q0 wdt:P2* ?c }", None),
      Shape("agg_group",
        "SELECT ?c (COUNT(?x) AS ?n) WHERE { ?x wdt:P1 ?c } GROUP BY ?c",
        Some(s""""$perClass"""")),
      Shape("order_limit",
        """SELECT ?x ?v WHERE { ?x p:P1 ?st . ?st wdt:P10 ?v }
          |ORDER BY DESC(?v) LIMIT 5""".stripMargin, Some(""""49"""")),
      Shape("graph_const", "SELECT ?s ?p ?o WHERE { GRAPH wd:Q7 { ?s ?p ?o } }", None))

    val server = QueryServer.start(spark, idx, 0)
    val port = server.getAddress.getPort
    System.err.println(s"[concbench] server on port $port, store $total quads")
    val failures = new AtomicLong()

    def issue(client: HttpClient, s: Shape): Double = {
      val uri = java.net.URI.create(
        s"http://localhost:$port/query?query=${URLEncoder.encode(s.text, "UTF-8")}")
      val t0 = System.nanoTime()
      val resp = client.send(HttpRequest.newBuilder(uri).GET().build(),
        HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      val secs = (System.nanoTime() - t0) / 1e9
      if (resp.statusCode() != 200) {
        System.err.println(s"[concbench] FAIL ${s.name}: HTTP ${resp.statusCode()}")
        failures.incrementAndGet()
      } else if (s.mustContain.exists(c => !resp.body().contains(c))) {
        System.err.println(s"[concbench] FAIL ${s.name}: planted count ${s.mustContain.get} " +
          s"absent from response (${resp.body().take(200)})")
        failures.incrementAndGet()
      }
      secs
    }

    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) 0.0
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    // warmup: one sequential pass pays parquet-footer/codegen/JIT cost
    // so the measured levels see the steady state a live server is in
    locally {
      val c = HttpClient.newHttpClient()
      shapes.foreach(issue(c, _))
    }

    val levelJson = levels.map { n =>
      QueryServer.planCacheReset()
      val latencies = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      val t0 = System.nanoTime()
      val threads = (0 until n).map { cid =>
        val t = new Thread(() => {
          val client = HttpClient.newHttpClient()
          // deterministic per-client rotation so shapes interleave
          // rather than stampeding one shape at a time
          for (r <- 0 until rounds; i <- shapes.indices) {
            val s = shapes((i + cid + r) % shapes.size)
            latencies.add((s.name, issue(client, s)))
          }
        }, s"concbench-client-$cid")
        t.start(); t
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val all = latencies.toArray(Array.empty[(String, Double)]).toSeq
      val byShape = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, xs) =>
        val ls = xs.map(_._2)
        s""""$name":{"n":${ls.size},"p50":${fmt(pct(ls, 0.50))},"p95":${fmt(pct(ls, 0.95))}}"""
      }.mkString(",")
      val qps = all.size / wall
      val (hits, misses) = (QueryServer.planCacheHits.get(), QueryServer.planCacheMisses.get())
      System.err.println(f"[concbench] clients=$n: ${all.size} queries in $wall%.1f s " +
        f"(${qps}%.2f q/s), cache $hits hit / $misses miss")
      s"""{"clients":$n,"queries":${all.size},"wall_sec":${fmt(wall)},""" +
        s""""qps":${fmt(qps)},"cache_hits":$hits,"cache_misses":$misses,""" +
        s""""shapes":{$byShape}}"""
    }

    // fairness: 8 short clients (po_bound_count, the cheapest pruned
    // shape) racing one heavyweight client looping a full-scan count.
    // FAIR pools must keep the short p95 near its uncontended value
    // instead of the heavyweight's multi-second runtime.
    val heavy = Shape("full_scan_count",
      "SELECT (COUNT(?s) AS ?n) WHERE { ?s ?p ?o }", Some(s""""$total""""))
    val short = shapes.find(_.name == "po_bound_count").get
    val shortLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val heavyLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val heavyThread = new Thread(() => {
      val c = HttpClient.newHttpClient()
      while (!stop.get()) heavyLat.add(issue(c, heavy))
    }, "concbench-heavy")
    heavyThread.start()
    Thread.sleep(500) // let the heavyweight occupy the cluster first
    val shortThreads = (0 until 8).map { cid =>
      val t = new Thread(() => {
        val c = HttpClient.newHttpClient()
        for (_ <- 0 until rounds * 4) shortLat.add(issue(c, short))
      }, s"concbench-short-$cid")
      t.start(); t
    }
    shortThreads.foreach(_.join())
    stop.set(true)
    heavyThread.join()
    val shortLs = shortLat.toArray(Array.empty[java.lang.Double]).toSeq.map(_.doubleValue)
    val heavyLs = heavyLat.toArray(Array.empty[java.lang.Double]).toSeq.map(_.doubleValue)
    System.err.println(f"[concbench] fairness: short p95 ${pct(shortLs, 0.95)}%.3f s " +
      f"under a ${pct(heavyLs, 0.50)}%.1f s heavyweight loop (${heavyLs.size} heavy reps)")
    val fairness =
      s"""{"short_shape":"${short.name}","short_n":${shortLs.size},""" +
        s""""short_p50":${fmt(pct(shortLs, 0.50))},"short_p95":${fmt(pct(shortLs, 0.95))},""" +
        s""""heavy_shape":"${heavy.name}","heavy_n":${heavyLs.size},""" +
        s""""heavy_p50":${fmt(pct(heavyLs, 0.50))}}"""

    server.stop(0)
    println(s"""{"metric":"concurrency","quads":$total,"entities":$nE,""" +
      s""""rounds":$rounds,"levels":[${levelJson.mkString(",")}],""" +
      s""""fairness":$fairness,"failures":${failures.get()}}""")
    if (failures.get() > 0) sys.exit(1)
  }
}
