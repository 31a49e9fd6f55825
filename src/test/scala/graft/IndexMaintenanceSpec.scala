package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{IndexMaintenance, WikidataIngest}
import graft.sparql.Sparql

/** Incremental maintenance of the four-permutation store: the gate is
  * BIT-EQUALITY against a full rebuild — after appending a delta,
  * every query over every access path (main / subject / object / graph
  * permutation, labels) must return exactly what a from-scratch
  * `create-index` over base+delta returns.
  */
class IndexMaintenanceSpec extends SparkTestBase {

  // fixture quads split by document: the LAST dump line's graph is the
  // delta (its ords are already past the base's, so the append-path
  // ord offset reproduces full-ingest insertion order exactly)
  private lazy val all: DataFrame =
    WikidataIngest.ingest(spark, WikidataIngest.fixturePath).localCheckpoint()
  private lazy val deltaGraphKey: String =
    all.orderBy(col("ord").desc).select(col("graph.key")).head().getString(0)
  private lazy val base = all.filter(col("graph.key") =!= deltaGraphKey)
  private lazy val delta = all.filter(col("graph.key") === deltaGraphKey)

  // full rebuild over everything: the reference store to equal
  private lazy val fullIdx: String = {
    val flat = Workspace.scratch("graft-im-flatfull")
    val idx = Workspace.scratch("graft-im-idxfull")
    WikidataIngest.writeStore(spark, all, flat)
    WikidataIngest.createIndex(spark, flat, idx)
    idx
  }

  private def buildBaseIdx(): String = {
    val flat = Workspace.scratch("graft-im-flatbase")
    val idx = Workspace.scratch("graft-im-idxbase")
    WikidataIngest.writeStore(spark, base, flat)
    WikidataIngest.createIndex(spark, flat, idx)
    idx
  }

  // every access path: full scan, bound predicate (main copy), bound
  // subject (sub copy), bound object (obj copy), constant GRAPH (gr
  // copy), label service (labels table), path fixpoint
  private lazy val gateQueries: Seq[String] = {
    val dq = deltaGraphKey.stripPrefix("Q:")
    Seq(
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o }",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o }",
      s"SELECT ?p ?b WHERE { wd:Q$dq ?p ?b }",
      s"SELECT ?p2 ?b WHERE { ?b ?p2 wd:Q$dq }",
      s"SELECT ?s ?p ?o WHERE { GRAPH wd:Q$dq { ?s ?p ?o } }",
      s"""SELECT ?xLabel WHERE { VALUES ?x { wd:Q$dq } SERVICE wikibase:label {
         | bd:serviceParam wikibase:language "en". } }""".stripMargin,
      s"SELECT ?x WHERE { wd:Q$dq wdt:P47* ?x }")
  }

  private def results(q: String, dir: String): Seq[String] =
    Sparql.rendered(spark, q, dir).collect().map(_.toString).sorted.toSeq

  private def assertStoreEquals(idx: String, label: String): Unit =
    for (q <- gateQueries)
      assert(results(q, idx) === results(q, fullIdx), s"$label mismatch for: $q")

  test("append equals full rebuild on every access path (bit-equal gate)") {
    val idx = buildBaseIdx()
    // sanity: the delta entity is absent before the append
    assert(results(gateQueries(2), idx).isEmpty)
    val n = IndexMaintenance.appendToIndex(spark, idx, delta)
    assert(n === delta.count())
    assertStoreEquals(idx, "append")
    // meta advanced, marker cleared
    val meta = IndexMaintenance.readMeta(spark, idx)
    assert(meta.generation === 1L)
    assert(!new java.io.File(idx, IndexMaintenance.PendingMarker).exists())
  }

  test("repeated appends + compaction: results unchanged, files bounded") {
    val idx = buildBaseIdx()
    // three appends in ord order (chunk boundaries by ord tertiles keep
    // full-ingest insertion order reproducible)
    val ords = delta.select("ord").orderBy("ord").collect().map(_.getLong(0))
    val (t1, t2) = (ords(ords.length / 3), ords(2 * ords.length / 3))
    IndexMaintenance.appendToIndex(spark, idx, delta.filter(col("ord") <= t1))
    IndexMaintenance.appendToIndex(spark, idx,
      delta.filter(col("ord") > t1 && col("ord") <= t2))
    IndexMaintenance.appendToIndex(spark, idx, delta.filter(col("ord") > t2))
    assertStoreEquals(idx, "3-chunk append")

    def filesUnder(d: String): Int = {
      def walk(f: java.io.File): Int = {
        val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        cs.count(c => c.isFile && c.getName.endsWith(".parquet")) +
          cs.filter(_.isDirectory).map(walk).sum
      }
      walk(new java.io.File(d))
    }
    val before = filesUnder(idx)
    val compacted = IndexMaintenance.compactIndex(spark, idx, maxFilesPerPartition = 2)
    assert(compacted > 0, "appends must have created compactable partitions")
    val after = filesUnder(idx)
    assert(after < before, s"compaction must shrink file count ($before -> $after)")
    assertStoreEquals(idx, "post-compaction")
    assert(IndexMaintenance.readMeta(spark, idx).generation === 4L)
  }

  test("appended fanout bounds stay valid UPPER bounds (broadcast-hint safety)") {
    val idx = buildBaseIdx()
    IndexMaintenance.appendToIndex(spark, idx, delta)
    // true post-append degrees, recomputed from the maintained store
    def trueMax(side: String): Map[String, Long] =
      spark.read.parquet(s"$idx/statements.parquet")
        .groupBy(col("p.key").as("k"), col(s"$side.key").as("g")).count()
        .groupBy(col("k")).agg(max(col("count")).as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (tS, tO) = (trueMax("s"), trueMax("o"))
    val merged = WikidataIngest.predFanout(idx).get
    // sound: every maintained bound dominates the true degree (the
    // translator may only broadcast what the bound admits, so an
    // under-estimate here is a memory hazard at scale)
    for ((k, (ms, mo)) <- merged) {
      assert(ms >= tS.getOrElse(k, 0L), s"maxS bound for $k")
      assert(mo >= tO.getOrElse(k, 0L), s"maxO bound for $k")
    }
    // complete: every predicate in the store has a bound entry (the
    // fixture vocabulary is far under the 100k cap)
    assert(tS.keySet.subsetOf(merged.keySet))
  }

  test("a surviving pending marker makes maintenance refuse (crashed append)") {
    val idx = buildBaseIdx()
    val marker = new java.io.File(idx, IndexMaintenance.PendingMarker)
    marker.createNewFile()
    intercept[IllegalArgumentException] {
      IndexMaintenance.appendToIndex(spark, idx, delta)
    }
    intercept[IllegalArgumentException] {
      IndexMaintenance.compactIndex(spark, idx)
    }
    // repairCheck still quantifies the suspect store
    val counts = IndexMaintenance.repairCheck(spark, idx)
    assert(counts.keySet.contains("statements.parquet"))
    assert(counts("statements.parquet") === counts("statements_sub.parquet"))
    marker.delete()
    // cleared: maintenance proceeds
    assert(IndexMaintenance.appendToIndex(spark, idx, delta) > 0L)
  }

  test("truncated stats survive appends soundly (floor kept, no under-bounds)") {
    val idx = buildBaseIdx()
    // simulate a >100k-predicate store: rewrite the stats files so the
    // tables keep ONLY the hottest predicate, with a truncation floor
    // of 5 (any absent predicate may hold up to 5 quads). Computed
    // directly from parquet — the epoch-keyed caches must never see
    // the pre-rewrite parse.
    val trueCounts = spark.read.parquet(s"$idx/statements.parquet")
      .groupBy(col("p.key").as("k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (hotK, hotV) = trueCounts.maxBy(_._2)
    val floor = 5L
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val wc = new java.io.PrintWriter(s"$idx/pred_counts.json")
    try wc.write(s"""{"floor": $floor, "counts": {"${esc(hotK)}": $hotV}}""")
    finally wc.close()
    val wf = new java.io.PrintWriter(s"$idx/pred_fanout.json")
    try wf.write(s"""{"fanout": {"${esc(hotK)}|s": $hotV, "${esc(hotK)}|o": $hotV}}""")
    finally wf.close()

    IndexMaintenance.appendToIndex(spark, idx, delta)

    // floor preserved across the merge
    assert(WikidataIngest.predCountsFloor(idx) === floor)
    val merged = WikidataIngest.predCounts(idx).get
    val mergedFan = WikidataIngest.predFanout(idx).get
    val deltaCounts = delta.groupBy(col("p.key").as("k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a delta predicate ABSENT from the truncated table merges as
    // floor + delta (it may already hold up to `floor` quads in the
    // store), and gets NO delta-only fanout bound (absent-from-counts
    // no longer means new-to-store when the table is truncated)
    val absent = deltaCounts.keySet.filter(_ != hotK)
    assert(absent.nonEmpty, "fixture delta must carry non-hot predicates")
    for (k <- absent) {
      assert(merged(k) === floor + deltaCounts(k), s"count bound for $k")
      assert(!mergedFan.contains(k),
        s"$k admitted a delta-only fanout bound on a truncated table")
    }
  }

  test("streaming ord stamp is deterministic across read parallelism") {
    import graft.streaming.StreamingIngest
    val lines = spark.read.textFile(WikidataIngest.fixturePath)
    def stamped(parts: Int): DataFrame = StreamingIngest.stampDeterministicOrd(
      StreamingIngest.quadStreamKeyed(lines.repartition(parts)))
    def sig(df: DataFrame): Seq[String] = df
      .select(col("ord"), col("s.key"), col("p.key"), col("o.key"),
        col("id.key"), col("graph.key"))
      .collect().map(_.toString).sorted.toSeq
    // same lines, different read layouts → bit-identical ord
    // assignment (monotonically_increasing_id here would differ, and a
    // replayed micro-batch would break GROUP_CONCAT tie-break
    // determinism)
    val a = sig(stamped(1))
    val b = sig(stamped(7))
    assert(a === b)
    // dense 0..n-1: maxOrd offset arithmetic in appendToIndex stays
    // bounded by the true row count
    val ords = stamped(3).select(col("ord")).collect().map(_.getLong(0)).sorted
    assert(ords.toSeq === (0L until ords.length).toSeq)
  }

  test("replayed streaming micro-batch is skipped (idempotent recovery)") {
    val idx = buildBaseIdx()
    val n1 = IndexMaintenance.appendToIndex(spark, idx, delta, batchId = Some(7L))
    assert(n1 === delta.count())
    val n2 = IndexMaintenance.appendToIndex(spark, idx, delta, batchId = Some(7L))
    assert(n2 === 0L, "a replayed batch id must be a no-op")
    assertStoreEquals(idx, "batch replay")
    // a NEW batch id proceeds
    assert(IndexMaintenance.readMeta(spark, idx).lastBatch === 7L)
  }
}
