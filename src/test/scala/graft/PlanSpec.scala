package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, explode, lower, split}

import graft.pipeline.{Dedup, Sampling, Similarity, Sketches, TextAnalysis}
import graft.sparql.Sparql

/** Physical-plan guards: the properties that make these operators hold
  * up at scale (scan pushdown, broadcast dimension joins, no all-pairs
  * joins in the LSH family) asserted against the actual Spark plans so
  * a regression fails loudly.
  */
class PlanSpec extends SparkTestBase {

  private val dir = graft.ingest.WikidataIngest.defaultDir

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("bound-subject triple scan pushes the key equality into the parquet scan") {
    graft.ingest.WikidataIngest.statements(spark, dir)
    val df = Sparql.query(spark, "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }", dir)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(s.key,Q:31)"), s"missing pushed filter in:\n$plan")
  }

  test("constant GRAPH pushes the provenance-key equality into the scan") {
    val df = Sparql.query(spark,
      "SELECT ?s ?p ?o WHERE { GRAPH wd:Q31 { ?s ?p ?o } }", dir)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(graph.key,Q:31)"),
      s"missing pushed graph filter in:\n$plan")
  }

  test("bound-predicate scan pushes the predicate key and prunes columns") {
    val df = Sparql.query(spark,
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . }", dir)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(p.key,P:31)"))
    // projection pruning: the scan must not read the lexical columns
    assert(!plan.contains("s_lex"), "scan reads pre-rendered lex columns it doesn't need")
  }

  test("multi-join query plans a broadcast join for the dimension side") {
    val df = SparkEntry.queries("q21_multi_join")(spark, "/root/testdata/sf0.001")
    assert(planOf(df).contains("BroadcastHashJoin"))
  }

  test("LSH near-dup and ANN plans contain no cartesian/nested-loop join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nd = planOf(Dedup.minhashNearDup(docs, "text", "doc_id"))
    val ann = planOf(Similarity.lshTopK(emb, emb.limit(3), "embedding", "vec_id", k = 5))
    val ivf = planOf(Similarity.ivfTopK(emb, emb.limit(3), "embedding", "vec_id", k = 5))
    val end = planOf(Dedup.embeddingNearDup(emb, "embedding", "vec_id"))
    for ((name, p) <- Seq("minhash" -> nd, "ann" -> ann, "ivf" -> ivf, "embdup" -> end)) {
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plan has a nested-loop join")
    }
  }

  test("label-service lookup still broadcasts at fixture scale without a hard hint") {
    val df = Sparql.query(spark,
      """SELECT ?country ?countryLabel WHERE {
        |  ?country wdt:P31 wd:Q6256 .
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "en" . }
        |}""".stripMargin, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"label lookup not broadcast at fixture scale:\n$plan")
  }

  test("label-service drops the broadcast hint when the lookup exceeds the threshold") {
    graft.ingest.WikidataIngest.statements(spark, dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Sparql.query(spark,
        """SELECT ?country ?countryLabel WHERE {
          |  ?country wdt:P31 wd:Q6256 .
          |  SERVICE wikibase:label { bd:serviceParam wikibase:language "en" . }
          |}""".stripMargin, dir)
      val analyzed = df.queryExecution.analyzed.toString
      assert(!analyzed.toLowerCase.contains("hint"),
        s"hard broadcast hint present with threshold off:\n$analyzed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("label-service sort-merge fallback returns the same rows as the broadcast path") {
    // At full-Wikidata scale the labels lookup exceeds any broadcast
    // threshold and the join must degrade to a shuffled join without
    // changing results. Force the optimizer down that branch and
    // compare against the broadcast-path rows.
    val q =
      """SELECT ?country ?countryLabel WHERE {
        |  ?country wdt:P31 wd:Q6256 .
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "en" . }
        |}""".stripMargin
    val broadcastRows = Sparql.query(spark, q, dir).collect().map(_.toString).sorted
    assert(broadcastRows.nonEmpty)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Sparql.query(spark, q, dir)
      val plan = planOf(df)
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcast survived threshold=-1:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"no shuffled join in the fallback plan:\n$plan")
      assert(df.collect().map(_.toString).sorted.toSeq === broadcastRows.toSeq,
        "sort-merge fallback changed label-service results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SPARQL BGP join shuffles on key columns, not whole term structs") {
    val df = Sparql.query(spark,
      "SELECT ?p ?b ?p2 WHERE { wdt:Q31 ?p ?b . ?b ?p2 wdt:Q31 . }", dir)
    val plan = planOf(df)
    // the join condition compares coalesced key fields
    assert(plan.contains("key"), plan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("curation ops: no all-pairs joins, anti-join shapes, narrow sampling") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p1 = planOf(TextAnalysis.decontaminate(docs, "text", "doc_id",
      Seq("slow fast table").toDF("gram"), "gram", 3))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"))
    assert(p1.contains("LeftAnti"), "decontaminate must anti-join the hit list")
    val p2 = planOf(TextAnalysis.removeBoilerplateLines(docs, "text", "doc_id", 3L))
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"))
    val p3 = planOf(Dedup.dropNearDups(docs, Seq((1L, 2L)).toDF("id_a", "id_b"), "doc_id"))
    assert(p3.contains("LeftAnti"), "dropNearDups must anti-join the losers")
    // hash sampling is a narrow map: the predicate evaluates in the
    // scan stage, nothing shuffles
    val p4 = planOf(Sampling.sample(docs, "doc_id", 0.5))
    assert(!p4.contains("Exchange"), s"hash sample must not shuffle:\n$p4")
  }

  test("new pipeline ops keep their scale shapes: narrow chunking, one-shuffle cap") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // chunking is a pure map + explode: no shuffle at all
    val p1 = planOf(TextAnalysis.chunkWords(docs, "text", "doc_id", 40, 10))
    assert(!p1.contains("Exchange"), s"chunkWords must not shuffle:\n$p1")
    // the per-key cap shuffles exactly once (hash partition on the key
    // feeding the window; no extra repartition, no cartesian)
    val p2 = Sampling.capPerKey(docs, "doc_id", "source", 10)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p2).length === 1,
      s"capPerKey should shuffle once:\n$p2")
    // unigram scoring joins words to a post-aggregation vocabulary —
    // never an all-pairs join, and doc bodies don't reach the join. The
    // one BroadcastNestedLoopJoin allowed is the single-row corpus-total
    // broadcast (crossJoin(broadcast(1-row agg)) has no other physical
    // form); the word↔vocab join itself must be a hash join.
    val lp = TextAnalysis.unigramLogProb(docs, "text", "doc_id")
    val p3 = lp.queryExecution.executedPlan.toString // one line per node
    assert(!p3.contains("CartesianProduct"), s"unigramLogProb cartesian:\n$p3")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p3).length <= 1,
      s"only the 1-row total broadcast may be a BNLJ:\n$p3")
    assert(p3.contains("BroadcastHashJoin") || p3.contains("SortMergeJoin"),
      s"word-vocab join must be a hash/merge join:\n$p3")
    // the corpus census shuffles histogram rows, not documents: the
    // aggregation keyed on (lang, n_words) runs before any window
    val p4 = planOf(TextAnalysis.corpusStats(docs, "text", "doc_id"))
    assert(!p4.contains("CartesianProduct"))
    // sequence packing shuffles once, on the bounded pack group feeding
    // the cumulative-token window — never a single-partition global sort
    val p5 = TextAnalysis.packSequences(docs, "text", "doc_id", 512, 128)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p5).length === 1,
      s"packSequences should shuffle once on pack_group:\n$p5")
    assert(!p5.contains("Exchange SinglePartition"),
      s"packSequences must not serialize into one partition:\n$p5")
    // heavy hitters: the candidate in-set prune runs below the one
    // aggregation exchange, so only candidate rows ever shuffle
    val words = docs.select(explode(split(lower(col("text")), "\\s+")).as("word"))
    val p6 = Sketches.heavyHitters(words, "word", 0.002)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p6).length === 1,
      s"heavyHitters recount should shuffle once:\n$p6")
    assert(p6.contains("INSET") || p6.contains(" IN ("),
      s"candidate prune should compile to a set probe in the scan stage:\n$p6")
  }

  test("bloom decontamination is a narrow map; semdedup joins once on cell") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // the corpus-side flag path: scan → filter → project, nothing else —
    // no explode, no join, no shuffle (the sketch is a plan literal)
    val p1 = TextAnalysis.bloomContaminated(docs, "text", "doc_id",
      Seq("slow fast table").toDF("gram"), "gram", n = 3)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Join"), s"bloom flag path must not join:\n$p1")
    assert(!p1.contains("Exchange"), s"bloom flag path must not shuffle:\n$p1")
    assert(!p1.contains("Generate"), s"bloom flag path must not explode:\n$p1")
    // semdedup: the within-cell pair join is an equi-join on cell id,
    // never an all-pairs plan
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val p2 = Dedup.semanticNearDup(emb, "embedding", "vec_id", nlist = 4)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"), s"semdedup all-pairs:\n$p2")
    assert(!p2.contains("BroadcastNestedLoopJoin"), s"semdedup nested loop:\n$p2")
  }

  test("DSIR/shuffle/cross-dedup keep scale shapes: broadcast ratio, take-ordered head, bucket equi-join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // DSIR scoring: the ≤numBuckets-row log-ratio table joins the
    // exploded corpus broadcast; the only nested-loop shapes allowed
    // are the 1-row total attaches
    val p1 = TextAnalysis.dsirLogWeights(docs,
      docs.filter(col("lang") === "en"),
      "text", "doc_id", numBuckets = 64)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct"), s"dsir cartesian:\n$p1")
    assert(p1.contains("BroadcastHashJoin"), s"dsir ratio join not broadcast:\n$p1")
    // a LIMIT head of the deterministic shuffle is a take-ordered, not
    // a full range-partitioned sort
    val p2 = Sampling.deterministicShuffle(docs, "doc_id", "e")
      .select("doc_id", "shuffle_key").limit(50)
      .queryExecution.executedPlan.toString
    assert(p2.contains("TakeOrderedAndProject"), s"shuffle head not take-ordered:\n$p2")
    // cross-corpus candidates come from the (band, bucket) equi-join —
    // never an all-pairs plan between the corpora
    val p3 = Dedup.crossCorpusNearDup(
      docs.filter(col("doc_id") < 30),
      docs.filter(col("doc_id") >= 30),
      "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p3.contains("CartesianProduct"), s"cross-dedup all-pairs:\n$p3")
    assert(!p3.contains("BroadcastNestedLoopJoin"), s"cross-dedup nested loop:\n$p3")
  }

  test("bucketed co-located join: merge join with no exchange below it") {
    // force the merge-join path (at fixture scale Catalyst would
    // rightly broadcast; at 100 TB neither side fits — this pins the
    // plan that configuration gets)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    // honor the per-bucket sortBy metadata (Spark ignores it by
    // default because a multi-file bucket would need a merge read;
    // writeBucketed guarantees one pre-sorted file per bucket)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", true)
    try {
      val df = graft.queries.RelationalQueries
        .queries("q39_bucketed_join")(spark, "/root/testdata/sf0.001")
      val p = df.queryExecution.executedPlan.toString
      val smj = p.indexOf("SortMergeJoin")
      assert(smj >= 0, s"no merge join in bucketed plan:\n$p")
      val below = p.substring(smj)
      // bucket i reads against bucket i: nothing moves, nothing re-sorts
      assert(!below.contains("Exchange"), s"exchange below the bucketed join:\n$p")
      assert(!below.contains("Sort "), s"re-sort below the bucketed join:\n$p")
      // and the layout must never change answers: same rows as the
      // unbucketed plain-join plan
      val plain = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .join(Tables.orders(spark, "/root/testdata/sf0.001"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"))
      val got = df.select("o_orderpriority", "n_lines").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = plain.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", false)
    }
  }

  test("temperature resample broadcasts the rate table; corpus side never shuffles") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = Sampling.temperatureResample(docs, "doc_id", "lang", 0.3, "t")
      .queryExecution.executedPlan.toString
    // the per-key keep rates attach via broadcast — the documents side
    // of the join must not move (no shuffle exchange above its scan)
    assert(p.contains("BroadcastHashJoin"), s"rate join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"resample cartesian:\n$p")
    val joinDown = p.substring(p.indexOf("BroadcastHashJoin"))
    val corpusScan = joinDown.indexOf("Scan parquet")
    assert(corpusScan >= 0 && !joinDown.substring(0, corpusScan)
        .contains("Exchange hashpartitioning"),
      s"corpus side shuffles before the rate join:\n$p")
  }

  test("quantization is a narrow map; indexed IVF search prunes cell partitions") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // quantize/dequantize: pure per-row math, no shuffle/join/explode
    val p1 = emb.withColumn("q", Similarity.quantizeInt8(col("embedding")))
      .withColumn("r", Similarity.dequantizeInt8(col("q")))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"quantization must not shuffle:\n$p1")
    assert(!p1.contains("Join"), s"quantization must not join:\n$p1")
    // indexed search: equi-join on the PARTITION column — no all-pairs,
    // and the vectors scan is partition-filtered (static or dynamic)
    val dir = Workspace.scratch("graft-ivf-plan")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, nlist = 4)
    val idx = Similarity.ivfTopKIndexed(emb.filter(col("vec_id") < 3), dir,
      "embedding", "vec_id", k = 5, nprobe = 2)
    val p2 = idx.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"), s"indexed IVF all-pairs:\n$p2")
    assert(!p2.contains("BroadcastNestedLoopJoin"), s"indexed IVF nested loop:\n$p2")
    assert(p2.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p2")
  }

  test("IVF-PQ search joins codes-only on the cell partition column") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Workspace.scratch("graft-ivfpq-plan")
    graft.pipeline.Pq.buildIvfPqIndex(emb, "embedding", "vec_id", dir,
      nlist = 4, m = 8, ksub = 16)
    val idx = graft.pipeline.Pq.ivfPqTopKIndexed(emb.filter(col("vec_id") < 3),
      dir, "embedding", "vec_id", k = 5, nprobe = 2)
    val p = planOf(idx)
    assert(!p.contains("CartesianProduct"), s"IVF-PQ all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
    // the corpus-side scan of the code table must never read a float
    // vector — codes are the only payload crossing the join (the whole
    // point of PQ at 100 TB)
    val scanSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val codeScan = scanSchemas.find(_.contains("codes"))
    assert(codeScan.isDefined, s"no codes scan found:\n$p")
    assert(!codeScan.get.contains("embedding"),
      s"code-table scan reads float vectors:\n${codeScan.get}")
  }

  test("capped containment keeps the fingerprint equi-join; cap is an anti-join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = Dedup.containmentPairs(docs, "text", "doc_id",
      k = 3, w = 4, minShared = 2, maxDocFreq = 100)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"containment all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"containment nested loop:\n$p")
    // the document-frequency cutoff is a left-anti join against the hot
    // fingerprint set, applied before the pair self-join
    assert(p.contains("LeftAnti"), s"maxDocFreq cutoff missing:\n$p")
  }

  test("span removal joins only on hash/doc-id equality — no all-pairs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = Dedup.removeDupSpans(docs, "text", "doc_id", k = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"span removal all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"span removal nested loop:\n$p")
  }

  test("salted join keys the join on (key, salt) and stays an equi-join") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dim = docs.select(col("source")).distinct()
      .withColumn("tag", org.apache.spark.sql.functions.lit("t"))
    val j = graft.operators.Skew.saltedEquiJoin(
      docs.select(col("doc_id"), col("source")), dim, "source", salts = 4)
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("__salt"), s"salt column missing from join keys:\n$opt")
    val p = j.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted join must stay an equi-join:\n$p")
  }

  test("correlated scalar subquery decorrelates to an aggregate equi-join") {
    val df = SparkEntry.queries("q36_corr_subquery")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // Catalyst must rewrite the per-row subquery into one aggregate
    // joined back on the correlation key — no nested-loop re-execution
    assert(!p.contains("CartesianProduct"), s"q36 cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q36 nested loop:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), s"q36 no aggregate:\n$p")
    assert(p.contains("Join"), s"q36 not decorrelated into a join:\n$p")
  }

  test("optimizer fence keeps hoisted FILTER operands from re-inlining") {
    // YEAR(?d) is hoisted to a temp; without the fence,
    // PushPredicateThroughNonJoin substitutes the temp's defining CASE
    // tree into every one of the comparison's ~30 operand references
    // (74KB optimized plan, codegen 64KB overflow, ~2s per run).
    val df = Sparql.query(spark,
      "SELECT ?s ?d WHERE { ?s wdt:P571 ?d . FILTER(YEAR(?d) >= 1800) }", dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_fence"), "fence optimized away")
    val floors = "FLOOR".r.findAllIn(optimized).length
    assert(floors <= 4,
      s"YEAR operand duplicated $floors times — fence not blocking inlining")
    // the scan-level predicate still reaches parquet
    assert(planOf(df).contains("EqualTo(p.key,P:571)"))
  }
}
