package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Export, Incremental, Multimodal, Pq, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}

/** Behavior tests for the LLM-data-pipeline operators on controlled
  * inputs plus the sf0.001 synthetic tables (recall measurement for the
  * LSH ANN path, detection guarantees for the dedup family).
  */
class PipelineSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  import spark.implicits._

  private lazy val dupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely unrelated text about spark engines and parquet files"),
    (5L, "")).toDF("doc_id", "text")

  // ---- sampling / splitting -------------------------------------------

  test("hash split partitions every row, deterministically, repartition-stable") {
    val ids = spark.range(1000).withColumnRenamed("id", "doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = Sampling.assignSplits(ids, "doc_id", splits, salt = "s1")
    val byName = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum === 1000L) // total partition: nothing dropped
    assert(byName("train") > 700L && byName("train") < 880L)
    // the assignment is a pure function of the id — repartitioning must
    // not move any row to a different split (rand(seed) would)
    val s2 = Sampling.assignSplits(ids.repartition(7), "doc_id", splits, salt = "s1")
    assert(s1.alias("a").join(s2.alias("b"), "doc_id")
      .filter(col("a.split") =!= col("b.split")).isEmpty)
  }

  test("hash sample: bounds, subset, and cross-table consistency") {
    val ids = spark.range(1000).withColumnRenamed("id", "doc_id")
    assert(Sampling.sample(ids, "doc_id", 0.0).count() === 0L)
    assert(Sampling.sample(ids, "doc_id", 1.0).count() === 1000L)
    val a = Sampling.sample(ids, "doc_id", 0.3, "x").collect().map(_.getLong(0)).toSet
    assert(a.size > 200 && a.size < 400)
    // the same ids are drawn from any table keyed the same way, so
    // joins between independently sampled tables stay dense
    val other = ids.withColumn("payload", col("doc_id") * 2)
    val b = Sampling.sample(other, "doc_id", 0.3, "x").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("stratified sample keeps fraction-1 strata whole and drops fraction-0") {
    val df = spark.range(200)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "common").otherwise("rare").as("k"))
    val out = Sampling.stratifiedSample(df, "doc_id", col("k"),
      Map("common" -> 0.0, "rare" -> 1.0), default = 0.0)
    val kept = out.collect().map(_.getLong(0))
    assert(kept.length === 100)
    assert(kept.forall(_ % 2 === 1))
  }

  // ---- dedup ----------------------------------------------------------

  test("exact dedup keeps one row per distinct text, lowest id") {
    val out = Dedup.exact(dupDocs, "text", "doc_id").collect()
    assert(out.length === 4) // 1/2 collapse
    val kept = out.map(_.getLong(1)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
  }

  test("dropExactDups keeps full rows of the lowest-id text per hash") {
    val kept = Dedup.dropExactDups(dupDocs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet === Set(1L, 3L, 4L, 5L))
    assert(kept(1L).startsWith("the quick brown fox")) // columns intact
  }

  test("minhash LSH finds the exact duplicate pair with jaccard 1.0") {
    val out = Dedup.minhashNearDup(dupDocs, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.9).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(2) == 1.0))
  }

  test("minhash LSH finds the near-dup pair above a lower threshold") {
    val out = Dedup.minhashNearDup(dupDocs, "text", "doc_id",
      numHashes = 64, bands = 32, threshold = 0.7).collect()
    // fox/dog vs fox/cat share 8 of 10 distinct words → jaccard 0.8
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 3L))
  }

  test("simhash near-dup: identical docs at hamming 0; pairs deduped") {
    val out = Dedup.simhashNearDup(dupDocs, "text", "doc_id", maxHamming = 3).collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
    val pairKeys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairKeys.distinct.length === pairKeys.length, "banding must not duplicate pairs")
  }

  test("near-dup clusters: chains, cliques and singletons get min-id labels") {
    // components: {1,2,3,4} (a chain), {5,6}, {8,9,10}; 7 in no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 9L), (9L, 10L), (8L, 10L))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("near-dup clusters: pointer jumping converges a long chain fast") {
    // a 64-node chain has diameter 63; pointer jumping must label it
    // min-id well inside the default iteration budget
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(chain, maxIters = 12).collect()
    assert(got.length === 64)
    assert(got.forall(_.getLong(1) == 0L))
  }

  test("direct cluster path equals pair-expansion clustering, row for row") {
    // exact-dup groups (identical shingle sets) AND a cross-group
    // near-dup chain, so both the within-group and the linked cases
    // are exercised
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (4L, "alpha beta gamma delta epsilon eta"),    // near-dup of 1
      (5L, "totally different words entirely here now"),
      (6L, "totally different words entirely here now"), // exact dup of 5
      (7L, "unrelated singleton document text"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPairs = rows(Dedup.nearDupClusters(
      Dedup.minhashNearDup(docs, "text", "doc_id", shingleN = 2,
        numHashes = 64, bands = 16, threshold = 0.6)))
    val direct = rows(Dedup.minhashNearDupClusters(docs, "text", "doc_id",
      shingleN = 2, numHashes = 64, bands = 16, threshold = 0.6))
    assert(direct === viaPairs)
    assert(direct.nonEmpty)
    assert(!direct.exists(_._1 == 7L)) // the true singleton stays out
  }

  test("near-dup clusters match a union-find reference on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minOf = (0 until n).groupBy(find).map { case (r, ms) => r -> ms.min.toLong }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> minOf(find(id.toInt))).toMap
      val got = Dedup.nearDupClusters(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("driver union-find and distributed fixpoint produce identical clusters") {
    // the measured-size plan choice must be invisible: same rows from
    // the under-budget driver path and the forced distributed loop,
    // for numeric AND string ids (and a string chain exercises the
    // lexicographic min)
    val rnd = new scala.util.Random(11)
    val longPairs = Seq.fill(40)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val strPairs = Seq(("d", "b"), ("b", "c"), ("x", "y"), ("c", "a"))
      .toDF("id_a", "id_b")
    for (pairs <- Seq(longPairs, strPairs)) {
      val viaDriver = Dedup.nearDupClusters(pairs).collect()
        .map(r => (r.get(0), r.get(1))).toSet
      spark.conf.set("spark.graft.clusters.driverMaxEdges", "0")
      val viaLoop = try Dedup.nearDupClusters(pairs).collect()
        .map(r => (r.get(0), r.get(1))).toSet
      finally spark.conf.unset("spark.graft.clusters.driverMaxEdges")
      assert(viaDriver === viaLoop)
      assert(viaDriver.nonEmpty)
    }
  }

  test("near-dup clustering and dedup handle an empty pair set") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupClusters(noPairs).count() === 0L)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.dropNearDups(docs, noPairs, "doc_id").count() === 2L)
  }

  test("hash sampling is monotone in the fraction (nested samples)") {
    val ids = spark.range(500).withColumnRenamed("id", "doc_id")
    val small = Sampling.sample(ids, "doc_id", 0.2, "m").collect().map(_.getLong(0)).toSet
    val big = Sampling.sample(ids, "doc_id", 0.6, "m").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big)) // threshold draws nest: a 20% sample is inside the 60%
    assert(small.nonEmpty && big.size < 500)
  }

  test("dropNearDups keeps the canonical member and untouched docs") {
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDups(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L, 7L, 8L, 9L, 10L))
  }

  test("embedding near-dup finds identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f, -1.0f)),
      (2L, Array(1.0f, 0.0f, 2.0f, -1.0f)),
      (3L, Array(-3.0f, 1.0f, 0.5f, 4.0f))).toDF("vec_id", "v")
    val out = Dedup.embeddingNearDup(vecs, "v", "vec_id", planes = 8, threshold = 0.99)
      .collect()
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!out.exists(r => r.getLong(1) == 3L))
  }

  // ---- similarity search ----------------------------------------------

  test("LSH ANN recall@10 vs brute force is usable on sf0.001 embeddings") {
    val probes = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10))
    // synthetic embeddings are near-random — the hardest case for LSH
    // (neighbor/non-neighbor cosine gap is tiny). 6 planes × 8 tables
    // trades candidate volume for recall; real clustered data needs far
    // fewer candidates for the same recall.
    val approx = pairs(Similarity.lshTopK(emb, probes, "embedding", "vec_id",
      k = 10, planes = 6, tables = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, f"LSH recall@10 too low: $recall%.3f")
  }

  test("IVF ANN recall@10 vs brute force on sf0.001 embeddings") {
    val probes = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10))
    // near-random embeddings are the IVF worst case too (cells carve
    // the sphere but neighbors barely cluster); nprobe=8 of nlist=16
    // scans half the corpus and must recover most true neighbors
    val approx = pairs(Similarity.ivfTopK(emb, probes, "embedding", "vec_id",
      k = 10, nlist = 16, nprobe = 8))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall@10 too low: $recall%.3f")
  }

  test("IVF centroids are deterministic, unit-norm, and cover the corpus") {
    val c1 = Similarity.trainCentroids(emb, "embedding", "vec_id", nlist = 8)
    val c2 = Similarity.trainCentroids(emb, "embedding", "vec_id", nlist = 8)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq, "training not deterministic")
    for (c <- c1) {
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n != 1")
    }
    // every corpus vector lands in some cell and cells are non-degenerate
    val cells = Similarity.ivfTopK(emb, emb.limit(1), "embedding", "vec_id", k = 1)
    assert(cells.count() >= 1)
  }

  test("PqAdc sums the LUT entries the codes select; bad codes null out") {
    import spark.implicits._
    val df = Seq(
      (Array(1.toByte, 0.toByte), Array(10.0, 20.0, 30.0, 40.0)),
      (Array(0.toByte, 1.toByte), Array(10.0, 20.0, 30.0, 40.0)))
      .toDF("codes", "lut")
    val out = df.select(Pq.adc(col("codes"), col("lut"), ksub = 2).as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(20.0 + 30.0, 10.0 + 40.0))
    // code 5 >= ksub → null, never a silent wrong sum
    val bad = Seq((Array(5.toByte), Array(1.0, 2.0))).toDF("codes", "lut")
      .select(Pq.adc(col("codes"), col("lut"), ksub = 2).as("s")).collect()
    assert(bad.head.isNullAt(0))
    // int-array codes (the encode() output family) agree with the
    // packed-binary path
    val arr = Seq((Array(1, 0), Array(10.0, 20.0, 30.0, 40.0)))
      .toDF("codes", "lut")
      .select(Pq.adc(col("codes"), col("lut"), ksub = 2).as("s")).collect()
    assert(arr.head.getDouble(0) === 20.0 + 30.0)
    // byte codes are UNSIGNED: code 200 is stored as the negative JVM
    // byte -56 and must select lut(200), not null out (the ksub>128
    // regression) — byte-array and packed-binary paths alike
    val lut256 = Array.tabulate(256)(_.toDouble)
    // Array[Byte] encodes as BinaryType — the packed path
    val hiBin = Seq((Array(200.toByte), lut256)).toDF("codes", "lut")
      .select(Pq.adc(col("codes"), col("lut"), ksub = 256).as("s")).collect()
    assert(hiBin.head.getDouble(0) === 200.0)
    // explicit array<byte> — the element path
    val hiArr = Seq(lut256).toDF("lut")
      .select(Pq.adc(array(lit(200.toByte)), col("lut"), ksub = 256).as("s"))
      .collect()
    assert(hiArr.head.getDouble(0) === 200.0)
  }

  test("PQ train is deterministic; encode yields m in-range codes") {
    val cb1 = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val cb2 = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    assert(cb1.cents.map(_.map(_.toSeq).toSeq).toSeq ===
      cb2.cents.map(_.map(_.toSeq).toSeq).toSeq, "training not deterministic")
    assert(cb1.m === 8 && cb1.ksub === 16 && cb1.dsub === 8)
    val codes = emb.select(Pq.encode(cb1, Pq.normalize(col("embedding"))).as("c"))
      .collect().map(_.getSeq[Byte](0))
    assert(codes.forall(_.length == 8))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)), "code out of range")
    // codebooks are actually used: not every vector collapses to one code word
    assert(codes.map(_.toSeq).distinct.length > 10, "degenerate encoding")
  }

  test("PQ ADC approximates cosine: rank correlation and planted-dup top-1") {
    // ADC score vs exact cosine over a probe's full corpus scores —
    // quantization is coarse (ksub=16 per 8-dim subspace) but must
    // preserve the ORDER well enough to rank: Spearman-ish check via
    // Pearson on the two score columns.
    val cb = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val probe = emb.filter(col("vec_id") === 0)
    val scored = emb.filter(col("vec_id") =!= 0)
      .crossJoin(probe.select(Pq.lut(cb, Pq.normalize(col("embedding"))).as("lut"),
        Pq.normalize(col("embedding")).as("pv")))
      .select(
        Pq.adc(Pq.encode(cb, Pq.normalize(col("embedding"))), col("lut"), cb.ksub).as("adc"),
        Similarity.cosine(col("embedding"), col("pv")).as("cos"))
    val corrVal = scored.agg(corr(col("adc"), col("cos"))).collect()(0).getDouble(0)
    assert(corrVal > 0.5, f"ADC-cosine correlation too low: $corrVal%.3f")
  }

  test("PQ ANN recall@10 vs brute force on sf0.001 embeddings") {
    val probes = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10))
    // near-random embeddings + the coarsest quantizer here (8 bytes per
    // 64-dim vector): the gate checks the ADC ranking is faithful
    // plumbing, not faiss-grade recall on adversarial data
    val approx = pairs(Pq.pqTopK(emb, probes, "embedding", "vec_id",
      k = 10, m = 8, ksub = 16))
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"PQ recall@10 = $recall%.3f")
    assert(recall >= 0.3, f"PQ recall@10 too low: $recall%.3f")
  }

  test("IVF-PQ persisted index round-trips and searches with usable recall") {
    val dir = Workspace.scratch("graft-ivfpq")
    Pq.buildIvfPqIndex(emb, "embedding", "vec_id", dir, nlist = 8, m = 8, ksub = 16)
    // stored layout: codes only (plus the v3 generation stamp), no
    // float vectors at rest
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.columns.toSet === Set("vec_id", "codes", "cell", "gen"))
    assert(vecs.count() === emb.count())
    val probes = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10))
    val approx = pairs(Pq.ivfPqTopKIndexed(probes, dir, "embedding", "vec_id",
      k = 10, nprobe = 6))
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF-PQ recall@10 = $recall%.3f")
    assert(recall >= 0.25, f"IVF-PQ recall@10 too low: $recall%.3f")
    // exact re-rank of the ADC shortlist lifts recall strictly above
    // the pure-ADC ranking (faiss two-stage contract) — candidates it
    // keeps are re-scored with true cosine, so any true neighbor in
    // the shortlist lands in the final top-k
    val reranked = pairs(Pq.ivfPqTopKIndexed(probes, dir, "embedding", "vec_id",
      k = 10, nprobe = 6, rerankWith = Some(emb), rerank = 8))
    val rr = (exact & reranked).size.toDouble / exact.size
    info(f"IVF-PQ reranked recall@10 = $rr%.3f")
    assert(rr >= recall, f"re-rank reduced recall: $rr%.3f < $recall%.3f")
    assert(rr >= 0.5, f"re-ranked recall@10 too low: $rr%.3f")
  }

  test("PQ rerank recovers near-exact recall from the coarse shortlist") {
    val probes = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10))
    val reranked = pairs(Pq.pqTopK(emb, probes, "embedding", "vec_id",
      k = 10, m = 8, ksub = 16, rerank = 8))
    val recall = (exact & reranked).size.toDouble / exact.size
    info(f"PQ reranked recall@10 = $recall%.3f")
    assert(recall >= 0.6, f"PQ reranked recall@10 too low: $recall%.3f")
  }

  test("IVF append assigns with stored centroids and searches appended twins") {
    val dir = Workspace.scratch("graft-ivf-app")
    val base = emb.filter(col("vec_id") >= 10)
    Similarity.buildIvfIndex(base, "embedding", "vec_id", dir, nlist = 8)
    val centsBefore = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
    val newcomers = emb.filter(col("vec_id") < 10)
    Similarity.appendToIvfIndex(newcomers, "embedding", "vec_id", dir)
    // centroids untouched: append never retrains
    val centsAfter = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
    assert(centsAfter === centsBefore)
    assert(spark.read.parquet(s"$dir/vectors").count() === emb.count())
    // probing with an appended vector's embedding finds itself (cos ~1)
    val hits = Similarity.ivfTopKIndexed(
      newcomers.select((col("vec_id") + 500).as("vec_id"), col("embedding")),
      dir, "embedding", "vec_id", k = 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0 until 10).forall(i => hits.get(i + 500L).contains(i.toLong)),
      s"appended vectors not found as top-1: $hits")
  }

  test("IVF compaction shrinks fragmented cells; rows and search results unchanged") {
    val dir = Workspace.scratch("graft-ivf-compact")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 100),
      "embedding", "vec_id", dir, nlist = 4)
    // 10 small appends fragment every cell well past the threshold
    for (i <- 0 until 10)
      Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") >= i * 10 && col("vec_id") < (i + 1) * 10),
        "embedding", "vec_id", dir)
    def cellFiles(): Map[String, Int] =
      new java.io.File(s"$dir/vectors").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap
    def snapshot(): (Long, Long) = {
      val v = spark.read.parquet(s"$dir/vectors")
      (v.count(), v.agg(bit_xor(xxhash64(col("vec_id")))).head().getLong(0))
    }
    val probes = emb.filter(col("vec_id") < 5)
    def search(): Set[(Long, Long)] =
      Similarity.ivfTopKIndexed(probes, dir, "embedding", "vec_id", k = 5, nprobe = 2)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (filesBefore, snapBefore, resBefore) = (cellFiles(), snapshot(), search())
    assert(filesBefore.values.exists(_ > 4), s"fixture must fragment: $filesBefore")
    val n = Similarity.compactIvfIndex(spark, dir, maxFilesPerCell = 4)
    assert(n === filesBefore.count(_._2 > 4), s"compacted $n of $filesBefore")
    val filesAfter = cellFiles()
    assert(filesAfter.keySet === filesBefore.keySet, "cell set must not change")
    filesAfter.foreach { case (cell, files) =>
      if (filesBefore(cell) > 4) assert(files === 1, s"$cell still has $files files")
      else assert(files === filesBefore(cell), s"$cell was rewritten needlessly")
    }
    assert(snapshot() === snapBefore, "rows/ids must survive compaction")
    assert(search() === resBefore, "search results must survive compaction")
    // idempotent: a second pass finds nothing to do
    assert(Similarity.compactIvfIndex(spark, dir, maxFilesPerCell = 4) === 0)
  }

  test("tombstones hide ids from indexed search; a same-gen append re-adds them") {
    val dir = Workspace.scratch("graft-ivf-tomb")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, nlist = 4)
    val probe = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 900).as("vec_id"), col("embedding"))
    def top1(): Long =
      Similarity.ivfTopKIndexed(probe, dir, "embedding", "vec_id", k = 1, nprobe = 4)
        .collect()(0).getLong(1)
    assert(top1() === 0L, "before tombstoning, the twin is the top hit")
    Similarity.tombstoneIvfIds(
      emb.filter(col("vec_id") < 2).select("vec_id"), "vec_id", dir, gen = 1L)
    assert(top1() !== 0L, "tombstoned id must not be returned")
    assert(top1() !== 1L)
    // same-gen append re-adds the id (the changed-vector replace path)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") === 0),
      "embedding", "vec_id", dir, gen = 1L)
    assert(top1() === 0L, "re-added id is live again")
  }

  test("incrementalIvfUpdate: delta-updated index contents equal a full rebuild") {
    val oldSnap = emb.filter(col("vec_id") % 7 =!= 0)
      .withColumn("embedding", when(col("vec_id") % 5 === 0,
        reverse(col("embedding"))).otherwise(col("embedding")))
    val newSnap = emb.filter(col("vec_id") % 11 =!= 0)
    val inc = Workspace.scratch("graft-inc")
    val full = Workspace.scratch("graft-fullrb")
    Similarity.buildIvfIndex(oldSnap, "embedding", "vec_id", inc, nlist = 4)
    val acted = Incremental.incrementalIvfUpdate(oldSnap, newSnap,
      "vec_id", "embedding", inc)
    // the diff covers added (%7==0 unless %11==0), removed (%11==0),
    // changed (%5==0 survivors) — and nothing else
    val statuses = acted.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses.forall { case (id, st) => st match {
      case "added"   => id % 7 == 0 && id % 11 != 0
      case "removed" => id % 11 == 0 && id % 7 != 0
      case "changed" => id % 5 == 0 && id % 7 != 0 && id % 11 != 0
      case _         => false
    }}, s"unexpected statuses: $statuses")
    Similarity.buildIvfIndex(newSnap, "embedding", "vec_id", full, nlist = 4)
    val row = Incremental.compareIvfContents(spark, inc, full, "vec_id").collect()(0)
    val expected = newSnap.count()
    assert(row.getLong(0) === expected && row.getLong(1) === expected)
    assert(row.getBoolean(2), "live contents must be bit-equal to the rebuild")
  }

  test("adds-only incremental update leaves an appendable index (empty tombstones)") {
    // an adds-only delta writes an EMPTY tombstones append — the dir
    // exists with zero rows, shadows nothing, and the NEXT append must
    // proceed (regression: max over the empty table is null and the
    // shadow guard NPE'd instead of passing)
    val a = emb.filter(col("vec_id") < 200)
    val b = emb.filter(col("vec_id") < 260) // pure additions
    val inc = Workspace.scratch("graft-inc3")
    Similarity.buildIvfIndex(a, "embedding", "vec_id", inc, nlist = 4)
    val d = Incremental.incrementalIvfUpdate(a, b, "vec_id", "embedding", inc)
    assert(d.collect().forall(_.getString(1) == "added"))
    // next increment (also adds-only) goes through the guarded append
    val c = emb.filter(col("vec_id") < 300)
    Incremental.incrementalIvfUpdate(b, c, "vec_id", "embedding", inc)
    val full = Workspace.scratch("graft-full3")
    Similarity.buildIvfIndex(c, "embedding", "vec_id", full, nlist = 4)
    val row = Incremental.compareIvfContents(spark, inc, full, "vec_id").collect()(0)
    assert(row.getLong(0) === 300L && row.getLong(1) === 300L && row.getBoolean(2))
  }

  test("repeated incremental updates stay monotonic via auto generations") {
    // three snapshots: each update must kill what the PREVIOUS update
    // wrote — a fixed generation would leave stale copies live
    val a = emb.filter(col("vec_id") < 300)
    val b = emb.filter(col("vec_id") < 400)
      .withColumn("embedding", when(col("vec_id") % 5 === 0,
        reverse(col("embedding"))).otherwise(col("embedding")))
    val c = emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") < 400)
    val inc = Workspace.scratch("graft-inc2")
    val full = Workspace.scratch("graft-full2")
    Similarity.buildIvfIndex(a, "embedding", "vec_id", inc, nlist = 4)
    Incremental.incrementalIvfUpdate(a, b, "vec_id", "embedding", inc)
    Incremental.incrementalIvfUpdate(b, c, "vec_id", "embedding", inc)
    Similarity.buildIvfIndex(c, "embedding", "vec_id", full, nlist = 4)
    val row = Incremental.compareIvfContents(spark, inc, full, "vec_id").collect()(0)
    val expected = c.count()
    assert(row.getLong(0) === expected, s"stale copies survived: $row")
    assert(row.getLong(1) === expected)
    assert(row.getBoolean(2), s"contents diverged after two updates: $row")
  }

  test("default-gen append into a tombstoned index fails loudly, never silently") {
    val dir = Workspace.scratch("graft-ivf-shadow")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, nlist = 4)
    Similarity.tombstoneIvfIds(
      emb.filter(col("vec_id") < 2).select("vec_id"), "vec_id", dir, gen = 3L)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") === 0),
        "embedding", "vec_id", dir) // default gen=0 < tombstone gen 3
    }
    assert(e.getMessage.contains("shadowed"), e.getMessage)
    assert(Similarity.nextIndexGen(spark, dir) === 4L)
  }

  test("IVF-PQ search honors tombstones like the IVF index") {
    val dir = Workspace.scratch("graft-ivfpq-tomb")
    Pq.buildIvfPqIndex(emb, "embedding", "vec_id", dir, nlist = 4, m = 8, ksub = 16)
    val probe = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 900).as("vec_id"), col("embedding"))
    def top1(): Long =
      Pq.ivfPqTopKIndexed(probe, dir, "embedding", "vec_id", k = 1,
        nprobe = 4, rerankWith = Some(emb)).collect()(0).getLong(1)
    assert(top1() === 0L)
    Similarity.tombstoneIvfIds(
      emb.filter(col("vec_id") === 0).select("vec_id"), "vec_id", dir, gen = 1L)
    assert(top1() !== 0L, "tombstoned id resurfaced through the PQ path")
  }

  test("IVF-PQ append into a tombstoned index: default gen fails loudly; safe gen lands live") {
    val dir = Workspace.scratch("graft-ivfpq-shadow")
    Pq.buildIvfPqIndex(emb.filter(col("vec_id") >= 10),
      "embedding", "vec_id", dir, nlist = 4, m = 8, ksub = 16)
    Similarity.tombstoneIvfIds(
      emb.filter(col("vec_id") === 10).select("vec_id"), "vec_id", dir, gen = 3L)
    val delta = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 700).as("vec_id"), col("embedding"))
    // same fail-loud contract as the IVF index: gen-0 rows would be
    // shadowed by the gen-3 tombstone on arrival
    val e = intercept[IllegalArgumentException] {
      Pq.appendToIvfPqIndex(delta, "embedding", "vec_id", dir)
    }
    assert(e.getMessage.contains("shadowed"), e.getMessage)
    // at nextIndexGen the append survives the tombstones and is
    // immediately searchable: the probe's identical twin surfaces
    Pq.appendToIvfPqIndex(delta, "embedding", "vec_id", dir,
      gen = Similarity.nextIndexGen(spark, dir))
    val hit = Pq.ivfPqTopKIndexed(emb.filter(col("vec_id") === 0), dir,
      "embedding", "vec_id", k = 1, nprobe = 4,
      rerankWith = Some(delta.unionByName(
        emb.filter(col("vec_id") >= 10).select("vec_id", "embedding"))))
      .collect()(0).getLong(1)
    assert(hit === 700L, s"appended twin not found, got $hit")
  }

  test("compactIvfIndex on a missing index names the expected layout") {
    val dir = Workspace.scratch("graft-ivf-miss")
    val e = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, s"$dir/nope")
    }
    assert(e.getMessage.contains("no IVF index"), e.getMessage)
  }

  test("stale index format version is rejected at read time, not searched") {
    // an index persisted before the plane-family fix (modeled here by a
    // centroids table with no fmt column → version 1) must fail loudly
    // with a rebuild instruction — silently wrong neighbors are the
    // failure mode the version stamp exists to prevent
    val dir = Workspace.scratch("graft-ivf-stale")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, nlist = 4)
    val c = spark.read.parquet(s"$dir/centroids").drop("fmt")
    val rows = java.util.Arrays.asList(c.collect(): _*)
    spark.createDataFrame(rows, c.schema)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val probes = emb.filter(col("vec_id") < 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(probes, dir, "embedding", "vec_id", k = 1).collect()
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(probes, "embedding", "vec_id", dir)
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("IVF-PQ append encodes with stored codebooks; twins found after append") {
    val dir = Workspace.scratch("graft-ivfpq-app")
    val base = emb.filter(col("vec_id") >= 10)
    Pq.buildIvfPqIndex(base, "embedding", "vec_id", dir, nlist = 8, m = 8, ksub = 16)
    Pq.appendToIvfPqIndex(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 500).as("vec_id"), col("embedding")),
      "embedding", "vec_id", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() === emb.count())
    // identical vectors get identical codes, so with exact re-rank the
    // appended twin surfaces at cosine 1
    val hits = Pq.ivfPqTopKIndexed(emb.filter(col("vec_id") < 10), dir,
      "embedding", "vec_id", k = 1, nprobe = 3,
      rerankWith = Some(
        emb.select((col("vec_id") + 500).as("vec_id"), col("embedding"))
          .unionByName(base.select(col("vec_id"), col("embedding")))),
      rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0 until 10).count(i => hits.get(i.toLong).contains(i + 500L)) >= 8,
      s"appended twins mostly missing: $hits")
  }

  test("splitLeakage reports only near-dup pairs that straddle splits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "train"),
      (2L, "the quick brown fox jumps over the lazy dog again", "test"), // leaks vs 1
      (3L, "the quick brown fox jumps over the lazy dog again", "train"), // same split as 1
      (4L, "completely unrelated text about spark partitioning", "test"))
      .toDF("doc_id", "text", "split")
    val out = Dedup.splitLeakage(docs, "text", "doc_id", "split", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4)))
    // 1-2 and 2-3 cross; 1-3 is within-train; 4 pairs with nobody
    assert(out.toSet === Set((1L, 2L, "train", "test"), (2L, 3L, "test", "train")))
  }

  test("native shingles match the HOF formulation incl. edge cases") {
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val words = split(trim(text), "\\s+")
      if (n == 1) array_distinct(words)
      else array_distinct(transform(
        sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
    }
    val edges = Seq("", " ", "a", "a b", "a b c d", "a  b\tc", "x x x x",
      "  padded  ends  ").toDF("text")
    val corpus = docs.limit(50).select(col("text")).unionByName(edges)
    for (n <- Seq(1, 2, 3)) {
      val bad = corpus.select(
        (Dedup.shingles(col("text"), n) <=> hofShingles(col("text"), n)).as("ok"),
        col("text")).filter(!col("ok")).collect()
      assert(bad.isEmpty, s"n=$n mismatches: ${bad.map(_.getString(1)).mkString("|")}")
    }
  }

  test("native minhash/simhash signatures match the HOF formulations") {
    // the HOF pipelines the natives replaced, re-stated inline as the
    // value oracle (same splitmix constants)
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val mersP = (1L << 31) - 1
    val nh = 16
    val hofMinhash = array((0 until nh).map { i =>
      val a = (mix(i) & 0x7FFFFFFFL) | 1L
      val b = mix(i + 100003L) & 0x7FFFFFFFL
      array_min(transform(col("hb"), h => pmod(h * a + b, lit(mersP))))
    }: _*)
    val hofSimhash = (0 until 64).map { i =>
      val contrib = aggregate(col("wh"), lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(contrib > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val base = docs.limit(50)
      .withColumn("hb", Dedup.baseHashes(Dedup.shingles(col("text"), 3)))
      .withColumn("wh", Dedup.wordHashes(col("text")))
    val rows = base.select(
      (Dedup.minhashSignatureFromHashes(col("hb"), nh) <=> hofMinhash).as("mh_ok"),
      (Dedup.simhashFromHashes(col("wh")) <=> hofSimhash).as("sh_ok")).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    // empty input parity: minhash → array of nulls, simhash → 0
    val empty = Seq(Seq.empty[Long]).toDF("hb")
    val er = empty.select(
      Dedup.minhashSignatureFromHashes(col("hb"), 4).as("mh"),
      Dedup.simhashFromHashes(col("hb")).as("sh")).collect()(0)
    assert(er.getSeq[Any](0).forall(_ == null))
    assert(er.getLong(1) === 0L)
  }

  test("native md5 60-bit hash matches the conv/substring/md5 formulation") {
    import org.apache.spark.sql.types.LongType
    // the hex-string formulation the native expression replaced — the
    // exact value the DuckDB oracles re-derive
    def hofMd5(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
    val texts = Seq("", " ", "a", "hello world", "naïve — ünïcödé ✓",
      "\tmixed\nwhitespace ", "0", "ffffffffffffffff")
    val df = texts.toDF("t")
    df.select((Dedup.md5Hash60(col("t")) <=> hofMd5(col("t"))).as("ok"), col("t"))
      .collect().foreach(r => assert(r.getBoolean(0), s"scalar: '${r.getString(1)}'"))
    // array form = one node per document; parity with per-element HOF,
    // null elements preserved, null array → null
    val arrs = Seq(Some(texts), Some(Seq.empty[String]), None).toDF("ws")
    val ar = arrs.select(
      (Dedup.mapHash(col("ws"), Dedup.md5Hash60) <=>
        transform(col("ws"), w => hofMd5(w))).as("ok")).collect()
    ar.foreach(r => assert(r.getBoolean(0)))
    val nullElem = Seq(1).toDF("x")
      .select(Dedup.mapHash(array(lit("a"), lit(null).cast("string")),
        Dedup.md5Hash60).as("h")).collect()(0).getSeq[Any](0)
    assert(nullElem(0) != null && nullElem(1) == null)
  }

  test("mapHash dispatches the native array node structurally, not by reference identity") {
    val arr = array(lit("a"), lit("b"))
    val canonical = Dedup.mapHash(arr, Dedup.md5Hash60).toString
    assert(canonical.contains(graft.functions.Md5Hash60.name))
    assert(!canonical.contains("transform"))
    // an eta-expanded / wrapped-but-equivalent caller must NOT silently
    // lose the whole-array fast path (reference identity did)
    val wrapped = Dedup.mapHash(arr, c => Dedup.md5Hash60(c)).toString
    assert(wrapped === canonical)
    // a genuinely different function builds a different tree — it must
    // take the per-element transform path, never the native node
    val different = Dedup.mapHash(arr, c => Dedup.md5Hash60(lower(c))).toString
    assert(different.contains("transform"))
    val other = Dedup.mapHash(arr, c => xxhash64(c)).toString
    assert(other.contains("transform") && other.contains("xxhash64"))
  }

  test("native lang_id matches the greatest-over-filters formulation") {
    // the pre-native Column formulation, rebuilt for the parity pin
    def oldLangId(text: org.apache.spark.sql.Column) = {
      val scored = TextAnalysis.markers.keys.toSeq.sorted.map(l =>
        struct(TextAnalysis.langScore(text, l).as("score"), lit(l).as("lang")))
      val best = greatest(scored: _*)
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
    }
    val texts = Seq(
      "the the of and in", // en
      "la de un est", // fr beats es via the shared markers + est
      "la de un", // exact fr/es tie → lexicographically larger (fr)
      "el los y la de un", // es
      "的 是 the", // zh vs en, zh wins 2-1
      "no markers here xyz", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"),
      oldLangId(col("text")).as("o")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(2), s"doc ${r.getLong(0)}"))
    assert(got.map(_.getString(1)).toSeq ===
      Seq("en", "fr", "fr", "es", "zh", "und", "und"))
  }

  test("native vec_dot matches the HOF formulation and null-poisons") {
    import org.apache.spark.sql.types.DoubleType
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(4d, 5d, 6d)),
      (Seq(0f, 0f), Seq(0d, 0d)),
      (Seq(-1.5f, 2.25f), Seq(2d, 4d))).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast(DoubleType) * y.cast(DoubleType)), lit(0d), (acc, x) => acc + x)
    val rows = df.select(Similarity.dot(col("a"), col("b")).as("native"), hof.as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // null array → null result
    val nullRow = Seq((null.asInstanceOf[Seq[Float]], Seq(1d)))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b"))).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("cosine of identical vectors is 1; orthogonal is 0") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f), Array(-2.0f, 1.0f)))
      .toDF("a", "b", "c")
      .select(Similarity.cosine(col("a"), col("b")).as("same"),
        Similarity.cosine(col("a"), col("c")).as("orth"))
    val r = df.collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1)) < 1e-9)
  }

  // ---- text analysis --------------------------------------------------

  test("language ID picks the marker-dominant language; empty → und") {
    val df = Seq(
      (1L, "the cat of the house is big and the dog is small"),
      (2L, "der hund und die katze ist von dem haus und der stadt"),
      (3L, "le chat et le chien est un animal de la maison"),
      (4L, "xyzzy plugh"),
      (5L, "")).toDF("id", "text")
      .select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) === "en" && m(2L) === "de" && m(3L) === "fr")
    assert(m(4L) === "und" && m(5L) === "und")
  }

  test("token counts and fingerprint are stable and overflow-free") {
    val longText = (1 to 20000).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, "hello, world! 42"), (2L, longText)).toDF("id", "text")
      .select(col("id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) === 3) // hello, | world! | 42
    // hello , world ! 4 2 → 6 BPE-ish pieces
    assert(rows(1L).getInt(2) === 6)
    val fp = rows(2L).getLong(3) // 20k words: must not overflow (mod 1e9+7)
    assert(fp >= 0L && fp < 1000000007L)
  }

  test("repetition signals: top-word, dup-word and top-bigram fractions") {
    val df = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(df, "text", "doc_id").collect().head
    assert(r.getDouble(1) === 0.75) // "a" takes 3 of 4 words
    assert(r.getDouble(2) === 0.5) // 2 distinct of 4 words → 1 - 0.5
    assert(r.getDouble(3) === 0.666667) // "a a" twice of 3 bigrams, rounded to 6
    // single-word doc: no bigrams → null fraction, no crash
    val one = TextAnalysis.repetitionSignals(
      Seq((2L, "solo")).toDF("doc_id", "text"), "text", "doc_id").collect().head
    assert(one.getDouble(1) === 1.0 && one.isNullAt(3))
    // zero-word docs (empty / whitespace-only — web corpora have them):
    // the bigram slice must not evaluate slice() with a negative length
    val mixed = Seq((1L, ""), (2L, "   "), (3L, "a b a b")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(mixed, "text", "doc_id").collect()
    assert(out.map(_.getLong(0)).toSet === Set(3L)) // wordless docs have no stats rows
    assert(out.head.getDouble(1) === 0.5)
  }

  test("near-dup clusters converge for string document ids") {
    // a 5-node chain needs >1 round; the convergence checksum must work
    // for non-numeric ids (a numeric sum is NULL → false convergence)
    val pairs = Seq(("d", "e"), ("a", "b"), ("b", "c"), ("c", "d"))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
  }

  test("boilerplate lines shared across enough docs are stripped in order") {
    val df = Seq(
      (1L, "keep one\nSHARE\nkeep two"),
      (2L, "other body\nSHARE"),
      (3L, "third\nSHARE"),
      (4L, "SHARE")) // all-boilerplate doc survives empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(df, "text", "doc_id", minDocs = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "keep one\nkeep two", 2L -> "other body",
      3L -> "third", 4L -> ""))
  }

  test("PII redaction replaces emails, phones and IPv4s with tags") {
    val df = Seq((1L,
      "mail me at jane.doe+x@corp.example.org or 555-123-4567, host 10.0.0.1 ok"))
      .toDF("doc_id", "text")
    val got = df.select(TextAnalysis.redactPii(col("text"))).collect().head.getString(0)
    assert(got === "mail me at <EMAIL> or <PHONE>, host <IP> ok")
    // clean text passes through untouched
    val clean = "no personal data in this sentence"
    val same = Seq((2L, clean)).toDF("doc_id", "text")
      .select(TextAnalysis.redactPii(col("text"))).collect().head.getString(0)
    assert(same === clean)
  }

  test("winnowed fingerprints: window minima, clamping, and gram edges") {
    // known hashes: windows of 4 → minima {1, 0}; shorter-than-w input
    // clamps to one global-min fingerprint; empty input → empty
    val df = Seq(Tuple1(Seq(9L, 5L, 1L, 7L, 8L, 6L, 0L))).toDF("hs")
    val got = df.select(call_function("graft_winnow_sig", col("hs"), lit(4)))
      .collect().head.getSeq[Long](0)
    assert(got === Seq(0L, 1L)) // sorted distinct window minima
    val short = Seq(Tuple1(Seq(5L, 3L))).toDF("hs")
      .select(call_function("graft_winnow_sig", col("hs"), lit(4)))
      .collect().head.getSeq[Long](0)
    assert(short === Seq(3L))
    // fewer than k words → no grams → no fingerprints
    val none = Seq(Tuple1("two words")).toDF("text")
      .select(Dedup.winnowedFingerprints(col("text"), k = 3, w = 4))
      .collect().head.getSeq[Long](0)
    assert(none.isEmpty)
  }

  test("containment pairs catch a copied passage whole-doc similarity misses") {
    val passage = "the sly copper fox slipped across the frozen river at dawn"
    val docs = Seq(
      (1L, s"opening words before the quote $passage and some closing words after it"),
      (2L, s"a totally different article that embeds $passage inside other prose entirely"),
      (3L, "no shared passage here just independent content about something else")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "text", "doc_id",
      k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"copied passage not detected: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the same pair is INVISIBLE to whole-doc minhash at 0.9
    val mh = Dedup.minhashNearDup(docs, "text", "doc_id",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9).collect()
    assert(mh.isEmpty)
  }

  test("containment maxDocFreq drops boilerplate fingerprints shared by every doc") {
    // docs 1-4 are byte-identical boilerplate: winnowing is a pure
    // function of the token stream, so all four share EVERY fingerprint
    // (document frequency 4). Docs 5/6 share only a quoted passage.
    val boiler = "subscribe to our newsletter for the latest updates every single week " +
      "and never miss a story from our growing network of local correspondents"
    val quote = "the sly copper fox slipped across the frozen river at dawn"
    val docs = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler),
      (5L, s"article one opens with the quote $quote and original analysis follows"),
      (6L, s"another piece citing $quote within an unrelated discussion of rivers")
    ).toDF("doc_id", "text")
    def pairSet(maxDf: Int) =
      Dedup.containmentPairs(docs, "text", "doc_id", k = 3, w = 4,
        minShared = 1, maxDocFreq = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the boilerplate clique contributes all 6 pairs
    val uncapped = pairSet(Int.MaxValue)
    assert(uncapped.contains((5L, 6L)) && uncapped.size === 7, s"got $uncapped")
    // capped below the clique size: every boilerplate fingerprint has
    // df=4 > 3 and is dropped before the self-join; the quote (df=2)
    // still pairs 5 and 6
    assert(pairSet(3) === Set((5L, 6L)))
  }

  test("decontamination drops docs containing blocklisted n-grams, case-insensitively") {
    val docs = Seq(
      (1L, "the Quick Brown Fox jumps"),
      (2L, "nothing to see here at all"),
      (3L, "ends with quick brown fox")).toDF("doc_id", "text")
    val grams = Seq("quick brown fox").toDF("gram")
    val kept = TextAnalysis.decontaminate(docs, "text", "doc_id", grams, "gram", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }

  test("bloom decontamination: no false negatives, case-insensitive, empty set safe") {
    val fix = Seq(
      (1L, "the Quick Brown Fox jumps"),
      (2L, "nothing to see here at all"),
      (3L, "ends with quick brown fox")).toDF("doc_id", "text")
    val grams = Seq("quick brown fox").toDF("gram")
    val flagged = TextAnalysis.bloomContaminated(fix, "text", "doc_id", grams, "gram", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(1L, 3L)) // deterministic: same sketch, same probes
    // an empty contamination set flags nothing (null sketch guard)
    assert(TextAnalysis.bloomContaminated(fix, "text", "doc_id",
      spark.emptyDataset[String].toDF("gram"), "gram", n = 3).isEmpty)
    // the no-false-negative guarantee on the real corpus: every doc the
    // exact shingle join flags, the bloom probe must flag too
    val bl = Seq("slow fast table", "batch window spark").toDF("gram")
    val exact = docs.join(
      TextAnalysis.decontaminate(docs, "text", "doc_id", bl, "gram", n = 3)
        .select("doc_id"),
      Seq("doc_id"), "left_anti").select("doc_id")
    val bloom = TextAnalysis.bloomContaminated(docs, "text", "doc_id", bl, "gram", n = 3)
    assert(exact.join(bloom, Seq("doc_id"), "left_anti").isEmpty,
      "bloom missed an exactly-contaminated doc")
  }

  test("semantic near-dup finds planted exact duplicates through the k-means cells") {
    val base = emb.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val pairs = Dedup.semanticNearDup(base.unionByName(planted), "embedding", "vec_id",
      nlist = 8, threshold = 0.999)
    // identical vectors share a cell with probability 1 and score ~1.0;
    // the rest of the corpus is near-random (max pairwise cos ~0.51) so
    // the planted pairs are the ONLY ones over the threshold
    assert(pairs.filter(col("id_b") === col("id_a") + 10000 && col("id_a") < 10)
      .count() === 10L)
    assert(pairs.count() === 10L)
  }

  test("quality metrics: ratios bounded, empty text yields nulls not errors") {
    val df = TextAnalysis.qualityMetrics(
      Seq((1L, "Hello, the world is wide."), (2L, "")).toDF("id", "text"), "text")
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    val r1 = byId(1L)
    assert(r1.getAs[Double]("punct_ratio") > 0 && r1.getAs[Double]("punct_ratio") < 0.5)
    assert(r1.getAs[Double]("stopword_ratio") > 0 && r1.getAs[Double]("stopword_ratio") <= 1)
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("avg_word_len")))
  }

  // ---- multimodal -----------------------------------------------------

  test("multimodal pipeline: schema contract and deterministic features") {
    val out = Multimodal.pipeline(docs)
    assert(out.columns.toSeq ===
      Seq("media_id", "mime", "payload_bytes", "width", "duration_ms", "n_frames", "features"))
    val rows = out.limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val feats = r.getSeq[Float](6)
      assert(feats.length === 8)
      feats.foreach(f => assert(f >= 0f && f <= 1f))
      val mime = r.getString(1)
      val nFrames = r.getInt(5)
      if (!mime.startsWith("video")) assert(nFrames === 0)
      else assert(nFrames >= 1) // sequence(0, duration, 1000) ⇒ ≥1 offset
    }
  }

  test("partition-wise decode is a narrow map with the contracted schema") {
    val media = Multimodal.asMediaTable(
      Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.decodePartitionwise(media, dims = 4)
    assert(out.schema.fieldNames.last === "features")
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r.getSeq[Float](r.length - 1)).toMap
    assert(rows(1L).length === 4 && rows(1L).forall(f => f >= 0f && f <= 1f))
    assert(rows(2L).forall(_ === 0f)) // empty payload → zero features
  }

  test("decodeImages reads a real PNG: true dimensions and strip luminance") {
    // 4x2 PNG: left half black, right half white — encoded with the same
    // javax.imageio codec the operator decodes with, via in-memory bytes.
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0x000000 else 0xFFFFFF)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray
    assert(png.take(4).sameElements(Array[Byte](0x89.toByte, 'P', 'N', 'G')))
    val media = Seq(
      (1L, png, "image/png"),
      (2L, "not an image".getBytes("UTF-8"), "image/png"), // corrupt blob
      (3L, null.asInstanceOf[Array[Byte]], "audio/wav"))
      .toDF("media_id", "payload", "mime")
      .withColumn("meta", struct(lit(4).as("width"), lit(2).as("height"),
        lit(0L).as("duration_ms"), lit(16000).as("sample_rate")))
    val out = Multimodal.decodeImages(media, dims = 2)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val ok = rows(1L)
    assert(ok.getAs[Int]("decoded_width") === 4)
    assert(ok.getAs[Int]("decoded_height") === 2)
    val feats = ok.getAs[scala.collection.Seq[Float]]("image_features")
    assert(feats.length === 2)
    assert(feats(0) < 0.01f && feats(1) > 0.99f) // black strip, white strip
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("decoded_width")))
    assert(rows(3L).isNullAt(rows(3L).fieldIndex("image_features")))
  }

  test("resizeImages scales a decodable payload and updates meta; corrupt rows pass through") {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0x336699)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val media = Seq((1L, buf.toByteArray, "image/png"),
      (2L, "junk".getBytes("UTF-8"), "image/png"))
      .toDF("media_id", "payload", "mime")
      .withColumn("meta", struct(lit(8).as("width"), lit(8).as("height"),
        lit(0L).as("duration_ms"), lit(16000).as("sample_rate")))
    val out = Multimodal.resizeImages(media, 3, 5)
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val resized = rows(1L)
    assert(resized.getStruct(resized.fieldIndex("meta")).getInt(0) === 3)
    assert(resized.getStruct(resized.fieldIndex("meta")).getInt(1) === 5)
    // re-encoded payload round-trips at the new dimensions
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      resized.getAs[Array[Byte]]("payload")))
    assert(back.getWidth === 3 && back.getHeight === 5)
    assert(back.getRGB(1, 2) === 0xFF336699) // solid color survives resize
    // corrupt payload unchanged
    assert(rows(2L).getAs[Array[Byte]]("payload").sameElements("junk".getBytes("UTF-8")))
    assert(rows(2L).getStruct(rows(2L).fieldIndex("meta")).getInt(0) === 8)
  }

  test("decodeAudio reads a real WAV: rate, duration, RMS envelope") {
    // 16-bit mono 8kHz WAV, 1s: first half silence, second half a
    // full-scale square wave (RMS 1.0) — encoded with the same
    // javax.sound.sampled codec the operator decodes with
    val rate = 8000
    val samples = new Array[Byte](rate * 2)
    for (i <- rate / 2 until rate) {
      val v: Short = if (i % 2 == 0) 32767 else -32767
      samples(2 * i) = (v & 0xFF).toByte
      samples(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, rate.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val media = Seq(
      (1L, buf.toByteArray, "audio/wav"),
      (2L, "not audio".getBytes("UTF-8"), "audio/wav"))
      .toDF("media_id", "payload", "mime")
    val out = Multimodal.decodeAudio(media, dims = 2)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val ok = rows(1L)
    assert(ok.getAs[Int]("decoded_sample_rate") === rate)
    assert(ok.getAs[Long]("decoded_duration_ms") === 1000L)
    val feats = ok.getAs[scala.collection.Seq[Float]]("audio_features")
    assert(feats.length === 2)
    assert(feats(0) < 0.01f, s"silent half RMS ${feats(0)}")
    assert(feats(1) > 0.95f, s"square-wave half RMS ${feats(1)}")
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("audio_features")))
  }

  test("decodeVideo reads a real MJPEG-AVI: frame count, dimensions, averaged luma") {
    // hand-assembled RIFF: RIFF('AVI ') { LIST('movi') { 00dc->jpeg }* }
    // with frames encoded by the same JPEG codec the operator decodes
    def le32(n: Int): Array[Byte] = Array(
      (n & 0xFF).toByte, ((n >> 8) & 0xFF).toByte,
      ((n >> 16) & 0xFF).toByte, ((n >> 24) & 0xFF).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(id: String, form: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length + 4) ++ form.getBytes("US-ASCII") ++ body
    def solidJpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val (dark, light) = (solidJpeg(0x000000), solidJpeg(0xFFFFFF))
    def avi(frames: Array[Byte]*): Array[Byte] =
      list("RIFF", "AVI ", list("LIST", "movi",
        frames.toArray.flatMap(f => chunk("00dc", f))))
    val twoFrame = avi(dark, light)
    val threeFrame = avi(dark, dark, light)
    val badFrames = avi("not jpeg data".getBytes("UTF-8"))
    val media = Seq(
      (1L, twoFrame), (2L, threeFrame), (3L, badFrames),
      (4L, "not a video at all".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeVideo(media, dims = 2, maxFrames = 2)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val ok = rows(1L)
    assert(ok.getAs[Int]("decoded_frames") === 2)
    assert(ok.getAs[Int]("frame_width") === 8 && ok.getAs[Int]("frame_height") === 8)
    val feats = ok.getAs[scala.collection.Seq[Float]]("video_features")
    // one all-dark + one all-light frame, averaged: half the mass in
    // each luma bucket (JPEG is lossy, hence the tolerance)
    assert(feats.length === 2)
    assert(math.abs(feats(0) - 0.5f) < 0.05f && math.abs(feats(1) - 0.5f) < 0.05f,
      s"averaged histogram $feats")
    // maxFrames bounds work per payload: 3 stored, 2 decoded
    assert(rows(2L).getAs[Int]("decoded_frames") === 2)
    // AVI container with undecodable frames, non-AVI bytes, null → nulls
    Seq(3L, 4L, 5L).foreach { id =>
      assert(rows(id).isNullAt(rows(id).fieldIndex("video_features")), s"media $id")
      assert(rows(id).isNullAt(rows(id).fieldIndex("decoded_frames")), s"media $id")
    }
  }

  test("videoFrameSignatures explodes per-frame luma histograms, narrow plan") {
    def jpeg(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val media = Seq(
      (1L, Multimodal.mjpegAvi(Seq(jpeg(32), jpeg(224)))),
      (2L, "not a video".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val out = Multimodal.videoFrameSignatures(media, dims = 4, maxFrames = 4)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"frame explosion must stay narrow:\n$plan")
    val rows = out.select("media_id", "frame_idx", "frame_sig").collect()
    assert(rows.length === 2, "undecodable payload emits no rows")
    val sigs = rows.map(r => (r.getLong(0), r.getInt(1)) ->
      r.getAs[scala.collection.Seq[Float]](2)).toMap
    // solid gray 32 → all mass in bucket 0; 224 → bucket 3 (JPEG loss
    // cannot cross a 64-wide boundary from an interior gray)
    assert(sigs((1L, 0))(0) === 1.0f && sigs((1L, 1))(3) === 1.0f)
  }

  test("animated GIF decodes beside AVI: roundtrip, cross-container sigs, corrupt degrade") {
    def gray(g: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      img
    }
    def jpeg(g: Int): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(gray(g), "jpg", buf)
      buf.toByteArray
    }
    val gif = Multimodal.animatedGif(Seq(gray(32), gray(96), gray(224)))
    // roundtrip: same frame count, dims, and (palette-exact) luma mass
    val media = Seq(
      (1L, gif),
      (2L, Multimodal.mjpegAvi(Seq(jpeg(32), jpeg(96), jpeg(224)))),
      (3L, gif.take(gif.length / 3)), // truncated mid-animation
      (4L, Array[Byte]('G', 'I', 'F', '8', '9', 'a'))) // header only
      .toDF("media_id", "payload")
    val sigs = Multimodal.videoFrameSignatures(media, dims = 4, maxFrames = 8)
      .select("media_id", "frame_idx", "frame_sig").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Float]](2)).toMap
    assert(sigs.keys.count(_._1 == 1L) === 3)
    // the same grays through GIF and through AVI-JPEG land in the same
    // luma buckets — cross-container near-dup works frame-for-frame
    for (i <- 0 until 3)
      assert(sigs((1L, i)) === sigs((2L, i)),
        s"container changed the frame-$i signature")
    // truncated GIF: whatever frames survive, never an exception; the
    // 6-byte header yields none
    assert(sigs.keys.count(_._1 == 3L) < 3)
    assert(sigs.keys.count(_._1 == 4L) === 0)
    // decodeVideo dispatches per row in one mixed table
    val dec = Multimodal.decodeVideo(media, dims = 4, maxFrames = 8)
      .select("media_id", "decoded_frames", "frame_width", "frame_height")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(dec(1L) === 3 && dec(2L) === 3 && dec(4L) === -1)
  }

  test("MJPEG-in-MP4: real sample-table demux, cross-container decode parity, corrupt/foreign-codec degrade") {
    def gray(g: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      img
    }
    def jpeg(g: Int): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(gray(g), "jpg", buf)
      buf.toByteArray
    }
    val frames = Seq(jpeg(32), jpeg(96), jpeg(224))
    val mp4 = Multimodal.mjpegMp4(frames, 8, 6)
    // the ISO-BMFF demux recovers the full sample table: fourcc,
    // declared dims, per-sample byte ranges that round-trip the JPEGs
    val track = Multimodal.mp4VideoTrack(mp4).get
    assert(track.fourcc === "jpeg" && track.width === 8 && track.height === 6)
    assert(track.samples.length === 3)
    track.samples.zip(frames).foreach { case ((off, len), f) =>
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(mp4, off.toInt, off.toInt + len), f))
    }
    // an H.264-style track demuxes identically but yields no frames —
    // the pixel decode is the documented stub seam, never an exception
    val avc1 = mp4.clone()
    // anchor past mdat: compressed frame bytes could contain "jpeg"
    val moovAt = avc1.toSeq.indexOfSlice("moov".getBytes.toSeq)
    val at = avc1.toSeq.indexOfSlice("jpeg".getBytes.toSeq, moovAt)
    assert(moovAt > 0 && at > moovAt)
    Array[Byte]('a', 'v', 'c', '1').copyToArray(avc1, at)
    assert(Multimodal.mp4VideoTrack(avc1).get.fourcc === "avc1")
    assert(Multimodal.mp4JpegFrames(avc1, 8).isEmpty)
    val media = Seq(
      (1L, mp4),
      (2L, Multimodal.mjpegAvi(frames)),
      (3L, mp4.take(mp4.length - 40)), // moov truncated mid-table
      (4L, avc1))
      .toDF("media_id", "payload")
    val sigs = Multimodal.videoFrameSignatures(media, dims = 4, maxFrames = 8)
      .select("media_id", "frame_idx", "frame_sig").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Float]](2)).toMap
    // the same grays through MP4 and through AVI land on identical
    // frame signatures — cross-container near-dup frame-for-frame
    assert(sigs.keys.count(_._1 == 1L) === 3)
    for (i <- 0 until 3)
      assert(sigs((1L, i)) === sigs((2L, i)),
        s"container changed the frame-$i signature")
    assert(sigs.keys.count(_._1 == 3L) === 0) // truncated: degrade, no throw
    assert(sigs.keys.count(_._1 == 4L) === 0) // foreign codec: no frames
    val dec = Multimodal.decodeVideo(media, dims = 4, maxFrames = 8)
      .select("media_id", "decoded_frames").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(dec === Map(1L -> 3, 2L -> 3, 3L -> -1, 4L -> -1))
  }

  test("URL canonicalization folds case/port/www/tracking/order/slash/fragment; dedup keeps min id") {
    val urls = Seq(
      (1L, "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag"),
      (2L, "http://example.com/a/b?a=1&b=2"),
      (3L, "https://example.com:443/a/b?a=1&b=2"), // scheme differs → distinct
      (4L, "not a url"), // unparseable → passes through unchanged
      (5L, "http://EXAMPLE.com:8080/x/"), // non-default port survives
      (6L, "http://example.com/a/b?b=2&a=1&fbclid=zzz"), // joins group 1
      (7L, "http://example.com/p#sec?x=1"), // '?' inside fragment ≠ query
      (8L, "http://example.com/p?ref=main"), // bare ref is FUNCTIONAL, kept
      // userinfo: case-SENSITIVE, preserved verbatim (RFC 3986 §3.2.1);
      // host normalization still applies behind it
      (9L, "https://User:Pw@WWW.Example.COM:443/a/b?b=2&a=1"),
      (10L, "https://User:Pw@example.com/a/b?a=1&b=2"), // joins 9
      (11L, "https://user:pw@example.com/a/b?a=1&b=2")) // case differs → distinct
      .toDF("id", "url")
    val canon = urls.select(col("id"), pipeline.Web.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon(1L) === "http://example.com/a/b?a=1&b=2")
    assert(canon(2L) === canon(1L) && canon(6L) === canon(1L))
    assert(canon(3L) === "https://example.com/a/b?a=1&b=2")
    assert(canon(4L) === "not a url")
    assert(canon(5L) === "http://example.com:8080/x")
    assert(canon(7L) === "http://example.com/p") // fragment text dropped whole
    assert(canon(8L) === "http://example.com/p?ref=main") // distinct from 7
    assert(canon(9L) === "https://User:Pw@example.com/a/b?a=1&b=2")
    assert(canon(10L) === canon(9L))
    assert(canon(11L) === "https://user:pw@example.com/a/b?a=1&b=2")
    assert(canon(11L) !== canon(9L)) // userinfo case distinguishes
    assert(canon(9L) !== canon(3L)) // userinfo presence distinguishes
    val dedup = pipeline.Web.urlDedup(urls, "url", "id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dedup.size === 8)
    assert(dedup(canon(1L)) === ((1L, 3L))) // min id kept, 3 members
    assert(dedup(canon(9L)) === ((9L, 2L)))
    // drop-style keeps exactly the keeper rows, original columns intact
    val kept = pipeline.Web.dropUrlDups(urls, "url", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L, 7L, 8L, 9L, 11L))
  }

  test("videoNearDupClips pairs clips sharing frames; hot signatures capped first") {
    def jpeg(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    // every clip opens with the same "logo" frame (bucket 0) — the
    // all-pairs hazard; clips 1 and 2 also share two real frames
    val logo = jpeg(32)
    val clips = Seq(
      (1L, Multimodal.mjpegAvi(Seq(logo, jpeg(96), jpeg(160)))),
      (2L, Multimodal.mjpegAvi(Seq(logo, jpeg(96), jpeg(160)))),
      (3L, Multimodal.mjpegAvi(Seq(logo, jpeg(224)))),
      (4L, Multimodal.mjpegAvi(Seq(logo))),
      (5L, Multimodal.mjpegAvi(Seq(logo))))
      .toDF("media_id", "payload")
    val pairs = Multimodal.videoNearDupClips(clips, "media_id",
        dims = 4, maxFrames = 4, quant = 8, minShared = 2, maxSigFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the logo signature appears in 5 clips > maxSigFreq=3 → capped, so
    // only the true near-dup pair (sharing b1+b2) survives
    assert(pairs.toSeq === Seq((1L, 2L, 2L)), pairs.mkString(","))
    val plan = Multimodal.videoNearDupClips(clips, "media_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"clip pairing must stay an equi-join:\n$plan")
  }

  test("decodeVideo survives a deeply-nested LIST bomb (depth cap, no StackOverflowError)") {
    // ~200k nested LIST headers in ~2.4 MB: unbounded recursion would
    // overflow the stack, and SOE is fatal (not NonFatal) — the depth
    // cap must stop descending cleanly and classify the blob as
    // undecodable instead of killing the task
    val depth = 200000
    val bytes = new Array[Byte](12 * depth)
    def put32(off: Int, n: Int): Unit = {
      bytes(off) = (n & 0xFF).toByte
      bytes(off + 1) = ((n >> 8) & 0xFF).toByte
      bytes(off + 2) = ((n >> 16) & 0xFF).toByte
      bytes(off + 3) = ((n >> 24) & 0xFF).toByte
    }
    for (i <- 0 until depth) {
      val off = 12 * i
      val id = if (i == 0) "RIFF" else "LIST"
      val form = if (i == 0) "AVI " else "movi"
      System.arraycopy(id.getBytes("US-ASCII"), 0, bytes, off, 4)
      put32(off + 4, 12 * (depth - i) - 8) // form + all nested levels
      System.arraycopy(form.getBytes("US-ASCII"), 0, bytes, off + 8, 4)
    }
    val media = Seq((1L, bytes)).toDF("media_id", "payload")
    val rows = Multimodal.decodeVideo(media, dims = 2, maxFrames = 2).collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(rows(0).fieldIndex("decoded_frames")))
  }

  test("content features: re-encoded identical images collide; branches dispatch by content") {
    // one 4x4 gradient image, encoded twice losslessly (PNG and BMP):
    // the bytes (and so any md5-derived vector) are unrelated, but the
    // decoded pixels are identical — content-derived features must match
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = (x + 4 * y) * 16
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def enc(fmtName: String) = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmtName, buf)
      buf.toByteArray
    }
    val (png, bmp, tif) = (enc("png"), enc("bmp"), enc("tiff"))
    assert(!png.sameElements(bmp))
    assert(tif.nonEmpty, "JDK TIFF writer must produce bytes")
    // a real WAV exercises the audio branch
    val rate = 8000
    val samples = new Array[Byte](rate * 2) // 1s of silence
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, rate.toLong)
    val wbuf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wbuf)
    val media = Seq(
      (1L, png), (2L, bmp), (3L, wbuf.toByteArray),
      (4L, "AAAAzzzz".getBytes("UTF-8")), // opaque fallback: strip means
      (5L, null.asInstanceOf[Array[Byte]]),
      (6L, tif)) // TIFF magic must pass the sniff and decode losslessly
      .toDF("media_id", "payload")
    val out = Multimodal.extractContentFeatures(media, dims = 2)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Exchange"), s"featurize must not shuffle:\n$plan")
    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r.getSeq[Float](r.length - 1)).toMap
    assert(rows(1L) === rows(2L), s"lossless re-encode changed features: ${rows(1L)} vs ${rows(2L)}")
    assert(rows(1L) === rows(6L), s"TIFF re-encode changed features: ${rows(1L)} vs ${rows(6L)}")
    // gradient luma values 0,16,…,240: 8 of 16 pixels per half-range bucket
    assert(rows(1L) === Seq(0.5f, 0.5f))
    assert(rows(3L) === Seq(0f, 0f)) // silence → zero RMS in both windows
    // fallback strip means: 'A'=65 → 65/255, 'z'=122 → 122/255
    assert(math.abs(rows(4L)(0) - 65f / 255f) < 1e-6)
    assert(math.abs(rows(4L)(1) - 122f / 255f) < 1e-6)
    assert(rows(5L) === Seq(0f, 0f)) // null payload → zero vector
  }

  test("bulk-row image featurization is bit-equal to the per-pixel reference") {
    // A 64x48 image with deterministic per-pixel noise (seeded LCG) so
    // every luma bucket and strip is populated; the operator's bulk
    // getRGB(0,y,w,1,…) path must produce EXACTLY the vectors that the
    // per-pixel getRGB(x,y) reference (computed here) produces.
    val (w, h, dims) = (64, 48, 8)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var state = 0x12345678L
    for (y <- 0 until h; x <- 0 until w) {
      state = state * 6364136223846793005L + 1442695040888963407L
      img.setRGB(x, y, ((state >>> 24) & 0xFFFFFF).toInt)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray
    // per-pixel reference: luma histogram (contentFeatures branch 1)
    val counts = new Array[Long](dims)
    val stripSums = new Array[Double](dims)
    val stripCounts = new Array[Long](dims)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = decoded.getRGB(x, y)
      val luma = (((rgb >> 16) & 0xFF) * 0.299 +
        ((rgb >> 8) & 0xFF) * 0.587 + (rgb & 0xFF) * 0.114) / 255.0
      counts(math.min(dims - 1, (luma * dims).toInt)) += 1
      val strip = math.min(dims - 1, x * dims / w)
      stripSums(strip) += luma; stripCounts(strip) += 1
    }
    val expectedHist = Array.tabulate(dims)(i => (counts(i).toDouble / (w.toLong * h)).toFloat)
    val expectedStrips = Array.tabulate(dims)(i =>
      if (stripCounts(i) == 0) 0f else (stripSums(i) / stripCounts(i)).toFloat)
    assert(counts.forall(_ > 0L), "fixture must populate every luma bucket")
    val media = Seq((1L, png, "image/png")).toDF("media_id", "payload", "mime")
      .withColumn("meta", struct(lit(w).as("width"), lit(h).as("height"),
        lit(0L).as("duration_ms"), lit(16000).as("sample_rate")))
    val hist = Multimodal.extractContentFeatures(media, dims = dims)
      .collect()(0).getSeq[Float](4)
    assert(hist === expectedHist.toSeq, "bulk-row histogram diverged from per-pixel reference")
    val strips = Multimodal.decodeImages(media, dims = dims)
      .collect()(0).getAs[scala.collection.Seq[Float]]("image_features")
    assert(strips === expectedStrips.toSeq, "bulk-row strip means diverged from per-pixel reference")
  }

  test("frame sampling emits one offset per second of video") {
    val one = Multimodal.frameSampleOffsets(
      Multimodal.asMediaTable(Seq((5L, "x")).toDF("doc_id", "text"), "doc_id", "text"))
    val r = one.select(col("mime"), size(col("frame_offsets_ms")).as("n")).collect()(0)
    // doc_id 5 % 3 == 2 → video; duration 5 ms → offsets [0] only
    assert(r.getString(0) === "video/mp4" && r.getInt(1) === 1)
  }

  // ---- substring-level dedup / vocabulary -----------------------------

  test("dupSpanProfile counts spans shared across docs, zero for unique/short docs") {
    val out = Dedup.dupSpanProfile(dupDocs, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1/2 are identical (9 words -> 7 distinct 3-gram spans, all
    // duplicated); doc 3 shares the 6 spans not touching the last word;
    // doc 4 is unique; doc 5 is empty (0 spans)
    assert(out(1L) === ((7L, 7L)) && out(2L) === ((7L, 7L)))
    assert(out(3L)._2 === 6L)
    assert(out(4L) === ((7L, 0L)))
    assert(out(5L) === ((0L, 0L)))
  }

  test("BPE: merges compress frequent words, char fallback round-trips anything") {
    import graft.pipeline.Bpe
    val corpus = Seq((1L, "low low low lower lowest"),
      (2L, "new newer newest low")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(corpus, "text", "doc_id", numMerges = 10)
    assert(merges.nonEmpty)
    val rows = corpus.select(col("doc_id"),
        Bpe.encode(col("text"), merges).as("ids"),
        Bpe.decode(Bpe.encode(col("text"), merges), merges).as("back"),
        col("text")).collect()
    rows.foreach { r =>
      assert(r.getString(2) === r.getString(3), s"round trip failed: $r")
      // learned merges must beat char-level: fewer ids than chars
      assert(r.getSeq[Int](1).length < r.getString(3).length)
    }
    // chars never seen in training (case-folded input, unicode, digits)
    // still round-trip via the char fallback — encoding is total
    val odd = Seq((1L, "Zebra Ω ünïcode 42!")).toDF("doc_id", "text")
    val back = odd.select(
      Bpe.decode(Bpe.encode(col("text"), merges), merges)).head().getString(0)
    assert(back === "zebra ω ünïcode 42!")
    // determinism: retraining yields the identical table
    assert(Bpe.trainMerges(corpus, "text", "doc_id", numMerges = 10)
      .toSeq === merges.toSeq)
  }

  test("incremental BPE matches the naive from-scratch recount, and scales to big vocabularies") {
    import graft.pipeline.Bpe
    // naive reference: full pair recount per merge (the pre-round-9
    // implementation), run over the same word-frequency input
    def naive(init: Array[(Array[String], Long)], numMerges: Int): Seq[(String, String)] = {
      var words = init.map { case (s, f) => (s.toList, f) }
      val out = Seq.newBuilder[(String, String)]
      var m = 0
      var exhausted = false
      while (m < numMerges && !exhausted) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((syms, f) <- words; p <- syms.zip(syms.tail))
          pc(p) = pc.getOrElse(p, 0L) + f
        val cand = pc.filter(_._2 >= 2)
        if (cand.isEmpty) exhausted = true
        else {
          val best = cand.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += best
          val joined = best._1 + best._2
          words = words.map { case (syms, f) =>
            val o = List.newBuilder[String]
            var rest = syms
            while (rest.nonEmpty) rest match {
              case a :: b :: tail if a == best._1 && b == best._2 =>
                o += joined; rest = tail
              case a :: tail => o += a; rest = tail
              case Nil => ()
            }
            (o.result(), f)
          }
          m += 1
        }
      }
      out.result()
    }
    // word set with overlap-heavy shapes (aaa…, repeated stems, ties)
    def wf(pairs: (String, Long)*): Array[(Array[String], Long)] =
      pairs.toArray.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val fixtures = Seq(
      wf("low" -> 5L, "lower" -> 2L, "lowest" -> 1L, "newest" -> 3L, "new" -> 4L),
      wf("aaaa" -> 3L, "aaab" -> 2L, "abab" -> 2L, "bbbb" -> 1L),
      wf("xy" -> 2L, "yx" -> 2L, "xx" -> 2L, "yy" -> 2L)) // all-ties round
    fixtures.foreach { f =>
      assert(Bpe.learnFromWordFreq(f.map { case (s, c) => (s.clone(), c) }, 50).toSeq
        === naive(f, 50),
        s"incremental diverged from naive on ${f.map(_._1.mkString).mkString(",")}")
    }
    // big-vocabulary case: 4000 distinct synthetic words, 2000 merges.
    // The naive recount is quadratic here; the incremental path must
    // finish in seconds (bounded wall-clock assertion, generous margin)
    val bigWords = (0 until 4000).map { i =>
      val w = java.lang.Long.toString((i * 2654435761L) & 0xfffffff, 26) + (i % 7)
      (w.map(_.toString).toArray, (i % 13 + 1).toLong)
    }.toArray
    val t0 = System.nanoTime()
    val big = Bpe.learnFromWordFreq(bigWords, 2000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(big.length >= 1000, s"expected ≥1000 merges before exhaustion, got ${big.length}")
    assert(secs < 20.0, s"${big.length} merges over 4000 words took ${secs}s")
  }

  test("exportShards: one file per shard, stable membership, round-trip exact") {
    val docs500 = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Workspace.scratch("graft-shards")
    Export.exportShards(docs500, "doc_id", dir, numShards = 8, salt = "r8")
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length === 8, shardDirs.map(_.getName).mkString(","))
    // exactly one data file per shard (the loader contract)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName}: ${files.length} files")
    }
    // round trip: same rows, and membership matches the salted hash
    val back = spark.read.parquet(dir)
    assert(back.count() === docs500.count())
    val mismatch = back.withColumn("expect",
      pmod(xxhash64(col("doc_id"), lit("r8")), lit(8L)).cast("int"))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatch === 0L)
    // a different salt moves documents (shards are salt-keyed)
    val moved = Export.shardAssign(docs500, "doc_id", 8, "other")
      .withColumnRenamed("shard", "s2")
      .join(Export.shardAssign(docs500, "doc_id", 8, "r8"), Seq("doc_id"))
      .filter(col("shard") =!= col("s2")).count()
    assert(moved > 0L)
  }

  test("exportShardsJsonl: one JSONL per shard, in-shard id order, manifest verifies") {
    val docs500 = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Workspace.scratch("graft-jsonl")
    Export.exportShardsJsonl(docs500, "doc_id", dir, numShards = 4, salt = "j8")
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length === 4)
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".txt")) === 1, d.getName)
    }
    // each line is a self-contained JSON doc; ids are sorted within a shard
    val shard0 = shardDirs.head.listFiles().find(_.getName.endsWith(".txt")).get
    val idRe = """"doc_id":(\d+)""".r
    val ids = scala.io.Source.fromFile(shard0, "UTF-8").getLines()
      .map(l => idRe.findFirstMatchIn(l).get.group(1).toLong).toSeq
    assert(ids.nonEmpty && ids === ids.sorted, "in-shard order must be by id")
    // the JSON round-trips every row
    val back = spark.read.schema(docs500.schema)
      .json(shardDirs.map(d => d.getAbsolutePath + "/*.txt").toSeq: _*)
    assert(back.count() === docs500.count())
    // the manifest matches a recomputation over what was read back
    val manifest = spark.read.json(s"$dir/_manifest")
      .select("shard", "n_rows", "id_checksum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val recomputed = Export.shardManifest(back, "doc_id", 4, "j8").collect()
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2))).toMap
    assert(manifest === recomputed)
    assert(manifest.values.map(_._1).sum === 500L)
    // small corpus: every shard directory and manifest row still
    // exists, empties included — the fixed-set loader contract
    val small = docs500.limit(3)
    val dir2 = Workspace.scratch("graft-jsonl-small")
    Export.exportShardsJsonl(small, "doc_id", dir2, numShards = 6, salt = "j8")
    val dirs2 = new java.io.File(dir2).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs2 === (0 until 6).map(n => s"shard=$n").toSet)
    val man2 = spark.read.json(s"$dir2/_manifest")
    assert(man2.count() === 6L)
    assert(man2.agg(sum(col("n_rows"))).head().getLong(0) === 3L)
    val dir3 = Workspace.scratch("graft-pq-small")
    Export.exportShards(small, "doc_id", dir3, numShards = 6, salt = "j8")
    val dirs3 = new java.io.File(dir3).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs3 === (0 until 6).map(n => s"shard=$n").toSet)
    assert(spark.read.parquet(dir3).count() === 3L)
  }

  test("empty-shard backfill runs a constant number of jobs, independent of numShards") {
    // 3 docs into 64 shards: ≥61 shards are empty. The old backfill ran
    // one Spark job per missing shard (61+ jobs); the fixed version
    // writes one template job and fans out with filesystem copies.
    val small = Tables.documents(spark, "/root/testdata/sf0.001").limit(3)
    small.count() // materialize the limit outside the measured window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val dir = Workspace.scratch("graft-backfill")
    spark.sparkContext.addSparkListener(listener)
    try {
      Export.exportShards(small, "doc_id", dir, numShards = 64, salt = "jc")
      // listener events dispatch asynchronously; wait until the count
      // stabilizes (two equal reads) rather than poking Spark internals
      var prev = -1
      var tries = 0
      while (prev != jobs.get() && tries < 20) {
        prev = jobs.get(); Thread.sleep(150); tries += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 5, s"export ran ${jobs.get()} jobs — backfill must not scale with numShards")
    // and the contract still holds: all 64 directories exist, rows intact
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs === (0 until 64).map(n => s"shard=$n").toSet)
    assert(spark.read.parquet(dir).count() === 3L)
  }

  test("jsonl export serializes null fields explicitly — fixed key set per line") {
    val withNulls = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("doc_id", "maybe")
    val dir = Workspace.scratch("graft-jsonl-nulls")
    Export.exportShardsJsonl(withNulls, "doc_id", dir, numShards = 2, salt = "nn")
    val lines = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".txt")))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
    assert(lines.length === 3)
    lines.foreach { l =>
      assert(l.contains("\"maybe\":"), s"every line must carry every field: $l")
    }
    assert(lines.exists(_.contains("\"maybe\":null")))
  }

  test("compressionRatio: repetition below varied text, empty=1, binary path works") {
    val rep = Array.fill(60)("spark").mkString(" ")
    val varied = (0 until 60)
      .map(i => java.lang.Long.toString((i * 2654435761L) & 0xffffff, 36)).mkString(" ")
    val r = Seq((1L, rep), (2L, varied), (3L, ""))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.compressionRatio(col("t")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < r(2L), s"repetition must compress better: $r")
    assert(r(3L) === 1.0)
    assert(r(1L) > 0 && r(2L) < 1.2)
    val rb = Seq((1L, Array.fill[Byte](100)(7)),
        (2L, Array.tabulate[Byte](100)(i => (i * 37).toByte)))
      .toDF("id", "p")
      .select(col("id"), TextAnalysis.compressionRatio(col("p")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(rb(1L) < rb(2L), s"constant bytes must compress better: $rb")
  }

  test("removeDupSpans cuts corpus-duplicated spans (remove-all vs keep-first)") {
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val all = byId(Dedup.removeDupSpans(dupDocs, "text", "doc_id", k = 3))
    // docs 1/2 identical: every word covered by a duplicated 3-gram
    assert(all(1L) === (("", 9L, 9L)) && all(2L) === (("", 9L, 9L)))
    // doc 3 shares spans 0..5 with 1/2 (covers words 0..7); "cat" survives
    assert(all(3L) === (("cat", 9L, 8L)))
    // unique and empty docs pass through untouched
    assert(all(4L) === (("completely unrelated text about spark engines and parquet files", 9L, 0L)))
    assert(all(5L) === (("", 0L, 0L)))
    val kf = byId(Dedup.removeDupSpans(dupDocs, "text", "doc_id", k = 3, keepFirst = true))
    // keep-first: doc 1 (min id) keeps every span; 2 still loses all
    assert(kf(1L) === (("the quick brown fox jumps over the lazy dog", 9L, 0L)))
    assert(kf(2L) === (("", 9L, 9L)) && kf(3L) === (("cat", 9L, 8L)))
    // WITHIN-doc repetition alone is not corpus duplication (nd >= 2 docs)
    val intra = byId(Dedup.removeDupSpans(
      Seq((1L, "a b c a b c"), (2L, "x y z w v u")).toDF("doc_id", "text"), "text", "doc_id", k = 3))
    assert(intra(1L) === (("a b c a b c", 6L, 0L)))
    // null text behaves as empty, not a null-poisoned row
    val withNull = byId(Dedup.removeDupSpans(
      Seq((1L, null.asInstanceOf[String]), (2L, "x y z")).toDF("doc_id", "text"),
      "text", "doc_id", k = 3))
    assert(withNull(1L) === (("", 0L, 0L)))
  }

  test("documentFrequency counts each word once per doc with ln-IDF") {
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.documentFrequency(df, "text", "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("a")._1 === 2L) // once per doc, not 3
    assert(out("b")._1 === 1L && out("c")._1 === 1L)
    assert(math.abs(out("a")._2 - math.log(3.0 / 2.0)) < 1e-6)
    assert(math.abs(out("b")._2 - math.log(3.0)) < 1e-6)
  }

  test("corpusStats: exact discrete quantiles per language from the histogram") {
    // four English docs with word counts 1, 2, 3, 10:
    // p50 position ceil(4/2)=2 -> 2 words; p90 position ceil(3.6)=4 -> 10
    val docs = Seq(
      (1L, "the"), (2L, "the of"), (3L, "the of and"),
      (4L, "the of and to in is a the of and"),
      (5L, "der und ist")) // one German doc
      .toDF("doc_id", "text")
    val out = TextAnalysis.corpusStats(docs, "text", "doc_id")
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) === 4L && en.getLong(2) === 16L) // n_docs, total_words
    assert(en.getLong(4) === 1L && en.getLong(5) === 10L) // min, max
    assert(en.getLong(6) === 2L)  // p50
    assert(en.getLong(7) === 10L) // p90
    assert(out("de").getLong(1) === 1L && out("de").getLong(6) === 3L)
  }

  test("tfidfTopTerms ranks by tf*idf with deterministic word-asc ties") {
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // idf: x = ln 3, y = z = ln 1.5; doc 1's top term is x (tf 2)
    val (w1, tf1, s1) = out((1L, 1L))
    assert(w1 === "x" && tf1 === 2L)
    // idf rounds to 6 decimals BEFORE the tf product (engine-portable)
    val idfX = math.round(math.log(3.0) * 1e6) / 1e6
    assert(math.abs(s1 - math.round(2 * idfX * 1e6) / 1e6) < 1e-9)
    // doc 2: y and z tie on tf*idf -> word-asc puts y first
    assert(out((2L, 1L))._1 === "y" && out((2L, 2L))._1 === "z")
    // doc 3 has a single term -> exactly one row
    assert(!out.contains((3L, 2L)) && out((3L, 1L))._1 === "z")
  }

  test("capPerKey keeps at most N per key, deterministically, repartition-stable") {
    val df = spark.range(300).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("src"))
    val out = Sampling.capPerKey(df, "doc_id", "src", maxPerKey = 7, salt = "t")
    val byKey = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKey.values.forall(_ === 7L) && byKey.size === 3)
    // caps below the key's population pass through untouched rows only
    assert(out.columns.toSeq === Seq("doc_id", "src"))
    // deterministic + repartition-stable (hash-draw rank, not row order)
    val again = Sampling.capPerKey(df.repartition(11), "doc_id", "src", 7, "t")
      .collect().map(_.getLong(0)).toSet
    assert(again === out.collect().map(_.getLong(0)).toSet)
    // a key with fewer rows than the cap keeps all of them
    val small = df.filter(col("doc_id") < 5) // key 0 -> {0,3}, 1 -> {1,4}, 2 -> {2}
    assert(Sampling.capPerKey(small, "doc_id", "src", 7).count() === 5L)
  }

  test("unigramLogProb scores by corpus unigram frequencies, micro-nat exact") {
    // corpus: "x x y" + "y z" -> counts x=2 y=2 z=1, total 5
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def micro(p: Double): Long = math.round(math.log(p) * 1e6)
    // doc 1 is three draws of p=0.4 words, so the mean is micro(0.4)
    // nats exactly and the 6-decimal round is the identity
    val expected1 = micro(0.4) / 1e6
    assert(out(1L)._1 === 3L)
    assert(math.abs(out(1L)._2 - expected1) < 1e-9)
    // doc 2 mixes a common and a rare word; rarer words score lower
    assert(out(2L)._2 < out(1L)._2)
  }

  test("chunkWords: window arithmetic, overlap, and edge cases") {
    val df = Seq(
      (1L, "a b c d e f g"), // 7 words, size 3 overlap 1 -> starts 0,2,4
      (2L, "a b"),           // fewer than one window -> single chunk
      (3L, "")               // zero words -> no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkWords(df, "text", "doc_id", size = 3, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out.keys.count(_._1 == 1L) === 3)
    assert(out((1L, 0L)) === ((0L, 3L, "a b c")))
    assert(out((1L, 1L)) === ((2L, 3L, "c d e")))
    assert(out((1L, 2L)) === ((4L, 3L, "e f g")))
    assert(out((2L, 0L)) === ((0L, 2L, "a b")))   // short final-only chunk
    assert(!out.keys.exists(_._1 == 3L))          // empty doc drops out
    // a start whose words are fully covered by the previous chunk is
    // not emitted: 8 words, size 5, overlap 2 -> starts 0, 3 only
    val two = TextAnalysis.chunkWords(
      Seq((9L, "a b c d e f g h")).toDF("doc_id", "text"), "text", "doc_id", 5, 2)
      .collect().map(r => r.getLong(2)).sorted
    assert(two.toSeq === Seq(0L, 3L))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWords(df, "text", "doc_id", size = 3, overlap = 3)
    }
  }

  // ---- sketch accuracy gates ------------------------------------------

  test("distinctCountGate: HLL++ within bound passes, degenerate bound fails") {
    val vals = spark.range(0, 50000).select(col("id"))
    assert(Sketches.distinctCountGate(vals, "id", rsd = 0.02, bound = 0.05)
      .head().getString(0) === "pass")
    // a 0 tolerance on 50k distinct values demands bit-exactness from a
    // 2%-rsd sketch — deterministic, and deterministically not exact
    assert(Sketches.distinctCountGate(vals, "id", rsd = 0.02, bound = 0.0)
      .head().getString(0) === "fail")
  }

  test("approxDistinct groups and approxQuantiles stay near exact values") {
    val vals = spark.range(0, 10000)
      .select(col("id"), (col("id") % 2).as("k"), col("id").cast("double").as("v"))
    val byK = Sketches.approxDistinct(vals, "id", rsd = 0.02, keys = Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byK.keySet === Set(0L, 1L))
    byK.values.foreach(n => assert(math.abs(n - 5000L) <= 250L))
    val qs = Sketches.approxQuantiles(vals, "v", Seq(0.5, 0.9), accuracy = 10000)
      .head().getSeq[Double](0)
    assert(math.abs(qs(0) - 5000.0) <= 10 && math.abs(qs(1) - 9000.0) <= 10)
  }

  test("quantileGate: GK sketch at high accuracy matches the exact median") {
    val lens = dupDocs.select(TextAnalysis.wsTokenCount(col("text"))
      .cast("double").as("n"))
    assert(Sketches.quantileGate(lens, "n", q = 0.5, accuracy = 10000, bound = 0.05)
      .head().getString(0) === "pass")
  }

  test("packSequences: concat-and-chop bin assignment within pack groups") {
    val df = Seq(
      (0L, "a b c d e"),   // 5 tokens, start 0  -> bin 0 pos 0
      (1L, "f g h"),       // 3 tokens, start 5  -> bin 0 pos 5
      (2L, ""),            // 0 tokens, start 8  -> bin 1 pos 0
      (3L, "i j"),         // 2 tokens, start 8  -> bin 1 pos 0
      (4L, "k"),           // 1 token,  start 10 -> bin 1 pos 2
      (8L, "x y z")        // next pack group (groupSize 8): start 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(df, "text", "doc_id",
      budget = 8, groupSize = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(0L) === ((0L, 0L, 0L, 5L)))
    assert(out(1L) === ((0L, 0L, 5L, 3L)))
    assert(out(2L) === ((0L, 1L, 0L, 0L)))  // zero-token doc still packs
    assert(out(3L) === ((0L, 1L, 0L, 2L)))
    assert(out(4L) === ((0L, 1L, 2L, 1L)))
    assert(out(8L) === ((1L, 0L, 0L, 3L)))  // new group restarts at 0
    // a doc longer than the whole budget owns its start bin; the next
    // doc lands in a later bin
    val big = TextAnalysis.packSequences(
      Seq((0L, Seq.fill(20)("w").mkString(" ")), (1L, "a b")).toDF("doc_id", "text"),
      "text", "doc_id", budget = 8, groupSize = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(big(0L) === ((0L, 0L)) && big(1L) === ((2L, 4L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.packSequences(df, "text", "doc_id", budget = 0)
    }
  }

  test("heavyHitters: exact counts for every item above support, nothing else") {
    // skewed stream: item i appears 2^(10-i) times -> heavy head, long tail
    val items = spark.range(0, 10).select(col("id"))
      .withColumn("reps", pow(lit(2.0), lit(10) - col("id")).cast("int"))
      .select(col("id"), explode(sequence(lit(1), col("reps"))).as("r"))
      .select(concat(lit("w"), col("id")).as("item"))
      .union(spark.range(0, 500).select(concat(lit("tail"), col("id")).as("item")))
    val n = items.count().toDouble
    val support = 0.05
    val got = Sketches.heavyHitters(items, "item", support)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = items.groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .filter(_._2 > support * n).toMap
    assert(got === exact)
    assert(got.nonEmpty && !got.keys.exists(_.startsWith("tail")))
    // a support nobody reaches -> empty result, schema intact
    val none = Sketches.heavyHitters(items, "item", 0.9)
    assert(none.columns.toSeq === Seq("item", "cnt") && none.count() === 0)
  }

  test("topKGate: approx_top_k covers the exact top-k on skewed data") {
    val items = spark.range(0, 50).select(col("id"))
      .withColumn("reps", (lit(1000) / (col("id") + 1)).cast("int"))
      .select(explode(sequence(lit(1), col("reps"))).as("r"), col("id"))
      .select(concat(lit("w"), col("id")).as("item"))
    assert(Sketches.topKGate(items, "item", k = 10, maxItemsTracked = 1000,
      bound = 0.8).head().getString(0) === "pass")
    // an impossible bound fails loudly rather than passing vacuously
    assert(Sketches.topKGate(items, "item", k = 10, maxItemsTracked = 1000,
      bound = 1.1).head().getString(0) === "fail")
  }

  // ---- DSIR / shuffle / cross-corpus dedup ----------------------------

  test("DSIR log-weights order documents by target-likeness") {
    val corpus = Seq((1L, "alpha alpha alpha"), (2L, "omega omega omega"),
      (3L, "alpha omega"), (4L, "")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha alpha alpha alpha")).toDF("doc_id", "text")
    val out = TextAnalysis.dsirLogWeights(corpus, target, "text", "doc_id",
      numBuckets = 1024).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // pure-target doc > mixed doc > pure-off-target doc; empty doc drops
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) > out(3L) && out(3L) > out(2L))
    // weights are content-addressed: repartitioning changes nothing
    val out2 = TextAnalysis.dsirLogWeights(corpus.repartition(5), target,
      "text", "doc_id", numBuckets = 1024).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out === out2)
  }

  test("deterministic shuffle is a salt-keyed, repartition-stable permutation") {
    val ids = spark.range(500).withColumnRenamed("id", "doc_id")
    val o1 = Sampling.deterministicShuffle(ids, "doc_id", "e0")
      .select("doc_id").collect().map(_.getLong(0))
    assert(o1.toSet === (0L until 500L).toSet) // a permutation: nothing lost
    assert(!o1.sameElements(0L until 500L))    // and actually shuffled
    val o2 = Sampling.deterministicShuffle(ids.repartition(7), "doc_id", "e0")
      .select("doc_id").collect().map(_.getLong(0))
    assert(o1.sameElements(o2))                // content-addressed order
    val o3 = Sampling.deterministicShuffle(ids, "doc_id", "e1")
      .select("doc_id").collect().map(_.getLong(0))
    assert(!o1.sameElements(o3))               // a new salt is a new epoch
  }

  test("LSH kernels drop sub-shingle docs instead of bucketing them together") {
    // two <3-word docs share no 3-gram, but their empty shingle sets
    // used to minhash into one constant bucket per band — they must
    // produce no candidate pair and no output
    val seen = Seq((1L, "hi"), (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, "yo"), (11L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDup(incoming, seen, "text", "doc_id",
      shingleN = 3, threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((11L, 2L)))
    // self-join path likewise
    val selfOut = Dedup.minhashNearDup(
      seen.unionByName(incoming.withColumnRenamed("doc_id", "doc_id")),
      "text", "doc_id", shingleN = 3, threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(selfOut === Set((2L, 11L)))
  }

  test("bloom decontamination fails fast instead of silently clamping the sketch") {
    val grams = Seq("a b c").toDF("gram")
    val prev = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "8")
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.bloomContaminated(docs, "text", "doc_id", grams, "gram", n = 3)
      }
      assert(e.getMessage.contains("clamps"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", v)
      case None => spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    }
  }

  test("cross-corpus dedup reports incoming-vs-seen pairs only") {
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // seen-internal dup
      (3L, "completely unrelated text about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dups seen 1 and 2
      (11L, "something else entirely about streaming watermarks and state stores"))
      .toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDup(incoming, seen, "text", "doc_id",
      shingleN = 3, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the seen-internal (1,2) pair is NOT re-reported, 11 matches nothing
    assert(out === Set((10L, 1L), (10L, 2L)))
  }

  test("int8 quantization: codes in range, faithful round-trip, zero-vector safe") {
    val q = emb.withColumn("__q", Similarity.quantizeInt8(col("embedding")))
      .withColumn("recon", Similarity.dequantizeInt8(col("__q")))
    // reconstruction cosine stays near 1 for every vector
    val minCos = q.select(Similarity.cosine(col("embedding"), col("recon")).as("c"))
      .agg(min("c")).head().getDouble(0)
    assert(minCos > 0.995, s"worst reconstruction cosine $minCos")
    // every code is a genuine int8 value
    assert(q.select(explode(col("__q.codes")).as("c"))
      .filter(abs(col("c")) > 127).count() === 0L)
    // zero vectors: scale 0, all-zero codes, nothing null/NaN
    val z = Seq((1L, Seq.fill(8)(0f))).toDF("vec_id", "embedding")
      .withColumn("__q", Similarity.quantizeInt8(col("embedding")))
    val row = z.select(col("__q.scale"), col("__q.codes")).head()
    assert(row.getDouble(0) === 0.0)
    assert(row.getSeq[Byte](1).forall(_ === 0))
  }

  test("kNN label propagation: majority vote, deterministic ties, IVF agreement") {
    // two tight clusters on orthogonal axes, labels 1 and 2
    val labeled = Seq(
      (100L, Array(1f, 0f, 0f), 1), (101L, Array(0.9f, 0.1f, 0f), 1),
      (102L, Array(0.95f, 0.05f, 0f), 1),
      (200L, Array(0f, 1f, 0f), 2), (201L, Array(0.1f, 0.9f, 0f), 2),
      (202L, Array(0.05f, 0.95f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    val probes = Seq(
      (1L, Array(1f, 0.01f, 0f)),   // x-cluster → label 1
      (2L, Array(0.01f, 1f, 0f)))   // y-cluster → label 2
      .toDF("vec_id", "embedding")
    val pred = Similarity.knnPredict(labeled, probes, "embedding", "vec_id",
      "label", k = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(pred(1L) === ((1, 3L))) // all 3 nearest are x-cluster
    assert(pred(2L) === ((2, 3L)))
    // full-profile agreement between exact and IVF paths on real data
    val emb = Tables.embeddings(spark, sf)
    val lab = emb.filter(col("vec_id") >= 50)
    val prb = emb.filter(col("vec_id") < 20)
    def preds(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = preds(Similarity.knnPredict(lab, prb, "embedding", "vec_id", "label", k = 10))
    val ivf = preds(Similarity.knnPredictIvf(lab, prb, "embedding", "vec_id", "label",
      k = 10, nlist = 8, nprobe = 6))
    val agree = exact.count { case (id, p) => ivf.get(id).contains(p) }
    assert(exact.size === 20)
    assert(agree >= 16, s"IVF label agreement $agree/20")
  }

  test("balanceClasses downsamples every label to the minority count, hash-stable") {
    val df = ((1 to 30).map(i => (i.toLong, "a")) ++
      (31 to 40).map(i => (i.toLong, "b")) ++
      (41 to 45).map(i => (i.toLong, "c")))
      .toDF("id", "lab")
    val out = Sampling.balanceClasses(df, "id", "lab", salt = "t")
    val byLab = out.collect().map(r => r.getString(1)).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(byLab === Map("a" -> 5, "b" -> 5, "c" -> 5))
    // deterministic: same draw, same survivors
    val again = Sampling.balanceClasses(df.repartition(7), "id", "lab", salt = "t")
    assert(out.collect().map(_.getLong(0)).toSet === again.collect().map(_.getLong(0)).toSet)
    // already balanced input passes through whole
    val even = Seq((1L, "x"), (2L, "y")).toDF("id", "lab")
    assert(Sampling.balanceClasses(even, "id", "lab").count() === 2L)
  }

  test("temperatureResample: T=1 keeps all, T=0 equalizes, monotone in between") {
    val df = ((1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 500).map(i => (i.toLong, "mid")) ++
      (501 to 525).map(i => (i.toLong, "small")))
      .toDF("doc_id", "k")
    // T=1: identity — every row survives
    assert(Sampling.temperatureResample(df, "doc_id", "k", 1.0).count() === 525L)
    // T=0: expected counts equalize to the smallest key (25); the
    // Bernoulli draw is content-addressed, so tolerate binomial spread
    val flat = Sampling.temperatureResample(df, "doc_id", "k", 0.0, salt = "t")
    val byK = flat.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byK("small") === 25L) // rate 1.0 exactly: the smallest key is whole
    assert(byK("big") > 8L && byK("big") < 50L, s"big=${byK("big")}")
    assert(byK("mid") > 8L && byK("mid") < 50L, s"mid=${byK("mid")}")
    // intermediate T keeps more of the big key than T=0 and fewer than T=1
    val mid = Sampling.temperatureResample(df, "doc_id", "k", 0.5, salt = "t")
      .filter(col("k") === "big").count()
    assert(mid >= byK("big") && mid <= 400L)
    // repartition-stable: same survivors from any physical layout
    val again = Sampling.temperatureResample(df.repartition(7), "doc_id", "k", 0.0, salt = "t")
    assert(flat.collect().map(_.getLong(0)).toSet ===
      again.collect().map(_.getLong(0)).toSet)
    // NULL keys are a group like any other — T=1 keeps them (a plain
    // equi-join would silently drop them while counting them in minN)
    val withNull = df.withColumn("k",
      when(col("doc_id") <= 10, lit(null).cast("string")).otherwise(col("k")))
    assert(Sampling.temperatureResample(withNull, "doc_id", "k", 1.0).count() === 525L)
    // at T=0 the null group (10 rows) IS the smallest key: rate 1.0
    val flatNull = Sampling.temperatureResample(withNull, "doc_id", "k", 0.0, salt = "t")
    assert(flatNull.filter(col("k").isNull).count() === 10L)
  }

  test("text classifier recovers a linearly-separable label on holdout") {
    // token-count label: separable by a uniform weight on every hashed
    // TF feature (sum of counts = length), so the fit must spread
    // signal across the whole feature space, not find one magic token
    val split = Sampling.assignSplits(
      docs.withColumn("label",
        (size(graft.pipeline.Classifier.tokens(col("text"))) > 60).cast("double")),
      "doc_id", Seq("train" -> 0.8, "holdout" -> 0.2), salt = "clf")
    val model = graft.pipeline.Classifier.trainTextClassifier(
      split.filter(col("split") === "train"), "text", "label")
    val scored = graft.pipeline.Classifier.score(
      model, split.filter(col("split") === "holdout"), "text")
    // score column is a probability; predicted is its 0.5 threshold
    assert(scored.filter(col("score") < 0 || col("score") > 1).isEmpty)
    assert(scored.filter((col("score") > 0.5) =!= (col("predicted") === 1)).isEmpty)
    val gate = graft.pipeline.Classifier.accuracyGate(scored, "label", bound = 0.8)
    assert(gate.head().getString(0) === "pass")
    // persisted model round-trips to identical scores (train once,
    // score everywhere — the artifact contract)
    val dir = Workspace.scratch("graft-clf")
    graft.pipeline.Classifier.saveModel(model, dir)
    val reloaded = graft.pipeline.Classifier.loadModel(dir)
    val again = graft.pipeline.Classifier.score(
      reloaded, split.filter(col("split") === "holdout"), "text")
    val a = scored.select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = again.select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("oblivious IVF quantizer: unit-norm, deterministic, search recalls against brute force") {
    val cents = Similarity.obliviousCentroids(16, 64)
    assert(cents.length === 16 && cents.forall(_.length === 64))
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12, s"centroid norm $n")
    }
    // pure function of (nlist, dim, seed): regenerating yields the
    // identical matrix; a different seed yields a different one
    assert(Similarity.obliviousCentroids(16, 64).map(_.toSeq).toSeq ===
      cents.map(_.toSeq).toSeq)
    assert(Similarity.obliviousCentroids(16, 64, seed = 1).map(_.toSeq).toSeq !==
      cents.map(_.toSeq).toSeq)
    // search through the fixed quantizer still finds real neighbors:
    // probing 6 of 16 random cells must beat the ~6/16 random floor is
    // not guaranteed for near-random data, but exact duplicates always
    // share a cell (argmax over identical scores) — plant and assert
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val hits = Similarity.ivfTopKWith(cents, emb.unionByName(planted),
        emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 1, nprobe = 6)
      .filter(col("neighbor_id") === col("probe_id") + 10000).count()
    assert(hits === 5L, s"planted duplicates must be each probe's top-1, got $hits")
  }

  test("dimension reduction: RP is stateless-deterministic, PCA preserves neighbors") {
    import org.apache.spark.sql.functions.{udf => _, _}
    // planted duplicate: vec 0 cloned as id 9001 — any linear map keeps
    // an exact duplicate an exact duplicate
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 9001).as("vec_id"), col("embedding")))
    // --- random projection ---
    val rp = planted.withColumn("red", Similarity.randomProject(col("embedding"), 32, seed = 3))
    assert(rp.filter(size(col("red")) =!= 32).isEmpty)
    // repartition-stable: the projection is a pure function of the row
    val a = rp.filter(col("vec_id") === 7).select("red").head().getSeq[Float](0)
    val b = planted.repartition(7)
      .withColumn("red", Similarity.randomProject(col("embedding"), 32, seed = 3))
      .filter(col("vec_id") === 7).select("red").head().getSeq[Float](0)
    assert(a === b)
    // duplicate rows stay identical after projection
    val dup = rp.filter(col("vec_id").isin(0, 9001)).select("red").collect()
      .map(_.getSeq[Float](0))
    assert(dup(0) === dup(1))
    // cosine distortion is bounded on average (JL): sampled pairs
    val pairs = rp.alias("x").join(rp.alias("y"),
        col("x.vec_id") + 1 === col("y.vec_id"))
      .select(
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("full"),
        Similarity.cosine(col("x.red"), col("y.red")).as("red"))
      .agg(avg(abs(col("full") - col("red")))).head().getDouble(0)
    assert(pairs < 0.25, s"mean cosine distortion $pairs")
    // --- PCA ---
    val model = Similarity.trainPca(planted, "embedding", k = 32)
    assert(model.explainedVariance.toArray.sum > 0.4,
      s"explained ${model.explainedVariance.toArray.sum}")
    val reduced = Similarity.applyPca(model, planted, "embedding", "red")
    // the planted duplicate is the top-1 neighbor of vec 0 in reduced space
    val nn = Similarity.bruteForceTopK(
      reduced.select(col("vec_id"), col("red").as("embedding")),
      reduced.filter(col("vec_id") === 0)
        .select(col("vec_id"), col("red").as("embedding")),
      "embedding", "vec_id", k = 1)
    assert(nn.head().getAs[Long]("neighbor_id") === 9001L)
    // neighbor recall of the reduced space vs full space
    val probes = emb.filter(col("vec_id") < 10)
    val full = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 10)
    val redCorpus = reduced.filter(col("vec_id") < 9000)
      .select(col("vec_id"), col("red").as("embedding"))
    val redTop = Similarity.bruteForceTopK(redCorpus,
      redCorpus.filter(col("vec_id") < 10), "embedding", "vec_id", k = 10)
    val hits = full.select("probe_id", "neighbor_id")
      .intersect(redTop.select("probe_id", "neighbor_id")).count()
    info(s"PCA-32 recall@10 = ${hits / 100.0}")
    assert(hits >= 40, s"PCA recall too low: $hits/100")
  }

  test("persisted IVF index: quantized codes shrink storage ~4x, search stays faithful") {
    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(s"$d/vectors"))
    }
    val qDir = Workspace.scratch("graft-ivf-q")
    val fDir = Workspace.scratch("graft-ivf-f")
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", qDir, nlist = 8)
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", fDir, nlist = 8,
      quantize = false)
    // int8 codes vs float32 arrays: raw ratio is 4×; parquet page
    // overhead at this 500-row fixture scale dilutes it, so gate ≥2×
    // (measured ~2.4× here, approaching 4× as files grow)
    assert(dirBytes(qDir).toDouble < dirBytes(fDir).toDouble / 2.0,
      s"quantized ${dirBytes(qDir)}B vs float ${dirBytes(fDir)}B")
    val probes = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = pairs(Similarity.ivfTopK(emb, probes, "embedding", "vec_id",
      k = 10, nlist = 8, nprobe = 4))
    val float = pairs(Similarity.ivfTopKIndexed(probes, fDir, "embedding", "vec_id",
      k = 10, nprobe = 4))
    // float store: same trained quantizer (cache), same cells → same answer
    assert(float === mem)
    // quantized store: reconstruction error can flip near-ties in the
    // top-k ordering, so gate on overlap, not equality
    val quant = pairs(Similarity.ivfTopKIndexed(probes, qDir, "embedding", "vec_id",
      k = 10, nprobe = 4))
    val overlap = (quant intersect mem).size.toDouble / mem.size
    assert(mem.nonEmpty && overlap >= 0.9, s"quantized overlap $overlap")
  }

  // ---- retrieval & LM scoring -----------------------------------------

  test("bm25TopK ranks the term-matching doc first and keeps postings narrow") {
    val docs = Seq(
      (1L, "spark shuffle exchange partition spark"),
      (2L, "quantum entanglement spectroscopy result"),
      (3L, "the cat sat on the mat"),
      (4L, "partition pruning in the scan stage"),
      (5L, "spark partition")).toDF("doc_id", "text")
    val queries = Seq((100L, "quantum spectroscopy"), (200L, "spark partition"))
      .toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(docs, "text", "doc_id",
      queries, "qtext", "query_id", k = 3)
    val rows = out.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r).toMap
    // only doc 2 contains any query-100 term → sole hit, rank 1
    assert(rows((100L, 1)).getAs[Long]("doc_id") === 2L)
    assert(!rows.contains((100L, 2)))
    // both query-200 terms hit docs 1/4/5; the short doc with both
    // terms ("spark partition") beats partial/longer matches
    assert(rows((200L, 1)).getAs[Long]("doc_id") === 5L)
    assert(rows((200L, 2)).getAs[Long]("doc_id") === 1L) // spark twice
    assert(rows((200L, 3)).getAs[Long]("doc_id") === 4L)
    // the query-term candidate filter must reach postings as a
    // broadcast join — the corpus-wide postings never hash-shuffle
    // to meet the query table
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast candidate filter:\n$plan")
  }

  test("contaminationReport counts distinct-gram hits; short docs get one partial shingle") {
    val docs = Seq(
      (1L, "a b c d"),          // distinct 3-grams: "a b c", "b c d"
      (2L, "x y"),              // shorter than n → one partial shingle "x y"
      (3L, "a b c a b c d"))    // repeats dedupe: {a b c, b c a, c a b, b c d}
      .toDF("doc_id", "text")
    val grams = Seq("a b c").toDF("gram")
    val out = TextAnalysis.contaminationReport(docs, "text", "doc_id",
        grams, "gram", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("hits"),
          r.getAs[Double]("contamination"))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((1L, 0L, 0.0)))
    assert(out(3L) === ((4L, 1L, 0.25)))
  }

  test("keywords: RAKE ratio scoring on the canonical hand example") {
    val docs = Seq((1L, "deep learning of keyword extraction a compact deep system"))
      .toDF("doc_id", "text")
    // phrases: [deep learning] [keyword extraction] [compact deep system]
    // deep: freq 2, degree 2+3=5 -> 2.5; learning 2/1; keyword 2/1;
    // extraction 2/1; compact 3/1; system 3/1
    val out = TextAnalysis.keywords(docs, "text", "doc_id",
        Seq("of", "a"), topK = 5, scoring = "ratio")
      .collect().map(r => r.getAs[String]("phrase") ->
        (r.getAs[Double]("score"), r.getAs[Int]("rank"))).toMap
    assert(out("compact deep system") === ((8.5, 1)))
    assert(out("deep learning") === ((4.5, 2)))
    assert(out("keyword extraction") === ((4.0, 3)))
  }

  test("keywords: repeated phrases dedupe; degree scoring; topK truncates") {
    val docs = Seq((1L, "x y a x y a z")).toDF("doc_id", "text")
    // x: freq 2 deg 4; y: freq 2 deg 4; z: freq 1 deg 1
    val deg = TextAnalysis.keywords(docs, "text", "doc_id",
        Seq("a"), topK = 1, scoring = "degree").collect()
    assert(deg.length === 1)
    assert(deg.head.getAs[String]("phrase") === "x y")
    assert(deg.head.getAs[Double]("score") === 8.0)
    // all-stopword and empty docs vanish
    val none = TextAnalysis.keywords(
      Seq((1L, "a a a"), (2L, "")).toDF("doc_id", "text"),
      "text", "doc_id", Seq("a"), topK = 3)
    assert(none.count() === 0)
  }

  test("keywords: single hash exchange — segmentation, stats, and rank reuse it") {
    val docs = Tables.documents(spark, sf)
    val p = TextAnalysis.keywords(docs, "text", "doc_id",
      TextAnalysis.markers("en"), topK = 5, scoring = "degree")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"keyword extraction must shuffle exactly once:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no driver-funnel exchange in keyword extraction:\n$p")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; delta-only by default") {
    val oldSnap = Seq((1L, "same"), (2L, "old body"), (3L, "gone")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "new body"), (4L, "fresh")).toDF("doc_id", "text")
    val full = Incremental.snapshotDiff(oldSnap, newSnap, "doc_id", "text",
        includeUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val delta = Incremental.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(delta === Set(2L, 3L, 4L))
  }

  test("snapshotDiff classifies null-text docs by presence, not hash nullness") {
    // md5(null) is null: hash-nullness classification would misread a
    // present-but-null document as added/removed. Presence flags + the
    // null-safe compare keep every case honest.
    val oldSnap = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "body")).toDF("doc_id", "text")
    val newSnap = Seq((1L, null.asInstanceOf[String]), (2L, "body"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val full = Incremental.snapshotDiff(oldSnap, newSnap, "doc_id", "text",
        includeUnchanged = true, hashFn = md5(_))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "changed", 4L -> "added"))
  }

  test("snapshotDiff hashes content below the join — wide text never shuffles") {
    val docs = Tables.documents(spark, sf)
    val p = Incremental.snapshotDiff(
        docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    assert(p.contains("xxhash64"), s"expected content hashed in-plan:\n$p")
    // the join keys/output carry only id + hash columns, never text
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(!joinLine.contains("text"), s"text reached the join:\n$joinLine")
  }

  test("BM25 long-doc fallback: explode+groupBy postings equal the in-row kernel") {
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Retrieval.tokens(col("text")), 1, 8), " ").as("qtext"))
    def run(thr: Int): Set[(Long, Long, Double, Int)] =
      Retrieval.bm25TopK(docs, "text", "doc_id", queries, "qtext", "query_id",
          k = 10, longDocTokens = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    // threshold 1 routes EVERY document through the explode+groupBy
    // branch; the default keeps every fixture doc in-row — identical
    // rows prove the two kernels agree exactly (dl, tf, scores, ranks)
    assert(run(1) === run(Retrieval.LongDocTokens))
  }

  test("book-length documents retrieve correctly through the long-doc branch") {
    // a ~200k-token document with ~1k distinct terms: the in-row kernel
    // would burn ~2e8 comparisons inside one row; above the threshold it
    // takes the linear explode+groupBy path instead and must still
    // score/retrieve exactly
    val longText = (0 until 200000).map(i => s"w${(i * 2654435761L) % 1000}").mkString(" ")
    val mixed = Seq((1L, longText), (2L, "quick brown fox"), (3L, "lazy dog sleeps"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "w1 w7 w13"), (20L, "quick fox")).toDF("query_id", "qtext")
    val out = Retrieval.bm25TopK(mixed, "text", "doc_id", queries, "qtext", "query_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(out((10L, 1)) === 1L, s"long doc must win its own terms: $out")
    assert(out((20L, 1)) === 2L, s"short doc retrieval unaffected: $out")
    // and the long doc's own plan stays identical to a doc truncated at
    // nothing — tf through the explode path is exact, verified by a
    // deterministic score recomputation on a single-term query
    val one = Retrieval.bm25TopK(mixed, "text", "doc_id",
      Seq((1L, "w999")).toDF("query_id", "qtext"), "qtext", "query_id", k = 1)
      .collect()
    assert(one.length === 1 && one(0).getLong(1) === 1L)
  }

  test("keywords maxDocTokens equals running on pre-truncated text") {
    val full = "alpha beta the gamma delta the epsilon zeta eta theta iota kappa"
    val toks = full.split(" ")
    val truncated = toks.take(7).mkString(" ")
    val a = TextAnalysis.keywords(
      Seq((1L, full)).toDF("doc_id", "text"), "text", "doc_id",
      Seq("the"), topK = 5, scoring = "degree", maxDocTokens = 7)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val b = TextAnalysis.keywords(
      Seq((1L, truncated)).toDF("doc_id", "text"), "text", "doc_id",
      Seq("the"), topK = 5, scoring = "degree")
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a === b)
    assert(a.exists(_._1.startsWith("gamma delta")), s"phrases survived: $a")
  }

  test("decontaminationTriage flags the leaked doc and exact-verifies it") {
    val corpus = Seq(
      (1L, "the capital of france is paris and its river is the seine"),
      (2L, "completely unrelated text about spark shuffles and parquet files"),
      (3L, "what is the capital of france extra words here beyond")) // paraphrase-ish
      .toDF("doc_id", "text")
    val bench = Seq((100L, "what is the capital of france"))
      .toDF("query_id", "qtext")
    val out = Retrieval.decontaminationTriage(corpus, "text", "doc_id",
        bench, "qtext", "query_id", minScore = 0.1, k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 3 contains the question's grams verbatim → high contamination;
    // doc 1 shares terms (BM25-flagged) but few exact 3-grams; doc 2
    // shares only stopword-ish terms
    assert(out.contains(3L) && out(3L)._4 > 0.3, s"leaked doc verified: $out")
    assert(out.get(1L).forall(_._4 < out(3L)._4), s"partial overlap ranks lower: $out")
    out.get(2L).foreach { case (_, _, hits, _) => assert(hits === 0L) }
  }

  test("indexed triage equals the direct form; corpus text stays out of stage 1") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Retrieval.tokens(col("text")), 1, 8), " ").as("qtext"))
    val dir = Workspace.scratch("graft-triage-idx")
    Retrieval.buildTextIndex(docs, "text", "doc_id", dir, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val direct = rows(Retrieval.decontaminationTriage(docs, "text", "doc_id",
      bench, "qtext", "query_id", minScore = 1.0, k = 10))
    val indexed = rows(Retrieval.decontaminationTriageIndexed(docs, "text", "doc_id",
      bench, "qtext", "query_id", dir, minScore = 1.0, k = 10))
    assert(direct === indexed)
    assert(direct.nonEmpty, "self-retrieval must flag the query source docs")
  }

  test("indexed BM25 caches the stats row: repeat query batches save a driver job") {
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Retrieval.tokens(col("text")), 1, 6), " ").as("qtext"))
    val dir = Workspace.scratch("graft-textidx-cache")
    Retrieval.buildTextIndex(docs, "text", "doc_id", dir, buckets = 8)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def settledJobs(): Int = {
      var prev = -1
      var tries = 0
      while (prev != jobs.get() && tries < 20) {
        prev = jobs.get(); Thread.sleep(150); tries += 1
      }
      jobs.get()
    }
    def run(): Array[org.apache.spark.sql.Row] =
      Retrieval.bm25TopKIndexed(queries, dir, "qtext", "query_id", k = 5).collect()
    spark.sparkContext.addSparkListener(listener)
    try {
      val r1 = run()
      val j1 = settledJobs()
      jobs.set(0)
      val r2 = run()
      val j2 = settledJobs()
      assert(j2 < j1, s"cached stats must save at least the head() job: $j1 -> $j2")
      assert(r1.map(_.toString).sorted.toSeq === r2.map(_.toString).sorted.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stats cache invalidates on rebuild: a changed bucket modulus is picked up") {
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Retrieval.tokens(col("text")), 1, 6), " ").as("qtext"))
    val dir = Workspace.scratch("graft-textidx-mtime")
    def run(): Set[String] =
      Retrieval.bm25TopKIndexed(queries, dir, "qtext", "query_id", k = 5)
        .collect().map(_.toString).toSet
    Retrieval.buildTextIndex(docs, "text", "doc_id", dir, buckets = 8)
    val before = run() // populates the cache with buckets=8
    // rebuild IN PLACE with a different modulus — a stale cached
    // modulus would prune to the wrong partitions and drop postings
    Retrieval.buildTextIndex(docs, "text", "doc_id", dir, buckets = 2)
    assert(run() === before, "results must survive an in-place rebuild")
  }

  test("persisted text index: same BM25 answer, postings scan partition-pruned") {
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(Retrieval.tokens(col("text")), 1, 8), " ").as("qtext"))
    val dir = Workspace.scratch("graft-textidx")
    Retrieval.buildTextIndex(docs, "text", "doc_id", dir, buckets = 16)
    val direct = Retrieval.bm25TopK(docs, "text", "doc_id",
      queries, "qtext", "query_id", k = 10)
    val indexed = Retrieval.bm25TopKIndexed(queries, dir, "qtext", "query_id", k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(rows(indexed) === rows(direct))
    // the static bucket isin must reach the postings scan as a
    // partition filter — queries read matched buckets, not the index
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"), s"postings scan not pruned:\n$plan")
  }

  test("bigramPerplexity: scrambled word order scores higher; short docs keep null rows") {
    // ten fluent copies fix the bigram stats; the scrambled doc uses the
    // SAME words (unigram model identical) in never-seen orders
    val fluent = (1L to 10L).map(i => (i, "the cat sat on the mat"))
    val docs = (fluent :+ (11L, "mat the on sat cat the") :+ (12L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramPerplexity(docs, "text", "doc_id")
    assert(out.count() === 12) // short doc kept
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(12L).isNullAt(byId(12L).fieldIndex("perplexity")))
    val fluentPpl = byId(1L).getAs[Double]("perplexity")
    val scramPpl = byId(11L).getAs[Double]("perplexity")
    assert(fluentPpl > 0 && scramPpl > fluentPpl,
      s"scrambled $scramPpl should exceed fluent $fluentPpl")
    // identical docs score identically (the model is corpus-global)
    assert(byId(2L).getAs[Double]("perplexity") === fluentPpl)
  }

  // ---- loaders (ADVICE: events nanos→micros) --------------------------

  test("events loader converts nanos to a microsecond timestamp column") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(ev.count() > 0)
  }
}
