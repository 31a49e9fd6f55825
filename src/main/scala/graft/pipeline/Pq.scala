package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) for embedding search — the memory lever
  * past [[Similarity.quantizeInt8]]'s 4×: a `dim`-float vector becomes
  * `m` sub-quantizer codes (one byte each at ksub ≤ 256), a 32×
  * reduction for 64-dim float32 at m=8. At 100 TB of embeddings that
  * is the difference between an index that fits in cluster page cache
  * and one that doesn't.
  *
  * Construction (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split the (unit-normalized) vector
  * into `m` contiguous subspaces; per subspace, a k-means codebook of
  * `ksub` centroids is trained on a bounded deterministic driver-side
  * sample (the same model-fit contract as
  * [[Similarity.trainCentroids]]); a vector's code in subspace `j` is
  * its nearest centroid there. Search is asymmetric distance (ADC):
  * each probe precomputes a lookup table `lut(j*ksub+c) =
  * ⟨probe_j, centroid_{j,c}⟩`, and a candidate's approximate cosine is
  * `Σ_j lut(j*ksub + codes(j))` — `m` array lookups per candidate via
  * the native codegen'd [[graft.functions.PqAdc]], no per-candidate
  * dot product, and the corpus side of the join carries only the
  * m-byte codes, never the vectors.
  *
  * Vectors are unit-normalized before training/encoding, so the ADC
  * inner product approximates cosine directly (the quantity every
  * other ANN path here ranks by). Encoding itself is Column math over
  * centroid literals — a write-once narrow map, the same contract as
  * [[Similarity.quantizeInt8]] — while the per-candidate scoring hot
  * loop is the native expression.
  */
object Pq {

  /** Trained codebooks: `cents(j)(c)` is the `c`-th centroid of
    * subspace `j`, each `dsub` doubles. `dim = m * dsub` (vectors
    * shorter than that are zero-padded per subspace slice semantics).
    */
  final case class Codebooks(m: Int, ksub: Int, dsub: Int,
                             cents: Array[Array[Array[Double]]])

  /** Fit PQ codebooks on a bounded deterministic sample (xxhash64(id)
    * order — distribution-independent), unit-normalizing each sampled
    * vector first. Per subspace: k-means with first-ksub-distinct init
    * and empty-cell carry-over, mirroring [[Similarity.trainCentroids]].
    * The fitted model is m·ksub·dsub doubles — small enough to ship
    * into plans as literals. Cached per (corpus plan, params) like the
    * IVF coarse quantizer.
    */
  def train(corpus: DataFrame, vecCol: String, idCol: String,
            m: Int = 8, ksub: Int = 16, maxTrain: Int = 4096,
            iters: Int = 8): Codebooks = {
    val key = (corpus.queryExecution.logical.semanticHash(),
      vecCol, idCol, m, ksub, maxTrain, iters)
    graft.Workspace.memo(("pq-codebooks", key)) {
      fit(corpus, vecCol, idCol, m, ksub, maxTrain, iters)
    }
  }

  private def fit(corpus: DataFrame, vecCol: String, idCol: String,
                  m: Int, ksub: Int, maxTrain: Int, iters: Int): Codebooks = {
    require(m > 0 && ksub > 0 && ksub <= 256, s"bad PQ params m=$m ksub=$ksub")
    // same deterministic bounded sample as the IVF coarse quantizer
    val pts = Similarity.fitSample(corpus, vecCol, idCol, maxTrain)
    val dim = pts.map(_.length).max
    val dsub = (dim + m - 1) / m
    def sub(v: Array[Double], j: Int): Array[Double] =
      Array.tabulate(dsub)(i => {
        val idx = j * dsub + i
        if (idx < v.length) v(idx) else 0d
      })
    val cents = Array.tabulate(m) { j =>
      val sp = pts.map(sub(_, j))
      // init: first ksub DISTINCT subvectors (duplicated corpora would
      // otherwise seed identical centroids and waste codebook entries)
      var init = sp.map(_.toSeq).distinct.take(ksub).map(_.toArray)
      if (init.isEmpty) init = Array(new Array[Double](dsub))
      var cs = init.map(_.clone)
      for (_ <- 0 until iters) {
        val sums = Array.fill(cs.length)(new Array[Double](dsub))
        val counts = new Array[Int](cs.length)
        for (p <- sp) {
          var best = 0; var bestD = Double.MaxValue
          for (ci <- cs.indices) {
            var d = 0d; var i = 0
            while (i < dsub) {
              val diff = p(i) - cs(ci)(i); d += diff * diff; i += 1
            }
            if (d < bestD) { bestD = d; best = ci }
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cs = cs.indices.map { ci =>
          if (counts(ci) == 0) cs(ci)
          else sums(ci).map(_ / counts(ci))
        }.toArray
      }
      // pad under-full codebooks so every subspace has exactly ksub
      // entries (codes index a fixed-stride LUT)
      if (cs.length < ksub) cs ++ Array.fill(ksub - cs.length)(cs.head.clone)
      else cs
    }
    Codebooks(m, ksub, dsub, cents)
  }

  private def lit2(v: Array[Double]): Column =
    array(v.toIndexedSeq.map(lit): _*)

  /** Unit-normalize a vector column (zero vectors pass through). */
  def normalize(v: Column): Column = {
    val n = Similarity.norm(v)
    when(n === 0d, transform(v, x => x.cast(DoubleType)))
      .otherwise(transform(v, x => x.cast(DoubleType) / n))
  }

  private def subSlice(v: Column, cb: Codebooks, j: Int): Column =
    slice(v, j * cb.dsub + 1, cb.dsub)

  /** Encode a (normalized) vector into its `m` codes — per subspace the
    * argmin-distance centroid, computed as argmax of
    * `⟨x_j,c⟩ − ‖c‖²/2` over centroid literals (equivalent for L2).
    * Column math over literals: a write-once narrow map with no
    * shuffle, the [[Similarity.quantizeInt8]] contract; the search hot
    * loop never runs this.
    */
  def encode(cb: Codebooks, v: Column): Column = {
    val codes = (0 until cb.m).map { j =>
      val xj = subSlice(v, cb, j)
      // rankedCells-style argmax via sort_array over (negscore, code)
      val scored = array(cb.cents(j).zipWithIndex.toIndexedSeq.map { case (c, ci) =>
        val half = c.map(x => x * x).sum / 2
        struct((lit(half) - Similarity.dot(xj, lit2(c))).as("nd"),
          lit(ci).as("code"))
      }: _*)
      element_at(sort_array(scored), 1).getField("code").cast(ByteType)
    }
    array(codes: _*)
  }

  /** Probe-side ADC lookup table: `m*ksub` doubles,
    * `lut(j*ksub+c) = ⟨probe_j, centroid_{j,c}⟩`. Column math over
    * centroid literals on the SMALL (probe) side only.
    */
  def lut(cb: Codebooks, v: Column): Column =
    array((0 until cb.m).flatMap { j =>
      val xj = subSlice(v, cb, j)
      cb.cents(j).toIndexedSeq.map(c => Similarity.dot(xj, lit2(c)))
    }: _*)

  /** ADC score of a codes row against a probe LUT — the native
    * [[graft.functions.PqAdc]] lookup-sum, ≈ cosine for normalized
    * inputs.
    */
  def adc(codes: Column, lutCol: Column, ksub: Int): Column =
    call_function(graft.functions.PqAdc.name, codes, lutCol, lit(ksub))

  /** PQ-ADC top-k over the full corpus: corpus rows are reduced to
    * m-byte codes once, probes broadcast with their LUTs, and every
    * candidate costs `m` lookups. The approximate scores rank the
    * candidates; exactness is recall-gated in tests like the other ANN
    * variants. At 100 TB the scan ships codes (8 bytes/row at m=8),
    * not embeddings (256 bytes/row) — the join's build/stream payload
    * shrinks 32×.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame,
             vecCol: String, idCol: String, k: Int,
             m: Int = 8, ksub: Int = 16, rerank: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = train(corpus, vecCol, idCol, m, ksub)
    val c = Sizing.spread(corpus)
      .select(col(idCol).as("neighbor_id"),
        encode(cb, normalize(col(vecCol))).as("codes"))
    val p = probes.select(col(idCol).as("probe_id"),
      lut(cb, normalize(col(vecCol))).as("lut"))
    val scored = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        adc(col("codes"), col("lut"), cb.ksub).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val shortK = if (rerank > 0) k * rerank else k
    val shortlist = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortK)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
    if (rerank <= 0) shortlist
    else rerankExact(shortlist, corpus, probes, vecCol, idCol, k)
  }

  /** Exact-cosine re-rank of an ADC shortlist (the faiss/SCANN
    * two-stage contract): the codes-only scan prunes the corpus to
    * `k·rerank` candidates per probe, and full vectors are touched only
    * for those — a probes×shortK-row equi-join, never a corpus scan.
    * Recovers near-exact recall from a coarse quantizer.
    */
  private def rerankExact(shortlist: DataFrame, corpus: DataFrame,
                          probes: DataFrame, vecCol: String, idCol: String,
                          k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Similarity.norm(col(vecCol)).as("cn"))
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      Similarity.norm(col(vecCol)).as("pn"))
    val exact = shortlist.select(col("probe_id"), col("neighbor_id"))
      .join(cv, Seq("neighbor_id"))
      .join(broadcast(pv), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (Similarity.dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
  }

  /** Persist an IVF-PQ index (the faiss IVFPQ shape, without residual
    * encoding — codes quantize the normalized vectors directly, the
    * `by_residual=false` variant): coarse k-means cells for pruning
    * ([[Similarity.trainCentroids]]) plus PQ codes per row. Layout:
    * `dir/centroids` (nlist rows), `dir/codebooks` (m·ksub rows of
    * (j, c, centroid)), `dir/vectors` partitioned by `cell` with
    * (id, codes). The vectors table stores NO float vectors at all —
    * m bytes per row — so a 100 TB corpus indexes into ~3 TB that a
    * query batch reads nprobe/nlist of.
    */
  def buildIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                      dir: String, nlist: Int = 16,
                      m: Int = 8, ksub: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarse = Similarity.trainCentroids(corpus, vecCol, idCol, nlist)
    val cb = train(corpus, vecCol, idCol, m, ksub)
    coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .withColumn("fmt", lit(Similarity.IndexFormatVersion))
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
    (for (j <- 0 until cb.m; ci <- 0 until cb.ksub)
      yield (j, ci, cb.cents(j)(ci).toSeq)).toDF("j", "c", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    corpus.select(col(idCol),
        encode(cb, normalize(col(vecCol))).as("codes"),
        element_at(Similarity.rankedCells(coarse, col(vecCol)), 1).as("cell"))
      .withColumn("gen", lit(0L)) // same v3 layout as the IVF index
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** ADC search against a persisted [[buildIvfPqIndex]] layout: the two
    * model tables are bounded collects (nlist + m·ksub rows), probes
    * carry their LUT and ranked cells, and the single equi-join on the
    * `cell` PARTITION column bounds the scan to nprobe/nlist of the
    * code table.
    */
  /** Incremental append to a persisted [[buildIvfPqIndex]] layout: new
    * vectors are encoded with the index's FITTED codebooks and assigned
    * with its fitted coarse quantizer (both read back, never
    * retrained), then appended to their cell partitions — the
    * crawl-increment contract, mirroring
    * [[Similarity.appendToIvfIndex]].
    */
  def appendToIvfPqIndex(newVectors: DataFrame, vecCol: String,
                         idCol: String, dir: String, gen: Long = 0L): Unit = {
    val spark = newVectors.sparkSession
    // same fail-loud contract as Similarity.appendToIvfIndex:
    // ivfPqTopKIndexed honors tombstones, so appending below an
    // existing tombstone generation would silently lose the vectors
    Similarity.requireAppendGenUnshadowed(spark, dir, gen, "appendToIvfPqIndex")
    val coarse = Similarity.readIndexCentroids(spark, dir)
    val cb = readCodebooks(spark, dir)
    newVectors.select(col(idCol),
        encode(cb, normalize(col(vecCol))).as("codes"),
        element_at(Similarity.rankedCells(coarse, col(vecCol)), 1).as("cell"))
      .withColumn("gen", lit(gen)) // same v3 layout as the IVF index
      .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
  }

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Codebooks = {
    val cbRows = spark.read.parquet(s"$dir/codebooks")
      .orderBy("j", "c").collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val cents = Array.tabulate(m, ksub)((j, c) =>
      cbRows(j * ksub + c).getSeq[Double](2).toArray)
    Codebooks(m, ksub, cents(0)(0).length, cents)
  }

  /** `rerankWith` supplies (id, vec) rows for exact-cosine re-ranking
    * of the ADC shortlist (`rerank`·k candidates per probe) — the index
    * itself stores no float vectors, so the re-rank source is the
    * caller's corpus (or a narrow id→vec side table). Exactly the
    * two-stage faiss contract: codes prune, vectors confirm.
    */
  def ivfPqTopKIndexed(probes: DataFrame, dir: String,
                       vecCol: String, idCol: String, k: Int,
                       nprobe: Int = 4,
                       rerankWith: Option[DataFrame] = None,
                       rerank: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = probes.sparkSession
    val coarse = Similarity.readIndexCentroids(spark, dir)
    val cb = readCodebooks(spark, dir)
    // same v3 liveness rule as the IVF index: tombstoned generations
    // never reach scoring (without this, deleted ids resurface)
    val c = Similarity.liveIndexVectors(spark, dir, idCol)
      .select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
    val p = probes.select(col(idCol).as("probe_id"),
      lut(cb, normalize(col(vecCol))).as("lut"),
      explode(slice(Similarity.rankedCells(coarse, col(vecCol)), 1, nprobe)).as("cell"))
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        adc(col("codes"), col("lut"), cb.ksub).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val shortK = rerankWith.fold(k)(_ => k * math.max(rerank, 1))
    val shortlist = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortK)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
    rerankWith.fold(shortlist)(corpus =>
      rerankExact(shortlist, corpus, probes, vecCol, idCol, k))
  }
}
