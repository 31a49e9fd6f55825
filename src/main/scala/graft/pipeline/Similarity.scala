package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Three paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *     baseline. Probe set × corpus join; only viable when one side is
  *     small (it broadcasts the probes).
  *   - [[lshTopK]]: random-hyperplane LSH bucketing — the scale path.
  *     The corpus is bucketed once (shuffle on signature); probes only
  *     join their own bucket (and optionally 1-bit-flip neighbor
  *     buckets for recall). At 100 TB the bucket count ~2^planes keeps
  *     per-bucket candidate lists bounded.
  *   - [[ivfTopK]]: inverted-file index (the faiss IVF-Flat shape) —
  *     a k-means coarse quantizer partitions the corpus into nlist
  *     cells; each probe scans only its nprobe nearest cells. Data-
  *     adapted cells track the embedding distribution where LSH's
  *     oblivious hyperplanes cannot.
  *
  * All math is Column expressions over the array (zip_with/aggregate) —
  * codegen applies, no UDFs, no driver-side loops.
  */
object Similarity {

  /** Dot product of two numeric-array columns, accumulated in double.
    * Backed by the native [[graft.functions.VecDot]] expression — a
    * codegen'd primitive loop. The `aggregate(zip_with(...))` HOF
    * formulation computes the same value but is CodegenFallback
    * (interpreted lambda + boxing per element), which is the wrong
    * shape for the corpus-side hot loop at 100 TB.
    */
  def dot(a: Column, b: Column): Column =
    call_function(graft.functions.VecDot.name, a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic ±1 hyperplane rows, materialized as literal arrays
    * at plan time (splitmix bits) — no per-element hashing at runtime.
    * Supports embeddings up to [[MaxDims]] dimensions (wider vectors
    * project onto their first MaxDims coordinates — the native dot
    * runs over the shorter operand; raise the constant for wider
    * embeddings, it linearly grows the literal plan payload).
    */
  val MaxDims = 128
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def planeRow(j: Int): Seq[Double] =
    (0 until MaxDims).map(i => if ((mix(j.toLong * MaxDims + i) & 1L) == 0L) 1d else -1d)

  /** The literal ±1 hyperplane matrix behind [[planeSignature]], sliced
    * to `dim` columns — exposed so an engine-portable oracle can
    * re-derive bucket signatures outside Spark. Slicing is exact: the
    * native dot runs over the shorter operand, so plane row j of a
    * dim-wide vector uses exactly these `dim` entries.
    */
  def lshPlanes(planes: Int, dim: Int, seed: Int = 0): Array[Array[Double]] = {
    require(dim > 0 && dim <= MaxDims, s"dim $dim outside (0, $MaxDims]")
    // same namespace guard as planeSignature: this function's contract
    // is "the matrix BEHIND planeSignature", so it must reject exactly
    // the seeds planeSignature rejects
    require(seed >= 0 && seed < (1 << 20),
      s"lshPlanes seed $seed outside the LSH plane namespace [0, 2^20)")
    Array.tabulate(planes)(j => planeRow(seed * 1024 + j).take(dim).toArray)
  }

  /** Data-INDEPENDENT unit-norm coarse-quantizer centroids from a
    * seeded splitmix stream (a distinct tweak constant keeps the draw
    * disjoint from the hyperplane family). Where [[trainCentroids]]
    * adapts cells to the data (better recall, but the fit is state), an
    * oblivious quantizer is a pure function of (nlist, dim, seed): both
    * engines of a differential test can regenerate it, and an index
    * built with it never needs a training pass — the determinized IVF
    * entry the DuckDB oracle re-derives end to end.
    */
  def obliviousCentroids(nlist: Int, dim: Int, seed: Int = 0): Array[Array[Double]] = {
    require(nlist > 0 && dim > 0, s"nlist $nlist / dim $dim must be positive")
    Array.tabulate(nlist) { ci =>
      unitNormalized(Array.tabulate(dim) { i =>
        // uniform in [-1, 1): top 53 bits of the mixed draw
        val u = (mix(0x5EEDCE115L + (seed.toLong << 32) + ci.toLong * dim + i) >>> 11)
          .toDouble / (1L << 53).toDouble
        u * 2d - 1d
      })
    }
  }

  /** LSH signature: one bit per hyperplane = sign of the projection
    * against a literal ±1 plane row. `seed` offsets the plane family so
    * independent hash tables see independent hyperplanes.
    */
  def planeSignature(v: Column, planes: Int, seed: Int = 0): Column = {
    // the LSH namespace is [0, 1<<30): seeds ≥ 2^20 would walk into the
    // random-projection family's offset (1<<30) — fail loudly instead
    require(seed >= 0 && seed < (1 << 20),
      s"planeSignature seed $seed outside the LSH plane namespace [0, 2^20)")
    val bits = (0 until planes).map { j =>
      val row = typedLit(planeRow(seed * 1024 + j))
      // native dot runs over the shorter operand, so the plane row
      // needs no pre-slice to the vector's length
      val proj = dot(v, row)
      when(proj >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Johnson–Lindenstrauss random projection to `k` dimensions with
    * the same deterministic ±1 plane rows as the LSH family (Achlioptas
    * sign matrices are a valid JL family; scaling by 1/√k keeps
    * expected norms). A narrow map with NO fit step and no state —
    * the 100 TB-friendly way to shrink embeddings before ANN when a
    * training pass is unwanted: every executor regenerates the same
    * literal matrix from the seed, nothing is broadcast or persisted.
    * The plane namespace is offset from [[planeSignature]]'s so a
    * projection never reuses an LSH table's hyperplanes.
    *
    * Input width: like the LSH family, the literal plane rows are
    * [[MaxDims]] (128) long and the native dot runs over the SHORTER
    * operand, so embeddings wider than MaxDims would be projected from
    * their first 128 coordinates only — raise MaxDims before using
    * either API on wider vectors.
    *
    * PLANE-FAMILY VERSION NOTE: the RP namespace moved from offset
    * 2^20 to 2^30 (the old offset collided with LSH seeds ≥ 1024), so
    * projections differ from those produced before the change. Any
    * artifact persisted over OLD projections (e.g. an IVF index built
    * on reduced vectors) must be rebuilt — determinism holds within a
    * plane-family version, not across the fix.
    */
  def randomProject(v: Column, k: Int, seed: Int = 0): Column = {
    require(k > 0, s"k $k must be positive")
    // RP planes live at offset 1<<30, disjoint by construction from the
    // LSH namespace (planeSignature caps seeds at 2^20, so its ids stay
    // below 2^30); the seed bound here keeps the Int arithmetic safe
    require(seed >= 0 && seed < ((Int.MaxValue - (1 << 30)) / 2048),
      s"randomProject seed $seed outside the RP plane namespace")
    val scale = math.sqrt(k.toDouble)
    array((0 until k).map { j =>
      val row = typedLit(planeRow((1 << 30) + seed * 2048 + j))
      (dot(v, row) / scale).cast("float")
    }: _*)
  }

  /** Fit a PCA basis on the corpus (Spark ML: one distributed
    * covariance pass, driver-side eigendecomposition of the d×d
    * Gramian — bounded by embedding width, never by corpus size).
    */
  def trainPca(corpus: DataFrame, vecCol: String,
               k: Int): org.apache.spark.ml.feature.PCAModel =
    new org.apache.spark.ml.feature.PCA()
      .setInputCol("__pca_in").setOutputCol("__pca_out").setK(k)
      .fit(corpus.select(org.apache.spark.ml.functions
        .array_to_vector(col(vecCol).cast("array<double>")).as("__pca_in")))

  /** Project `vecCol` onto a fitted PCA basis, emitting a float array
    * column — a broadcast-matrix narrow map, like the scoring half of
    * the classifier: fit once on a sample, transform 100 TB.
    */
  def applyPca(model: org.apache.spark.ml.feature.PCAModel, df: DataFrame,
               vecCol: String, outCol: String): DataFrame = {
    val in = df.withColumn("__pca_in", org.apache.spark.ml.functions
      .array_to_vector(col(vecCol).cast("array<double>")))
    model.transform(in)
      .withColumn(outCol, org.apache.spark.ml.functions
        .vector_to_array(col("__pca_out"), "float32"))
      .drop("__pca_in", "__pca_out")
  }

  /** Exact cosine top-k neighbors for each probe. Probes broadcast;
    * corpus streams once; per-probe top-k via window rank (the shuffle
    * key is the probe id — k and |probes| bound the result).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the cosine scoring proportionally to the corpus size
    // (the probes side is broadcast). Norms are STAGED once per row on
    // each side: cosine at the join then costs ONE dot per candidate
    // pair instead of three (the corpus-side norm would otherwise be
    // recomputed per probe).
    val c = Sizing.spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      norm(col(vecCol)).as("pn"))
    val scored = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
  }

  /** Bucketed ANN: multi-table random-hyperplane LSH (the standard
    * L-tables construction). The corpus is hashed into `tables`
    * independent signature families; a probe scans its own bucket in
    * every table, plus every 1-bit-flip bucket (multi-probe). Candidate
    * union across tables is what lifts recall: P(collision in ≥1 table)
    * = 1-(1-p^planes)^tables for per-plane agreement p.
    *
    * Scale shape: the corpus is exploded ×tables and shuffled once on
    * (table, sig); per-bucket candidate lists stay bounded by 2^planes
    * bucketing, and the probe side is broadcast — no all-pairs join
    * anywhere.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame,
              vecCol: String, idCol: String, k: Int, planes: Int = 8,
              tables: Int = 4, multiProbeBits: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cSigs = array((0 until tables).map(t =>
      struct(lit(t).as("t"), planeSignature(col(vecCol), planes, t).as("sig"))): _*)
    val c = Sizing.spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"), explode(cSigs).as("bucket"))
    // probe signatures are STAGED as columns: the 1-bit-flip multiprobe
    // references each signature planes+1 times, and inlining would copy
    // the plane-literal projection per reference (plan-size blowup)
    var pSt = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      norm(col(vecCol)).as("pn"))
    for (t <- 0 until tables)
      pSt = pSt.withColumn(s"__sig$t", planeSignature(col("pv"), planes, t))
    val pSigs = array((0 until tables).flatMap { t =>
      val sig = col(s"__sig$t")
      val flips = if (multiProbeBits >= 1)
        (0 until planes).map(j => sig.bitwiseXOR(shiftleft(lit(1L), j)))
      else Seq()
      (sig +: flips).map(s => struct(lit(t).as("t"), s.as("sig")))
    }: _*)
    val p = pSt.select(col("probe_id"), col("pv"), col("pn"),
      explode(pSigs).as("bucket"))
    // cosine is computed at the join (staged norms: one dot per pair)
    // and the multi-table duplicate collisions are merged by a light
    // groupBy: the dedup shuffle then carries (long, long, double)
    // rows instead of two embedding arrays per candidate — the payload
    // that matters at 100 TB. min(cos) of identical per-pair values =
    // the value.
    val scored = c.join(broadcast(p), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cos"))
      .groupBy(col("probe_id"), col("neighbor_id")).agg(min(col("cos")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
  }

  /** Spherical k-means coarse quantizer, trained on a bounded
    * deterministic sample collected to the driver.
    *
    * The collect here is the model fit, not data processing: IVF
    * training universally runs on a sample (faiss defaults to
    * ~256·nlist training points), and the fitted model is nlist×dim
    * doubles — small enough to ship into the plan as literals. The
    * sample is chosen by xxhash64(id) order so it is deterministic and
    * distribution-independent; everything downstream (assignment,
    * search) is distributed Column math.
    *
    * Returns unit-normalized centroids (cosine argmax = dot argmax).
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                     nlist: Int, maxTrain: Int = 4096,
                     iters: Int = 5): Array[Array[Double]] = {
    // the fitted quantizer is a pure function of (corpus plan, params):
    // cache it like a production engine persists an index's trained
    // coarse quantizer alongside the dataset. semanticHash identifies
    // the corpus plan across re-translations of the same query.
    val key = (corpus.queryExecution.logical.semanticHash(),
      vecCol, idCol, nlist, maxTrain, iters)
    graft.Workspace.memo(("ivf-centroids", key)) {
      fitCentroids(corpus, vecCol, idCol, nlist, maxTrain, iters)
    }
  }

  private def fitCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                           nlist: Int, maxTrain: Int,
                           iters: Int): Array[Array[Double]] = {
    val pts = fitSample(corpus, vecCol, idCol, maxTrain)
    var cents = pts.take(nlist).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](pts(0).length))
      val counts = new Array[Int](cents.length)
      for (p <- pts) {
        var best = 0; var bestDot = Double.MinValue
        for (ci <- cents.indices) {
          var d = 0d; var i = 0
          while (i < p.length) { d += p(i) * cents(ci)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = ci }
        }
        for (i <- p.indices) sums(best)(i) += p(i)
        counts(best) += 1
      }
      cents = cents.indices.map { ci =>
        if (counts(ci) == 0) cents(ci) // empty cell: keep old centroid
        else unitNormalized(sums(ci))
      }.toArray
    }
    cents
  }

  /** Deterministic bounded model-fit sample: the first `maxTrain`
    * vectors in xxhash64(id) order, unit-normalized — THE sampling
    * contract every driver-side trainer here shares (IVF coarse
    * quantizer and the PQ codebook fit), so a change to the policy
    * cannot diverge them.
    */
  private[pipeline] def fitSample(corpus: DataFrame, vecCol: String,
                                  idCol: String, maxTrain: Int): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol).cast(ArrayType(DoubleType)).as("v"),
        xxhash64(col(idCol)).as("h"))
      .orderBy("h").limit(maxTrain).select("v")
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample.map(unitNormalized)
  }

  private[pipeline] def unitNormalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Cell ids of fitted centroids ranked by dot product (desc, cell id
    * as tiebreak) for a vector — an array of (negdot, cell) structs
    * through sort_array, all plain Column math over centroid literals
    * (a narrow map, no shuffle). Shared by IVF search (probe the top
    * nprobe cells) and semantic dedup (assign = top-1 cell).
    */
  def rankedCells(cents: Array[Array[Double]], v: Column): Column = {
    val scored = array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct((-dot(v, array(c.toIndexedSeq.map(lit): _*))).as("nd"), lit(i).as("cell"))
    }: _*)
    transform(sort_array(scored), s => s.getField("cell"))
  }

  /** Symmetric per-vector int8 scalar quantization: codes are
    * `round(x / scale)` with `scale = max|x| / 127`, so the widest
    * component maps to ±127 exactly and reconstruction error per
    * component is ≤ scale/2. 4× smaller than float32 at rest — the
    * difference between 100 TB and 25 TB of embedding storage — while
    * cosine on the dequantized vectors stays within ~1e-4 of exact for
    * typical embedding distributions. Zero vectors quantize to all-zero
    * codes with scale 0.
    *
    * The max|x| reduction uses the native `array_max`/`array_min` pair
    * (codegen'd); only the per-component transform is a HOF lambda —
    * acceptable for a write-once storage pass, and the read path
    * ([[dequantizeInt8]]) feeds the native dot directly.
    */
  def quantizeInt8(v: Column): Column = {
    val maxabs = greatest(abs(array_max(v)), abs(array_min(v))).cast(DoubleType)
    val scale = maxabs / 127d
    struct(scale.as("scale"),
      when(maxabs === 0d, transform(v, _ => lit(0).cast(ByteType)))
        .otherwise(transform(v, x => round(x.cast(DoubleType) / scale).cast(ByteType)))
        .as("codes"))
  }

  /** Reconstruct a double vector from a [[quantizeInt8]] struct. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => c.cast(DoubleType) * q.getField("scale"))

  /** kNN label propagation — the workhorse of semi-supervised data
    * labeling at corpus scale: each probe takes the majority label of
    * its `k` nearest labeled vectors by cosine (ties broken toward the
    * smallest label — deterministic). This exact variant verifies by
    * brute force and is the correctness baseline; [[knnPredictIvf]] is
    * the same vote over IVF-pruned neighbors for the 100 TB path.
    *
    * Output: (probe_id, pred_label, votes) — `votes` of `k` neighbors
    * carried the winning label, a built-in confidence signal for
    * downstream filtering.
    */
  def knnPredict(labeled: DataFrame, probes: DataFrame, vecCol: String,
                 idCol: String, labelCol: String, k: Int): DataFrame =
    labelVote(bruteForceTopK(labeled, probes, vecCol, idCol, k),
      labeled, idCol, labelCol)

  /** [[knnPredict]] over IVF-pruned candidates: each probe scans only
    * its `nprobe` nearest cells (see [[ivfTopK]]), so the neighbor
    * search touches nprobe/nlist of the labeled pool instead of all of
    * it. Approximate exactly where the IVF search is — the vote itself
    * is unchanged — and recall-gated in tests like the other ANN
    * variants.
    */
  def knnPredictIvf(labeled: DataFrame, probes: DataFrame, vecCol: String,
                    idCol: String, labelCol: String, k: Int,
                    nlist: Int = 16, nprobe: Int = 4): DataFrame =
    labelVote(ivfTopK(labeled, probes, vecCol, idCol, k, nlist, nprobe),
      labeled, idCol, labelCol)

  /** Majority vote over a (probe_id, neighbor_id, cos) neighbor list:
    * one hash aggregation per (probe, label) plus a per-probe argmax
    * window — both shuffle on probe_id only, never the vectors.
    */
  private def labelVote(nn: DataFrame, labeled: DataFrame,
                        idCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = nn
      .join(labeled.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__lab")), Seq("neighbor_id"))
      .groupBy(col("probe_id"), col("__lab"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("votes").desc, col("__lab").asc)
    votes.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("probe_id"), col("__lab").as("pred_label"), col("votes"))
  }

  /** On-disk vector-index format version, stamped into the centroids
    * table of every persisted index ([[buildIvfIndex]] /
    * [[Pq.buildIvfPqIndex]]) and REQUIRED to match at read time. The
    * version covers everything an index's stored artifacts implicitly
    * depend on: v2 = the deterministic plane family (the RP namespace
    * moved from offset 2^20 to 2^30, so projections — and any index
    * built over reduced vectors — changed incompatibly); v3 = vector
    * rows carry a `gen` generation column (tombstone liveness needs
    * it, and mixing gen-less and gen-ful parquet files in one layout
    * would read inconsistently). Bump it whenever a persisted index
    * would silently return wrong neighbors under the new code; readers
    * then fail loudly with a rebuild instruction instead. Indexes
    * written before versioning existed (no `fmt` column) read as
    * version 1 and are rejected the same way.
    */
  val IndexFormatVersion = 3

  /** Read + validate a persisted index's coarse centroids: rejects a
    * stale [[IndexFormatVersion]] before any search math runs.
    */
  private[pipeline] def readIndexCentroids(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] = {
    val df = spark.read.parquet(s"$dir/centroids")
    // an empty or partially-written centroids table yields a null max —
    // that is a broken index, and it gets the same loud rebuild
    // instruction, not an opaque NullPointerException
    val fmt =
      if (!df.columns.contains("fmt")) 1
      else {
        val r = df.select(max(col("fmt"))).head()
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"index at $dir has an empty or partially-written centroids " +
            "table; rebuild the index with buildIvfIndex/buildIvfPqIndex")
        r.getInt(0)
      }
    require(fmt == IndexFormatVersion,
      s"index at $dir has on-disk format $fmt but this build reads " +
        s"$IndexFormatVersion (the deterministic plane family changed); " +
        "rebuild the index with buildIvfIndex/buildIvfPqIndex")
    df.orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Persist a fitted IVF index: the trained coarse quantizer
    * (`dir/centroids`, nlist rows) plus the corpus re-written
    * cell-partitioned (`dir/vectors`, partitioned by `cell`). The
    * assignment pass runs ONCE at build time; every subsequent query
    * via [[ivfTopKIndexed]] reads only its probed cells' partitions —
    * at 100 TB that is the difference between scanning the corpus per
    * query batch and scanning nprobe/nlist of it.
    */
  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    dir: String, nlist: Int = 16,
                    quantize: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(corpus, vecCol, idCol, nlist)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .withColumn("fmt", lit(IndexFormatVersion))
      .repartition(1) // nlist rows: one file, read whole at query time
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val assigned = corpus.select(col(idCol), col(vecCol),
      element_at(rankedCells(cents, col(vecCol)), 1).as("cell"))
    // default layout stores int8 codes ([[quantizeInt8]]): ~4× fewer
    // vector bytes at rest — at 100 TB of embeddings, the difference
    // between 100 and 25 TB of index — for ≤ scale/2 per-component
    // reconstruction error, absorbed by the verify-with-exact-cosine
    // search contract (recall-gated, p44)
    val stored =
      if (quantize)
        assigned.select(col(idCol), quantizeInt8(col(vecCol)).as("qv"), col("cell"))
      else assigned
    stored.withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** Incremental append to a persisted [[buildIvfIndex]] layout — the
    * crawl-increment contract at 100 TB: new vectors are assigned with
    * the index's FITTED coarse quantizer (read back, never retrained —
    * cell semantics stay stable for existing readers) and appended to
    * their cell partitions; no existing file is rewritten. The stored
    * layout (int8-quantized or float) is auto-detected from the vectors
    * schema so an append never mixes layouts. Periodic re-train/rebuild
    * remains an offline choice when drift degrades cell balance —
    * exactly faiss's `add` vs `train` split.
    */
  def appendToIvfIndex(newVectors: DataFrame, vecCol: String, idCol: String,
                       dir: String, gen: Long = 0L): Unit = {
    val spark = newVectors.sparkSession
    requireAppendGenUnshadowed(spark, dir, gen, "appendToIvfIndex")
    val cents = readIndexCentroids(spark, dir)
    val quantized = spark.read.parquet(s"$dir/vectors").columns.contains("qv")
    val assigned = newVectors.select(col(idCol), col(vecCol),
      element_at(rankedCells(cents, col(vecCol)), 1).as("cell"))
    val stored =
      if (quantized)
        assigned.select(col(idCol), quantizeInt8(col(vecCol)).as("qv"), col("cell"))
      else assigned
    stored.withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** A default-generation append to an index that has tombstones is a
    * silent no-op (any tombstone kills gen-0 rows on arrival) — fail
    * loudly instead of losing the vectors. Shared by every incremental
    * append path ([[appendToIvfIndex]], [[Pq.appendToIvfPqIndex]]).
    */
  private[pipeline] def requireAppendGenUnshadowed(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, gen: Long, caller: String): Unit = {
    import org.apache.hadoop.fs.Path
    val tpath = new Path(s"$dir/tombstones")
    val fs = tpath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tpath)) {
      // max over an EMPTY tombstones table is null — a dir with zero
      // rows exists after an adds-only incrementalIvfUpdate (its
      // tombstone write appends an empty frame), and shadows nothing
      val maxT = Option(spark.read.parquet(tpath.toString)
        .agg(max(col("__tgen"))).head().get(0)).map(_.asInstanceOf[Long])
      maxT.foreach(t => require(gen >= t,
        s"$caller at gen=$gen would be shadowed by existing " +
          s"tombstones up to gen=$t at $dir — pass gen >= $t " +
          "(nextIndexGen gives a safe value) or use " +
          "Incremental.incrementalIvfUpdate"))
    }
  }

  /** The next safe write generation for a persisted index: one past
    * the maximum generation present in either the vectors or the
    * tombstone table. Tombstoning at this generation kills every
    * existing copy of an id; appending at it survives those
    * tombstones — the monotonic step [[Incremental.incrementalIvfUpdate]]
    * uses so REPEATED delta updates stay correct (a fixed generation
    * would stop killing rows written by the previous update).
    */
  def nextIndexGen(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def maxIn(path: String, genCol: String): Long =
      if (!fs.exists(new Path(path))) 0L
      else Option(spark.read.parquet(path).agg(max(col(genCol))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    math.max(maxIn(s"$dir/vectors", "gen"),
      maxIn(s"$dir/tombstones", "__tgen")) + 1L
  }

  /** Tombstone ids in a persisted IVF index: appends (id, tgen) rows to
    * `dir/tombstones`. A vector row is LIVE iff no tombstone for its id
    * carries a strictly greater generation — so tombstoning at gen g
    * kills every copy written before g while an [[appendToIvfIndex]] AT
    * g (or later) re-adds the id. That ordering is what lets one
    * incremental step replace a changed vector: tombstone + append with
    * the same gen, no rewrite of any existing file. Readers
    * ([[ivfTopKIndexed]]) anti-join the tombstone table on id — an
    * equi-join proportional to the DELETED set, never the corpus.
    * Compaction does not fold tombstones in (they stay a separate
    * small table); a full rebuild clears them.
    */
  def tombstoneIvfIds(ids: DataFrame, idCol: String, dir: String,
                      gen: Long): Unit =
    ids.select(col(idCol).as("__tomb_id"), lit(gen).as("__tgen"))
      .write.mode("append").parquet(s"$dir/tombstones")

  /** The live rows of a persisted index's vectors table: tombstoned
    * generations dropped (see [[tombstoneIvfIds]]). No-op when the
    * index has no tombstone table.
    */
  private[pipeline] def liveIndexVectors(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val vectors = spark.read.parquet(s"$dir/vectors")
    val tpath = new Path(s"$dir/tombstones")
    val fs = tpath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tpath)) vectors
    else {
      val tombs = spark.read.parquet(tpath.toString)
      vectors.join(tombs,
        vectors(idCol) === tombs("__tomb_id") &&
          tombs("__tgen") > vectors("gen"), "left_anti")
    }
  }

  /** Compact fragmented cell partitions of a persisted IVF index: each
    * [[appendToIvfIndex]] increment adds small files per touched cell,
    * and many increments degrade scan efficiency (file-open overhead,
    * tiny row groups). Cells whose file count exceeds
    * `maxFilesPerCell` are rewritten — ONE Spark job for all of them
    * (the read prunes to the fragmented cells via the partition
    * column), then a per-cell directory swap through the Hadoop
    * FileSystem API. Untouched cells are never rewritten, and rows/
    * layout are unchanged — only the file count drops. Offline
    * maintenance like a faiss rebuild: run it between query batches,
    * not concurrently with them (the swap is not atomic for readers
    * mid-listing).
    *
    * Returns the number of cells compacted.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      maxFilesPerCell: Int = 4): Int = {
    import org.apache.hadoop.fs.Path
    require(maxFilesPerCell >= 1, s"maxFilesPerCell $maxFilesPerCell must be ≥ 1")
    val conf = spark.sessionState.newHadoopConf()
    val vroot = new Path(s"$dir/vectors")
    val fs = vroot.getFileSystem(conf)
    // a fresh or mistyped dir should name the missing layout, not
    // surface as a raw FileNotFoundException from listStatus
    require(fs.exists(vroot),
      s"compactIvfIndex: no IVF index at $dir (expected $vroot — " +
        "build one with buildIvfIndex first)")
    // repair pass: a crash between the two renames below leaves a
    // cell's rows set aside under _compact_old_cell=N with no live
    // cell=N — restore it before anything else
    fs.listStatus(vroot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_compact_old_cell=")) {
        val live = new Path(vroot, name.stripPrefix("_compact_old_"))
        if (!fs.exists(live)) {
          require(fs.rename(st.getPath, live),
            s"compactIvfIndex: failed to restore $live from ${st.getPath}")
        } else fs.delete(st.getPath, true) // compacted copy is live; drop leftover
      }
    }
    val cells = fs.listStatus(vroot).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.startsWith("part-")) > maxFilesPerCell)
      .map(st => st.getPath.getName.stripPrefix("cell=").toInt)
      .toSeq
    if (cells.isEmpty) return 0
    val tmp = new Path(vroot, "_compact_tmp")
    spark.read.parquet(vroot.toString)
      .filter(col("cell").isin(cells: _*))
      .repartition(cells.length, col("cell")) // ≤1 task per cell → 1 file per cell
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    cells.foreach { n =>
      val src = new Path(tmp, s"cell=$n")
      val dst = new Path(vroot, s"cell=$n")
      // set-aside/rename-in/delete, never delete-then-rename: Hadoop
      // rename reports failure via its RETURN VALUE, and a delete that
      // succeeded before a rename that didn't would silently drop the
      // cell from the index. Each step is checked; a crash mid-swap
      // leaves the rows under _compact_old_cell=N, which the repair
      // pass above restores on the next call.
      val old = new Path(vroot, s"_compact_old_cell=$n")
      require(fs.rename(dst, old),
        s"compactIvfIndex: failed to set aside $dst")
      require(fs.rename(src, dst),
        s"compactIvfIndex: failed to move compacted $src into place")
      fs.delete(old, true)
    }
    fs.delete(tmp, true)
    cells.length
  }

  /** IVF search against a persisted [[buildIvfIndex]] layout. The
    * centroid table is a bounded model artifact (nlist rows) collected
    * once; the vectors table joins on its PARTITION column, so dynamic
    * partition pruning / the cell equi-join bounds the scan to the
    * probed cells.
    */
  def ivfTopKIndexed(probes: DataFrame, dir: String,
                     vecCol: String, idCol: String, k: Int,
                     nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = probes.sparkSession
    val cents = readIndexCentroids(spark, dir)
    val vectors = liveIndexVectors(spark, dir, idCol)
    // both index layouts read identically past this select: quantized
    // stores dequantize to a numeric array (still a narrow map in the
    // scan stage), float stores pass through
    val corpusVec =
      if (vectors.columns.contains("qv")) dequantizeInt8(col("qv"))
      else col(vecCol)
    // two-step projection so the (possibly dequantized) vector is
    // computed once and its norm staged from the materialized column
    val c = vectors
      .select(col(idCol).as("neighbor_id"), corpusVec.as("cv"), col("cell"))
      .select(col("neighbor_id"), col("cv"), norm(col("cv")).as("cn"), col("cell"))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        norm(col(vecCol)).as("pn"),
        explode(slice(rankedCells(cents, col(vecCol)), 1, nprobe)).as("cell"))
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
  }

  /** IVF-Flat ANN (the faiss inverted-file shape): corpus vectors are
    * assigned to their nearest of `nlist` k-means cells; each probe
    * scans only its `nprobe` nearest cells, verified by exact cosine.
    *
    * Scale shape: assignment is a narrow map (argmax over nlist
    * centroid literals — no shuffle), the probe-side cell list is
    * broadcast, and the single equi-join on `cell` bounds each
    * probe's candidates to nprobe/nlist of the corpus. Centroids are
    * fitted once on a bounded sample ([[trainCentroids]]); at 100 TB
    * the fitted model is still nlist×dim literals, and cell sizes stay
    * balanced because the centroids track the data distribution.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(trainCentroids(corpus, vecCol, idCol, nlist),
      corpus, probes, vecCol, idCol, k, nprobe)

  /** [[ivfTopK]] with an explicit coarse quantizer — the seam that
    * takes either a trained model or the data-independent
    * [[obliviousCentroids]] (which makes the whole search a pure
    * function of its literals, re-derivable by an external oracle).
    */
  def ivfTopKWith(cents: Array[Array[Double]], corpus: DataFrame, probes: DataFrame,
                  vecCol: String, idCol: String, k: Int,
                  nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Sizing.spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"),
        element_at(rankedCells(cents, col(vecCol)), 1).as("cell"))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        norm(col(vecCol)).as("pn"),
        explode(slice(rankedCells(cents, col(vecCol)), 1, nprobe)).as("cell"))
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos"))
  }
}
