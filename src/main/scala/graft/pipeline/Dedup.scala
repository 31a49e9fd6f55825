package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are pure Column-expression plans: hashing, shingling,
  * minhashing and banding run inside whole-stage codegen; the only
  * shuffles are the hash/bucket groupBys, never an all-pairs join. At
  * 100 TB the shuffle key cardinality is what matters:
  *   - exact dedup shuffles on content hash (uniform, no skew)
  *   - MinHash-LSH shuffles on (band, bucket) — bounded bucket sizes;
  *     candidate verification joins only within buckets
  *   - SimHash bands likewise
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per sha256(text). One
    * hash-groupBy shuffle; map-side partial aggregation applies.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol).cast(BinaryType), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol))

  /** Full-row exact dedup: keep each hash's lowest-id row with all of
    * its columns (semi join against [[exact]]'s winners — the winner
    * set has one scalar row per distinct text, so AQE can broadcast it
    * when dup rates leave it small).
    */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(exact(df, textCol, idCol).select(idCol), Seq(idCol), "left_semi")

  /** Word-level shingle set of a text column (n=1 → word set). */
  /** Distinct word n-gram shingles — native codegen'd expression
    * ([[graft.functions.WordNgrams]]); one primitive pass per document
    * instead of an interpreted slice+concat per position.
    */
  def shingles(text: Column, n: Int): Column =
    call_function(graft.functions.WordNgrams.name, text, lit(n))

  // 2^31-1, Mersenne prime; the affine permutation family lives in
  // graft.functions.MinHashSig (splitmix constants over this modulus)
  private val MersP = (1L << 31) - 1

  /** One base hash per shingle, reduced mod 2^31-1. Stage this as a
    * column BEFORE fanning out to the per-function minima — each shingle
    * is then hashed once, not `numHashes` times.
    */
  def baseHashes(sh: Column): Column = transform(sh, s => pmod(xxhash64(s), lit(MersP)))

  /** MinHash signature from staged base hashes: h_i = (a_i*h + b_i) mod
    * (2^31-1) — the standard affine family; a_i*h < 2^62 so the long
    * arithmetic cannot overflow. Backed by the native codegen'd
    * [[graft.functions.MinHashSig]] (one primitive pass per document;
    * the HOF formulation pays numHashes interpreted passes).
    */
  def minhashSignatureFromHashes(hb: Column, numHashes: Int): Column =
    call_function(graft.functions.MinHashSig.name, hb, lit(numHashes))

  /** One-shot signature (convenience; prefer staging [[baseHashes]] as
    * a column when the signature is referenced more than once).
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(baseHashes(sh), numHashes)

  /** Banded LSH self-join: documents sharing any (band, band-hash)
    * bucket become candidate pairs; candidates are then verified with
    * exact Jaccard over the shingle sets. Never all-pairs: the join is
    * bucket-equality, and the verify join carries only candidates.
    *
    * Recall for threshold t with b bands of r rows: 1-(1-t^r)^b.
    */
  /** Shingle-prep for the LSH kernels: id + shingle set, spread across
    * cores, with sub-`shingleN`-word documents dropped — their empty
    * shingle sets can never verify above any threshold (0/0 jaccard),
    * but an empty set minhashes to an all-null signature whose bands
    * all hash to ONE seed-constant bucket, so keeping them would cross
    * every short doc with every other short doc (the all-pairs failure
    * mode, at its worst on boilerplate-heavy crawls).
    */
  private def shinglePrep(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int): DataFrame =
    Sizing.spreadCompute(df)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Canonical 256-bit key of a shingle SET: sha256 over the
    * JSON-encoded sorted array (JSON escaping makes the encoding
    * injective — no separator-collision hazard). Same trust model as
    * [[exact]]'s sha256 content hash.
    */
  private def setKey(sortedSh: Column): Column = sha2(to_json(sortedSh), 256)

  /** Shingle-prep + signature-group keying: `sh` is canonicalized
    * (sorted — every consumer is set-based, so order never matters) and
    * keyed by [[setKey]]. Documents sharing a key have IDENTICAL
    * shingle sets, hence identical minhash signatures, identical LSH
    * buckets, and pairwise Jaccard exactly 1.0 — so all-pairs work can
    * run once per distinct set and expand back to members afterwards.
    */
  private def keyedShinglePrep(df: DataFrame, textCol: String, idCol: String,
                               shingleN: Int): DataFrame =
    shinglePrep(df, textCol, idCol, shingleN)
      .withColumn("sh", array_sort(col("sh")))
      .withColumn("gk", setKey(col("sh")))

  /** Representative election: ONE row per distinct shingle set, carrying
    * the minimum member id (`first` on `sh` is deterministic — every
    * member's canonicalized array is identical).
    */
  private def electGroups(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("gk"))
      .agg(min(col("id")).as("id"), first(col("sh")).as("sh"))

  /** Per-(band,bucket) candidate cap: drops buckets holding more than
    * `maxBucket` DISTINCT signature groups. With representative
    * election already collapsing mass-duplicated content, a bucket can
    * only exceed the cap through genuinely distinct-but-colliding
    * sets; each of the `bands` bands gives an independent chance to
    * recover a dropped pair, so a generous cap trades vanishing recall
    * for a hard bound on pair fan-out. Default unbounded (exact).
    */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val big = banded.groupBy(col("bb")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucket).select(col("bb"))
      banded.join(big, Seq("bb"), "left_anti")
    }

  /** Banded `(band, bucket)` structs of a minhash signature — THE
    * definition of the LSH bucket layout, shared by the batch self-join,
    * the cross-corpus join, and both streaming near-dup paths so the
    * candidates they generate stay mutually compatible.
    */
  def bandArray(sig: Column, numHashes: Int, bands: Int): Column = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands $bands must divide numHashes $numHashes")
    val r = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * r + 1, r)).as("bucket"))): _*)
  }

  /** Banded LSH bucket rows (id, (band, bucket)) from prepped shingles.
    * Base hashes and the signature are STAGED as columns: each is
    * referenced many times downstream, and an inline expression would
    * be re-evaluated per reference (64 signature bits × 2 join sides
    * would re-hash every shingle 128×).
    */
  private def bandedBuckets(withSh: DataFrame,
                            numHashes: Int, bands: Int): DataFrame =
    withSh
      .withColumn("hb", baseHashes(col("sh")))
      .withColumn("sig", minhashSignatureFromHashes(col("hb"), numHashes))
      .select(col("id"),
        explode(bandArray(col("sig"), numHashes, bands)).as("bb"))

  /** MinHash near-dup pairs with signature-group representative
    * election: identical shingle sets collapse to ONE representative
    * before banding, so candidate generation, the bucket self-join and
    * Jaccard verification all scale with the number of DISTINCT
    * documents — a mass-duplicated corpus (boilerplate-heavy crawls,
    * the worst case at 100 TB) can no longer square the pair counts.
    * Member pairs are reconstructed afterwards: within a group every
    * pair has Jaccard exactly 1.0 (identical sets — no verification
    * needed, output-bound expansion only), and across groups the
    * verified representative Jaccard applies to every member pair
    * (Jaccard is a function of the two sets). Output is therefore
    * IDENTICAL to the direct per-document formulation, row for row.
    *
    * `maxBucket` optionally drops (band,bucket) buckets holding more
    * than that many distinct groups (see [[capBuckets]]); default
    * unbounded = exact.
    */
  /** Shared signature-group kernel: prep + election + banded LSH +
    * representative-level verification. Returns (members, groups,
    * repPairs) where repPairs carries the verified cross-group pairs as
    * (gk_a, gk_b, id_a, id_b, jaccard) over representatives.
    */
  private def minhashRepPairs(df: DataFrame, textCol: String, idCol: String,
                              shingleN: Int, numHashes: Int, bands: Int,
                              threshold: Double, maxBucket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // localCheckpoint: keyed feeds election + both expansion sides;
    // groups feed banding + both verify joins; banded feeds both sides
    // of the bucket self-join
    val keyed = keyedShinglePrep(df, textCol, idCol, shingleN)
      .localCheckpoint(false)
    val members = keyed.select(col("gk"), col("id"))
    val groups = electGroups(keyed).localCheckpoint(false)
    val banded = capBuckets(
      bandedBuckets(groups, numHashes, bands).localCheckpoint(false), maxBucket)
    // candidate pairs are ID-ONLY: deduping scalar ids is a parallel
    // hash aggregation; carrying the shingle arrays through the dedup
    // would force a sort-based aggregate that copies the array buffer
    // per row (single-task quadratic wall). Shingles re-attach below.
    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.bb") === col("b.bb") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify ONCE per distinct-set pair, on the representatives
    val repPairs = candidates
      .join(groups.select(col("id").as("id_a"), col("gk").as("gk_a"),
        col("sh").as("sh_a")), Seq("id_a"))
      .join(groups.select(col("id").as("id_b"), col("gk").as("gk_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("gk_a"), col("gk_b"), col("id_a"), col("id_b"), col("jaccard"))
    (members, groups, repPairs)
  }

  def minhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int = 1, numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.7,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    val (members, _, repPairs) = minhashRepPairs(
      df, textCol, idCol, shingleN, numHashes, bands, threshold, maxBucket)
    // expansion: cross-group member pairs inherit the verified Jaccard;
    // within-group pairs are exact dups (Jaccard 1.0) by construction
    val cross = repPairs
      .join(members.select(col("gk").as("gk_a"), col("id").as("__ia")), Seq("gk_a"))
      .join(members.select(col("gk").as("gk_b"), col("id").as("__ib")), Seq("gk_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("jaccard"))
    val within = members.alias("x")
      .join(members.alias("y"),
        col("x.gk") === col("y.gk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    cross.unionByName(within)
  }

  /** Cross-corpus (incremental) near-dup: pairs of an `incoming`
    * document and a `seen` document whose shingle sets exceed the
    * Jaccard threshold — the shape of deduplicating crawl N against
    * crawls 1..N−1. Only incoming×seen bucket collisions become
    * candidates; seen never re-pairs against itself, so the accumulated
    * corpus costs one signature scan per increment instead of a
    * quadratic re-pairing. Same banded-LSH + exact-verify kernel as
    * [[minhashNearDup]]; dropping flagged `id_in`s from `incoming` is
    * the caller's anti join (cf. [[dropNearDups]]).
    */
  def crossCorpusNearDup(incoming: DataFrame, seen: DataFrame,
                         textCol: String, idCol: String,
                         shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7): DataFrame = {
    // representative election on BOTH corpora (see [[minhashNearDup]]):
    // replicated boilerplate on either side collapses to one signature
    // group, so bucket collisions and verification scale with distinct
    // content; member expansion restores every incoming×seen pair.
    // The two per-corpus prep→election chains are independent, so
    // their checkpoint materializations run as concurrent jobs (guide
    // §2.6) instead of four serial job latencies
    val Seq((in, gIn), (sn, gSn)) = graft.ingest.WikidataIngest.inParallel(
      incoming.sparkSession, Seq(incoming, seen).map { df => () =>
        val k = keyedShinglePrep(df, textCol, idCol, shingleN)
          .localCheckpoint(false)
        (k, electGroups(k).localCheckpoint(false))
      })
    // no a.id < b.id here: the two corpora are distinct relations (ids
    // may even collide across them), so every incoming×seen collision
    // is a candidate exactly once
    val candidates = bandedBuckets(gIn, numHashes, bands).alias("a")
      .join(bandedBuckets(gSn, numHashes, bands).alias("b"),
        col("a.bb") === col("b.bb"))
      .select(col("a.id").as("id_in"), col("b.id").as("id_seen"))
      .dropDuplicates("id_in", "id_seen")
    val repPairs = candidates
      .join(gIn.select(col("id").as("id_in"), col("gk").as("gk_in"),
        col("sh").as("sh_in")), Seq("id_in"))
      .join(gSn.select(col("id").as("id_seen"), col("gk").as("gk_sn"),
        col("sh").as("sh_seen")), Seq("id_seen"))
      .withColumn("jaccard", jaccard(col("sh_in"), col("sh_seen")))
      .filter(col("jaccard") >= threshold)
      .select(col("gk_in"), col("gk_sn"), col("jaccard"))
    repPairs
      .join(in.select(col("gk").as("gk_in"), col("id").as("id_in")), Seq("gk_in"))
      .join(sn.select(col("gk").as("gk_sn"), col("id").as("id_seen")), Seq("gk_sn"))
      .select(col("id_in"), col("id_seen"), col("jaccard"))
  }

  /** Ordered (non-distinct) word k-grams — winnowing needs positions,
    * so this is NOT [[shingles]] (which dedups). Texts with fewer than
    * k words yield no grams.
    */
  def orderedKgrams(text: Column, k: Int): Column =
    kgramsFromWords(filter(split(trim(text), "\\s+"), x => length(x) > 0), k)

  /** Ordered k-grams from an already-split word array. The i-th gram
    * (0-based) starts at word i — nulls only arise past `size-k` and are
    * filtered from the tail, so gram index == start-word index, which is
    * what lets [[removeDupSpans]] map gram hits back to word spans.
    */
  private def kgramsFromWords(ws: Column, k: Int): Column =
    filter(
      transform(ws, (wd, i) => when(i <= size(ws) - k,
        concat_ws(" ", Seq(wd) ++ (1 until k).map(j => element_at(ws, i + j + 1)): _*))),
      g => g.isNotNull)

  /** Portable 60-bit hash: the first 15 hex chars of md5. Slower than
    * xxhash64 but reproducible in any engine with md5, which is what
    * lets the winnowing entries be oracle-checked end-to-end. Backed
    * by the native codegen'd [[graft.functions.Md5Hash60]] (value
    * parity with `conv(substring(md5(c),1,15),16,10)` pinned by test);
    * a stable function VALUE so [[mapHash]] can recognize it and hash
    * a whole array in one expression node.
    */
  val md5Hash60: Column => Column =
    c => call_function(graft.functions.Md5Hash60.name, c)

  /** Per-element hashing of a string array. The generic path is a
    * `transform` lambda; [[md5Hash60]] is recognized STRUCTURALLY and
    * dispatched as ONE native array-input expression node — no
    * interpreted per-element lambda, no hex/decimal string churn
    * (PERF_r10.md "Bench-noise note": that churn dominated
    * p04_simhash's cost).
    *
    * Recognition probes `hashFn` with a marker literal and compares the
    * built expression tree against the canonical `md5Hash60` application
    * of the same marker — so an eta-expanded or wrapped-but-equivalent
    * caller (`c => Dedup.md5Hash60(c)`) still gets the native path
    * (reference identity would silently drop it), while a genuinely
    * different function (`c => md5Hash60(lower(c))`) builds a different
    * tree and correctly takes the per-element path.
    */
  def mapHash(arr: Column, hashFn: Column => Column): Column = {
    val marker = lit("\u0000graft-maphash-probe\u0000")
    val native =
      try hashFn(marker).toString == md5Hash60(marker).toString
      catch { case scala.util.control.NonFatal(_) => false }
    if (native) call_function(graft.functions.Md5Hash60.name, arr)
    else transform(arr, hashFn)
  }

  /** Winnowed fingerprints of a document (MOSS): sorted distinct
    * sliding-window minima over the ordered k-gram hashes — see
    * [[graft.functions.WinnowSig]]. Any shared word substring of at
    * least w+k-1 words yields at least one shared fingerprint.
    */
  def winnowedFingerprints(text: Column, k: Int, w: Int,
                           hashFn: Column => Column = xxhash64(_)): Column =
    call_function(graft.functions.WinnowSig.name,
      mapHash(orderedKgrams(lower(text), k), hashFn), lit(w))

  /** Containment / partial-overlap candidate pairs: documents sharing
    * at least `minShared` winnowed fingerprints. Detects copied
    * passages and quotes that whole-document similarity misses (a doc
    * containing another still shares its fingerprints even though the
    * Jaccard is low). Shape: fingerprint-equality self-join on exploded
    * id+fingerprint rows — bucketed, never all-pairs — then a count
    * per pair.
    *
    * `maxDocFreq` drops fingerprints occurring in more than that many
    * documents BEFORE the self-join (the containment analogue of
    * [[capBuckets]]): a boilerplate header winnowed into one hot
    * fingerprint shared by m documents would otherwise emit m(m-1)/2
    * join rows. Dropping it is also semantically right — a fingerprint
    * present in half the corpus carries no containment evidence, the
    * same reasoning as an idf cutoff. Default unbounded (exact).
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, w: Int = 4, minShared: Int = 2,
                       hashFn: Column => Column = xxhash64(_),
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val fps0 = Sizing.spreadCompute(df)
      .select(col(idCol).as("id"),
        explode(winnowedFingerprints(col(textCol), k, w, hashFn)).as("fp"))
      .localCheckpoint(false)
    val fps =
      if (maxDocFreq == Int.MaxValue) fps0
      else {
        val hot = fps0.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select(col("fp"))
        fps0.join(hot, Seq("fp"), "left_anti")
      }
    fps.alias("a")
      .join(fps.alias("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Duplicated-span profile — substring-level exact dedup at word
    * granularity (the signal behind suffix-array substring dedup in
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): hash every ordered k-word span; a span is
    * duplicated when its hash occurs in >= 2 distinct documents; report
    * per document the distinct-span count and how many of those spans
    * are duplicated somewhere else in the corpus.
    *
    * Shape: project ids + span hashes (doc bodies never survive the
    * first select), explode, then two hash-partitioned aggregations —
    * span-hash cardinality and per-doc counts — joined back by a
    * semi join. No all-pairs stage anywhere; at 100 TB the shuffle keys
    * are 60-bit hashes (uniform) and doc ids.
    */
  def dupSpanProfile(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 3,
                     hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val grams = Sizing.spreadCompute(df)
      .select(col(idCol).as("id"),
        explode(array_distinct(mapHash(orderedKgrams(lower(col(textCol)), k), hashFn))).as("h"))
      .localCheckpoint(false) // feeds the census and the per-doc pass
    // dup hashes are UNIQUE per h, so a plain left join preserves gram
    // multiplicity and ONE aggregation yields both per-doc counts —
    // the previous shape (separate totals + semi-join + dup-count
    // aggregations, then two assembly joins) was two extra passes over
    // the gram stream for the same rows
    val dupHashes = grams.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(1).as("__dup"))
    val perDoc = grams.join(dupHashes, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"), count(col("__dup")).as("n_dup_spans"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** Duplicated-span REMOVAL — the output contract behind substring-
    * level exact dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022): where [[dupSpanProfile]] only
    * counts corpus-duplicated k-word spans, this rebuilds each document
    * with those spans cut out. Text is word-normalized (lowercase,
    * whitespace-split, single-space rejoin) — span identity is defined
    * on the normalized form, so the cleaned text is too.
    *
    * Policies:
    *   - `keepFirst = false` (default): remove every occurrence of a
    *     span whose hash appears in >= 2 distinct documents — the
    *     contamination-removal stance (no copy survives).
    *   - `keepFirst = true`: the lowest-doc-id holder of each span
    *     keeps its occurrences; only the other documents lose theirs —
    *     the Lee-et-al. stance (exactly one canonical copy survives).
    *
    * Shape: word arrays are staged once (localCheckpoint) and feed both
    * the dup-hash aggregation and the rebuild; gram index == start-word
    * index, so covered word spans are `sequence(pos, pos+k-1)` unions
    * aggregated per document — two hash-partitioned shuffles (dup-hash
    * census, per-doc coverage) plus the rebuild join. No all-pairs
    * stage; shuffle keys are 60-bit span hashes and doc ids. The
    * per-document rebuild is O(words * covered) array work bounded by
    * document length — fine for KB-to-MB documents, which is also the
    * regime where word arrays fit an executor row.
    */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 3,
                     hashFn: Column => Column = xxhash64(_),
                     keepFirst: Boolean = false): DataFrame = {
    // null text behaves as empty (coalesce): the doc survives with
    // clean_text "" and zero counts instead of null-poisoning the row
    val wsCol = coalesce(
      filter(split(trim(lower(col(textCol))), "\\s+"), x => length(x) > 0),
      lit(Array.empty[String]))
    val base = Sizing.spreadCompute(df)
      .select(col(idCol).as("id"), wsCol.as("ws"))
      .localCheckpoint(false) // feeds the census and the rebuild
    val grams = base.select(col("id"),
      posexplode(mapHash(kgramsFromWords(col("ws"), k), hashFn)).as(Seq("pos", "h")))
    val dupH = grams.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("nd"), min(col("id")).as("min_id"))
      .filter(col("nd") >= 2)
    // occurrences to cut: every hit of a corpus-duplicated hash, minus
    // (keepFirst) the hits inside that hash's lowest-id document
    val cut0 = grams.join(dupH.select(col("h"), col("min_id")), Seq("h"))
    val cut = if (keepFirst) cut0.filter(col("id") =!= col("min_id")) else cut0
    val cov = cut.groupBy(col("id"))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + lit(k - 1))))).as("cv"))
    base.join(cov, Seq("id"), "left")
      .withColumn("cv", coalesce(col("cv"), lit(Array.empty[Int])))
      .select(col("id").as(idCol),
        concat_ws(" ",
          filter(col("ws"), (wd, i) => !array_contains(col("cv"), i))).as("clean_text"),
        size(col("ws")).cast(LongType).as("n_words"),
        size(col("cv")).cast(LongType).as("n_removed"))
  }

  /** Split-leakage audit: near-duplicate pairs that CROSS a dataset
    * split boundary — the eval-contamination failure mode of splitting
    * a corpus at document granularity when near-identical documents
    * exist (a test document whose near-copy sits in train leaks the
    * answer; Lee et al. ACL 2022 measure exactly this train-test
    * overlap). `df` must already carry `splitCol` (e.g. from
    * [[Sampling.assignSplits]]).
    *
    * Shape: the pair list comes from [[minhashNearDup]] — the same
    * election-bounded, banded-LSH candidate generation, nothing
    * quadratic — and the split lookup is two id-equi-joins against the
    * bounded pair list, never a second corpus scan. Output:
    * (id_a, id_b, jaccard, split_a, split_b) for pairs whose splits
    * differ.
    */
  def splitLeakage(df: DataFrame, textCol: String, idCol: String,
                   splitCol: String, shingleN: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, threshold: Double = 0.9,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    val pairs = minhashNearDup(df, textCol, idCol, shingleN, numHashes,
      bands, threshold, maxBucket)
    val splits = df.select(col(idCol).as("__sid"), col(splitCol).as("__sp"))
    pairs
      .join(splits.select(col("__sid").as("id_a"), col("__sp").as("split_a")), Seq("id_a"))
      .join(splits.select(col("__sid").as("id_b"), col("__sp").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** Exact Jaccard over two array columns (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val uni = size(array_union(a, b)).cast(DoubleType)
    when(uni === 0d, 0d).otherwise(inter / uni)
  }

  /** N-gram Jaccard near-dup without LSH (for bounded candidate sets or
    * as the verify kernel); still set-based, no hashing involved.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val withSh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    withSh.alias("a").join(withSh.alias("b"), col("a.id") < col("b.id"))
      .withColumn("jaccard", jaccard(col("a.sh"), col("b.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash from staged word hashes: per bit, sum +1/-1
    * weighted by the hash bit, take the sign. Backed by the native
    * codegen'd [[graft.functions.SimHashSig]] (one primitive pass;
    * the HOF formulation was 64 interpreted aggregates per document).
    */
  def simhashFromHashes(hashes: Column): Column =
    call_function(graft.functions.SimHashSig.name, hashes)

  def wordHashes(text: Column, hashFn: Column => Column = xxhash64(_)): Column =
    mapHash(split(trim(text), "\\s+"), hashFn)

  /** One-shot SimHash (prefer staging [[wordHashes]] when reused). */
  def simhash(text: Column): Column = simhashFromHashes(wordHashes(text))

  /** SimHash near-dup: candidates share one of four 16-bit bands
    * (detects Hamming distance ≤ 3 with certainty via pigeonhole when
    * bands=4); verified by exact Hamming distance. The word hash
    * defaults to xxhash64; [[md5Hash60]] gives the engine-portable
    * variant the oracle re-derives.
    */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3,
                     hashFn: Column => Column = xxhash64(_),
                     maxBucket: Int = Int.MaxValue): DataFrame =
    hammingNearDup64(
      Sizing.spread(df)
        .withColumn("__wh", wordHashes(col(textCol), hashFn))
        .select(col(idCol).as("id"), simhashFromHashes(col("__wh")).as("h")),
      maxHamming, maxBucket)

  /** Banded Hamming near-dup over ANY 64-bit hash column — the engine
    * behind [[simhashNearDup]] and the perceptual-image-hash near-dup
    * ([[Multimodal.perceptualHash]]). Input must expose `id` and `h`
    * (null `h` rows — e.g. payloads that didn't decode — are dropped:
    * no hash, no near-dup verdict); output is (id_a, id_b, hamming)
    * with id_a < id_b. Candidates share one of four 16-bit bands,
    * which detects Hamming distance ≤ 3 with CERTAINTY by pigeonhole;
    * larger `maxHamming` values still verify exactly but may miss
    * pairs whose differing bits spread across all four bands.
    */
  def hammingNearDup64(input: DataFrame, maxHamming: Int = 3,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    // representative election directly on the 64-bit hash: both the
    // banding and the Hamming verdict are functions of `h` alone, so
    // pairing runs once per DISTINCT hash and member expansion
    // reconstructs the per-document pairs exactly (within a group the
    // Hamming distance is 0, which every maxHamming >= 0 admits)
    val withH = input.filter(col("h").isNotNull).localCheckpoint(false)
    val groups = withH.groupBy(col("h")).agg(min(col("id")).as("id"))
    val banded = capBuckets(
      groups.select(col("id"), col("h"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("h"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*)).as("bb"))
        .localCheckpoint(false), maxBucket)
    val repPairs = banded.alias("a")
      .join(banded.alias("b"), col("a.bb") === col("b.bb") && col("a.id") < col("b.id"))
      .select(col("a.h").as("h_a"), col("b.h").as("h_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .dropDuplicates("h_a", "h_b")
      .filter(col("hamming") <= maxHamming)
    val cross = repPairs
      .join(withH.select(col("h").as("h_a"), col("id").as("__ia")), Seq("h_a"))
      .join(withH.select(col("h").as("h_b"), col("id").as("__ib")), Seq("h_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    val within = withH.alias("x")
      .join(withH.alias("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }

  /** Cluster assignment WITHOUT materializing the within-group m²
    * member pairs: clusters are computed over REPRESENTATIVES (one node
    * per distinct shingle set), then each member inherits its group's
    * representative label. Identical to
    * `nearDupClusters(minhashNearDup(...))` — a group's representative
    * is its minimum member id, so the component-min over representative
    * ids IS the component-min over member ids — but a group of m exact
    * duplicates contributes m label rows instead of m(m−1)/2 pair rows.
    * At 100 TB of boilerplate-heavy crawl (the mass-duplication worst
    * case) this is the difference between output linear and quadratic
    * in the duplication factor.
    */
  def minhashNearDupClusters(df: DataFrame, textCol: String, idCol: String,
                             shingleN: Int = 1, numHashes: Int = 64,
                             bands: Int = 16, threshold: Double = 0.7,
                             maxBucket: Int = Int.MaxValue): DataFrame = {
    val (members, groups, repPairs) = minhashRepPairs(
      df, textCol, idCol, shingleN, numHashes, bands, threshold, maxBucket)
    val repClusters = nearDupClusters(
      repPairs.select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("__rep"), col("cluster_id").as("__rc"))
    val sizes = members.groupBy(col("gk")).agg(count(lit(1)).as("__n"))
    members
      .join(groups.select(col("gk"), col("id").as("__rep")), Seq("gk"))
      .join(sizes, Seq("gk"))
      .join(repClusters, Seq("__rep"), "left")
      // pair-path parity: only docs that would appear in ≥1 pair get a
      // row — members of multi-member groups (within pairs exist) or of
      // groups linked cross-group
      .filter(col("__n") > 1 || col("__rc").isNotNull)
      .select(col("id").as("doc_id"),
        coalesce(col("__rc"), col("__rep")).as("cluster_id"))
  }

  /** Connected components over a near-dup pair graph: returns
    * `(doc_id, cluster_id)` for every document that appears in at least
    * one pair, where `cluster_id` is the minimum doc id reachable
    * through pairs.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (a) every node takes the minimum label among itself and its
    * neighbors (one shuffle on the edge key), then (b) every node jumps
    * to its label's label (one shuffle on the label key). The jump
    * halves chain lengths, so convergence is O(log diameter) rounds —
    * near-dup graphs are usually small cliques/chains, but the log
    * bound means a pathological 1M-node chain still converges in ~20
    * rounds rather than 1M. Labels only ever decrease, so the fixpoint
    * is exact; localCheckpoint per round cuts lineage.
    */
  def nearDupClusters(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIters: Int = 48): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint(true) // reused every round
    // Measured-size plan choice (the Paths.scala pattern): a pair set
    // under the budget is solved by union-find on the driver — one
    // bounded collect instead of O(log diameter) shuffle rounds, same
    // (doc_id, min-reachable-id) rows. The edge set is already
    // materialized, so the count is free; above the budget (or for id
    // types without a `least()`-compatible JVM ordering) the
    // distributed fixpoint below runs unchanged.
    val budget = math.min(edges.sparkSession.conf
      .get("spark.graft.clusters.driverMaxEdges", (1 << 20).toString).toLong,
      Int.MaxValue - 1L).toInt
    // ONE bounded limit-collect both measures and fetches: at most
    // budget+1 rows come back (limit early-terminates above it), so
    // the driver path no longer pays a separate count job and the
    // distributed path pays a truncated probe instead of a full count
    val probe = edges.limit(budget + 1).collect()
    if (probe.length <= budget) {
      driverComponents(edges, probe) match {
        case Some(df) => return df
        case None => // unsupported id type — take the distributed path
      }
    }
    var labels = edges.groupBy("src").agg(min("dst").as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("cid"))
      .localCheckpoint(true)
    var iter = 0
    var done = false
    var curSum = labelSum(labels)
    while (!done && iter < maxIters) {
      iter += 1
      // (a) neighbor min: candidate label for dst = min label among its srcs
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("cid")).as("ncid"))
      val stepped = labels.join(prop, Seq("id"), "left")
        .select(col("id"), least(col("cid"), coalesce(col("ncid"), col("cid"))).as("cid"))
      // (b) pointer jump: label(v) := label(label(v)) (labels shrink, so
      // the label's own label is always <= the label)
      val next = stepped.alias("x")
        .join(stepped.select(col("id").as("cid"), col("cid").as("cid2")).alias("y"),
          Seq("cid"), "left")
        .select(col("id"), coalesce(col("cid2"), col("cid")).as("cid"))
        .localCheckpoint(true)
      // labels only ever decrease, so the label set changes iff anything
      // changed — one aggregation instead of a join per round. The
      // checksum hashes (id, cid) so it works for ANY id type (numeric,
      // string, …); a numeric sum would be NULL for string ids and
      // falsely report convergence after one round.
      val nextSum = labelSum(next)
      done = nextSum.compareTo(curSum) == 0
      curSum = nextSum
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("cid").as("cluster_id"))
  }

  /** Exact connected components over an already-materialized,
    * budget-bounded edge list, on the driver: union-find with path
    * compression, roots kept at the component minimum so the output
    * rows — `(doc_id, min reachable id)` for every edge endpoint — are
    * identical to the distributed fixpoint's. None when the id type has
    * no ordering matching SQL `least` (caller then runs distributed).
    */
  private def driverComponents(edges: DataFrame,
                               rows: Array[org.apache.spark.sql.Row]): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val spark = edges.sparkSession
    val dt = edges.schema("src").dataType
    val ord: Ordering[Any] = dt match {
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
      case StringType => Ordering.String.on[Any](_.asInstanceOf[String])
      case _ => return None
    }
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val u = r.get(0); val v = r.get(1)
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (a, b) = (find(u), find(v))
      if (a != b) {
        // the smaller root absorbs the larger: every root stays the
        // minimum of its component, matching the fixpoint's min labels
        if (ord.lt(a, b)) parent(b) = a else parent(a) = b
      }
    }
    val out: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList
    parent.keys.foreach(id => out.add(org.apache.spark.sql.Row(id, find(id))))
    Some(spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", dt), StructField("cluster_id", dt)))))
  }

  // Type-agnostic label checksum: sum of per-row (id, cid) hashes,
  // decimal so 2^63-scale longs cannot overflow the sum. Equal sums ⇒
  // unchanged labels (up to a vanishing 64-bit collision chance; labels
  // are monotone so a false match only stops one round early). Sum over
  // zero rows is SQL NULL — normalize so an empty pair set converges
  // immediately.
  private def labelSum(labels: DataFrame): java.math.BigDecimal =
    Option(labels.agg(sum(xxhash64(col("id"), col("cid")).cast(DecimalType(38, 0))))
      .head().getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)

  /** Keep one canonical document per near-dup cluster: drops every
    * member of `pairs`' connected components except the minimum-id one.
    * Documents in no pair pass through untouched (a left-anti join on
    * the non-canonical member ids — one broadcast-able side when the
    * dup rate is low, which is the common case).
    */
  def dropNearDups(docs: DataFrame, pairs: DataFrame, idCol: String,
                   idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = nearDupClusters(pairs, idA, idB)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup: bucketed by random-hyperplane LSH (see
    * [[Similarity.planeSignature]]), verified by exact cosine.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       planes: Int = 12, threshold: Double = 0.95): DataFrame = {
    // norm staged once per row — the verify cosine then costs one dot
    // per candidate pair instead of recomputing both norms per pair
    val withSig = Sizing.spread(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("n"),
        Similarity.planeSignature(col(vecCol), planes).as("sig"))
    withSig.alias("a")
      .join(withSig.alias("b"), col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("cos",
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic near-dup pairs: embeddings are assigned
    * to their nearest k-means cell and only within-cell pairs are
    * scored by exact cosine (Abbas et al. 2023, "SemDeDup"). Where
    * [[embeddingNearDup]]'s hyperplane buckets are random, the cells
    * here track the data distribution, so semantically close vectors
    * land together even when they straddle random hyperplanes.
    *
    * Scale shape: the quadratic kernel is bounded per cell — nlist
    * grows with the corpus so cells stay roughly constant-size; the
    * assignment is a narrow map over fitted centroid literals (no
    * shuffle), and the only shuffle is the equi-join on cell id.
    * Identical embeddings always share a cell (argmax over identical
    * scores), so exact duplicates are found with probability 1.
    */
  def semanticNearDup(emb: DataFrame, vecCol: String, idCol: String,
                      nlist: Int = 16, threshold: Double = 0.95): DataFrame = {
    val cents = Similarity.trainCentroids(emb, vecCol, idCol, nlist)
    val assigned = Sizing.spread(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("n"),
        element_at(Similarity.rankedCells(cents, col(vecCol)), 1).as("cell"))
    assigned.alias("a")
      .join(assigned.alias("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cos",
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
