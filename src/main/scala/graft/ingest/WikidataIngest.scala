package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Wikidata dump → quad-store DataFrames.
  *
  * The physical model replaces the reference's four sorted in-memory
  * permutations (`src/storage_engine/mod.rs:127-154`) with Parquet:
  * Catalyst shuffles on join keys at query time, so no permutation
  * copies are needed for correctness. For scale, `write` sorts the
  * quads by `(p.key, s.key)` within partitions — predicate-major
  * clustering gives Parquet row-group min/max pruning for the very
  * common bound-predicate scan (the analog of `relation_pre`), and the
  * string `key` columns dictionary-encode.
  *
  * At 100 TB the same writer would add `.repartitionByRange(p.key,
  * s.key)` plus a higher partition count; the read side is unchanged.
  */
object WikidataIngest {

  /** Default location of the ingested fixture store inside the repo. */
  val defaultDir = "/root/repo/data/wikidata"

  /** Default location of the opt-in lexeme fixture store. */
  val lexemeDir = "/root/repo/data/wikidata-lex"

  /** Committed ingest fixtures, beside the fixture stores. */
  private val fixturesDir = s"${new java.io.File(defaultDir).getParent}/fixtures"

  /** The 5-line entity dump (Q31, Q8, Q23, Q24 → 3385 quads, the
    * reference's `test_requests.txt:9-14` count). Derived from the
    * committed [[defaultDir]] store by `tools/derive_fixtures.py`, not
    * the reference's bytes: it carries every field the parser keeps, and
    * re-ingesting it reproduces the store row for row including `ord`
    * (pinned by SparqlFixtureSpec). See FIXTURES.md §1 for what the
    * parser drops and this file therefore cannot carry.
    */
  val fixturePath = s"$fixturesDir/first_5_lines.txt"

  /** The lexeme example (L4589 "flower", lemma + 2 forms + 2 senses) in
    * API-wrapper form (`{"entities":{"L4589":…}}`) rather than as a dump
    * line, like the reference's `tests/data/form_sense_example.txt`.
    * Derived from the committed `dump.jsonl` of [[lexemeDir]]: it is the
    * exact inverse of [[unwrapEntities]] (pinned by SparqlFixtureSpec).
    */
  val lexemeFixturePath = s"$fixturesDir/form_sense_example.txt"

  /** The entity documents of an API-wrapper file
    * (`{"entities":{id: doc, …}}`) as compact dump lines, in file order.
    */
  private[graft] def unwrapEntities(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val rootNode =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(src.mkString)
      finally src.close()
    rootNode.get("entities").properties().asScala.map(_.getValue.toString).toSeq
  }

  /** Build (once) and return the lexeme fixture store: the entities of
    * [[lexemeFixturePath]] unwrapped to dump lines and ingested with
    * `lexemes = true`. Self-contained like [[statements]]' auto-build.
    */
  def lexemeStore(spark: SparkSession, dir: String = lexemeDir): String = {
    if (!new java.io.File(s"$dir/statements.parquet").exists()) {
      new java.io.File(dir).mkdirs()
      val dump = new java.io.File(dir, "dump.jsonl")
      val w = new java.io.PrintWriter(dump, "UTF-8")
      try unwrapEntities(lexemeFixturePath).foreach(w.println) finally w.close()
      build(spark, dump.getAbsolutePath, dir, lexemes = true)
    }
    dir
  }

  /** Parse a dump file into the statements DataFrame (term-struct
    * columns `s, p, o, id` + long `ord`).
    */
  def ingest(spark: SparkSession, path: String,
             parseQualifiers: Boolean = true,
             languageFilter: Option[Set[String]] = None,
             lexemes: Boolean = false): DataFrame = {
    import spark.implicits._
    val lines: Dataset[String] = spark.read.textFile(path)
    // Per-quad insertion ordinal, assigned AFTER the flatMap:
    // parseLine emits a line's quads in ascending per-line seq, flatMap
    // preserves that order within each split, and
    // monotonically_increasing_id() is increasing in (partition, row) —
    // so the ordinal induces exactly the (file, line, in-line) insertion
    // order the reference's append log records. This replaces
    // zipWithIndex (whose count job cost a full extra pass over the
    // input at scale) and the lineIdx*1e6+seq packing (whose silent
    // <1M-quads-per-line assumption is gone with it — no packing, no
    // bound, no overflow at any input size).
    lines.flatMap(line => WikidataParser.parseLine(line, parseQualifiers, languageFilter, lexemes))
      .toDF()
      .withColumn("ord", monotonically_increasing_id())
  }

  /** Labels/descriptions/aliases view used by the label service
    * (reference models them as ordinary edges, `src/parser.rs:441-474`;
    * we also materialize this narrow projection for broadcast joins).
    */
  def labelsView(statements: DataFrame): DataFrame =
    statements
      .filter(col("p.kind").isin("label", "desc", "alias"))
      .select(
        col("s.key").as("entity_key"),
        col("p.kind").as("kind"),
        col("p.str").as("lang"),
        col("o.str").as("text"),
        col("ord"))

  /** Ingest `path` and persist both tables under `dir`. The persisted
    * statements also carry pre-rendered lexical columns (`s_lex` …) so
    * external SQL engines (the DuckDB correctness oracle) can produce
    * output identical to the engine's rendering without re-implementing
    * it.
    */
  def build(spark: SparkSession, path: String = fixturePath,
            dir: String = defaultDir,
            parseQualifiers: Boolean = true,
            languageFilter: Option[Set[String]] = None,
            lexemes: Boolean = false): Unit =
    writeStore(spark, ingest(spark, path, parseQualifiers, languageFilter, lexemes), dir)

  /** Persist an already-constructed statements DataFrame (term-struct
    * columns `s, p, o, id, graph` + long `ord`) as a flat store —
    * the create-db write path without the dump parse. Used by [[build]]
    * and by synthetic-store harnesses ([[graft.QuadScale]]), so the
    * stores they bench have exactly the layout real ingest produces.
    */
  def writeStore(spark: SparkSession, quads: DataFrame, dir: String): Unit = {
    rendered(quads)
      .sortWithinPartitions(col("p.key"), col("s.key"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/statements.parquet")
    labelsView(spark.read.parquet(s"$dir/statements.parquet"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/labels.parquet")
    invalidate(dir)
  }

  /** Pre-rendered lexical columns used by the result sink (computed
    * once at build time instead of per query).
    */
  private[graft] def rendered(statements: DataFrame): DataFrame = {
    import graft.model.Render
    statements
      .withColumn("s_lex", Render.lex(col("s")))
      .withColumn("p_lex", Render.lex(col("p")))
      .withColumn("o_lex", Render.lex(col("o")))
      .withColumn("id_lex", Render.lex(col("id")))
      .withColumn("graph_lex", Render.lex(col("graph")))
  }

  /** Default predicate-bucket count for the partitioned layout. The
    * count actually used by a store is persisted beside it (see
    * [[storeBuckets]]) so the plan-time bucket computation can never
    * drift from the layout the store was built with.
    */
  val NumPredBuckets = 64

  /** Parquet row-group size for the permutation copies (16 MB, vs the
    * 128 MB default): finer min/max statistics on the globally-sorted
    * keys prune point lookups tighter, and no file region larger than
    * this is ever forced onto a single read task. Used by
    * [[buildPartitioned]]/[[createIndex]] and by [[IndexMaintenance]]'s
    * append/compaction writes.
    */
  val PermutationBlockBytes: Long = 16L * 1024 * 1024

  /** Target on-disk size of one permutation file (one default read
    * split): the size-aware range-partition count in the build and
    * compaction writers aims here, so a hot bucket's scan parallelism
    * tracks its data size instead of being capped by file count.
    */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Floor on the bytes one range partition should hold in the
    * permutation writers: below this, more partitions only buy
    * task-scheduling and small-file overhead, never parallelism worth
    * having. Used to scale the partition-count FLOOR down on small
    * inputs (guide §2: partitioning derives from input size, not a
    * constant tuned for one machine shape); at ≥ floor × this the
    * writers behave exactly as before.
    */
  val MinPartitionBytes: Long = 4L * 1024 * 1024

  /** Size-aware range-partition count shared by the build, compaction
    * and vacuum writers: at least one partition per TargetFileBytes
    * (a hot bucket's scan parallelism tracks its bytes), at most the
    * legacy `floor` (cores/buckets/rewritten-dir count), and never more
    * than one partition per [[MinPartitionBytes]] — so a tiny store
    * writes 1 partition instead of 64+ near-empty shuffle tasks and
    * sampling passes, while stores ≥ floor×4 MB plan exactly as before.
    */
  /** Size-adaptive predicate-bucket count for [[createIndex]]: one
    * bucket per [[BucketBytes]] of flat-store bytes, clamped to the
    * legacy [[NumPredBuckets]] — stores ≥ ~1 GB lay out exactly as
    * before the adaptive change (ladder safety pinned by
    * LayoutLadderSpec).
    */
  private[graft] def sizedBuckets(bytes: Long): Int =
    math.min(NumPredBuckets.toLong, bytes / BucketBytes + 1L).toInt

  private[graft] def sizedRangeParts(bytes: Long, floor: Int): Int =
    math.max((bytes / TargetFileBytes + 1).toInt,
      math.min(floor, math.max(1, (bytes / MinPartitionBytes + 1).toInt)))

  /** Run independent write/aggregate actions as concurrent Spark jobs
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially — submitting independent jobs from a small pool
    * lets one job's tasks back-fill the executors another's tail
    * leaves idle, and overlaps the driver-side plan/commit latency
    * that dominates small stores). Bounded by
    * `spark.graft.build.writeConcurrency` (default 3 — enough to fill
    * tails, not so many that concurrent full-store shuffles fight for
    * executor memory and shuffle disk at scale). Failures propagate:
    * the first exception aborts the await, exactly like the sequential
    * loop it replaces — and NO task outlives the call: queued siblings
    * are cancelled and in-flight ones waited out, so a caller's
    * `finally` can never restore state a straggler writer still reads.
    */
  private[ingest] def inParallel(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    val conc = math.max(1,
      spark.conf.get("spark.graft.build.writeConcurrency", "3").toInt)
    if (tasks.size <= 1 || conc == 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(conc, tasks.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(tasks.map(t => scala.concurrent.Future(t()))),
      scala.concurrent.duration.Duration.Inf): Unit
    catch { case e: Throwable =>
      // fail-fast drain: shutdownNow() drops every not-yet-started
      // task from the queue; awaitTermination then blocks until the
      // in-flight ones finish (their Spark writes commit or abort
      // inside this window, never after the caller resumes)
      pool.shutdownNow()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      throw e
    }
    finally pool.shutdown()
  }

  /** Total bytes of the parquet files under `path` (recursive). */
  private[ingest] def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long = {
      val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      cs.collect { case c if c.isFile && c.getName.endsWith(".parquet") => c.length }.sum +
        cs.filter(_.isDirectory).map(walk).sum
    }
    walk(new java.io.File(path))
  }

  /** Bucket of a term's numeric id under a `buckets`-way layout
    * (non-entity terms — label/description/alias language edges —
    * share the overflow bucket `buckets`).
    */
  def predBucket(num: Long, buckets: Int = NumPredBuckets): Long =
    java.lang.Math.floorMod(num, buckets.toLong)

  /** Bucket count a partitioned store was built with, read from the
    * `meta.json` [[buildPartitioned]] writes; older stores without one
    * fall back to [[NumPredBuckets]] (the only count ever used before
    * the file existed). Flat stores have no buckets → None.
    */
  def storeBuckets(dir: String): Option[Int] = {
    val meta = new java.io.File(s"$dir/meta.json")
    if (meta.exists()) {
      val txt = scala.io.Source.fromFile(meta)
      try "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt.mkString).map(_.group(1).toInt)
      finally txt.close()
    } else if (new java.io.File(s"$dir/statements_sub.parquet").exists())
      Some(NumPredBuckets)
    else None
  }

  /** Scale layout (SURVEY §1.6): the same quad table written
    * `partitionBy(p_bucket)` — the analog of the reference's
    * `relation_pre` permutation. Bound-predicate scans (the dominant
    * SPARQL access path) then prune whole partitions instead of reading
    * every row group; within a partition the `(p.key, s.key)` sort
    * still gives row-group pruning for the subject.
    *
    * Three further copies — `statements_sub` partitioned by `s_bucket`
    * sorted `(s.key, p.key)`, `statements_obj` partitioned by
    * `o_bucket` sorted `(o.key, p.key)`, and `statements_gr`
    * partitioned by `g_bucket` sorted `(graph.key, p.key)` — are the
    * `relation_sub` / `relation_obj` / gspo analogs. The translator
    * routes bound-subject scans to the first, bound-object (reverse)
    * scans to the second, and constant-GRAPH scans to the third, so
    * each access path keeps its partition pruning; storage quadruples,
    * exactly the trade the reference makes with its four sorted
    * permutations.
    */
  def buildPartitioned(spark: SparkSession, path: String = fixturePath,
                       dir: String, buckets: Int = NumPredBuckets,
                       parseQualifiers: Boolean = true,
                       languageFilter: Option[Set[String]] = None,
                       lexemes: Boolean = false): Unit =
    writePartitioned(spark,
      rendered(ingest(spark, path, parseQualifiers, languageFilter, lexemes)), dir, buckets)

  /** The reference's `create-index` (`src/main.rs:44-47`): build the
    * permutation copies over an ALREADY-INGESTED store instead of
    * re-parsing the dump — read the flat store's quad table (which
    * carries the rendered lex columns) and write the partitioned
    * layout to `outDir`.
    */
  /** Bytes of store per predicate bucket under the size-adaptive
    * default: buckets = clamp(bytes/16 MB, 1, [[NumPredBuckets]]). A
    * bucket is a physical partition directory every permutation write,
    * append and compaction touches — on a KB-scale store 64 of them
    * mean 65 near-empty files per copy and per maintenance batch (file
    * open/commit dominated the measured build), while pruning gains
    * nothing because the whole store is one read split anyway.
    */
  val BucketBytes: Long = 16L * 1024 * 1024

  def createIndex(spark: SparkSession, flatDir: String, outDir: String,
                  buckets: Int = 0,
                  zorder: Option[(String, String)] = None): Unit = {
    require(new java.io.File(flatDir).getCanonicalPath !=
      new java.io.File(outDir).getCanonicalPath,
      "create-index cannot overwrite its input store; pick a different outDir")
    val inBytes = dirBytes(s"$flatDir/statements.parquet")
    // buckets <= 0 → size-adaptive count (callers that pin a count —
    // tests, stores that must match an existing layout — still can);
    // the chosen count is persisted in meta.json so readers always
    // bucket exactly as the writer did, whatever the count
    val b = if (buckets > 0) buckets else sizedBuckets(inBytes)
    writePartitioned(spark, statements(spark, flatDir)
      .drop("p_bucket", "s_bucket", "o_bucket"), outDir, b, zorder,
      // size the range-partition count from the flat store's on-disk
      // bytes (each permutation carries the same columns)
      inputBytes = Some(inBytes))
  }

  /** Bucket column for `term` under a `buckets`-way layout. Shared by
    * the index writer and the incremental appender
    * ([[IndexMaintenance]]) — the scheme MUST stay identical or
    * appended rows land in the wrong partition and silently vanish
    * from pruned scans.
    */
  private[ingest] def bucketColumn(term: String, buckets: Int): org.apache.spark.sql.Column =
    when(col(s"$term.num").isNotNull,
      pmod(col(s"$term.num").cast("long"), lit(buckets.toLong)))
      .otherwise(lit(buckets.toLong)).cast("int")

  private def writePartitioned(spark: SparkSession, quads: DataFrame,
                               dir: String, buckets: Int,
                               zorder: Option[(String, String)] = None,
                               inputBytes: Option[Long] = None): Unit = {
    val rendered = quads
    def bucketOf(term: String) = bucketColumn(term, buckets)
    // Main-copy layout: predicate-major (p.key, s.key) clustering by
    // default; `--zorder=a,b` switches to the Morton interleave of the
    // two named (dotted-path) numeric columns so row-group min/max
    // stats stay tight on BOTH axes (graft.operators.Layout) — the
    // write-once pass for stores queried along two dimensions.
    // NOTE: every within-partition sort LEADS with the write's
    // partition column — a partitionBy writer re-sorts each task by
    // the partition columns (non-stably) unless the data already
    // arrives so ordered, which would scramble the clustering the sort
    // just built.
    // Each permutation is RANGE-partitioned on (bucket, sort keys)
    // before the within-partition sort: the written copy is then
    // GLOBALLY sorted per bucket (the reference's sorted-permutation
    // property, `storage_engine/mod.rs:127-154`) with non-overlapping
    // sorted files instead of one file per (input task × bucket).
    // The partition count is SIZE-AWARE, not fixed: a read task owns
    // at least one file split, so a hot bucket written as 1-2 huge
    // files serializes its scans behind file/128MB tasks at ANY
    // cluster size (measured 5-8x on the 128M qualifier_join when the
    // count was fixed at max(cores, buckets)). Targeting
    // ~TargetFileBytes per range partition keeps every file inside
    // one default read split, so scan parallelism tracks data size
    // while cold buckets still get exactly one file.
    val legacyFloor =
      math.max(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, buckets)
    val rangeParts = inputBytes match {
      // size known: scale the floor down on small inputs (a 40 KB
      // fixture store was paying 64-way sampled range shuffles per
      // permutation); ≥ floor×MinPartitionBytes behaves as before
      case Some(b) => sizedRangeParts(b, legacyFloor)
      case None => legacyFloor
    }
    // one range partition degenerates to a single globally-sorted
    // partition — coalesce(1) + sort produces the identical file
    // without the shuffle exchange (and its extra AQE stage job)
    def sorted(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
      (if (rangeParts == 1) df.coalesce(1)
       else df.repartitionByRange(rangeParts, keys: _*))
        .sortWithinPartitions(keys: _*)
    // 16 MB row groups (vs the 128 MB default): with ≤128 MB sorted
    // files this no longer gates parallelism, but on sorted keys the
    // finer min/max statistics prune point lookups tighter
    val blockOpt = ("parquet.block.size", PermutationBlockBytes.toString)
    val mainSorted = zorder match {
      case Some((a, b)) =>
        val bits = 16
        def dim(path: String) =
          pmod(coalesce(col(path).cast("long"), lit(0L)), lit(1L << bits))
        sorted(rendered.withColumn("p_bucket", bucketOf("p")),
          col("p_bucket"), graft.operators.Layout.zValue(dim(a), dim(b), bits))
      case None =>
        sorted(rendered.withColumn("p_bucket", bucketOf("p")),
          col("p_bucket"), col("p.key"), col("s.key"))
    }
    // The four permutation writes are mutually independent jobs over
    // the same input — submitted concurrently ([[inParallel]], guide
    // §2.6) so each job's stage tail back-fills the others' idle
    // executors instead of serializing four full passes.
    val permWrites = Seq[() => Unit](
      () => mainSorted
        .write.mode(SaveMode.Overwrite)
        .option(blockOpt._1, blockOpt._2)
        .partitionBy("p_bucket")
        .parquet(s"$dir/statements.parquet"),
      () => sorted(rendered.withColumn("o_bucket", bucketOf("o")),
        col("o_bucket"), col("o.key"), col("p.key"))
        .write.mode(SaveMode.Overwrite)
        .option(blockOpt._1, blockOpt._2)
        .partitionBy("o_bucket")
        .parquet(s"$dir/statements_obj.parquet"),
      () => sorted(rendered.withColumn("s_bucket", bucketOf("s")),
        col("s_bucket"), col("s.key"), col("p.key"))
        .write.mode(SaveMode.Overwrite)
        .option(blockOpt._1, blockOpt._2)
        .partitionBy("s_bucket")
        .parquet(s"$dir/statements_sub.parquet")) ++
      // fourth permutation: graph-partitioned (the reference's fourth
      // sorted permutation; our gspo analog). A named graph is one
      // document's quads, so a constant-GRAPH scan reads one bucket
      // instead of the whole store — without this copy GRAPH wd:Qc is a
      // store-wide scan with only a pushed key filter (linear in store
      // size; a full scan at 100 TB).
      (if (rendered.columns.contains("graph")) Seq[() => Unit](
        () => sorted(rendered.withColumn("g_bucket", bucketOf("graph")),
          col("g_bucket"), col("graph.key"), col("p.key"))
          .write.mode(SaveMode.Overwrite)
          .option(blockOpt._1, blockOpt._2)
          .partitionBy("g_bucket")
          .parquet(s"$dir/statements_gr.parquet"))
      else Nil)
    inParallel(spark, permWrites)
    // labels + statistics both read the just-written main copy — two
    // more independent jobs, overlapped the same way
    var maxOrd = -1L
    inParallel(spark, Seq(
      // the label service always filters kind + lang, so partitioning
      // on both prunes a full-Wikidata label table to the exact
      // (kind, lang) slices a query's language priority list names
      () => labelsView(spark.read.parquet(s"$dir/statements.parquet"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("kind", "lang")
        .parquet(s"$dir/labels.parquet"),
      // per-predicate quad counts for the translator's
      // statistics-driven BGP ordering (the reference orders by
      // measured scan sizes, calc_engine.rs:116-151). Computed from the
      // just-written main copy; the collect is bounded by the property
      // vocabulary (~10⁴ for full Wikidata), and the file caps at the
      // hottest 100k predicates — ties beyond that order as before
      () => maxOrd = writePredCounts(spark, dir)))
    // persist the layout so readers bucket exactly as the writer did.
    // maxOrd rides along (it falls out of the stats pass for free) so
    // the FIRST append no longer bootstraps it with a store-wide agg —
    // at 100 TB that was a full ord-column scan per fresh store.
    val w = new java.io.PrintWriter(s"$dir/meta.json")
    try w.write(s"""{"buckets": $buckets, "generation": 0, """ +
      s""""maxOrd": $maxOrd, "lastBatch": -1}""") finally w.close()
    // success marker, written LAST: harnesses that reuse an on-disk
    // store (ConcurrencyBench, QuadScale warm sittings) key on this
    // file alone — a crashed build leaves directories but no marker,
    // so it is rebuilt instead of silently half-read
    val m = new java.io.PrintWriter(s"$dir/_SUCCESS_GRAFT_INDEX")
    try m.write("ok") finally m.close()
    invalidate(dir)
  }

  /** Compute per-predicate quad counts from the main copy and persist
    * them beside the store (`pred_counts.json`). Also invoked by
    * [[IndexMaintenance]] after appends so the translator's ordering
    * statistics track the maintained store.
    *
    * Alongside the totals, persist per-predicate DEGREE bounds
    * (`pred_fanout.json`): the maximum quad count any single subject
    * (`…|s`) or object (`…|o`) holds under that predicate. The
    * translator multiplies these through a BGP join chain to get a
    * WORST-CASE output cardinality (the degree-constrained size
    * bound), which is what lets it safely broadcast-hint intermediate
    * joins — an average fan-out could under-estimate a hot key
    * (wdt:P31→Q5 holds ~10M on real Wikidata) and broadcast something
    * huge; the max cannot. Two extra store-wide aggregations at build
    * time, both map-side-combined on (p,s)/(p,o).
    *
    * The counts table caps at the hottest 100k predicates. When the
    * cap TRUNCATES (a >100k-predicate store), the file records the
    * smallest retained count as `"floor"`: an absent predicate is then
    * known only to hold ≤ floor quads, and the translator bounds it by
    * the floor instead of 0 — without this, the 100,001-st-hottest
    * predicate (possibly millions of rows) would read as empty and get
    * a broadcast() hint, an executor-OOM by construction at exactly
    * the scale the cap exists for. A complete table writes floor 0
    * (absent ⇒ truly absent).
    */
  private[ingest] def writePredCounts(spark: SparkSession, dir: String): Long = {
    val stmts = spark.read.parquet(s"$dir/statements.parquet")
    // ONE pass over the store computes totals, both degree bounds and
    // the max insertion ordinal (the old shape was three store-wide
    // aggregations — at 100 TB that is two redundant full scans; guide
    // §1.2 step 1, "don't compute things twice"). The subject/object
    // sides ride one explode (map-side combine applies after it), and
    // the per-predicate aggregate is tiny (property vocabulary), so the
    // ordered top-k collects below run on a localCheckpointed copy.
    val perPred = stmts
      .select(col("p.key").as("k"), col("ord"),
        explode(array(
          struct(lit("s").as("side"), col("s.key").as("g")),
          struct(lit("o").as("side"), col("o.key").as("g")))).as("sg"))
      .groupBy(col("k"), col("sg.side").as("side"), col("sg.g").as("g"))
      .agg(count(lit(1)).as("c"), max(col("ord")).as("mo"))
      .groupBy(col("k"), col("side"))
      .agg(sum(col("c")).as("total"), max(col("c")).as("m"), max(col("mo")).as("mo"))
      .localCheckpoint()
    val rows = perPred.filter(col("side") === "s")
      .select(col("k"), col("total"))
      .orderBy(col("total").desc)
      .limit(100001)
      .collect()
    val truncated = rows.length > 100000
    val kept = if (truncated) rows.take(100000) else rows
    val floor = if (truncated) kept.last.getLong(1) else 0L
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = kept.map(r => s""""${esc(r.getString(0))}": ${r.getLong(1)}""")
      .mkString("{", ", ", "}")
    val w = new java.io.PrintWriter(s"$dir/pred_counts.json")
    try w.write(s"""{"floor": $floor, "counts": $body}""") finally w.close()
    def maxDegree(side: String): Array[(String, Long)] = perPred
      .filter(col("side") === side).select(col("k"), col("m"))
      .orderBy(col("m").desc).limit(100000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val fan = (maxDegree("s").map { case (k, m) => s""""${esc(k)}|s": $m""" } ++
      maxDegree("o").map { case (k, m) => s""""${esc(k)}|o": $m""" })
      .mkString("{", ", ", "}")
    val wf = new java.io.PrintWriter(s"$dir/pred_fanout.json")
    try wf.write(s"""{"fanout": $fan}""") finally wf.close()
    val moRow = perPred.agg(max(col("mo"))).head()
    if (moRow.isNullAt(0)) -1L else moRow.getLong(0)
  }

  // pred-count tables are tiny and read per-query at translate time —
  // cache per (dir, epoch) so a rebuild/append refreshes them
  private val predCountCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Option[(Long, Map[String, Long])]]

  private def parsePredCounts(dir: String): Option[(Long, Map[String, Long])] = {
    val f = new java.io.File(s"$dir/pred_counts.json")
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val txt = try src.mkString finally src.close()
      // minimal parse of the flat {"key": n, ...} object this module
      // writes (keys escape only \ and ")
      val entry = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
      val all = entry.findAllMatchIn(txt).map { m =>
        m.group(1).replace("\\\"", "\"").replace("\\\\", "\\") -> m.group(2).toLong
      }.toSeq
      val counts = all.collect {
        case (k, v) if k != "counts" && k != "floor" => k -> v
      }.toMap
      // legacy files (no floor field) recorded the top-100k without a
      // completeness marker: a full table (< cap entries) is provably
      // complete, an exactly-at-cap table may be truncated — the
      // smallest retained count is then the sound absent-predicate
      // bound (absent ⇒ rarer than every retained entry)
      val floor = all.collectFirst { case ("floor", v) => v }.getOrElse(
        if (counts.size >= 100000) counts.values.min else 0L)
      Some((floor, counts))
    }
  }

  /** Per-predicate quad counts persisted by [[writePredCounts]]; None
    * for flat/older stores (ordering falls back to pure boundness).
    */
  def predCounts(dir: String): Option[Map[String, Long]] =
    predCountCache.getOrElseUpdate((dir, storeEpoch(dir)), parsePredCounts(dir))
      .map(_._2)

  /** Truncation floor of `pred_counts.json`: 0 when the table is
    * complete; otherwise the smallest retained count, i.e. a sound
    * upper bound for any predicate ABSENT from the table. The
    * translator's broadcast hints and ordering tie-breaks use this as
    * the absent-predicate cardinality instead of assuming 0.
    */
  def predCountsFloor(dir: String): Long =
    predCountCache.getOrElseUpdate((dir, storeEpoch(dir)), parsePredCounts(dir))
      .map(_._1).getOrElse(0L)

  private val predFanoutCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Option[Map[String, (Long, Long)]]]

  /** Per-predicate degree bounds persisted by [[writePredCounts]]:
    * predicate key → (max quads on one subject, max quads on one
    * object). None for flat/older stores — the translator then skips
    * intermediate-join hints (scan-count hints still apply).
    */
  def predFanout(dir: String): Option[Map[String, (Long, Long)]] =
    predFanoutCache.getOrElseUpdate((dir, storeEpoch(dir)), {
      val f = new java.io.File(s"$dir/pred_fanout.json")
      if (!f.exists()) None
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val txt = try src.mkString finally src.close()
        val entry = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
        val flat = entry.findAllMatchIn(txt).collect {
          case m if m.group(1) != "fanout" =>
            m.group(1).replace("\\\"", "\"").replace("\\\\", "\\") -> m.group(2).toLong
        }.toMap
        Some(flat.keysIterator.map(_.stripSuffix("|s").stripSuffix("|o"))
          .toSet[String].map { k =>
            k -> (flat.getOrElse(s"$k|s", Long.MaxValue),
              flat.getOrElse(s"$k|o", Long.MaxValue))
          }.toMap)
      }
    })

  // DataFrames are immutable, so the resolved scan relation can be
  // shared across queries in a session — repeated `spark.read.parquet`
  // would re-list files and re-read footers per query, a fixed
  // per-query planning cost that grows with the store's file count.
  private val readCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Cached `spark.read.parquet(path)` for side tables that live under
    * a store directory (e.g. the tombstone table): shares [[readCache]]
    * so [[invalidate]] of the store drops it with the rest — without
    * this, every read-path filter re-listed and re-footer-read the
    * side table (a schema-inference job per query).
    */
  private[graft] def cachedRead(spark: SparkSession, path: String): DataFrame =
    readCache.getOrElseUpdate((spark, path), spark.read.parquet(path))

  /** Cached RAW scan of the main statements copy — tombstones NOT
    * filtered (unlike [[statements]], which caches the filtered view
    * under the bare path key). The un-delete path probes this for
    * physically-present-but-hidden rows. The `#raw` key suffix still
    * starts with `dir`, so [[invalidate]] drops it with the rest.
    */
  private[graft] def rawStatements(spark: SparkSession, dir: String): DataFrame =
    readCache.getOrElseUpdate((spark, s"$dir/statements.parquet#raw"),
      spark.read.parquet(s"$dir/statements.parquet"))

  /** Drop cached reads under `dir` after a rebuild (the cached file
    * listing would otherwise point at deleted parquet parts), and bump
    * the store's epoch so downstream plan caches keyed on it
    * (QueryServer's translated-plan LRU) stop serving plans over the
    * old file listing.
    */
  private[graft] def invalidate(dir: String): Unit = {
    readCache.keys.filter(_._2.startsWith(dir)).foreach(readCache.remove)
    epochs.updateWith(dir) { v => Some(v.getOrElse(0L) + 1L) }
  }

  // per-JVM rebuild counter per store dir; same staleness contract as
  // readCache (a rebuild from ANOTHER process is invisible to both —
  // restart or re-create-db in this JVM to pick it up)
  private val epochs = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Monotonic per-JVM epoch of `dir`, bumped on every rebuild through
    * this class. Cache keys that include it go stale-safe against
    * in-process rebuilds.
    */
  def storeEpoch(dir: String): Long = epochs.getOrElse(dir, 0L)

  /** Load the persisted statements table, building it first if absent
    * (keeps `Verify`/`Bench` self-contained on a fresh checkout).
    */
  def statements(spark: SparkSession, dir: String = defaultDir): DataFrame =
    readCache.getOrElseUpdate((spark, s"$dir/statements.parquet"), {
      val p = new java.io.File(s"$dir/statements.parquet")
      if (!p.exists()) build(spark, fixturePath, dir)
      Tombstones.filterStatements(spark, dir,
        spark.read.parquet(s"$dir/statements.parquet"))
    })

  def labels(spark: SparkSession, dir: String = defaultDir): DataFrame =
    readCache.getOrElseUpdate((spark, s"$dir/labels.parquet"), {
      val p = new java.io.File(s"$dir/labels.parquet")
      if (!p.exists()) build(spark, fixturePath, dir)
      // a labels-free store's partitioned labels table holds no data
      // files and therefore no readable schema (partitionBy of an
      // empty frame writes nothing): that is an EMPTY labels table,
      // not an error — same tolerance as IndexMaintenance.repairCheck
      val raw = try spark.read.parquet(s"$dir/labels.parquet")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          import org.apache.spark.sql.types._
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("entity_key", StringType),
              StructField("kind", StringType), StructField("lang", StringType),
              StructField("text", StringType), StructField("ord", LongType))))
      }
      Tombstones.filterLabels(spark, dir, raw)
    })

  /** The object-partitioned copy, when the store has one (only
    * [[buildPartitioned]] writes it — the flat fixture store doesn't).
    */
  def statementsObj(spark: SparkSession, dir: String = defaultDir): Option[DataFrame] =
    optionalCopy(spark, dir, "statements_obj.parquet")

  /** The subject-partitioned copy (see [[statementsObj]]). */
  def statementsSub(spark: SparkSession, dir: String = defaultDir): Option[DataFrame] =
    optionalCopy(spark, dir, "statements_sub.parquet")

  /** The graph-partitioned copy (see [[statementsObj]]; stores built
    * by earlier create-index versions simply lack it and constant-GRAPH
    * scans fall back to the main copy's key filter).
    */
  def statementsGr(spark: SparkSession, dir: String = defaultDir): Option[DataFrame] =
    optionalCopy(spark, dir, "statements_gr.parquet")

  private def optionalCopy(spark: SparkSession, dir: String, file: String): Option[DataFrame] = {
    val path = s"$dir/$file"
    if (!new java.io.File(path).exists()) None
    else Some(readCache.getOrElseUpdate((spark, path),
      Tombstones.filterStatements(spark, dir, spark.read.parquet(path))))
  }

  /** `runMain graft.ingest.WikidataIngest [path] [dir] [--partitioned]`
    * — the create-db / create-index analog (reference `src/main.rs`).
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    val positional = args.filterNot(_.startsWith("--"))
    val path = positional.headOption.getOrElse(fixturePath)
    val dir = positional.lift(1).getOrElse(defaultDir)
    if (args.contains("--partitioned")) buildPartitioned(spark, path, dir)
    else build(spark, path, dir)
    val n = spark.read.parquet(s"$dir/statements.parquet").count()
    println(s"ingested $n quads from $path into $dir")
    spark.stop()
  }
}
