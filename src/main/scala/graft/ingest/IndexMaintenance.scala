package graft.ingest

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Incremental maintenance of the four-permutation quad store.
  *
  * The reference can only produce its four sorted permutations by a
  * full rebuild (`src/storage_engine/builder.rs:335-531` — the builder
  * consumes the whole dump); this module goes past parity: a delta of
  * new quads is APPENDED into each permutation's correct partitions
  * (the bucket scheme is deterministic — [[WikidataIngest.bucketColumn]]
  * — so new files land exactly where pruned scans will look), labels
  * included, at O(|delta|) cost instead of O(store). At 100 TB that is
  * the difference between hours of rebuild per document batch and a
  * seconds-long append.
  *
  * Same operational pattern as the IVF index's incremental path
  * ([[graft.pipeline.Incremental]], `Similarity.appendToIvfIndex`):
  *
  *   - **generation guard**: `meta.json` carries a `generation` that
  *     every append/compaction bumps; in-process read caches and the
  *     server's plan cache key on [[WikidataIngest.storeEpoch]], which
  *     the same call path invalidates.
  *   - **fail-loud incompleteness**: a `_APPEND_PENDING` marker is
  *     created before the first write and removed after `meta.json`
  *     commits. A crash mid-append leaves the permutations
  *     inconsistent — the marker makes the NEXT maintenance call
  *     refuse with instructions instead of silently compounding, and
  *     [[repairCheck]] quantifies the damage (per-copy row counts).
  *   - **compaction**: appends accumulate one file per touched bucket
  *     per batch; [[compactIndex]] rewrites only the partitions whose
  *     file count crossed the threshold (dynamic partition overwrite —
  *     untouched buckets keep their files), restoring the sorted
  *     clustering the row-group pruning relies on.
  *
  * Ordering: appended quads get `ord` values offset past the store's
  * current maximum, so insertion order (which GROUP_CONCAT/SAMPLE
  * determinism and label tie-breaks observe) matches what a full
  * rebuild over base-then-delta input would produce.
  */
object IndexMaintenance {

  /** Marker present while an append/compaction is in flight; its
    * survival past a crash marks the store suspect.
    */
  val PendingMarker = "_APPEND_PENDING"

  /** Persisted store metadata (`meta.json`). `generation` counts
    * mutations since the last full build; `maxOrd` is the largest
    * insertion ordinal present (bootstrap: computed once from the main
    * copy for stores built before this field existed); `lastBatch` is
    * the highest streaming micro-batch id applied (idempotent replay
    * guard for [[graft.streaming.StreamingIngest]]'s foreachBatch path).
    */
  final case class IndexMeta(buckets: Int, generation: Long, maxOrd: Long,
                             lastBatch: Long)

  def readMeta(spark: SparkSession, dir: String): IndexMeta = {
    val f = new File(s"$dir/meta.json")
    val txt = if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.mkString finally src.close()
    } else "{}"
    def longField(name: String): Option[Long] =
      ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toLong)
    val buckets = longField("buckets").map(_.toInt)
      .getOrElse(WikidataIngest.NumPredBuckets)
    val maxOrd = longField("maxOrd").getOrElse {
      // one-time bootstrap for stores built before maxOrd was recorded:
      // a single column agg over the main copy (parquet reads just ord)
      val st = spark.read.parquet(s"$dir/statements.parquet")
      val row = st.agg(max(col("ord"))).head()
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }
    IndexMeta(buckets, longField("generation").getOrElse(0L), maxOrd,
      longField("lastBatch").getOrElse(-1L))
  }

  private def writeMeta(dir: String, m: IndexMeta): Unit = {
    val w = new java.io.PrintWriter(s"$dir/meta.json")
    try w.write(
      s"""{"buckets": ${m.buckets}, "generation": ${m.generation}, """ +
        s""""maxOrd": ${m.maxOrd}, "lastBatch": ${m.lastBatch}}""")
    finally w.close()
  }

  /** The permutation copies: (file, partition column, bucketed term,
    * within-partition sort keys). Must mirror
    * `WikidataIngest.writePartitioned` exactly.
    */
  private val Copies = Seq(
    ("statements.parquet", "p_bucket", "p", Seq("p.key", "s.key")),
    ("statements_obj.parquet", "o_bucket", "o", Seq("o.key", "p.key")),
    ("statements_sub.parquet", "s_bucket", "s", Seq("s.key", "p.key")),
    ("statements_gr.parquet", "g_bucket", "graph", Seq("graph.key", "p.key")))

  private def requireNotPending(dir: String): Unit = {
    require(!new File(dir, PendingMarker).exists(),
      s"$dir carries $PendingMarker: a previous append/compaction did not " +
        "complete and the permutation copies may be inconsistent. Run " +
        "repairCheck to quantify, then rebuild with create-index.")
  }

  /** Append a delta of quads (term-struct columns `s, p, o, id, graph`
    * + long `ord`, the dump parser's output shape) into every
    * permutation of the partitioned store at `dir`, plus the labels
    * table. Returns the number of quads appended.
    *
    * Cost is O(|delta|): the delta is materialized once
    * (localCheckpoint — it feeds 4-5 writes and two tiny aggregates)
    * and each write shuffles nothing (sortWithinPartitions only);
    * existing store files are never read or rewritten.
    */
  def appendToIndex(spark: SparkSession, dir: String, delta: DataFrame,
                    batchId: Option[Long] = None): Long = {
    require(new File(s"$dir/statements_sub.parquet").exists(),
      s"$dir is not a partitioned index store (run create-index first)")
    requireNotPending(dir)
    val meta = readMeta(spark, dir)
    if (batchId.exists(_ <= meta.lastBatch)) return 0L // replayed micro-batch
    require(delta.columns.contains("ord"),
      "delta must carry the ingest `ord` column (per-delta insertion order)")

    val pending = new File(dir, PendingMarker)
    pending.createNewFile()
    val n = try {
      // offset ords past the store's max so insertion order equals a
      // full rebuild over base-then-delta input; materialize once —
      // UNLESS the optimized plan is a LocalRelation (Update's literal
      // templates): its rows already sit on the driver, free to
      // recompute per write, so neither the checkpoint nor the stats
      // pass runs a job
      val d0 = WikidataIngest.rendered(
        delta.withColumn("ord", col("ord") + lit(meta.maxOrd + 1L)))
      val local = d0.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      val d = if (local) d0 else d0.localCheckpoint()
      // per (predicate, side "s"/"o"): total rows, max rows sharing one
      // s/o key, max ordinal. Distributed, ONE pass over the
      // checkpointed delta yields all of them (was four separate jobs —
      // pure fixed overhead per append batch); both degree sides ride
      // one explode, map-side combine applies after it, and the collect
      // is bounded by the delta's predicate vocabulary
      val perPred: Seq[(String, String, Long, Long, Long)] = if (local) {
        val qs = d.select(col("p.key"), col("s.key"), col("o.key"), col("ord"))
          .collect().toSeq // a LocalRelation collects without a job
        for {
          (k, g) <- qs.groupBy(_.getString(0)).toSeq
          (side, i) <- Seq("s" -> 1, "o" -> 2)
        } yield (k, side, g.size.toLong,
          g.groupBy(_.getString(i)).valuesIterator.map(_.size.toLong).max,
          g.map(_.getLong(3)).max)
      } else d.select(col("p.key").as("k"), col("ord"),
          explode(array(
            struct(lit("s").as("side"), col("s.key").as("g")),
            struct(lit("o").as("side"), col("o.key").as("g")))).as("sg"))
        .groupBy(col("k"), col("sg.side").as("side"), col("sg.g").as("g"))
        .agg(count(lit(1)).as("c"), max(col("ord")).as("mo"))
        .groupBy(col("k"), col("side"))
        .agg(sum(col("c")).as("total"), max(col("c")).as("m"), max(col("mo")).as("mo"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      def bySide(side: String) = perPred.filter(_._2 == side)
      val rows = bySide("s").map(_._3).sum
      if (rows == 0L) {
        // nothing to write; still advance the batch watermark
        writeMeta(dir, meta.copy(lastBatch = batchId.getOrElse(meta.lastBatch)))
      } else {
        val newMaxOrd = perPred.map(_._5).max
        val hasGraph = d.columns.contains("graph")
        // one-file-per-touched-bucket per append (the small-file
        // invariant compaction relies on) needs each bucket's rows in
        // ONE task: a small delta gets that from coalesce(1) — no
        // shuffle exchange, no extra AQE stage job per copy — while a
        // large one pays the hash repartition that spreads buckets
        // across writers
        val smallDelta = rows <= 1000000L
        def oneFilePerBucket(df: DataFrame, bucketCol: String,
                             sortKeys: Seq[String]): DataFrame =
          (if (smallDelta) df.coalesce(1)
           else df.repartition(col(bucketCol)))
            .sortWithinPartitions((bucketCol +: sortKeys).map(col): _*)
        // the five appends are independent jobs over the checkpointed
        // delta — submitted concurrently (guide §2.6) so their
        // plan/commit latencies overlap instead of serializing
        val writes = (for ((file, bucketCol, term, sortKeys) <- Copies
             if new File(s"$dir/$file").exists() && (term != "graph" || hasGraph))
          yield { () =>
            oneFilePerBucket(
              d.withColumn(bucketCol, WikidataIngest.bucketColumn(term, meta.buckets)),
              bucketCol, sortKeys)
              .write.mode(SaveMode.Append)
              .option("parquet.block.size",
                WikidataIngest.PermutationBlockBytes.toString)
              .partitionBy(bucketCol)
              .parquet(s"$dir/$file"): Unit
          }) :+ { () =>
            (if (smallDelta) WikidataIngest.labelsView(d).coalesce(1)
             else WikidataIngest.labelsView(d).repartition(col("kind"), col("lang")))
              .write.mode(SaveMode.Append)
              .partitionBy("kind", "lang")
              .parquet(s"$dir/labels.parquet"): Unit
          }
        WikidataIngest.inParallel(spark, writes)
        // pre-append statistics read ONCE and passed explicitly: the
        // fanout merge must see the counts as they were BEFORE the
        // count merge rewrites the file (relying on the epoch-keyed
        // cache still serving the old parse would be an implicit
        // ordering dependency)
        val preCounts = WikidataIngest.predCounts(dir).getOrElse(Map.empty)
        val preFloor = WikidataIngest.predCountsFloor(dir)
        val deltaCounts = bySide("s").map(t => t._1 -> t._3).toMap
        val dS = bySide("s").map(t => t._1 -> t._4).toMap
        val dO = bySide("o").map(t => t._1 -> t._4).toMap
        mergePredCounts(dir, deltaCounts, preCounts, preFloor)
        mergePredFanout(dir, dS, dO, preCounts, preFloor)
        writeMeta(dir, meta.copy(generation = meta.generation + 1L,
          maxOrd = newMaxOrd,
          lastBatch = batchId.getOrElse(meta.lastBatch)))
      }
      rows
    } finally WikidataIngest.invalidate(dir) // even a failed append wrote files
    // reached only on success: an exception above leaves the marker in
    // place — exactly the inconsistent state it exists to flag
    pending.delete()
    n
  }

  /** Merge the delta's per-predicate counts into the store's
    * `pred_counts.json` (the translator's BGP-ordering statistics) —
    * O(|delta|), never a store rescan. On a TRUNCATED table
    * (floor > 0) a delta predicate absent from the table may already
    * hold up to `floor` quads in the store, so its merged entry is
    * `floor + delta` — the entries stay sound upper bounds. The floor
    * itself is preserved: predicates still absent after the merge
    * remain bounded by it.
    */
  private def mergePredCounts(dir: String,
                              deltaCounts: Map[String, Long],
                              existing: Map[String, Long],
                              floor: Long): Unit = {
    if (!new File(s"$dir/pred_counts.json").exists()) return
    val merged = (existing.keySet ++ deltaCounts.keySet).map(k =>
      k -> (existing.getOrElse(k, floor) + deltaCounts.getOrElse(k, 0L))).toMap
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = merged.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")
    val w = new java.io.PrintWriter(s"$dir/pred_counts.json")
    try w.write(s"""{"floor": $floor, "counts": $body}""") finally w.close()
  }

  /** Maintain the per-predicate degree bounds (`pred_fanout.json`)
    * across an append at O(|delta|): a key's post-append degree is at
    * most its old degree plus its delta rows, so `old max + delta max`
    * stays a valid UPPER bound without rescanning the store (slightly
    * loose — the translator's broadcast hints only need soundness; a
    * full create-index re-tightens). A predicate absent from the old
    * fanout table is included with its delta-only max ONLY when it is
    * also new to the count table AND that table is COMPLETE
    * (floor == 0): on a truncated table "absent from the counts" only
    * means "rarer than the 100k-th-hottest", not "new to the store" —
    * a delta-only degree bound there would UNDER-estimate a predicate
    * the store already holds. `preCounts` is the pre-append counts
    * table, passed explicitly by [[appendToIndex]].
    */
  private def mergePredFanout(dir: String,
                              dS: Map[String, Long], dO: Map[String, Long],
                              preCounts: Map[String, Long],
                              floor: Long): Unit = {
    if (!new File(s"$dir/pred_fanout.json").exists()) return
    val existing = WikidataIngest.predFanout(dir).getOrElse(Map.empty)
    val known = preCounts
    def addSat(a: Long, b: Long): Long =
      if (a == Long.MaxValue || a > Long.MaxValue - b) Long.MaxValue else a + b
    val admitNew = floor == 0L // counts table complete ⇒ absent = new
    val merged = (existing.keySet ++ (dS.keySet ++ dO.keySet)
      .filter(k => admitNew && !known.contains(k))).map { k =>
      val (oldS, oldO) = existing.getOrElse(k, (0L, 0L))
      k -> (addSat(oldS, dS.getOrElse(k, 0L)), addSat(oldO, dO.getOrElse(k, 0L)))
    }.toMap
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = merged.toSeq.flatMap { case (k, (ms, mo)) =>
      Seq(s""""${esc(k)}|s": $ms""", s""""${esc(k)}|o": $mo""")
    }.mkString("{", ", ", "}")
    val w = new java.io.PrintWriter(s"$dir/pred_fanout.json")
    try w.write(s"""{"fanout": $body}""") finally w.close()
  }

  /** Parse a dump file and append it — `create-db`'s incremental
    * counterpart (`append-index` in [[graft.Main]]).
    */
  def appendDumpToIndex(spark: SparkSession, path: String, dir: String,
                        parseQualifiers: Boolean = true,
                        languageFilter: Option[Set[String]] = None,
                        lexemes: Boolean = false): Long =
    appendToIndex(spark, dir,
      WikidataIngest.ingest(spark, path, parseQualifiers, languageFilter, lexemes))

  /** Leaf partition directories (`col=value[/col2=value2/…]`) under
    * `base`, with their parquet file counts.
    */
  /** Leaf partition dirs under `base` with (small-file count, total
    * bytes). "Small" = under half a target file
    * ([[WikidataIngest.TargetFileBytes]]/2): the build writer's
    * size-aware range partitioning legitimately gives a hot bucket
    * MANY ~target-size files (that IS its scan parallelism — merging
    * them would serialize reads again), so fragmentation is measured
    * by small-file count only; appends write small delta files, which
    * is exactly the debt compaction exists to retire.
    */
  private def leafPartitions(base: File): Seq[(File, Int, Long)] = {
    def walk(f: File): Seq[(File, Int, Long)] = {
      val children = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      val subParts = children.filter(c => c.isDirectory && c.getName.contains("="))
      if (subParts.nonEmpty) subParts.flatMap(walk)
      else {
        val fs = children.filter(c => c.isFile && c.getName.endsWith(".parquet"))
        val small = fs.count(_.length < WikidataIngest.TargetFileBytes / 2)
        if (fs.nonEmpty && f.getName.contains("="))
          Seq((f, small, fs.map(_.length).sum)) else Nil
      }
    }
    walk(base)
  }

  /** Parquet file names inside the leaf partition directory
    * `base/rel` (empty when absent). Part-file names embed the writing
    * job's UUID, so an unchanged set across a dynamic-partition
    * overwrite means the partition received no output rows.
    */
  private def partFiles(base: File, rel: String): Set[String] =
    Option(new File(base, rel).listFiles())
      .map(_.iterator.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSet)
      .getOrElse(Set.empty)

  /** Rewrite every partition whose SMALL-file count (under half a
    * target file — append-batch debt, not the build writer's sized
    * files) exceeds `maxFilesPerPartition`, range-repartitioned so hot
    * partitions keep ~target-size sorted files and small ones collapse
    * to one; all other partitions stay untouched (dynamic partition
    * overwrite). Returns the number of partitions compacted across all
    * copies + labels.
    *
    * At 100 TB this is the append path's steady-state companion: file
    * count per bucket stays bounded, so footer/listing overhead and
    * row-group pruning quality cannot degrade with append count.
    */
  def compactIndex(spark: SparkSession, dir: String,
                   maxFilesPerPartition: Int = 8): Int = {
    requireNotPending(dir)
    val meta = readMeta(spark, dir)
    val targets: Seq[(String, Seq[String], Seq[String])] =
      Copies.map { case (file, bucketCol, _, sortKeys) =>
        (file, Seq(bucketCol), sortKeys)
      } :+ (("labels.parquet", Seq("kind", "lang"), Seq("entity_key")))
    val pending = new File(dir, PendingMarker)
    pending.createNewFile()
    var compacted = 0
    try {
      // per-copy rewrites are independent (different directories) —
      // gather them first, then submit concurrently (guide §2.6); each
      // writer carries its own dynamic-overwrite option
      val rewrites = for {
        (file, partCols, sortKeys) <- targets
        if new File(s"$dir/$file").exists()
        base = new File(s"$dir/$file")
        todo = leafPartitions(base).filter(_._2 > maxFilesPerPartition)
        if todo.nonEmpty
      } yield {
        compacted += todo.size
        () => {
          val df = spark.read
            .option("basePath", base.getAbsolutePath)
            .parquet(todo.map(_._1.getAbsolutePath): _*)
          // range-partition on (partition cols, sort keys), sized so
          // a rewritten hot partition stays MANY ~target-size sorted
          // files (its scan parallelism), never one huge file; a
          // small partition still gets exactly one. Only the
          // partitions present in df are replaced
          val parts = WikidataIngest.sizedRangeParts(
            todo.map(_._3).sum, todo.size)
          (if (parts == 1) df.coalesce(1)
           else df.repartitionByRange(parts, (partCols ++ sortKeys).map(col): _*))
            .sortWithinPartitions((partCols ++ sortKeys).map(col): _*)
            .write.mode(SaveMode.Overwrite)
            // per-WRITER dynamic overwrite (replaces the old session-conf
            // set/restore window): the mode is baked into each writer's
            // plan, so even a rewrite racing a failed sibling can never
            // run under a restored STATIC mode and truncate the whole
            // permutation directory
            .option("partitionOverwriteMode", "dynamic")
            .option("parquet.block.size",
              WikidataIngest.PermutationBlockBytes.toString)
            .partitionBy(partCols: _*)
            .parquet(base.getAbsolutePath): Unit
        }
      }
      if (rewrites.nonEmpty) WikidataIngest.inParallel(spark, rewrites)
      writeMeta(dir, meta.copy(generation = meta.generation + 1L))
    } finally WikidataIngest.invalidate(dir)
    // reached only on success (an exception leaves the marker)
    pending.delete()
    compacted
  }

  /** Bump the persisted mutation generation (no other field changes).
    * Used by [[graft.sparql.Update]] after tombstone-only mutations, so
    * external readers and epoch guards observe the change.
    */
  def bumpGeneration(spark: SparkSession, dir: String): Unit = {
    val m = readMeta(spark, dir)
    writeMeta(dir, m.copy(generation = m.generation + 1L))
  }

  /** Fold the store's deletion tombstones ([[Tombstones]]) into the
    * data files and clear them — the delete path's analog of
    * [[compactIndex]]. Only the partitions that can contain a
    * tombstoned quad are rewritten: each permutation's affected bucket
    * set is computed from the tombstones' term payloads through the
    * same [[WikidataIngest.bucketColumn]] routing the writers use
    * (an un-GRAPHed delete can sit in any graph bucket, so it marks
    * the graph copy's whole bucket set). Rewrites keep the sorted
    * range-partitioned layout; a partition whose every row was deleted
    * is removed outright (dynamic partition overwrite cannot replace a
    * partition with nothing). Returns the number of partition
    * directories rewritten or removed across all copies.
    *
    * At 100 TB this is the steady-state story for deletes: reads pay a
    * broadcast anti-join between vacuums, and vacuum cost scales with
    * the AFFECTED partitions, not the store.
    */
  def vacuumIndex(spark: SparkSession, dir: String): Int = {
    requireNotPending(dir)
    if (!Tombstones.exists(dir)) return 0
    val meta = readMeta(spark, dir)
    val tomb = Tombstones.read(spark, dir).get
    val flat = !new File(s"$dir/statements_sub.parquet").exists()

    val pending = new File(dir, PendingMarker)
    pending.createNewFile()
    var touched = 0
    try {
      if (flat) {
        // flat store: no partitions to prune — rewrite both tables via
        // a staged swap (cannot overwrite a path being read)
        for ((file, filter) <- Seq(
          ("statements.parquet",
            (df: org.apache.spark.sql.DataFrame) => Tombstones.filterStatements(spark, dir, df)),
          ("labels.parquet",
            (df: org.apache.spark.sql.DataFrame) => Tombstones.filterLabels(spark, dir, df)))
             if new File(s"$dir/$file").exists()) {
          val tmp = new File(s"$dir/$file.tmp")
          graft.Workspace.deleteTree(tmp)
          val out = filter(spark.read.parquet(s"$dir/$file"))
          val sorted = if (file.startsWith("statements"))
            out.sortWithinPartitions(col("p.key"), col("s.key")) else out
          sorted.write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
          val live = new File(s"$dir/$file")
          graft.Workspace.deleteTree(live)
          require(tmp.renameTo(live), s"could not swap $tmp into place")
          touched += 1
        }
      } else {
        // permutation copies: prune to affected buckets. EVERY copy's
        // bucket set (plus the any-graph flag) comes from ONE pass over
        // the tombstone table — the per-copy distinct-collect and the
        // g_any probe were five separate jobs over the same small table
        val numOf = Map("p" -> "p_num", "o" -> "o_num", "s" -> "s_num",
          "graph" -> "g_num")
        def bucketOf(c: String) =
          when(col(c).isNotNull,
            pmod(col(c).cast("long"), lit(meta.buckets.toLong)))
            .otherwise(lit(meta.buckets.toLong)).cast("int")
        val labelKinds = Seq(graft.model.Term.Kind.Label,
          graft.model.Term.Kind.Desc, graft.model.Term.Kind.Alias)
        val bucketRow = tomb.agg(
          collect_set(bucketOf("p_num")).as("p"),
          collect_set(bucketOf("o_num")).as("o"),
          collect_set(bucketOf("s_num")).as("s"),
          collect_set(bucketOf("g_num")).as("graph"),
          max(col("g_any")).as("g_any"),
          // label-table partitions touched by label-kind tombstones —
          // rides the same pass (collect_set drops the null rows the
          // `when` leaves for non-label tombstones)
          collect_set(when(col("p_kind").isin(labelKinds: _*),
            struct(col("p_kind"), col("p_str")))).as("lab")).head()
        val bucketSets: Map[String, Set[Int]] = Seq("p", "o", "s", "graph")
          .map(t => t -> bucketRow.getSeq[Int](
            Seq("p", "o", "s", "graph").indexOf(t)).toSet).toMap
        val anyGraphTomb = !bucketRow.isNullAt(4) && bucketRow.getBoolean(4)
        // per-copy rewrites are independent (different directories):
        // gathered as tasks and submitted concurrently (guide §2.6);
        // each writer carries its own dynamic-overwrite option, so no
        // session conf is mutated or raced
        val touchedCount = new java.util.concurrent.atomic.AtomicInteger(0)
        val copyTasks: Seq[() => Unit] = for {
          (file, bucketCol, term, sortKeys) <- Copies
          if new File(s"$dir/$file").exists()
        } yield { () =>
          val base = new File(s"$dir/$file")
          val allBuckets = leafPartitions(base).map { case (d, _, bytes) =>
            d.getName.stripPrefix(s"$bucketCol=").toInt -> bytes
          }.toMap
          val graphAny = term == "graph" && anyGraphTomb
          val affected: Set[Int] =
            if (graphAny) {
              // an un-GRAPHed delete can sit in any graph bucket. On a
              // SMALL copy just rewrite them all; past the probe
              // threshold, one semi-join scan finds the buckets that
              // actually hold a tombstoned row — at 100 TB that is the
              // difference between one pruned scan and rewriting the
              // whole permutation
              val copyBytes = allBuckets.valuesIterator.sum
              val probeBytes = spark.conf
                .get("spark.graft.vacuum.probeBytes", (256L << 20).toString).toLong
              if (copyBytes <= probeBytes) allBuckets.keySet
              else Tombstones.matchingStatements(spark, dir,
                  spark.read.parquet(base.getAbsolutePath))
                .select(bucketCol).distinct().collect()
                .map(_.getInt(0)).toSet
            } else bucketSets(term)
          val present = affected.intersect(allBuckets.keySet)
          if (present.nonEmpty) {
            val df = spark.read.parquet(base.getAbsolutePath)
              .filter(col(bucketCol).isin(present.toSeq: _*))
            val out = Tombstones.filterStatements(spark, dir, df)
            // snapshot each present bucket's file set BEFORE the write:
            // part-file names are unique per job, so a bucket whose
            // file set is unchanged afterwards received no output rows
            // — it died. This replaces the survivors distinct+collect
            // job per copy with a filesystem check
            val filesBefore: Map[Int, Set[String]] =
              present.toSeq.map(b => b -> partFiles(base, s"$bucketCol=$b")).toMap
            val bytes = present.toSeq.map(allBuckets).sum
            val parts = WikidataIngest.sizedRangeParts(bytes, present.size)
            (if (parts == 1) out.coalesce(1)
             else out
               .repartitionByRange(parts, (bucketCol +: sortKeys).map(col): _*))
              .sortWithinPartitions((bucketCol +: sortKeys).map(col): _*)
              .write.mode(SaveMode.Overwrite)
              // per-writer dynamic overwrite — see compactIndex
              .option("partitionOverwriteMode", "dynamic")
              .option("parquet.block.size",
                WikidataIngest.PermutationBlockBytes.toString)
              .partitionBy(bucketCol)
              .parquet(base.getAbsolutePath)
            for (dead <- present
                 if partFiles(base, s"$bucketCol=$dead") == filesBefore(dead))
              graft.Workspace.deleteTree(new File(base, s"$bucketCol=$dead"))
            touchedCount.addAndGet(present.size): Unit
          }
        }
        // labels: affected (kind, lang) partitions from label-kind
        // tombstones (the label view is graph-agnostic, see
        // Tombstones.filterLabels)
        val labelBase = new File(s"$dir/labels.parquet")
        val labelParts = bucketRow.getSeq[org.apache.spark.sql.Row](5)
          .map(r => (r.getString(0), r.getString(1))).toArray
        val labelTask: Seq[() => Unit] =
          if (!labelBase.exists() || labelParts.isEmpty) Nil
          else Seq { () =>
            val cond = labelParts.map { case (k, l) =>
              col("kind") === k && (col("lang") <=> l)
            }.reduce(_ || _)
            val df = spark.read.parquet(labelBase.getAbsolutePath).filter(cond)
            val out = Tombstones.filterLabels(spark, dir, df)
            // same write-first/file-set dead-partition detection as the
            // permutation copies (see above)
            def leaf(k: String, l: String) = s"kind=$k/lang=$l"
            val filesBefore: Map[(String, String), Set[String]] =
              labelParts.toSeq.map { case (k, l) =>
                (k, l) -> partFiles(labelBase, leaf(k, l)) }.toMap
            out.repartition(col("kind"), col("lang"))
              .write.mode(SaveMode.Overwrite)
              // per-writer dynamic overwrite — see compactIndex
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("kind", "lang")
              .parquet(labelBase.getAbsolutePath)
            for ((k, l) <- labelParts
                 if partFiles(labelBase, leaf(k, l)) == filesBefore((k, l)))
              graft.Workspace.deleteTree(new File(labelBase, leaf(k, l)))
            touchedCount.addAndGet(labelParts.length): Unit
          }
        WikidataIngest.inParallel(spark, copyTasks ++ labelTask)
        touched += touchedCount.get()
      }
      Tombstones.clear(dir)
      writeMeta(dir, meta.copy(generation = meta.generation + 1L))
    } finally WikidataIngest.invalidate(dir)
    // reached only on success (an exception leaves the marker)
    pending.delete()
    touched
  }

  /** Quantify a suspect store (e.g. after a crashed append): per-copy
    * row counts, which must all be equal on a consistent store. Does
    * NOT clear the pending marker — only a rebuild does.
    */
  def repairCheck(spark: SparkSession, dir: String): Map[String, Long] =
    (Copies.map(_._1) :+ "labels.parquet")
      .filter(f => new File(s"$dir/$f").exists())
      .map { f =>
        // a copy directory with no data files (e.g. the labels table
        // of a labels-free store) has no readable schema — that is 0
        // rows, not a forensics failure
        val n = try spark.read.parquet(s"$dir/$f").count()
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => 0L
        }
        f -> n
      }.toMap
}
