package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.ingest.WikidataParser

/** Structured Streaming extensions (no counterpart in the reference —
  * SURVEY §2.10 records it as batch-only; this is the north-star
  * incremental path, not parity).
  *
  * Shapes:
  *   - incremental dump ingest: a stream of dump lines (file source at
  *     scale, any source in tests) → the same quad rows the batch
  *     ingest produces → append sink. The parser is reused verbatim, so
  *     batch and streaming stores are bit-identical for the same lines.
  *   - watermarked windowed aggregation over the `events` table shape
  *     (late data bounded by the watermark; state evicts itself)
  *   - sessionization via `flatMapGroupsWithState` — the canonical
  *     custom-state operator (per-user gap-based sessions)
  */
object StreamingIngest {

  /** Dump lines → quad rows (streaming-safe: same per-line parser the
    * batch path uses, no global ordinal — streams have no stable line
    * index, so `ord` is per-line only).
    */
  def quadStream(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.flatMap(line => WikidataParser.parseLine(line)).toDF()
  }

  /** Like [[quadStream]] but each quad also carries `__lh`, the
    * xxhash64 of its source LINE — the stable per-line key
    * [[stampDeterministicOrd]] ranks on. Content-derived, so the same
    * lines produce the same keys at any read parallelism.
    */
  private[graft] def quadStreamKeyed(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.toDF("value")
      .withColumn("__lh", xxhash64(col("value")))
      .as[(String, Long)]
      .flatMap { case (line, h) => WikidataParser.parseLine(line).map(q => (h, q)) }
      .toDF()
      .select(col("_2.*"), col("_1").as("__lh"))
  }

  /** Fixed shuffle width for [[stampDeterministicOrd]]: part of the
    * ord ASSIGNMENT, so it must not track session parallelism — a
    * replayed batch under a different `spark.sql.shuffle.partitions`
    * has to land every row in the same partition to get the same ord.
    */
  private val OrdRankPartitions = 64

  /** Replace the per-line `ord` with a batch-global, DETERMINISTIC
    * dense ordinal: rows are hash-distributed on the line key over a
    * FIXED partition count, sorted within partitions on
    * (line key, in-line ord, quad content), and ranked by
    * zipWithIndex. Every step is a pure function of row content, so a
    * replayed batch — at any parallelism — produces bit-identical
    * ords, which is what makes the maintained store's
    * GROUP_CONCAT/SAMPLE insertion-order tie-breaks reproducible
    * (`monotonically_increasing_id` was partition-layout-dependent).
    * The content sort keys make even a 64-bit line-hash collision
    * deterministic. Dense (0..n-1), so [[graft.ingest.IndexMaintenance]]'s
    * `maxOrd` offset arithmetic never overflows.
    */
  private[graft] def stampDeterministicOrd(quads: DataFrame): DataFrame = {
    val spark = quads.sparkSession
    val ranked = quads
      .repartition(OrdRankPartitions, col("__lh"))
      .sortWithinPartitions(col("__lh"), col("ord"),
        col("s.key"), col("p.key"), col("o.key"), col("id.key"))
    val schema = ranked.schema
    val ordIdx = schema.fieldIndex("ord")
    val rdd = ranked.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(ordIdx, i))
    }
    spark.createDataFrame(rdd, schema).drop("__lh")
  }

  /** Start an incremental ingest from a directory of dump-line files
    * into an append-mode parquet store.
    */
  def startIngest(spark: SparkSession, inDir: String, outDir: String,
                  checkpoint: String): StreamingQuery = {
    import spark.implicits._
    quadStream(spark.readStream.textFile(inDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Start an incremental ingest that maintains the FOUR-PERMUTATION
    * store: each micro-batch of dump lines is parsed and appended into
    * every permutation's correct partitions plus the labels table
    * ([[graft.ingest.IndexMaintenance.appendToIndex]]) — so the
    * partition-pruned access paths the engine's 100 TB story rests on
    * stay current without a full `create-index` rebuild per document
    * batch. Exactly-once across restarts: the micro-batch id is
    * recorded in the store's `meta.json` and a replayed batch (a crash
    * between the append and the checkpoint commit) is skipped, the
    * same idempotence contract the parquet sink gets from its manifest.
    */
  def startIngestToIndex(spark: SparkSession, inDir: String, storeDir: String,
                         checkpoint: String): StreamingQuery = {
    import spark.implicits._
    quadStreamKeyed(spark.readStream.textFile(inDir))
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ingest.IndexMaintenance.appendToIndex(
          batch.sparkSession, storeDir,
          stampDeterministicOrd(batch.toDF()),
          batchId = Some(batchId))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Hourly event counts with a watermark: equivalent of the batch
    * `q16_events_hourly` as an incremental query. Late events beyond
    * `lateness` are dropped and window state is evicted — bounded state
    * at any scale.
    */
  def hourlyEventCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup — the incremental counterpart of
    * [[graft.pipeline.Dedup.exact]] for continuously-arriving corpora.
    * Keyed by content hash; `dropDuplicatesWithinWatermark` bounds the
    * dedup state to the watermark horizon (a plain streaming
    * `dropDuplicates` keeps every key forever and OOMs on an unbounded
    * feed), so the horizon is the explicit dedup-recency contract:
    * duplicates arriving within it are suppressed exactly.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  // ---- streaming near-dup candidates ----------------------------------

  final case class BandRow(id: Long, ts: java.sql.Timestamp, band: Int, bucket: Long)
  final case class Candidate(id_a: Long, id_b: Long, band: Int)
  // not private: Spark's generated encoder code needs the accessors
  final case class BucketState(firstId: Long, lastMs: Long)

  /** Streaming near-dup candidate pairs — the incremental counterpart
    * of [[graft.pipeline.Dedup.minhashNearDup]]'s banded candidate
    * generation. Documents are shingled/minhashed/banded exactly like
    * the batch path; per-(band, bucket) state remembers the first
    * document that claimed the bucket within the event-time horizon,
    * and every later arrival in the same bucket emits a
    * `(owner, newcomer)` candidate pair. State is O(1) per active
    * bucket and evicts via EventTimeTimeout once the watermark passes
    * `lastMs + horizon`, so an unbounded feed cannot grow state without
    * bound — the horizon is the explicit dedup-recency contract, like
    * [[dedupStream]]. Near-identical docs collide in several bands, so
    * a pair can appear once per band; verification (exact Jaccard over
    * the two texts) and pair dedup are the consumer's step, same as
    * the batch LSH → verify split.
    */
  def nearDupCandidates(docs: DataFrame, textCol: String, idCol: String,
                        tsCol: String, horizon: String = "1 hour",
                        shingleN: Int = 3, numHashes: Int = 64,
                        bands: Int = 16): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.pipeline.Dedup
    val banded = docs
      .withColumn("__sh", Dedup.shingles(col(textCol), shingleN))
      // shorter-than-shingleN docs have an empty shingle set whose
      // signature is one seed-constant bucket per band — dropping them
      // here (like the batch prep does) keeps a short-doc-heavy feed
      // from colliding everything into a single hot bucket
      .filter(size(col("__sh")) > 0)
      .withColumn("__hb", Dedup.baseHashes(col("__sh")))
      .withColumn("__sig", Dedup.minhashSignatureFromHashes(col("__hb"), numHashes))
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        explode(Dedup.bandArray(col("__sig"), numHashes, bands)).as("bb"))
      .select(col("id"), col("ts"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withWatermark("ts", horizon)
      .as[BandRow]
    banded
      .groupByKey(row => (row.band, row.bucket))
      .flatMapGroupsWithState[BucketState, Candidate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(x => (x.ts.getTime, x.id))
            var owner = state.getOption.map(_.firstId)
            var lastMs = state.getOption.map(_.lastMs).getOrElse(0L)
            val out = List.newBuilder[Candidate]
            sorted.foreach { x =>
              owner match {
                case None => owner = Some(x.id)
                case Some(f) if f != x.id => out += Candidate(f, x.id, x.band)
                case _ =>
              }
              lastMs = math.max(lastMs, x.ts.getTime)
            }
            state.update(BucketState(owner.get, lastMs))
            state.setTimeoutTimestamp(lastMs, horizon)
            out.result().iterator
          }
      }
  }

  /** Stream-vs-static near-dup: every arriving document checked against
    * an EXISTING corpus — the incremental-extension question ("is this
    * new crawl page a near-dup of anything we already train on?") that
    * [[nearDupCandidates]] (stream-internal) and
    * [[graft.pipeline.Dedup.crossCorpusNearDup]] (batch-batch) don't
    * answer. Both sides are shingled/minhashed/banded identically; the
    * stream side joins the corpus's banded bucket table — a
    * STREAM-STATIC equi-join, which Spark executes statelessly (the
    * static side is just re-scanned per micro-batch; at scale, persist
    * the banded corpus once — it is one (band,bucket,shingles) row per
    * doc-band, independent of the stream). Candidates verify with exact
    * Jaccard in the same projection; multi-band collisions of one pair
    * dedup within the event-time horizon, the same bounded-state
    * contract as [[dedupStream]].
    */
  def nearDupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                           textCol: String, idCol: String, tsCol: String,
                           horizon: String = "1 hour",
                           shingleN: Int = 3, numHashes: Int = 64,
                           bands: Int = 16,
                           threshold: Double = 0.7): DataFrame = {
    import graft.pipeline.Dedup
    def banded(df: DataFrame, idAs: String, shAs: String,
               keep: Seq[Column]): DataFrame =
      df.withColumn("__sh", Dedup.shingles(col(textCol), shingleN))
        // empty shingle sets (docs shorter than shingleN) would share
        // one seed-constant bucket per band — the all-pairs hazard
        .filter(size(col("__sh")) > 0)
        .withColumn("__hb", Dedup.baseHashes(col("__sh")))
        .withColumn("__sig", Dedup.minhashSignatureFromHashes(col("__hb"), numHashes))
        .select(keep ++ Seq(col(idCol).as(idAs), col("__sh").as(shAs),
          explode(Dedup.bandArray(col("__sig"), numHashes, bands)).as("bb")): _*)
    val corpusBanded = banded(corpus, "id_seen", "sh_seen", Seq.empty)
    banded(stream, "id_in", "sh_in", Seq(col(tsCol).as("__ts")))
      .join(corpusBanded, "bb")
      .withColumn("jaccard", Dedup.jaccard(col("sh_in"), col("sh_seen")))
      .filter(col("jaccard") >= threshold)
      .select(col("__ts").as("ts"), col("id_in"), col("id_seen"), col("jaccard"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("id_in", "id_seen")
      .drop("ts")
  }

  // ---- sessionization (flatMapGroupsWithState) ------------------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Long, total_value: Double)
  // not private: Spark's generated encoder code lives outside this
  // object and needs the accessors
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Gap-based sessionization: events for a user belong to one session
    * while consecutive gaps stay under `gapMs`; with
    * `ProcessingTimeTimeout` idle sessions also flush on a timer (the
    * production setting — tests use `NoTimeout` because the timeout
    * keeps the micro-batch engine from quiescing under
    * `processAllAvailable`). State per user is O(1).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
