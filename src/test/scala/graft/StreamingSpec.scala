package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngest

/** Structured Streaming extensions: incremental dump ingest matches the
  * batch parser exactly; watermarked windowed aggregation matches the
  * batch equivalent once the stream drains.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  test("streaming dump ingest produces the same 3385 quads as batch") {
    implicit val sq = spark.sqlContext
    val tmp = Workspace.scratch("graft-stream")
    val inDir = Files.createDirectory(java.nio.file.Path.of(tmp, "in"))
    Files.copy(java.nio.file.Path.of(graft.ingest.WikidataIngest.fixturePath),
      inDir.resolve("lines.txt"))
    val out = s"$tmp/quads"
    val q = StreamingIngest.startIngest(spark, inDir.toString, out, s"$tmp/ckpt")
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() === 3385L)
    // spot-check statement addressing survived the stream path
    assert(got.filter(col("s.key") === "Q:31").count() ===
      graft.ingest.WikidataIngest.statements(spark, graft.ingest.WikidataIngest.defaultDir)
        .filter(col("s.key") === "Q:31").count())
  }

  test("watermarked hourly counts equal the batch aggregation when drained") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.hourlyEventCounts(df, lateness = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2026-01-01 10:05:00")
    val t1 = Timestamp.valueOf("2026-01-01 10:55:00")
    val t2 = Timestamp.valueOf("2026-01-01 11:20:00")
    val late = Timestamp.valueOf("2026-01-01 13:00:00") // advances watermark past 10-11
    mem.addData((t0, "click", 1.0), (t1, "click", 2.0), (t2, "view", 5.0))
    q.processAllAvailable()
    mem.addData((late, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hourly").collect()
      .map(r => (r.getAs[Timestamp]("hour").toString, r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("total_value")))
    // the 10:00 click window closed with both events; 11:00/13:00 may
    // still be open in append mode — only closed windows are emitted
    assert(rows.contains(("2026-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  test("streaming dedup suppresses duplicate content within the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingIngest.dedupStream(df, "text", "ts", horizon = "30 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 10:10:00") // same text, in horizon
    val t2 = Timestamp.valueOf("2026-01-01 10:15:00")
    mem.addData((t0, 1L, "alpha doc"), (t1, 2L, "alpha doc"), (t2, 3L, "beta doc"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2026-01-01 10:20:00"), 4L, "alpha doc"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(ids.toSeq === Seq(1L, 3L), s"expected first-seen docs only, got ${ids.toSeq}")
  }

  test("streaming near-dup candidates pair newcomers with bucket owners across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val cands = StreamingIngest.nearDupCandidates(df, "text", "doc_id", "ts",
      horizon = "30 minutes")
    val q = cands.writeStream.format("memory").queryName("cands")
      .outputMode("append").start()
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, base),
      (Timestamp.valueOf("2026-01-01 10:01:00"), 3L,
        "completely unrelated text about spark engines and parquet files today"))
    q.processAllAvailable()
    // the near-dup arrives in a LATER micro-batch: state must carry over
    mem.addData((Timestamp.valueOf("2026-01-01 10:10:00"), 2L, base))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("cands").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((1L, 2L)), s"expected only the near-dup pair, got $pairs")
  }

  test("stream-vs-static near-dup flags arrivals that duplicate the corpus") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (100L, base),
      (101L, "completely unrelated text about spark engines and parquet files today"),
      (102L, "hi")) // short corpus doc: also excluded from banding
      .toDF("doc_id", "text")
    val hits = StreamingIngest.nearDupAgainstCorpus(df, corpus,
      "text", "doc_id", "ts", horizon = "30 minutes", threshold = 0.5)
    val q = hits.writeStream.format("memory").queryName("corpus_hits")
      .outputMode("append").start()
    mem.addData(
      // near-dup of corpus doc 100 (one word changed)
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L,
        base.replace("dog", "cat")),
      // novel content: no corpus hit
      (Timestamp.valueOf("2026-01-01 10:01:00"), 2L,
        "novel observations regarding distributed query planners and columnar io"),
      // shorter than the shingle width: empty shingle set, must be
      // dropped before banding, never bucket-collided with the corpus
      (Timestamp.valueOf("2026-01-01 10:02:00"), 3L, "tiny doc"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("corpus_hits").collect()
      .map(r => (r.getAs[Long]("id_in"), r.getAs[Long]("id_seen"))).toSet
    // exactly one flagged pair, and multi-band collisions dedup to one row
    assert(rows === Set((1L, 100L)), s"expected one corpus hit, got $rows")
  }

  test("narrow curation ops (lang-ID, PII redaction, token counts) run on streams as-is") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.langId(col("text")).as("lang"),
        graft.pipeline.TextAnalysis.redactPii(col("text")).as("clean"),
        graft.pipeline.TextAnalysis.wsTokenCount(col("text")).as("toks"))
    val q = df.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    mem.addData((1L, "the quick fox of the north, mail a@b.example.com"))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("curated").collect().head
    assert(r.getString(1) === "en")
    assert(r.getString(2) === "the quick fox of the north, mail <EMAIL>")
    assert(r.getInt(3) === 8)
  }

  test("bloom probe and int8 quantization run on streams as-is") {
    implicit val sq = spark.sqlContext
    // the Bloom sketch is a batch-side model literal; the probe is a
    // narrow filter, so a streaming corpus passes through unchanged
    val mem = MemoryStream[(Long, String)]
    val grams = Seq("quick brown fox").toDF("gram")
    val flagged = graft.pipeline.TextAnalysis.bloomContaminated(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", grams, "gram", n = 3)
    val q = flagged.writeStream.format("memory").queryName("bloomed")
      .outputMode("append").start()
    mem.addData((1L, "the quick brown fox jumps"), (2L, "nothing shared here at all"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("bloomed").collect().map(_.getLong(0)).toSet === Set(1L))
    // quantization is a pure per-row map — streaming embeddings quantize
    val memE = MemoryStream[(Long, Seq[Float])]
    val qdf = memE.toDF().toDF("vec_id", "embedding")
      .withColumn("q", graft.pipeline.Similarity.quantizeInt8(col("embedding")))
      .select(col("vec_id"), col("q.scale").as("scale"))
    val q2 = qdf.writeStream.format("memory").queryName("quantized")
      .outputMode("append").start()
    memE.addData((1L, Seq(1f, -2f, 0.5f)))
    q2.processAllAvailable()
    q2.stop()
    val row = spark.table("quantized").head()
    assert(row.getLong(0) === 1L)
    assert(math.abs(row.getDouble(1) - 2.0 / 127) < 1e-12)
    // compression ratio is likewise a pure per-row map over streams
    val memC = MemoryStream[(Long, String)]
    val cdf = memC.toDF().toDF("doc_id", "text")
      .withColumn("cr", graft.pipeline.TextAnalysis.compressionRatio(col("text")))
    val q3 = cdf.writeStream.format("memory").queryName("compressed")
      .outputMode("append").start()
    memC.addData((1L, Array.fill(40)("spark").mkString(" ")), (2L, ""))
    q3.processAllAvailable()
    q3.stop()
    val crs = spark.table("compressed").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(crs(1L) > 0 && crs(1L) < 0.5) // degenerate repetition
    assert(crs(2L) === 1.0)
  }

  test("chunkWords is streaming-safe: per-doc windows emitted incrementally") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = graft.pipeline.TextAnalysis.chunkWords(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", size = 3, overlap = 1)
    val q = df.writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    mem.addData((1L, "a b c d e"))
    q.processAllAvailable()
    mem.addData((2L, "x y"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
    assert(rows === Set((1L, 0L, "a b c"), (1L, 1L, "c d e"), (2L, 0L, "x y")))
  }

  test("sessionization groups events by gap and flushes on new session") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    val sessions = StreamingIngest.sessionize(mem.toDS(), gapMs = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ev(u: Long, s: String, v: Double) =
      StreamingIngest.Event(u, Timestamp.valueOf(s), v)
    // user 1: two events 30s apart (one session), then a 5-minute gap
    // (closes it), then one more event (open session, not yet emitted)
    mem.addData(ev(1, "2026-01-01 10:00:00", 1.0), ev(1, "2026-01-01 10:00:30", 2.0))
    q.processAllAvailable()
    mem.addData(ev(1, "2026-01-01 10:05:30", 7.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").as[StreamingIngest.Session].collect()
    assert(rows.length === 1)
    assert(rows(0).user_id === 1L && rows(0).n_events === 2L && rows(0).total_value === 3.0)
    assert(rows(0).start === Timestamp.valueOf("2026-01-01 10:00:00"))
    assert(rows(0).end === Timestamp.valueOf("2026-01-01 10:00:30"))
  }
}
