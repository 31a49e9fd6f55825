package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Temporal

/** Behavior + plan-shape tests for the temporal operators: backward
  * as-of join, bucketed range join, gap sessionization.
  */
class TemporalSpec extends SparkTestBase {

  import spark.implicits._

  // trades/quotes — the canonical as-of fixture (ts in micros)
  private lazy val trades = Seq(
    ("A", 100L, 1), ("A", 200L, 2), ("A", 50L, 3), ("B", 100L, 4))
    .toDF("sym", "ts", "trade_id")
    .withColumn("ts", timestamp_micros($"ts"))
  private lazy val quotes = Seq(
    ("A", 90L, 9.0), ("A", 200L, 9.5), ("B", 150L, 8.0))
    .toDF("sym", "ts", "px")
    .withColumn("ts", timestamp_micros($"ts"))

  test("asofBackward picks the latest right row at-or-before each left ts") {
    val out = Temporal.asofBackward(trades, quotes, Seq("sym"), "ts")
      .select($"trade_id", $"r_px").as[(Int, Double)].collect().toMap
    // trade 1 (A@100) -> quote A@90; trade 2 (A@200) -> quote A@200
    // (equal ts matches); trade 3 (A@50) has no prior quote -> dropped
    // (inner); trade 4 (B@100) precedes B's only quote -> dropped
    assert(out === Map(1 -> 9.0, 2 -> 9.5))
  }

  test("asofBackward left join keeps unmatched rows with null payload") {
    val out = Temporal.asofBackward(trades, quotes, Seq("sym"), "ts", joinType = "left")
    assert(out.count() === 4L)
    assert(out.filter($"r_px".isNull).select($"trade_id")
      .as[Int].collect().toSet === Set(3, 4))
  }

  test("asofBackward plans one shuffle and no join operator") {
    val out = Temporal.asofBackward(trades, quotes, Seq("sym"), "ts")
    out.collect() // finalize AQE
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case other => other +: other.children.flatMap(leaves)
    }
    val nodes = leaves(out.queryExecution.executedPlan).map(_.nodeName).toSet
    assert(!nodes.exists(_.contains("Join")), s"unexpected join in $nodes")
  }

  test("rangeJoin matches the inequality-join semantics incl. boundaries") {
    val fact = spark.range(1, 51).select($"id".cast("double").as("v"))
    val ranges = Seq(("low", 1, 10), ("mid", 10, 25), ("high", 25, 41), ("bulk", 41, 51))
      .toDF("tier", "lo", "hi")
    val bucketed = Temporal.rangeJoin(fact, "v", ranges, "lo", "hi", binWidth = 7)
      .select($"v", $"tier")
    val naive = fact.join(ranges, $"v" >= $"lo" && $"v" < $"hi")
      .select($"v", $"tier")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    // hi is exclusive, lo inclusive: 10 lands in mid, not low
    assert(bucketed.filter($"v" === 10.0).select($"tier").as[String].head() === "mid")
  }

  test("rangeJoin drops values outside every range and empty ranges") {
    val fact = Seq(0.5, 99.0).toDF("v") // below all ranges / above all
    val ranges = Seq(("a", 1, 10), ("broken", 5, 5)).toDF("tier", "lo", "hi")
    assert(Temporal.rangeJoin(fact, "v", ranges, "lo", "hi", 10).count() === 0L)
  }

  test("sessionize splits on gap > threshold, 1-based per key") {
    val ev = Seq(
      ("u1", 0L), ("u1", 60L), ("u1", 3700L), // gap 3640s > 1h -> new session
      ("u2", 0L))
      .toDF("user_id", "s")
      .withColumn("ts", timestamp_micros($"s" * 1000000L)).drop("s")
    val out = Temporal.sessionize(ev, "user_id", "ts", gapSeconds = 3600)
      .groupBy($"user_id", $"session_seq").count()
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(("u1", 1L, 2L), ("u1", 2L, 1L), ("u2", 1L, 1L)))
  }

  test("sessionize at exactly the gap threshold stays in-session") {
    val ev = Seq(0L, 3600L).toDF("s")
      .withColumn("user_id", lit("u"))
      .withColumn("ts", timestamp_micros($"s" * 1000000L)).drop("s")
    val sessions = Temporal.sessionize(ev, "user_id", "ts", gapSeconds = 3600)
      .select(max($"session_seq")).as[Long].head()
    assert(sessions === 1L) // gap == threshold is not a break
  }

  test("z-value interleaves bits correctly and stays a narrow map") {
    import graft.operators.Layout
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 3L), (2L, 1L))
      .toDF("a", "b")
    val got = pts.withColumn("z", Layout.zValue($"a", $"b", bitsPerDim = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the canonical Morton curve: (0,0)→0 (1,0)→1 (0,1)→2 (1,1)→3 …
    assert(got === Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (0L, 1L) -> 2L,
      (1L, 1L) -> 3L, (3L, 3L) -> 15L, (2L, 1L) -> 6L))
    val p = pts.withColumn("z", Layout.zValue($"a", $"b", bitsPerDim = 16))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"zValue must not shuffle:\n$p")
  }

  test("salted join reproduces the plain join on skewed data, inner and left") {
    import graft.operators.Skew
    // 200 rows on one hot key, a few on others, one key with no match
    val big = ((1 to 200).map(_ => ("hot", 1)) ++
      Seq(("a", 2), ("a", 3), ("b", 4), ("orphan", 5))).toDF("k", "v")
    val small = Seq(("hot", "H"), ("a", "A"), ("b", "B"), ("unused", "U"))
      .toDF("k", "tag")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet

    val plainInner = rows(big.join(small, Seq("k")).select($"k", $"v", $"tag"))
    val saltedInner = rows(Skew.saltedEquiJoin(big, small, "k", salts = 8)
      .select($"k", $"v", $"tag"))
    assert(saltedInner === plainInner)
    // counts too (sets would hide dup/loss among identical hot rows)
    assert(Skew.saltedEquiJoin(big, small, "k", salts = 8).count() ===
      big.join(small, Seq("k")).count())

    val plainLeft = rows(big.join(small, Seq("k"), "left").select($"k", $"v", $"tag"))
    val saltedLeft = rows(Skew.saltedEquiJoin(big, small, "k", salts = 8,
      joinType = "left").select($"k", $"v", $"tag"))
    assert(saltedLeft === plainLeft)
    assert(saltedLeft.exists(_._1 == "orphan")) // unmatched row survives once
    assert(Skew.saltedEquiJoin(big, small, "k", salts = 8, joinType = "left")
      .count() === big.count()) // exactly one copy per big row
  }

  test("z-ordered persisted layout keeps row-group stats tight on BOTH axes") {
    import scala.jdk.CollectionConverters._
    // two pseudo-uniform 10-bit dims over 200k rows, small row groups
    // so the footer stats are actually exercised
    // independent murmur hashes — NOT two linear maps of the same id,
    // which would be perfectly correlated mod 1024 and fake the pruning
    val base = spark.range(200000L).select(
      pmod(hash(col("id")), lit(1024)).cast("long").as("a"),
      pmod(hash(col("id"), lit(1)), lit(1024)).cast("long").as("b"))
    val zdir = Workspace.scratch("graft-zlay")
    val sdir = Workspace.scratch("graft-slay")
    graft.operators.Layout.zOrderBy(base, col("a"), col("b"), bitsPerDim = 10)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(zdir)
    base.orderBy("a")
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(sdir)
    // fraction of row groups whose [min,max] on `colName` overlaps
    // [lo,hi] — what a parquet reader's predicate pushdown would scan
    def overlap(dir: String, colName: String, lo: Long, hi: Long): (Int, Int) = {
      val conf = spark.sparkContext.hadoopConfiguration
      val groups = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try r.getFooter.getBlocks.asScala.toSeq.map { blk =>
            val st = blk.getColumns.asScala
              .find(_.getPath.toDotString == colName).get.getStatistics
            (st.genericGetMin.asInstanceOf[Number].longValue,
              st.genericGetMax.asInstanceOf[Number].longValue)
          } finally r.close()
        }
      (groups.count { case (mn, mx) => mx >= lo && mn <= hi }, groups.size)
    }
    val (za, zTotal) = overlap(zdir, "a", 0, 63) // 1/16 of the a-space
    val (zb, _) = overlap(zdir, "b", 0, 63)
    assert(zTotal >= 8, s"expected several row groups, got $zTotal")
    // z-order: BOTH axes prune
    assert(za.toDouble / zTotal < 0.8, s"z-layout a-overlap $za/$zTotal")
    assert(zb.toDouble / zTotal < 0.8, s"z-layout b-overlap $zb/$zTotal")
    // single-column sort: its own axis prunes hard, the other not at all
    val (sa, sTotal) = overlap(sdir, "a", 0, 63)
    val (sb, _) = overlap(sdir, "b", 0, 63)
    assert(sa.toDouble / sTotal < 0.3, s"sorted a-overlap $sa/$sTotal")
    assert(sb.toDouble / sTotal > 0.9, s"sorted b-overlap $sb/$sTotal")
  }

  test("autoSalts sizes from the measured hot-key fraction; auto join is result-identical") {
    import graft.operators.Skew
    // one key holds 50% of the rows → its rows must spread over
    // ~half the shuffle partitions' worth of reducers
    val big = ((1 to 300).map(i => ("hot", i)) ++
      (1 to 300).map(i => (s"k${i % 50}", i))).toDF("k", "v")
    val small = (Seq("hot") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, s"t$i") }.toDF("k", "tag")
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val salts = Skew.autoSalts(big, "k", support = 0.05)
    assert(salts >= math.max(2, parts / 4), s"50%-dominant key got only $salts salts")
    assert(salts <= 64)
    // evenly-keyed input → no hot key → plain join (salts == 1)
    val even = (1 to 500).map(i => (s"k${i % 100}", i)).toDF("k", "v")
    assert(Skew.autoSalts(even, "k", support = 0.05) === 1)
    // the auto variant is row-identical to the plain join either way
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted
    assert(rows(Skew.saltedEquiJoinAuto(big, small, "k").select($"k", $"v", $"tag")) ===
      rows(big.join(small, Seq("k")).select($"k", $"v", $"tag")))
  }

  test("autoSalts reuses the heavy-hitter pass's total: one fewer job than a recount") {
    import graft.operators.Skew
    import graft.pipeline.Sketches
    val sc = spark.sparkContext
    val big = ((1 to 300).map(i => ("hot", i)) ++
      (1 to 300).map(i => (s"k${i % 50}", i))).toDF("k", "v")
      .localCheckpoint(true)
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the status store is fed asynchronously; poll until stable
      var last = -1; var cur = sc.statusTracker.getJobIdsForGroup(group).length
      while (cur != last) { last = cur; Thread.sleep(200)
        cur = sc.statusTracker.getJobIdsForGroup(group).length }
      cur
    }
    // the pre-fix formulation: heavy hitters, then an EXTRA full count
    val old = jobsOf("salts-recount") {
      val keyed = big.select($"k")
      Sketches.heavyHitters(keyed, "k", 0.05).agg(max($"cnt")).head()
      keyed.count()
    }
    val now = jobsOf("salts-single") { Skew.autoSalts(big, "k", support = 0.05) }
    assert(now < old, s"autoSalts ran $now jobs, recount formulation $old")
  }
}
