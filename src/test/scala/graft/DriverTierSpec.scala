package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The driver-tier probe: one boundary convention, the `max <= 0`
  * switch, and a bounded cost for a set that goes distributed.
  */
class DriverTierSpec extends SparkTestBase {

  test("exactly max rows go to the driver; max+1, max=0 do not; empty fits") {
    val df = spark.range(10).toDF("id")
    assert(DriverTier.collectIfAtMost(df, 10).map(_.map(_.getLong(0)).toSeq) ===
      Some(0L until 10L))
    assert(DriverTier.collectIfAtMost(df, 9) === None)
    assert(DriverTier.collectIfAtMost(df, 0) === None)
    assert(DriverTier.collectIfAtMost(df, -1) === None)
    assert(DriverTier.collectIfAtMost(df.limit(0), 5).map(_.length) === Some(0))
    // the same boundary above the first step
    val big = spark.range(DriverTier.FirstStep + 10L).toDF("id")
    assert(DriverTier.collectIfAtMost(big, DriverTier.FirstStep + 10L).map(_.length) ===
      Some(DriverTier.FirstStep + 10))
    assert(DriverTier.collectIfAtMost(big, DriverTier.FirstStep + 9L) === None)
  }

  test("a set above a large budget brings back no more than the first step") {
    // task results are what reaches the driver: sum them per run
    val resultBytes = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => resultBytes.addAndGet(m.resultSize))
    }
    def measured[T](body: => T): (T, Long) = {
      resultBytes.set(0L)
      val out = body
      // listener events dispatch asynchronously: wait until the sum
      // stabilizes (two equal reads)
      var prev = -1L
      var tries = 0
      while (prev != resultBytes.get() && tries < 20) {
        prev = resultBytes.get(); Thread.sleep(150); tries += 1
      }
      (out, resultBytes.get())
    }
    val df = spark.range(2000000L).toDF("id")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, firstStep) = measured(df.limit(DriverTier.FirstStep + 1).collect())
      val (probe, probeBytes) = measured(DriverTier.collectIfAtMost(df, 1000000L))
      assert(probe === None)
      assert(firstStep > 0L)
      // the count step adds a few hundred bytes of per-task results;
      // one more FirstStep's worth would double the total
      assert(probeBytes < firstStep + firstStep / 4,
        s"probe brought $probeBytes result bytes, first step alone $firstStep")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
