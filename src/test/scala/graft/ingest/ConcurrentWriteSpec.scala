package graft.ingest

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Workspace}

/** Failure semantics of the concurrent store-rewrite batches
  * ([[WikidataIngest.inParallel]] + the per-writer dynamic partition
  * overwrite compact/vacuum use): a failing task must neither let a
  * sibling rewrite truncate untouched partitions nor let any task
  * outlive the call.
  */
class ConcurrentWriteSpec extends SparkTestBase {

  private def partitionRows(base: String, bucket: Int): Set[Long] =
    spark.read.parquet(base).filter(col("b") === bucket)
      .select("v").collect().map(_.getLong(0)).toSet

  test("a failing concurrent rewrite cannot truncate untouched partitions") {
    import spark.implicits._
    val base = Workspace.scratch("graft-cw") + "/perm.parquet"
    // four partitions b=0..3, two rows each
    (0L until 8L).map(i => (i % 4, i)).toDF("b", "v")
      .repartition(1)
      .write.partitionBy("b").parquet(base)
    val before2 = partitionRows(base, 2)
    val before3 = partitionRows(base, 3)
    assert(before2.nonEmpty && before3.nonEmpty)

    def rewrite(bucket: Int): Unit =
      Seq((bucket.toLong, 100L + bucket)).toDF("b", "v")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b")
        .parquet(base)

    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    def tracked(body: => Unit): () => Unit = () => {
      started.incrementAndGet()
      try body finally finished.incrementAndGet(): Unit
    }
    val tasks: Seq[() => Unit] = Seq(
      tracked(rewrite(0)),
      tracked(throw new RuntimeException("injected rewrite failure")),
      // the straggler: queued behind the first two at concurrency 2 —
      // under the old session-conf window it could start AFTER the
      // caller restored static mode and wipe the whole directory
      tracked { Thread.sleep(100); rewrite(1) })

    spark.conf.set("spark.graft.build.writeConcurrency", "2")
    val thrown = try {
      intercept[RuntimeException] {
        WikidataIngest.inParallel(spark, tasks)
      }
    } finally spark.conf.unset("spark.graft.build.writeConcurrency")
    assert(thrown.getMessage.contains("injected rewrite failure"))
    // drain contract: every task that started also finished before the
    // call returned — nothing is still writing
    assert(started.get() === finished.get())
    // untouched partitions survive whatever subset of rewrites ran
    assert(partitionRows(base, 2) === before2)
    assert(partitionRows(base, 3) === before3)
    // any rewrite that DID complete replaced only its own partition
    for (b <- Seq(0, 1); rows = partitionRows(base, b))
      assert(rows === Set((100 + b).toLong) || rows === Set(b.toLong, b + 4L),
        s"partition $b neither original nor cleanly rewritten: $rows")
  }
}
