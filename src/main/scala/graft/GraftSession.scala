package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the driver's local[N] harness but every knob is what we'd
  * ship on a real cluster: AQE on (runtime re-plan, skew-join handling,
  * partition coalescing), shuffle partitions sized to cores locally
  * (`SPARK_GRAFT_CPUS`, else the JVM's available processors; on a
  * cluster this would be ~2-3x total executor cores or left to AQE's
  * coalescing), UTC session time for deterministic date math.
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession.Builder = {
    val b = SparkSession.builder()
    // respect an externally-configured master (spark-submit --master /
    // cluster deploys); local[N] is only the standalone fallback
    if (!sys.props.contains("spark.master") && !sys.env.contains("SPARK_MASTER"))
      b.master(s"local[$cores]")
    b.appName("graft")
      // custom catalyst expressions (e.g. the optimizer fence the
      // SPARQL compiler uses to keep hoisted operands from being
      // re-inlined into filter predicates)
      .withExtensions(graft.functions.GraftFunctions.register)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // FAIR task scheduling: the HTTP server assigns each request its
      // own pool (QueryServer), so short queries get cluster share
      // alongside a long-running one instead of queueing behind its
      // stages. Single-query workloads (bench, CLI) see FIFO-identical
      // behavior — one pool, serial jobs.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as long
      // with this flag, and Tables.events converts to TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
