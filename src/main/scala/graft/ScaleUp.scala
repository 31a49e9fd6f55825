package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Derived scale-up of the driver's largest test SF: replicates the
  * fact tables N× with disjoint key ranges so Bench can record a
  * datapoint an order of magnitude beyond sf0.1. Dimension tables
  * (nation, region) stay fixed — the same shape TPC-H scaling uses —
  * so per-nation group cardinalities grow with the data instead of the
  * group count.
  *
  * This is DERIVED data (clearly labeled, written under the repo's
  * data/ dir); the driver's /root/testdata is never modified. The
  * replication is one `crossJoin(range(factor))` per table — a narrow
  * map over each source split, no shuffle.
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [outDir] [factor]`
  */
object ScaleUp {

  /** Key columns that must stay globally unique across replicas; every
    * replica offsets them by `replica * KeyStride`.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq(),
    "nation" -> Seq(),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  val KeyStride = 1000000000L

  def scaleTable(spark: SparkSession, df: DataFrame, keys: Seq[String],
                 factor: Int): DataFrame =
    if (keys.isEmpty || factor <= 1) df
    else {
      val rep = spark.range(factor).select(col("id").as("__rep"))
      keys.foldLeft(df.crossJoin(rep)) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * KeyStride)
      }.drop("__rep")
    }

  /** Pathological-skew transform for stress benchmarks: ~20% of docs
    * become ONE identical boilerplate string (a single white-hot
    * shingle group / minhash bucket / winnowing fingerprint) and ~95%
    * collapse onto one language (a single white-hot resampling key).
    * This is the data shape that squares a naive dedup engine's pair
    * counts; the election/cap/temperature paths must stay ~linear on
    * it, which `graft.SkewBench` records.
    */
  def skewDocuments(df: DataFrame): DataFrame = {
    val boiler = "click here to accept all cookies and subscribe to our " +
      "newsletter for the latest updates offers and breaking news " +
      "delivered straight to your inbox every single day"
    df.withColumn("text",
        when(pmod(xxhash64(col("doc_id"), lit("skew-text")), lit(5L)) === 0L,
          lit(boiler)).otherwise(col("text")))
      .withColumn("lang",
        when(pmod(xxhash64(col("doc_id"), lit("skew-lang")), lit(20L)) < 19L,
          lit("en")).otherwise(col("lang")))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(s"${Workspace.root}/data/sf1-derived")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val skew = args.lift(3).contains("skew")
    val spark = GraftSession.get()
    for ((t, keys) <- keyCols) {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled = scaleTable(spark, df, keys, factor)
      (if (skew && t == "documents") skewDocuments(scaled) else scaled)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      System.err.println(s"[scaleup] $t done")
    }
    println(s"scaled $src x$factor${if (skew) " +skew" else ""} -> $out")
    spark.stop()
  }
}
