package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sampling}

/** Skew-stress harness over a [[ScaleUp]] `skew` dataset (20% of the
  * corpus one identical boilerplate string, 95% one language): runs the
  * dedup/resampling family with its PRODUCTION knobs and prints one
  * JSON line of per-operator seconds and output rows.
  *
  * The pair-emitting operators (`minhashNearDup`, uncapped
  * `containmentPairs`) are deliberately absent: on a 20%-hot corpus
  * their OUTPUT is Θ(m²) pair rows by specification — the engine's
  * answer to that data shape is the cluster-id path (linear output) and
  * the fingerprint document-frequency cap, which is exactly what this
  * harness exercises.
  *
  * Usage: `runMain graft.SkewBench [dir]` (default
  * `data/sf1-skewed` under the checkout root).
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(s"${Workspace.root}/data/sf1-skewed")
    val spark = GraftSession.get()
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()

    def time(name: String)(f: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skewbench] $name: $secs%.2f s, $rows rows")
      (name, secs, rows)
    }

    val results = Seq(
      time("exact_dedup") {
        Dedup.exact(docs, "text", "doc_id").count()
      },
      // p13/p46 shape: election collapses the 20% boilerplate group to
      // ONE representative before banding; cluster-id output is linear
      time("neardup_clusters_capped") {
        Dedup.minhashNearDupClusters(docs, "text", "doc_id",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9,
          maxBucket = 64).count()
      },
      // p21 production shape: the hot fingerprint (shared by 20% of the
      // corpus) is anti-joined away BEFORE the self-join
      time("containment_capped") {
        Dedup.containmentPairs(docs, "text", "doc_id",
          maxDocFreq = 100).count()
      },
      // p58 shape: the 95% language is one white-hot resampling key;
      // the rate table stays |langs| rows and the filter runs in the
      // scan stage
      time("temperature_mix") {
        Sampling.temperatureResample(docs, "doc_id", "lang", 0.7).count()
      })

    val ops = results.map { case (n, s, r) =>
      f""""$n":{"sec":$s%.3f,"rows":$r}"""
    }.mkString(",")
    println(s"""{"metric":"skewbench","dir":"$dir","n_docs":$nDocs,"ops":{$ops}}""")
    spark.stop()
  }
}
