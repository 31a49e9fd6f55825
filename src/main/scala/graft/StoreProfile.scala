package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: per-phase timing of the store-maintenance harness queries
  * (p83/p87 replicate writeStore → createIndex → append/update →
  * compact/vacuum → readback inside one timed query; this splits the
  * phases so the optimization target is measured, not guessed).
  *
  * Usage: runMain graft.StoreProfile [sfDir] [reps] [p83|p87]
  */
object StoreProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "p83"
    val spark = GraftSession.get()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val verbose = sys.env.contains("STORE_PROFILE_JOBS")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStart.put(j.jobId, (System.nanoTime(),
          j.stageInfos.map(s => s.name.takeWhile(_ != '\n').take(60)).mkString(" | ").take(120)))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(j.jobId)).foreach { case (t0, cs) =>
          if (verbose)
            println(f"      job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s  $cs")
        }
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    def phase[T](name: String)(f: => T): T = {
      val j0 = jobs.get(); val k0 = tasks.get()
      val t0 = System.nanoTime()
      val r = f
      println(f"  [$name] ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        s"jobs=${jobs.get() - j0} tasks=${tasks.get() - k0}")
      r
    }

    val runner = new PhaseRunner {
      def run[T](name: String)(f: => T): T = phase(name)(f)
    }
    for (rep <- 0 until reps) {
      println(s"=== rep $rep ===")
      if (mode.startsWith("query:")) {
        val name = mode.stripPrefix("query:")
        val fn = SparkEntry.queries(name)
        val df = runner.run("build")(fn(spark, sfDir))
        runner.run("exec")(df.write.format("noop").mode("overwrite").save())
      }
      else if (mode == "p87") runP87(spark, sfDir, runner)
      else runP83(spark, sfDir, runner)
    }
    spark.stop()
  }

  private def runP83(spark: SparkSession, sfDir: String,
                     p: PhaseRunner): Unit = {
    import graft.ingest.{IndexMaintenance, WikidataIngest}
    val quads = graft.queries.PipelineQueries.docQuads(
      Tables.documents(spark, sfDir).filter(col("doc_id") < 2000L), labels = true)
    val base = quads.filter(pmod(col("__doc"), lit(10L)) =!= 0L).drop("__doc")
    val delta = quads.filter(pmod(col("__doc"), lit(10L)) === 0L).drop("__doc")
    val root = Workspace.scratch("graft-prof")
    p.run("writeStore")(WikidataIngest.writeStore(spark, base, s"$root/flat"))
    p.run("createIndex")(WikidataIngest.createIndex(spark, s"$root/flat", s"$root/idx"))
    p.run("append")(IndexMaintenance.appendToIndex(spark, s"$root/idx", delta))
    p.run("compact")(IndexMaintenance.compactIndex(spark, s"$root/idx", maxFilesPerPartition = 1))
    val df = p.run("translate")(graft.sparql.Sparql.rendered(spark,
      "SELECT ?lang (COUNT(?s) AS ?n) WHERE { ?s wdt:P1 ?lang } GROUP BY ?lang",
      s"$root/idx"))
    p.run("readback")(df.write.format("noop").mode("overwrite").save())
    Workspace.deleteTree(new java.io.File(root))
  }

  private def runP87(spark: SparkSession, sfDir: String,
                     p: PhaseRunner): Unit = {
    import graft.ingest.{IndexMaintenance, WikidataIngest}
    import graft.sparql.Update
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 1000)
    val quads = graft.queries.PipelineQueries.docQuads(docs, labels = false).drop("__doc")
    val root = Workspace.scratch("graft-prof87")
    p.run("writeStore")(WikidataIngest.writeStore(spark, quads, s"$root/flat"))
    p.run("createIndex")(WikidataIngest.createIndex(spark, s"$root/flat", s"$root/idx"))
    val idx = s"$root/idx"
    val minEn = p.run("minEn")(docs.filter(col("lang") === "en")
      .agg(min(col("doc_id"))).head().getLong(0) + 1L)
    p.run("r1 insert")(Update.execute(spark,
      """INSERT DATA { wd:Q900001 wdt:P1 "zz" .
        |              wd:Q900001 rdfs:label "planted"@en }""".stripMargin, idx))
    p.run("r2 delete")(Update.execute(spark, """DELETE WHERE { ?s wdt:P1 "en" }""", idx))
    p.run("r3 undelete")(Update.execute(spark, s"""INSERT DATA { wd:Q$minEn wdt:P1 "en" }""", idx))
    val q = "SELECT ?lang (COUNT(?s) AS ?n) WHERE { ?s wdt:P1 ?lang } " +
      "GROUP BY ?lang"
    p.run("before collect")(graft.sparql.Sparql.rendered(spark, q, idx).collect().toSet)
    p.run("vacuum")(IndexMaintenance.vacuumIndex(spark, idx))
    val after = p.run("after translate")(graft.sparql.Sparql.rendered(spark, q, idx))
    p.run("after collect")(after.collect().toSet)
    Workspace.deleteTree(new java.io.File(root))
  }

  // small indirection so the phase closure can be passed around with
  // its by-name parameter intact
  private trait PhaseRunner { def run[T](name: String)(f: => T): T }
}
