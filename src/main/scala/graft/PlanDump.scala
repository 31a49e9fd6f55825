package graft

import graft.ingest.WikidataIngest

/** Dev tool: time one gated query end-to-end and dump its plan.
  *
  * Usage: runMain graft.PlanDump <queryName> [sfDir] [reps]
  *
  * Prints a build-vs-execute time split (DataFrame construction =
  * parse+translate; noop write = analyze+optimize+codegen+run) and the
  * formatted physical plan, so plan-size regressions show up as build
  * or analysis cost rather than being guessed at.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.get()

    // ad-hoc SPARQL timing: PlanDump sparql:'<query>' splits parse vs
    // translate (both driver-side) for compile-cost investigations
    if (name.startsWith("sparql:")) {
      val text = name.stripPrefix("sparql:")
      for (i <- 0 until reps) {
        val t0 = System.nanoTime()
        val ast = graft.sparql.Parser.parse(text)
        val t1 = System.nanoTime()
        val st = WikidataIngest.statements(spark, WikidataIngest.defaultDir)
        val lb = WikidataIngest.labels(spark, WikidataIngest.defaultDir)
        val df = new graft.sparql.Translator(spark, st, lb).translate(ast)
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"[sparql rep$i] parse ${(t1 - t0) / 1e9}%.3f  translate ${(t2 - t1) / 1e9}%.3f  exec ${(t3 - t2) / 1e9}%.3f s")
      }
      spark.stop(); return
    }
    val fn = SparkEntry.queries(name)

    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      qe.analyzed
      val t2 = System.nanoTime()
      qe.optimizedPlan
      val t3 = System.nanoTime()
      qe.executedPlan
      val t4 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t5 = System.nanoTime()
      println(f"[$name rep$i] build ${(t1 - t0) / 1e9}%.3f  analyze ${(t2 - t1) / 1e9}%.3f  " +
        f"optimize ${(t3 - t2) / 1e9}%.3f  plan ${(t4 - t3) / 1e9}%.3f  run ${(t5 - t4) / 1e9}%.3f s")
    }
    val df = fn(spark, sfDir)
    if (args.length > 3 && args(3) == "analyzed") {
      println("=== ANALYZED ===")
      println(df.queryExecution.analyzed.toString.take(6000))
      println("=== OPTIMIZED ===")
      println(df.queryExecution.optimizedPlan.toString.take(6000))
    }
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    println(plan.take(8000))
    println(s"[plan] analyzed=${df.queryExecution.analyzed.toString.length} chars, " +
      s"optimized=${df.queryExecution.optimizedPlan.toString.length} chars")
    spark.stop()
  }
}
