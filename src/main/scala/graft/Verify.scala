package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Pass `--partitioned-store` (or set SPARK_GRAFT_STORE_DIR to a store
  * directory) to run the whole sp pack against the partitioned scale
  * layout instead of the flat fixture store — results must be
  * identical, so the same oracles gate both layouts.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val Array(sfDir, outDir) = positional
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(graft.functions.GraftFunctions.register)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_STORE_DIR").foreach(d =>
      spark.conf.set("spark.graft.store.dir", d))
    if (args.contains("--partitioned-store")) {
      val d = s"${Workspace.root}/data/wikidata_part"
      if (!new java.io.File(s"$d/statements.parquet").exists())
        graft.ingest.WikidataIngest.buildPartitioned(spark, dir = d)
      spark.conf.set("spark.graft.store.dir", d)
    }
    // --only=p26,q29 runs a subset (local iteration; driver runs all)
    val only = args.collectFirst { case a if a.startsWith("--only=") =>
      a.stripPrefix("--only=").split(",").toSet }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition (not coalesce) so upstream computation stays
      // parallel and only the final write is single-file
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
