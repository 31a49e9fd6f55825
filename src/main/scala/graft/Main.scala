package graft

/** Unified entry point mirroring the reference binary's four run modes
  * (`/root/reference/src/main.rs:50-86`): `create-db`, `create-index`,
  * `server`, `cli`. Each mode delegates to the standalone runner so
  * both invocation styles keep working.
  *
  * {{{
  * runMain graft.Main create-db <dump> <dbDir> [--partitioned]
  *   [--buckets=N] [--no-qualifiers] [--lang=en,de,...] [--lexemes]
  * runMain graft.Main create-index <flatDbDir> <outDir> [--buckets=N]
  * runMain graft.Main server [port] [dbDir]
  * runMain graft.Main cli ["<sparql>"] [dbDir]
  * }}}
  */
object Main {

  private val usage =
    """usage: graft.Main <create-db|create-index|server|cli> [args]
      |  create-db <dump> <dbDir> [--partitioned] [--buckets=N]
      |            [--no-qualifiers] [--lang=en,de,...] [--lexemes]
      |            (--partitioned writes before the store's size is known:
      |             --buckets defaults to 64)
      |  create-index <flatDbDir> <outDir> [--buckets=N] [--zorder=colA,colB]
      |            (default --buckets: sized from the flat store, 1 per 16 MB, max 64)
      |  append-index <dump> <dbDir> [--no-qualifiers] [--lang=en,de,...] [--lexemes]
      |  compact-index <dbDir> [--max-files=N]
      |  update <dbDir> "<sparql-update>"
      |  vacuum <dbDir>
      |  server [port] [dbDir]
      |  cli ["<sparql>"] [dbDir]""".stripMargin

  private def intFlag(args: Array[String], name: String, default: Int): Int =
    args.collectFirst { case a if a.startsWith(s"--$name=") =>
      a.stripPrefix(s"--$name=").toInt }.getOrElse(default)

  /** The dispatch, factored out of `main` so tests can drive modes
    * without forking a JVM. Returns the process exit code.
    */
  def run(args: Array[String]): Int = args.headOption match {
    case Some("create-db") =>
      val rest = args.tail
      val positional = rest.filterNot(_.startsWith("--"))
      if (positional.length < 2) { System.err.println(usage); return 2 }
      val Array(dump, dir) = positional.take(2)
      val langs = rest.collectFirst { case a if a.startsWith("--lang=") =>
        a.stripPrefix("--lang=").split(",").toSet }
      val quals = !rest.contains("--no-qualifiers")
      // opt-in: default parity skips lexeme lines exactly as the
      // reference's serde does (required `labels` absent)
      val lexemes = rest.contains("--lexemes")
      val spark = GraftSession.get()
      if (rest.contains("--partitioned"))
        ingest.WikidataIngest.buildPartitioned(spark, dump, dir,
          intFlag(rest, "buckets", ingest.WikidataIngest.NumPredBuckets),
          quals, langs, lexemes)
      else ingest.WikidataIngest.build(spark, dump, dir, quals, langs, lexemes)
      val n = spark.read.parquet(s"$dir/statements.parquet").count()
      println(s"ingested $n quads from $dump into $dir")
      0
    case Some("create-index") =>
      val positional = args.tail.filterNot(_.startsWith("--"))
      if (positional.length < 2) { System.err.println(usage); return 2 }
      val zorderRaw = args.tail.collectFirst {
        case a if a.startsWith("--zorder=") =>
          a.stripPrefix("--zorder=").split(",").map(_.trim).toSeq
      }
      if (zorderRaw.exists(_.length != 2)) { System.err.println(usage); return 2 }
      val zorder = zorderRaw.map { case Seq(x, y) => (x, y) }
      // no --buckets: 0, so createIndex sizes the count from the store
      ingest.WikidataIngest.createIndex(GraftSession.get(),
        positional(0), positional(1), intFlag(args.tail, "buckets", 0), zorder)
      println(s"indexed ${positional(0)} into ${positional(1)}")
      0
    case Some("append-index") =>
      val rest = args.tail
      val positional = rest.filterNot(_.startsWith("--"))
      if (positional.length < 2) { System.err.println(usage); return 2 }
      val langs = rest.collectFirst { case a if a.startsWith("--lang=") =>
        a.stripPrefix("--lang=").split(",").toSet }
      val n = ingest.IndexMaintenance.appendDumpToIndex(GraftSession.get(),
        positional(0), positional(1), !rest.contains("--no-qualifiers"),
        langs, rest.contains("--lexemes"))
      println(s"appended $n quads from ${positional(0)} into ${positional(1)}")
      0
    case Some("compact-index") =>
      val positional = args.tail.filterNot(_.startsWith("--"))
      if (positional.isEmpty) { System.err.println(usage); return 2 }
      val n = ingest.IndexMaintenance.compactIndex(GraftSession.get(),
        positional(0), intFlag(args.tail, "max-files", 8))
      println(s"compacted $n partitions in ${positional(0)}")
      0
    case Some("update") =>
      val positional = args.tail.filterNot(_.startsWith("--"))
      if (positional.length < 2) { System.err.println(usage); return 2 }
      val r = try sparql.Update.execute(GraftSession.get(), positional(1), positional(0))
      catch {
        case e: sparql.Parser.ParseException =>
          System.err.println(s"update parse error: ${e.getMessage}"); return 2
      }
      println(s"inserted ${r.inserted}, deleted ${r.deleted}, " +
        s"undeleted ${r.undeleted} in ${positional(0)}")
      0
    case Some("vacuum") =>
      val positional = args.tail.filterNot(_.startsWith("--"))
      if (positional.isEmpty) { System.err.println(usage); return 2 }
      val n = ingest.IndexMaintenance.vacuumIndex(GraftSession.get(), positional(0))
      println(s"vacuumed $n partitions in ${positional(0)}")
      0
    case Some("server") => server.QueryServer.main(args.tail); 0
    case Some("cli") => cli.Query.main(args.tail); 0
    case _ => System.err.println(usage); 2
  }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }
}
