package graft

/** The unified entry point's run modes (reference `src/main.rs:50-86`):
  * create-db option plumbing (language filter, --no-qualifiers,
  * partitioned layout) and create-index over an existing flat store.
  */
class MainSpec extends SparkTestBase {

  test("create-db plumbs --lang and --no-qualifiers through to the parser") {
    val full = Workspace.scratch("graft-main"); val filtered = Workspace.scratch("graft-main")
    assert(Main.run(Array("create-db", ingest.WikidataIngest.fixturePath, full)) === 0)
    val nFull = spark.read.parquet(s"$full/statements.parquet").count()
    assert(nFull === 3385L)
    assert(Main.run(Array("create-db", ingest.WikidataIngest.fixturePath,
      filtered, "--lang=en", "--no-qualifiers")) === 0)
    val nFiltered = spark.read.parquet(s"$filtered/statements.parquet").count()
    // dropping qualifiers and non-English labels strictly shrinks the store
    assert(nFiltered > 0L && nFiltered < nFull)
    // no qualifier edges: no statement-node subjects remain
    assert(spark.read.parquet(s"$filtered/statements.parquet")
      .filter(org.apache.spark.sql.functions.col("s.kind")
        .isin(model.Term.Kind.Edge, model.Term.Kind.NamedEdge)).count() === 0L)
  }

  test("create-index builds the partitioned layout from a flat store") {
    val flat = Workspace.scratch("graft-main"); val indexed = Workspace.scratch("graft-main")
    assert(Main.run(Array("create-db", ingest.WikidataIngest.fixturePath, flat)) === 0)
    assert(Main.run(Array("create-index", flat, indexed, "--buckets=8")) === 0)
    assert(ingest.WikidataIngest.storeBuckets(indexed) === Some(8))
    for (copy <- Seq("statements", "statements_sub", "statements_obj"))
      assert(spark.read.parquet(s"$indexed/$copy.parquet").count() === 3385L,
        s"$copy row count")
    // the indexed store answers queries identically to the flat one
    val q = "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }"
    val a = sparql.Sparql.query(spark, q, flat).count()
    val b = sparql.Sparql.query(spark, q, indexed).count()
    assert(a === b && a > 0L)
    // refuse to clobber the input store
    intercept[IllegalArgumentException] {
      ingest.WikidataIngest.createIndex(spark, flat, flat)
    }
  }

  test("create-index without --buckets sizes the bucket count from the flat store") {
    val flat = Workspace.scratch("graft-main"); val indexed = Workspace.scratch("graft-main")
    assert(Main.run(Array("create-db", ingest.WikidataIngest.fixturePath, flat)) === 0)
    assert(Main.run(Array("create-index", flat, indexed)) === 0)
    val sized = ingest.WikidataIngest.sizedBuckets(
      ingest.WikidataIngest.dirBytes(s"$flat/statements.parquet"))
    // a fixture store is far below 64 buckets' worth of bytes
    assert(sized < ingest.WikidataIngest.NumPredBuckets)
    assert(ingest.WikidataIngest.storeBuckets(indexed) === Some(sized))
    assert(spark.read.parquet(s"$indexed/statements.parquet").count() === 3385L)
  }

  test("unknown mode and missing args exit 2 with usage") {
    assert(Main.run(Array("frobnicate")) === 2)
    assert(Main.run(Array.empty[String]) === 2)
    assert(Main.run(Array("create-db", "only-one-arg")) === 2)
    assert(Main.run(Array("create-index", "a", "b", "--zorder=justone")) === 2)
  }

  test("create-index --zorder lays the main copy out in Morton order, results unchanged") {
    import org.apache.spark.sql.functions._
    val flat = Workspace.scratch("graft-main"); val indexed = Workspace.scratch("graft-main")
    assert(Main.run(Array("create-db", ingest.WikidataIngest.fixturePath, flat)) === 0)
    assert(Main.run(Array("create-index", flat, indexed,
      "--buckets=8", "--zorder=s.num,o.num")) === 0)
    // physical order: within every written file, rows are sorted by the
    // Morton interleave of the bucketed (s.num, o.num) dims — the
    // property that keeps row-group min/max tight on BOTH axes
    def dim(path: String) =
      pmod(coalesce(col(path).cast("long"), lit(0L)), lit(1L << 16))
    val zval = graft.operators.Layout.zValue(dim("s.num"), dim("o.num"), 16)
    val files = spark.read.parquet(s"$indexed/statements.parquet")
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach { f =>
      val zs = spark.read.parquet(f).select(zval.as("z"))
        .collect().map(_.getLong(0)).toSeq
      assert(zs === zs.sorted, s"file $f is not z-ordered")
    }
    // the z-ordered store answers queries identically
    val q = "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }"
    assert(sparql.Sparql.query(spark, q, indexed).count() ===
      sparql.Sparql.query(spark, q, flat).count())
  }
}
