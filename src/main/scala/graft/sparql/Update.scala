package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.ingest.{IndexMaintenance, Tombstones, WikidataIngest}
import graft.model.{Term, TermValue}
import Ast._

/** SPARQL 1.1 Update over the quad store — a Spark-first extension.
  *
  * The reference engine is READ-ONLY: its only write path is the full
  * `create-db` / `create-index` rebuild (`/root/reference/src/main.rs:
  * 50-66`), so "update" there means re-ingesting the dump. Here the
  * four standard forms (INSERT DATA, DELETE DATA, DELETE WHERE,
  * DELETE/INSERT WHERE) execute incrementally against either store
  * layout:
  *
  *   - **inserts** are O(|delta|): new quads go through
  *     [[IndexMaintenance.appendToIndex]] on a partitioned store (all
  *     four permutations + labels, correct buckets, bounded file
  *     counts) or a plain append on a flat store;
  *   - **deletes** are O(|delta|): deleted quads' identity keys land in
  *     the store's tombstone table ([[Tombstones]]) and every read path
  *     anti-joins them out — no store file is rewritten until
  *     [[IndexMaintenance.vacuumIndex]] folds the tombstones in.
  *
  * Semantics follow SPARQL 1.1 Update §3.1 with the store's dataset
  * model (default graph = union of the named graphs, see
  * [[Ast.GraphOp]]) applied consistently:
  *
  *   - graphs are SETS: inserting a quad that is already visible is a
  *     no-op; a template quad without GRAPH is already-present if the
  *     triple exists in ANY graph (it is visible in the default graph),
  *     and deleting it hides every graph's copy;
  *   - within one operation the WHERE bindings and both templates are
  *     evaluated against the PRE-update state (templates are
  *     materialized before any mutation), delete applies before insert;
  *   - operations in a `;`-sequence see each other's effects;
  *   - template solutions that leave any of s/p/o unbound (or bind them
  *     to the error marker) instantiate nothing, per §3.1.3;
  *   - re-inserting a tombstoned quad cancels the tombstone instead of
  *     appending a second physical copy (an "un-delete" — the store
  *     stays duplicate-free without ever rewriting data files).
  *
  * Label edges: an inserted `rdfs:label` / `schema:description` /
  * `skos:altLabel` triple with a language-tagged object is normalized
  * to the ingest shape (`p = (kind, str = lang)`, `o = plain string`,
  * `src/parser.rs:441-474` analog `WikidataParser.addLangMap`), so the
  * label service sees updates exactly as it sees ingested labels.
  *
  * Statistics: `pred_counts.json` / `pred_fanout.json` stay sound upper
  * bounds across updates — appends merge deltas in
  * ([[IndexMaintenance]]), deletes only shrink true counts. A full
  * `create-index` re-tightens.
  *
  * Concurrency contract: one writer at a time (the HTTP surface
  * serializes updates; CLI callers own the store). Readers are
  * snapshot-consistent against APPENDS (a planned scan holds its file
  * listing), but the tombstone-table SWAP in the un-delete path — like
  * vacuum and create-index — can fail a query planned before the swap
  * with a missing-file error. Nothing retries it: the action over the
  * query's DataFrame throws, and HTTP `/query` answers 500
  * (`error: …`) or, if a streamed response has already started, ends
  * the body with the abort marker. The caller re-issues the query.
  * Same live-rebuild contract the store has always had.
  */
object Update {

  /** Outcome of an update request. `inserted` counts physically
    * appended quads, `undeleted` re-inserts that only cancelled a
    * tombstone, `deleted` newly tombstoned quads.
    */
  final case class Result(inserted: Long, deleted: Long, undeleted: Long) {
    def +(o: Result): Result =
      Result(inserted + o.inserted, deleted + o.deleted, undeleted + o.undeleted)
  }

  /** Parse and execute an update request (a `;`-separated sequence)
    * against the store at `dir`.
    */
  def execute(spark: SparkSession, text: String,
              dir: String = WikidataIngest.defaultDir): Result = {
    require(!new java.io.File(dir, IndexMaintenance.PendingMarker).exists(),
      s"$dir carries ${IndexMaintenance.PendingMarker}: a previous " +
        "append/compaction/vacuum did not complete — run repairCheck, then " +
        "rebuild with create-index before updating")
    Parser.parseUpdate(text)
      .map(applyOp(spark, dir, _))
      .foldLeft(Result(0, 0, 0))(_ + _)
  }

  private def applyOp(spark: SparkSession, dir: String, op: UpdateOp): Result =
    op match {
      case InsertData(quads) => applyModify(spark, dir, Nil, quads, None)
      case DeleteData(quads) => applyModify(spark, dir, quads, Nil, None)
      case Modify(del, ins, where) => applyModify(spark, dir, del, ins, Some(where))
    }

  private def applyModify(spark: SparkSession, dir: String,
                          deleteTpl: Seq[Quad], insertTpl: Seq[Quad],
                          where: Option[Op]): Result = {
    // 1. bindings for the template variables, against the pre-update
    //    store. Both templates instantiate from the SAME binding set.
    val tplVars = (deleteTpl ++ insertTpl).flatMap(q =>
      Seq(q.s, q.p, q.o) ++ q.g.toSeq).collect { case v: Var => v }.distinct
    // `unit` marks the one-solution/no-variables case (INSERT DATA /
    // DELETE DATA, and const-template modifies): the instantiated
    // delta is then bounded by the TEMPLATE size, known at parse time
    val (bindings, unit): (Option[DataFrame], Boolean) = where match {
      case None => (Some(oneEmptySolution(spark)), true)
      case Some(w) =>
        val inScope = Ast.scopeVars(w).toSet
        val proj = tplVars.filter(inScope)
        if (proj.nonEmpty)
          (Some(Sparql.translator(spark, dir).translate(SelectQuery(Project(w, proj)))), false)
        else {
          // const-only templates: instantiate once iff WHERE has any
          // solution (ASK)
          val any = Sparql.translator(spark, dir).translate(AskQuery(w))
            .head().getBoolean(0)
          (if (any) Some(oneEmptySolution(spark)) else None, true)
        }
    }
    bindings match {
      case None => Result(0, 0, 0)
      case Some(b) if unit &&
          (deleteTpl.size + insertTpl.size) <= driverMaxTemplates(spark) =>
        // measured-size driver plan (same tier pattern as Paths/Dedup):
        // a literal-template update's set algebra runs on the driver —
        // one pruned covered-keys probe per side instead of the
        // checkpoint/count job chain, with LocalRelation deltas. The
        // gate is the parse-time template count, so no probe job is
        // ever paid to choose the tier.
        val delRows = instantiate(spark, b, deleteTpl)
          .map(df => (df.collect().toSeq, df.schema)).getOrElse((Nil, null))
        val insRows = instantiate(spark, b, insertTpl)
          .map(df => (df.collect().toSeq, df.schema)).getOrElse((Nil, null))
        val deleted =
          if (delRows._1.isEmpty) 0L
          else driverDelete(spark, dir, delRows._1, delRows._2)
        val (inserted, undeleted) =
          if (insRows._1.isEmpty) (0L, 0L)
          else driverInsert(spark, dir, insRows._1, insRows._2)
        Result(inserted, deleted, undeleted)
      case Some(b) =>
        // 2. materialize both instantiated deltas BEFORE mutating: the
        //    lazily-planned binding scan must not observe its own
        //    operation's tombstones/appends
        val toDelete = instantiate(spark, b, deleteTpl).map(_.localCheckpoint())
        val toInsert = instantiate(spark, b, insertTpl).map(_.localCheckpoint())
        val deleted = toDelete.map(applyDelete(spark, dir, _)).getOrElse(0L)
        val (inserted, undeleted) =
          toInsert.map(applyInsert(spark, dir, _)).getOrElse((0L, 0L))
        Result(inserted, deleted, undeleted)
    }
  }

  /** Template-count bound for the driver tier of [[applyModify]]
    * (0 disables it). Unit-binding templates collect to at most this
    * many rows, so the driver copy is always tiny.
    */
  private def driverMaxTemplates(spark: SparkSession): Int =
    spark.conf.get("spark.graft.update.driverMaxTemplates", "64").toInt

  /** The unit binding (one solution, no variables). */
  private def oneEmptySolution(spark: SparkSession): DataFrame = spark.range(1).toDF()

  /** Instantiate template quads over the binding set: term-struct
    * columns `s, p, o, graph` (graph null = no GRAPH clause),
    * deduplicated on quad identity, ill-formed solutions dropped.
    * None when the template is empty.
    */
  private def instantiate(spark: SparkSession, bindings: DataFrame,
                          tpl: Seq[Quad]): Option[DataFrame] = {
    if (tpl.isEmpty) return None
    def termCol(p: TermPat): Column = p match {
      case Const(v) => v.toColumn
      case Var(n) if bindings.columns.contains(n) => bindings(n)
      case Var(_) => Term.nullTerm
    }
    def bound(c: Column): Column =
      c.isNotNull && c.getField("key").isNotNull && c.getField("kind") =!= Term.Kind.Null
    val parts = tpl.map { q =>
      val (pCol, oCol) = normalizeLabelEdge(q.p, termCol(q.p), termCol(q.o))
      val gCol = q.g.map(termCol).getOrElse(Term.nullTerm)
      // a quad WITH a GRAPH clause whose term is unbound instantiates
      // nothing (§3.1.3) — it must NOT collapse into a null graph,
      // which here means "default graph" (= every graph on delete)
      val gOk = if (q.g.isDefined) bound(col("graph")) else lit(true)
      bindings.select(termCol(q.s).as("s"), pCol.as("p"), oCol.as("o"), gCol.as("graph"))
        .filter(bound(col("s")) && bound(col("p")) && bound(col("o")) && gOk)
    }
    val all = parts.reduce(_.unionByName(_))
      .withColumn("__sk", col("s.key")).withColumn("__pk", col("p.key"))
      .withColumn("__ok", col("o.key")).withColumn("__gk", col("graph.key"))
      .dropDuplicates("__sk", "__pk", "__ok", "__gk")
      .drop("__sk", "__pk", "__ok", "__gk")
    Some(all)
  }

  /** Rewrite a label/description/alias edge into the ingest shape
    * (see [[WikidataIngest.labelsView]] /
    * `WikidataParser.addLangMap`): predicate carries the language, the
    * object becomes a plain string. Applies only when the predicate is
    * the constant well-known IRI and the object is language-tagged.
    */
  private def normalizeLabelEdge(p: TermPat, pCol: Column, oCol: Column): (Column, Column) = {
    val kindAndPrefix = p match {
      case Const(v) => v.key match {
        case "s:http://www.w3.org/2000/01/rdf-schema#label" => Some((Term.Kind.Label, "lab"))
        case "s:http://schema.org/description" => Some((Term.Kind.Desc, "des"))
        case "s:http://www.w3.org/2004/02/skos/core#altLabel" => Some((Term.Kind.Alias, "ali"))
        case _ => None
      }
      case _ => None
    }
    kindAndPrefix match {
      case None => (pCol, oCol)
      case Some((kind, prefix)) =>
        val isMono = oCol.getField("kind") === Term.Kind.Mono
        val lang = oCol.getField("lang")
        val labelP = Term.struct_(lit(kind), lit(null).cast(DoubleType), lang,
          lit(null).cast(StringType), concat(lit(prefix + ":"), lang))
        val strO = Term.struct_(lit(Term.Kind.Str), lit(null).cast(DoubleType),
          oCol.getField("str"), lit(null).cast(StringType),
          concat(lit("s:"), oCol.getField("str")))
        (when(isMono, labelP).otherwise(pCol), when(isMono, strO).otherwise(oCol))
    }
  }

  /** Covering condition between a template quad (alias `tp`) and a
    * store quad (alias `st`), both term-struct columns: equal s/p/o
    * keys; a GRAPH-less template covers every graph (union
    * default-graph model), a GRAPH-scoped one exactly that graph.
    */
  private def covers: Column =
    col("tp.s").getField("key") === col("st.s").getField("key") &&
      col("tp.p").getField("key") === col("st.p").getField("key") &&
      col("tp.o").getField("key") === col("st.o").getField("key") &&
      (col("tp.graph").getField("key").isNull ||
        (col("tp.graph").getField("key") <=> col("st.graph").getField("key")))

  /** Tombstone the template quads that are currently visible. Returns
    * the number of distinct quads newly hidden.
    */
  private def applyDelete(spark: SparkSession, dir: String, tpl: DataFrame): Long = {
    val visible = WikidataIngest.statements(spark, dir).alias("st")
    // only tombstone templates that hide something: keeps the table
    // minimal and the returned count honest (already-absent quads are
    // no-ops, already-tombstoned ones are not visible).
    // Join shape: the STORE is always the probe (left) side and the
    // already-materialized template set the build (right) side — the
    // old `tpl semi-join store` built the hash on the STORE, which at
    // scale means shuffling/hashing every quad to answer a few-row
    // delete. With the sides swapped the planner builds on the
    // localCheckpointed templates (accurately sized, so AQE broadcasts
    // them whenever they are small, and a mass DELETE WHERE still
    // degrades gracefully to a shuffle bounded by the delete size).
    // The covered store keys collapse to a distinct set bounded by the
    // match count before the template-side semi join.
    val covered = coveredKeys(visible, tpl)
    val hiding = tpl.alias("tp").join(covered, coversKey, "left_semi")
      .localCheckpoint()
    val n = hiding.count()
    if (n > 0) {
      Tombstones.append(spark, dir, hiding, n)
      bump(spark, dir)
    }
    n
  }

  /** Insert the template quads that are not yet visible: cancel any
    * tombstone covering them, and physically append only the ones with
    * no hidden copy already on disk. Returns (appended, undeleted).
    */
  /** Distinct (s,p,o,g) keys of `store` rows covered by a template in
    * `tpl` — the store stays the probe side (see [[applyDelete]]'s
    * join-shape note; the same `tpl anti/semi store` would build the
    * hash on the store). The result is bounded by the match count, so
    * the follow-up template-side semi/anti joins are small-vs-small.
    */
  private def coveredKeys(store: DataFrame, tpl: DataFrame): DataFrame =
    store.join(tpl.alias("tp"), covers, "left_semi")
      .select(col("s.key").as("c_s"), col("p.key").as("c_p"),
        col("o.key").as("c_o"), col("graph.key").as("c_g"))
      .dropDuplicates("c_s", "c_p", "c_o", "c_g")

  /** Condition between a template quad (alias `tp`) and a covered-key
    * row ([[coveredKeys]] output) — [[covers]] restated over the
    * projected keys.
    */
  private def coversKey: Column =
    col("tp.s").getField("key") === col("c_s") &&
      col("tp.p").getField("key") === col("c_p") &&
      col("tp.o").getField("key") === col("c_o") &&
      (col("tp.graph").getField("key").isNull ||
        (col("tp.graph").getField("key") <=> col("c_g")))

  // ------------------------------------------------------ driver tier
  // Literal-template updates (INSERT DATA / DELETE DATA and
  // const-template modifies) run the covers/coversKey algebra on the
  // driver: the template is a handful of parse-time quads, so the only
  // cluster work is one pruned covered-keys probe per store side and
  // the writes themselves. Semantics restate [[covers]]/[[coversKey]]
  // exactly; UpdateSpec pins driver/distributed equality.

  /** A template quad's identity keys (graph None = no GRAPH clause —
    * covers every graph).
    */
  private final case class QuadKey(s: String, p: String, o: String,
                                   g: Option[String])

  private def keyOf(r: Row): QuadKey = {
    def k(field: String): Option[String] =
      Option(r.getAs[Row](field)).flatMap(t => Option(t.getAs[String]("key")))
    QuadKey(k("s").orNull, k("p").orNull, k("o").orNull, k("graph"))
  }

  /** [[covers]] with the template side inlined as literals: matches
    * store rows covered by ANY of the template keys.
    */
  private def coversLit(keys: Seq[QuadKey], s: Column, p: Column,
                        o: Column, g: Column): Column =
    keys.map { q =>
      val base = s === lit(q.s) && p === lit(q.p) && o === lit(q.o)
      q.g.fold(base)(gk => base && (g <=> lit(gk)))
    }.reduce(_ || _)

  /** [[coversKey]] on driver values: does template `q` cover the
    * collected store key `(cs, cp, co, cg)`?
    */
  private def coversVal(q: QuadKey,
                        cs: String, cp: String, co: String,
                        cg: Option[String]): Boolean =
    q.s == cs && q.p == cp && q.o == co && (q.g.isEmpty || q.g == cg)

  /** Spark compares strings in UTF-8 binary order (UTF8String); the
    * driver sort must match it exactly, not String's UTF-16 order.
    */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** Collect the distinct (s,p,o,g) keys of `store` rows covered by the
    * literal templates — [[coveredKeys]] with the probe filter pushed
    * into the scan (one job, prunable predicates).
    */
  private def coveredKeysLit(store: DataFrame, keys: Seq[QuadKey])
      : Array[(String, String, String, Option[String])] =
    store.filter(coversLit(keys, col("s.key"), col("p.key"), col("o.key"),
        col("graph.key")))
      .select(col("s.key"), col("p.key"), col("o.key"), col("graph.key"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3))))

  /** Driver-tier [[applyDelete]]: identical tombstones, two jobs total
    * (covered-keys probe + tombstone append).
    */
  private def driverDelete(spark: SparkSession, dir: String,
                           rows: Seq[Row],
                           schema: org.apache.spark.sql.types.StructType): Long = {
    val keys = rows.map(keyOf)
    val covered = coveredKeysLit(WikidataIngest.statements(spark, dir), keys)
    val hiding = rows.zip(keys).collect { case (r, q)
      if covered.exists(c => coversVal(q, c._1, c._2, c._3, c._4)) => r }
    if (hiding.nonEmpty) {
      import scala.jdk.CollectionConverters._
      Tombstones.append(spark, dir,
        spark.createDataFrame(hiding.asJava, schema), hiding.size.toLong)
      bump(spark, dir)
    }
    hiding.size.toLong
  }

  /** Driver-tier [[applyInsert]]: identical appended rows (same sorted
    * 0..n-1 ordinals) and tombstone cancellations, with the fresh /
    * hidden / toAppend splits computed from two covered-keys probes.
    */
  private def driverInsert(spark: SparkSession, dir: String,
                           rows: Seq[Row],
                           schema: org.apache.spark.sql.types.StructType): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val keys = rows.map(keyOf)
    val covered1 = coveredKeysLit(WikidataIngest.statements(spark, dir), keys)
    val fresh = rows.zip(keys).filterNot { case (_, q) =>
      covered1.exists(c => coversVal(q, c._1, c._2, c._3, c._4)) }
    if (fresh.isEmpty) return (0L, 0L)

    // physical rows hidden by a tombstone: un-delete instead of
    // re-appending (raw read on purpose — the cached view is filtered)
    val raw = WikidataIngest.rawStatements(spark, dir)
    val covered2 = coveredKeysLit(raw, fresh.map(_._2))
    val (hidden, toAppend) = fresh.partition { case (_, q) =>
      covered2.exists(c => coversVal(q, c._1, c._2, c._3, c._4)) }
    val undeleted = hidden.size.toLong
    if (undeleted > 0) {
      // drop every tombstone covered by an inserted quad (match the
      // tombstone's own scope: g_any rows cancel on key identity)
      val cancel = fresh.map { case (_, q) =>
        val base = col("s_key") === lit(q.s) && col("p_key") === lit(q.p) &&
          col("o_key") === lit(q.o)
        q.g.fold(base)(gk =>
          base && (col("g_any") || (col("g_key") <=> lit(gk))))
      }.reduce(_ || _)
      Tombstones.replace(spark, dir,
        Tombstones.read(spark, dir).get.filter(!cancel))
    }

    val appended = if (toAppend.isEmpty) 0L else {
      // same deterministic insertion order as the distributed path:
      // (graph nulls-first, s, p, o) keys in Spark's binary string
      // order, ordinals 0..n-1
      implicit val so: Ordering[String] = utf8Order
      val sortedRows = toAppend.sortBy { case (_, q) =>
        (q.g, q.s, q.p, q.o) }.map(_._1)
      val withOrd = sortedRows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i.toLong) }
      val deltaSchema = schema.add("ord", org.apache.spark.sql.types.LongType)
      val delta = spark.createDataFrame(withOrd.asJava, deltaSchema)
        .withColumn("id", Term.nullTerm)
      if (new java.io.File(s"$dir/statements_sub.parquet").exists()) {
        // the delta is driver-local: hand appendToIndex its statistics
        // so neither the checkpoint nor the stats-aggregation job runs
        val ks = toAppend.map(_._2)
        def maxGroup(of: QuadKey => String): Map[String, Long] =
          ks.groupBy(_.p).map { case (p, g) =>
            p -> g.groupBy(of).valuesIterator.map(_.size.toLong).max }
        val stats = IndexMaintenance.DeltaStats(
          rows = ks.size.toLong, maxOrd = ks.size.toLong - 1L,
          counts = ks.groupBy(_.p).map { case (p, g) => p -> g.size.toLong },
          dS = maxGroup(_.s), dO = maxGroup(_.o))
        IndexMaintenance.appendToIndex(spark, dir, delta, stats = Some(stats))
      } else appendToFlatStore(spark, dir, delta)
    }
    if (appended > 0 || undeleted > 0) bump(spark, dir)
    (appended, undeleted)
  }

  private def applyInsert(spark: SparkSession, dir: String, tpl: DataFrame): (Long, Long) = {
    val visible = WikidataIngest.statements(spark, dir).alias("st")
    val fresh = tpl.alias("tp")
      .join(coveredKeys(visible, tpl), coversKey, "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return (0L, 0L)

    // physical rows hidden by a tombstone: un-delete instead of
    // re-appending (raw read on purpose — the cached view is filtered)
    val raw = WikidataIngest.rawStatements(spark, dir).alias("st")
    val rawCovered = coveredKeys(raw, fresh).localCheckpoint()
    val hidden = fresh.alias("tp").join(rawCovered, coversKey, "left_semi")
    val toAppend = fresh.alias("tp").join(rawCovered, coversKey, "left_anti")
      .localCheckpoint()
    val undeleted = hidden.count()
    if (undeleted > 0) {
      // drop every tombstone covered by an inserted quad (match the
      // tombstone's own scope: g_any rows cancel on key identity)
      val remaining = Tombstones.read(spark, dir).get.alias("tb")
        .join(fresh.alias("tp"),
          col("tb.s_key") === col("tp.s").getField("key") &&
            col("tb.p_key") === col("tp.p").getField("key") &&
            col("tb.o_key") === col("tp.o").getField("key") &&
            (col("tp.graph").getField("key").isNull || col("tb.g_any") ||
              (col("tb.g_key") <=> col("tp.graph").getField("key"))),
          "left_anti")
      Tombstones.replace(spark, dir, remaining)
    }

    val appendRows = toAppend.count() // checkpointed: a cheap local count
    val appended = if (appendRows == 0L) 0L else {
      // deterministic per-delta insertion order WITHOUT a global
      // unpartitioned Window (which moves the whole delta through one
      // task): sort, then stamp monotonically_increasing_id — strictly
      // increasing in (partition, row), and partitions are ordered by
      // the range sort, so the stamp induces exactly the sorted order.
      // A small delta (the common case) sorts in ONE coalesced
      // partition, where the stamp is literally 0..n-1 — bit-identical
      // to the row_number it replaces; a huge INSERT WHERE pays a
      // range-partitioned sort and gets order-equivalent (gapped)
      // ordinals, the same contract ingest's own stamp provides.
      val sortKeys = Seq(col("graph.key").asc_nulls_first,
        col("s.key").asc, col("p.key").asc, col("o.key").asc)
      val sorted =
        if (appendRows <= 1000000L) toAppend.coalesce(1).sortWithinPartitions(sortKeys: _*)
        else toAppend.repartitionByRange(
          math.max(2, (appendRows / 1000000L).toInt), sortKeys: _*)
          .sortWithinPartitions(sortKeys: _*)
      val delta = sorted
        .withColumn("id", Term.nullTerm)
        .withColumn("ord", monotonically_increasing_id())
      if (new java.io.File(s"$dir/statements_sub.parquet").exists())
        IndexMaintenance.appendToIndex(spark, dir, delta)
      else appendToFlatStore(spark, dir, delta)
    }
    if (appended > 0 || undeleted > 0) bump(spark, dir)
    (appended, undeleted)
  }

  /** Append a delta to a flat (non-permutation) store: statements +
    * labels tables, ords offset past the store's max — the same
    * contract as [[IndexMaintenance.appendToIndex]] minus the
    * permutations.
    */
  private def appendToFlatStore(spark: SparkSession, dir: String, delta: DataFrame): Long = {
    val raw = spark.read.parquet(s"$dir/statements.parquet")
    val maxOrdRow = raw.agg(max(col("ord"))).head()
    val maxOrd = if (maxOrdRow.isNullAt(0)) -1L else maxOrdRow.getLong(0)
    val d = WikidataIngest.rendered(delta.withColumn("ord", col("ord") + lit(maxOrd + 1L)))
      .localCheckpoint()
    val n = d.count()
    if (n > 0) {
      d.sortWithinPartitions(col("p.key"), col("s.key"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$dir/statements.parquet")
      WikidataIngest.labelsView(d)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$dir/labels.parquet")
    }
    n
  }

  /** Invalidate in-JVM read/plan caches and (on a partitioned store)
    * bump the persisted generation, so epoch-keyed caches and external
    * readers observe the mutation.
    */
  private def bump(spark: SparkSession, dir: String): Unit = {
    WikidataIngest.invalidate(dir)
    if (new java.io.File(s"$dir/statements_sub.parquet").exists())
      IndexMaintenance.bumpGeneration(spark, dir)
  }
}
