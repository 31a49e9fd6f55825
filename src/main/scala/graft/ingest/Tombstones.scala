package graft.ingest

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion tombstones for the quad store — the DELETE half of SPARQL
  * Update ([[graft.sparql.Update]]).
  *
  * The reference engine is read-only (its four sorted permutations can
  * only be produced by a full rebuild, `src/storage_engine/builder.rs:
  * 335-531`), so deletes there mean re-ingesting everything. Here a
  * delete is O(|deleted|): the deleted quads' identity keys are appended
  * to a side table (`tombstones.parquet` beside the store), and every
  * read path anti-joins it out. [[IndexMaintenance.vacuumIndex]] later
  * folds the tombstones into the affected partitions and clears them —
  * the same append-now/compact-later discipline as the insert path.
  *
  * At 100 TB the shape matters:
  *   - reads pay NOTHING until the first delete (no tombstone file →
  *     no join in the plan at all);
  *   - while the tombstone set is small (the overwhelmingly common
  *     case) the anti-join is a broadcast hash join — no shuffle of the
  *     store side, and the scan's partition pruning / filter pushdown
  *     are unaffected (Catalyst pushes left-side predicates through a
  *     left-anti join);
  *   - a tombstone set past the broadcast budget falls back to a
  *     planner-chosen join, and vacuum is the operator's cue to fold it
  *     in.
  *
  * Identity is the quad's VALUE — the four canonical term keys
  * ([[graft.model.Term]] `key`), graph null-safe (null = default
  * graph). Deleting a quad hides every physical copy of it in every
  * permutation, which is exactly SPARQL's set semantics. The table also
  * carries the term `num` payloads (bucket routing for vacuum's
  * partition pruning) and the label-view fields (`p_kind`/`p_str`/
  * `o_str`), so the derived labels table hides deleted label edges too.
  */
object Tombstones {

  /** On-disk location of a store's tombstone table. */
  def dirOf(store: String): String = s"$store/tombstones.parquet"

  def exists(store: String): Boolean = new File(dirOf(store)).exists()

  /** Tombstone side past which the read path stops hinting broadcast
    * and lets the planner pick the join (32 MB on disk ≈ well under
    * the default 8 GB broadcast hard cap even at high compression).
    */
  val BroadcastBudgetBytes: Long = 32L * 1024 * 1024

  /** Project a quad DataFrame (term-struct columns `s, p, o, graph`)
    * onto the tombstone schema. A null graph term means the delete
    * came without a GRAPH clause — in this store's dataset model the
    * default graph is the UNION of the named graphs (the WDQS model,
    * see [[graft.sparql.Ast.GraphOp]]), so such a tombstone hides the
    * triple in EVERY graph (`g_any = true`); a GRAPH-scoped delete
    * hides exactly that graph's copy.
    */
  def project(quads: DataFrame): DataFrame = {
    val g = if (quads.columns.contains("graph")) col("graph")
            else graft.model.Term.nullTerm
    quads.select(
      col("s.key").as("s_key"), col("p.key").as("p_key"),
      col("o.key").as("o_key"), g.getField("key").as("g_key"),
      g.getField("key").isNull.as("g_any"),
      col("s.num").as("s_num"), col("p.num").as("p_num"),
      col("o.num").as("o_num"), g.getField("num").as("g_num"),
      col("p.kind").as("p_kind"), col("p.str").as("p_str"),
      col("o.str").as("o_str"))
  }

  /** The tombstone table, if the store has one. Cached per (session,
    * path) alongside the store's other reads — mutators call
    * [[WikidataIngest.invalidate]], which drops it.
    */
  def read(spark: SparkSession, store: String): Option[DataFrame] =
    if (!exists(store)) None
    else Some(WikidataIngest.cachedRead(spark, dirOf(store)))

  private def maybeBroadcast(store: String, t: DataFrame): DataFrame =
    if (WikidataIngest.dirBytes(dirOf(store)) <= BroadcastBudgetBytes) broadcast(t)
    else t

  /** Hide tombstoned quads from a statements/permutation scan. Returns
    * `df` untouched when the store has no tombstones — the common case
    * costs nothing, not even a no-op join node.
    */
  def filterStatements(spark: SparkSession, store: String, df: DataFrame): DataFrame =
    read(spark, store).fold(df) { t0 =>
      val t = maybeBroadcast(store,
        t0.select("s_key", "p_key", "o_key", "g_key", "g_any"))
      val g: Column = if (df.columns.contains("graph")) df("graph.key")
                      else lit(null).cast("string")
      // equi-keys hash the join; the graph check rides as the residual
      // condition (g_any = an un-GRAPHed delete hides every copy)
      df.join(t, df("s.key") === t("s_key") && df("p.key") === t("p_key") &&
        df("o.key") === t("o_key") && (t("g_any") || (g <=> t("g_key"))),
        "left_anti")
    }

  /** The inverse of [[filterStatements]]: the scan rows a tombstone
    * DOES cover. Vacuum's large-copy probe uses this to find which
    * graph buckets actually hold a deleted row before rewriting them.
    */
  def matchingStatements(spark: SparkSession, store: String, df: DataFrame): DataFrame =
    read(spark, store).fold(df.limit(0)) { t0 =>
      val t = maybeBroadcast(store,
        t0.select("s_key", "p_key", "o_key", "g_key", "g_any"))
      val g: Column = if (df.columns.contains("graph")) df("graph.key")
                      else lit(null).cast("string")
      df.join(t, df("s.key") === t("s_key") && df("p.key") === t("p_key") &&
        df("o.key") === t("o_key") && (t("g_any") || (g <=> t("g_key"))),
        "left_semi")
    }

  /** Hide label rows whose source quad (a label/desc/alias edge) was
    * tombstoned. The labels table is a projection of the statements
    * ([[WikidataIngest.labelsView]]: `entity_key = s.key, kind = p.kind,
    * lang = p.str, text = o.str`), so the anti-join matches on exactly
    * those fields. The projection drops the graph column, so label
    * deletes apply graph-agnostically here — immaterial in practice:
    * ingest puts every label edge in its entity's own document graph,
    * so a graph-scoped label delete targets the only copy anyway.
    */
  def filterLabels(spark: SparkSession, store: String, df: DataFrame): DataFrame =
    read(spark, store).fold(df) { t0 =>
      val labelKinds = Seq(graft.model.Term.Kind.Label,
        graft.model.Term.Kind.Desc, graft.model.Term.Kind.Alias)
      val t = maybeBroadcast(store, t0
        .filter(col("p_kind").isin(labelKinds: _*))
        .select("s_key", "p_kind", "p_str", "o_str"))
      df.join(t, df("entity_key") === t("s_key") && df("kind") === t("p_kind") &&
        (df("lang") <=> t("p_str")) && (df("text") <=> t("o_str")), "left_anti")
    }

  /** Append freshly deleted quads (term-struct columns) to the
    * tombstone table. `rows` is the caller's pre-computed count (it
    * already counted the delta — no second job here); partition count
    * scales with it so a mass delete doesn't funnel through one task.
    */
  def append(spark: SparkSession, store: String, quads: DataFrame, rows: Long): Unit = {
    val parts = math.max(1L, rows / 8000000L).toInt
    project(quads).repartition(parts)
      .write.mode(SaveMode.Append).parquet(dirOf(store))
    WikidataIngest.invalidate(store)
  }

  /** Replace the tombstone table with `remaining` (already in tombstone
    * schema), or drop it entirely when `remaining` is empty. Used by
    * the un-delete path (re-INSERT of a tombstoned quad) and by vacuum.
    * The replacement is staged in a sibling directory and swapped in,
    * because Spark cannot overwrite a path it is also reading from.
    */
  def replace(spark: SparkSession, store: String, remaining: DataFrame): Unit = {
    val dir = new File(dirOf(store))
    val tmp = new File(dirOf(store) + ".tmp")
    graft.Workspace.deleteTree(tmp)
    val kept = remaining.localCheckpoint()
    if (kept.isEmpty) graft.Workspace.deleteTree(dir)
    else {
      // size the rewrite by the CURRENT table's bytes, never a fixed 1:
      // an un-delete over a huge tombstone set must not funnel the
      // whole table through one task
      val parts = math.max(1L,
        WikidataIngest.dirBytes(dir.getAbsolutePath) / (64L * 1024 * 1024)).toInt
      kept.repartition(parts).write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      graft.Workspace.deleteTree(dir)
      require(tmp.renameTo(dir), s"could not swap ${tmp} into place")
    }
    WikidataIngest.invalidate(store)
  }

  /** Drop the tombstone table (vacuum's final step). */
  def clear(store: String): Unit = {
    graft.Workspace.deleteTree(new File(dirOf(store)))
    WikidataIngest.invalidate(store)
  }
}
