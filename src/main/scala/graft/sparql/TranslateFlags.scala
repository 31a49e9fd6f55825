package graft.sparql

import org.apache.spark.sql.SparkSession

/** Registry of every `spark.graft.*` conf flag that is read DURING
  * SPARQL plan construction (parse → translate → analyze).
  *
  * These flags are the part of a translated plan's identity that is
  * not in the query text: a plan cached under one setting must not be
  * served under another (QueryServer's translated-plan LRU keys on
  * [[fingerprint]]). Keeping the list correct by convention — a
  * comment telling future editors to grep — failed the review bar: a
  * sixth translate-time flag added under `sparql/` without updating
  * the cache key would silently serve the other setting's semantics
  * from cache. So the list is structural instead: every translate-time
  * read site goes through [[get]], which only accepts names registered
  * in [[all]] — an unregistered flag read through the helper throws at
  * first use (loudly, in any test that exercises it), and the cache
  * key iterates the same [[all]], so the two can not drift apart.
  *
  * Action-time flags (`server.json.maxRows`, `server.maxResultBytes`,
  * `server.timeoutMs`, …) are deliberately NOT here: they are read
  * when the plan is executed, never baked into the plan.
  */
object TranslateFlags {

  /** Spec-correct OPTIONAL filter placement (Translator LeftJoin). */
  val OptionalSpecFilter = "spark.graft.optional.specFilter"

  /** SPARQL 1.2 correlated LATERAL slices (Translator Lateral). */
  val LateralSpec = "spark.graft.lateral.spec"

  /** Spec-mode BNODE/STRDT/TIMEZONE (Expressions). */
  val FunctionsSpec = "spark.graft.functions.spec"

  /** Path-closure row budget (Paths fixpoint). The DEFAULT is finite
    * ([[PathMaxRowsDefault]], 10M rows): an unbounded `?x wdt:P31* ?y`
    * over a 100 TB store must fail fast with `PathBudgetExceeded` out
    * of the box, not attempt the full all-pairs closure — the
    * cluster-safe behavior is opt-out (raise the flag for a workload
    * that genuinely needs a larger closure), never opt-in. 10M keeps
    * every legitimate bounded-endpoint BFS and every fixture/benchmark
    * closure orders of magnitude inside the budget while bounding a
    * runaway at roughly one executor's in-memory working set.
    */
  val PathMaxRows = "spark.graft.path.maxRows"
  val PathMaxRowsDefault = 10000000L

  /** Driver-tier budget of the path plans (Paths, through
    * `graft.DriverTier`): a bound-endpoint BFS whose MEASURED edge set
    * (and GraphMode seed set) has at most this many rows runs as a
    * single-pass driver BFS instead of per-round distributed jobs, and
    * a free-endpoint closure goes to the driver at most
    * `min(smallRows, 4096)` edges; 0 forces both distributed.
    * Driver-heap note: the routed plan collect()s the full edge rows —
    * term structs included, roughly a few hundred bytes each — so the
    * default 100k bounds one closure's driver footprint at tens of MB;
    * N concurrent server queries on this path cost N × that. Size it
    * against driver heap when raising it or raising server concurrency.
    */
  val PathSmallRows = "spark.graft.path.smallRows"

  /** GROUP_CONCAT bounded-state element cap (Translator aggregates). */
  val GroupConcatMaxElements = "spark.graft.groupConcat.maxElements"

  /** Statistics-driven BGP ordering (Translator orderPatterns): break
    * boundness ties by MEASURED per-predicate cardinality from the
    * store's `pred_counts.json` (written by create-index). Off = pure
    * boundness heuristic (the pre-stats behavior, kept for A/B
    * measurement in QuadScale).
    */
  val BgpStatsOrder = "spark.graft.bgp.statsOrder"

  /** Statistics-driven broadcast hints (Translator Bgp): inside a
    * multi-pattern BGP, a bound-predicate scan whose MEASURED count is
    * at or below this many rows gets an explicit `broadcast()` hint at
    * translate time. AQE also converts such joins, but only AFTER the
    * initial plan's exchanges run — measured on the QuadScale
    * stats_chain shape, the hint-less stats order still shuffled both
    * hot scans before AQE re-planned them as broadcasts. The hint puts
    * the broadcast in the INITIAL plan, so the hot side never shuffles
    * at all — at 100 TB that is the difference between scanning a
    * predicate bucket once and materializing it through the shuffle
    * service. 100k quad rows ≈ 20 MB built — safely inside driver/
    * executor memory; the hint bounds the BUILD side only, never the
    * join's output. Gated by [[BgpStatsOrder]]; 0 disables hints.
    */
  val BgpBroadcastRows = "spark.graft.bgp.broadcastRows"

  /** Every translate-time flag with its default, in fingerprint order. */
  val all: Seq[(String, String)] = Seq(
    OptionalSpecFilter -> "false",
    LateralSpec -> "false",
    FunctionsSpec -> "false",
    PathMaxRows -> PathMaxRowsDefault.toString,
    PathSmallRows -> "100000",
    GroupConcatMaxElements -> "0",
    BgpStatsOrder -> "true",
    BgpBroadcastRows -> "100000")

  private val defaults: Map[String, String] = all.toMap

  /** Read a REGISTERED translate-time flag (name + default come from
    * [[all]]). The only sanctioned way to read a `spark.graft.*` conf
    * during plan construction — reading an unregistered name throws,
    * which is the guard that keeps the plan-cache key complete.
    */
  def get(spark: SparkSession, name: String): String = {
    val default = defaults.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a registered translate-time flag; add it to " +
        "TranslateFlags.all (it is part of the plan-cache key) before reading " +
        "it during plan construction"))
    spark.conf.get(name, default)
  }

  /** Current values of ALL translate-time flags, for plan-cache keys. */
  def fingerprint(spark: SparkSession): String =
    all.map { case (name, _) => get(spark, name) }.mkString(",")
}
