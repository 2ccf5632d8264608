package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.plans._

/** The engine's two session decisions, made in one place: the
  * session profile every entry point starts from, and the one
  * installer for the engine's Catalyst rules.
  *
  * A query that needs a rule never mutates the session it was handed:
  * it builds its frame on a [[fork]], a clone that carries the
  * parent's runtime conf, temp views and query-execution listeners,
  * plus the rules and conf overrides the query asked for. Two queries
  * sharing one session therefore cannot see each other's rules or
  * settings, and nothing needs undoing afterwards. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Start (or join) the local session under the engine's one profile.
    * Bench times, Verify checks and the tools dump the same plans
    * because they all start here. */
  def profile(cores: Int = defaultCores): SparkSession =
    SparkSession.builder()
      .appName("graft")
      .master(s"local[$cores]")
      // one post-shuffle partition per core (local mode; cluster
      // deployments size this by bytes per guide §2.2)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); see graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // AQE coalescing targets BYTES (minPartitionSize, default 1m),
      // which under-parallelizes CPU-dense stages whose inputs are
      // kilobytes of compressed columns (sketch verifies, windowed
      // rank floors): a sub-1-MB stage coalesces to ONE task on any
      // core count. 64k keeps such stages near the core count while
      // staying irrelevant at cluster scale, where post-shuffle
      // partitions dwarf it (parallelismFirst still bounds the task
      // count by defaultParallelism).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // guide §2.2: size post-shuffle partitions by BYTES (advisory),
      // not by core count — parallelismFirst=true keeps every
      // byte-small exchange at defaultParallelism tasks, whose
      // per-task overhead made the whole bench run SLOWER at 32 cores
      // than at 8 (measured r17). Explicitly-pinned exchanges
      // (Par.widen's repartition(n)) are untouched by AQE, so
      // CPU-dense map passes stay wide.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // single-file (Unsafe) shuffle writer for EVERY exchange — the
      // writer any real cluster already uses (the bypass-merge writer
      // only fires when reducers ≤ 200). Bypass opens R files + R
      // serializer streams per MAP task, so a local-mode R=cores
      // session pays M·R file opens per shuffle; measured r17 it made
      // the whole bench SLOWER at 32 cores than at 8 (d18 1.60 s →
      // 0.86 s, t15 0.88 → 0.50, q08 0.88 → 0.51 from this one
      // setting).
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning was
      // measured BOTH ways in r17 and stays at Spark's default (off):
      // it let AQE re-plan q57's cached itemset build (1.13 s →
      // 0.55 s) but byte-coalesced the interior distincts of d19's
      // variant cache and serialized its CPU-dense depth-2 explode
      // (1.81 s → 2.79 s, reproduced). q57 got its win from a
      // Par.widen instead.
      .getOrCreate()

  /** Builds one engine rule against the session it will serve. */
  type RuleFactory = SparkSession => Rule[LogicalPlan]

  /** The one install order: routing, dictionary, FD, elimination,
    * ordering, steering, cache. The rollup router runs before the
    * dictionary router (the shared-shape tie the dictionary rule's
    * rollupServable screen declines), ordering reshapes a join chain
    * before steering dispatches its joins, and the result cache keys
    * plans already shaped by every other rule. Rules not listed here
    * keep their place after these. */
  private val Order: Seq[Class[_]] = Seq(
    classOf[RollupRoutingRule], classOf[DictionaryRoutingRule],
    classOf[FdAggregationRule], classOf[JoinEliminationRule],
    classOf[TransparentJoinOrderingRule], classOf[TransparentJoinSteeringRule],
    classOf[TransparentResultCacheRule])

  private def rank(r: Rule[LogicalPlan]): Int = {
    val i = Order.indexWhere(_.isInstance(r))
    if (i < 0) Order.size else i
  }

  /** Install `rules` on `s` itself, session-wide. A rule of a class
    * already installed replaces the old instance (a steering rule with
    * new thresholds wins). Only user-requested session-wide serving
    * ([[GraftCatalog.registerRollups]]) calls this on a shared session;
    * queries use [[fork]]. */
  private[graft] def install(s: SparkSession, rules: Seq[RuleFactory]): Unit =
    synchronized {
      val added = rules.map(_(s))
      val kept = s.experimental.extraOptimizations
        .filterNot(r => added.exists(_.getClass == r.getClass))
      s.experimental.extraOptimizations = (kept ++ added).sortBy(rank)
    }

  /** A child of `s` with `rules` installed and `conf` set. The child
    * shares the SparkContext, cache manager and external catalog with
    * `s`, and starts from a copy of its runtime conf, temp views,
    * installed rules and listeners (`cloneSession`, not `newSession`,
    * which would drop all four). Nothing done on the child reaches
    * `s`. */
  def fork(s: SparkSession, rules: Seq[RuleFactory],
      conf: Map[String, String] = Map.empty): SparkSession = {
    val child = org.apache.spark.sql.graftbridge.cloneSession(s)
    conf.foreach { case (k, v) => child.conf.set(k, v) }
    install(child, rules)
    child
  }
}
