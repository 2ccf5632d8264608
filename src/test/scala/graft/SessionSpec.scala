package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans._

/** The session contract: rule-gated queries build their frames on a
  * fork, so the session they were handed keeps its rules and conf,
  * two gated queries can share it concurrently, and a fork installs
  * rules in the one canonical order while keeping what the parent
  * carries (conf, temp views, listeners). */
class SessionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every registry query that installs a rule. */
  private val gated = Seq(
    "q42_routed_rollup_count", "q47_routed_rollup_sum", "q49_routed_timeseries",
    "q61_routed_topk", "q63_join_elimination", "q66_routed_weekly",
    "q68_routed_global", "q71_routed_dictionary", "q75_fd_groupby",
    "q82_transparent_cache", "q83_transparent_steering",
    "q85_steered_left_enrich", "q87_transparent_ordering",
    "q90_learned_ordering", "q91_catalog_steering", "q92_composite_steering",
    "q94_mcv_steering", "q97_semi_anti_steering",
    "q98_maintained_mcv_steering", "q99_whole_brain_composition",
    "q102_semi_anti_hash_dispatch")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** What a gated query must leave as it found it. */
  private def sessionState(): (Seq[String], Map[String, String]) =
    (spark.experimental.extraOptimizations.map(_.getClass.getName),
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.graft.") || k == "spark.sql.autoBroadcastJoinThreshold"
      })

  test("every gated registry query leaves the shared session's rules and conf unchanged") {
    withIndexRoot("graft-session-gated") {
      assert(gated.forall(QueryRegistry.asMap.contains),
        s"unknown: ${gated.filterNot(QueryRegistry.asMap.contains)}")
      val before = sessionState()
      gated.foreach { name =>
        val df = QueryRegistry.asMap(name)(spark, sf)
        assert(df.count() > 0, s"$name returned no rows")
        assert(sessionState() === before, s"$name changed the shared session")
      }
    }
  }

  test("two gated queries run concurrently on one session and each keeps its sequential answer") {
    withIndexRoot("graft-session-concurrent") {
      val names = Seq("q42_routed_rollup_count", "q83_transparent_steering")
      // sequential reference (this run also builds the artifacts)
      val sequential = names.map(n => n -> rows(QueryRegistry.asMap(n)(spark, sf))).toMap
      val before = sessionState()
      val pool = Executors.newFixedThreadPool(names.size)
      try {
        val futures = (1 to 3).flatMap(_ => names).map { n =>
          n -> pool.submit(new Callable[Seq[String]] {
            def call(): Seq[String] = rows(QueryRegistry.asMap(n)(spark, sf))
          })
        }
        futures.foreach { case (n, fut) =>
          assert(fut.get(10, TimeUnit.MINUTES) === sequential(n),
            s"$n diverged from its sequential answer under concurrency")
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(1, TimeUnit.MINUTES)
      }
      assert(sessionState() === before)
    }
  }

  test("fork installs rules in the canonical order; a repeated rule class replaces the old one") {
    val parentRules = spark.experimental.extraOptimizations
    val f = Session.fork(spark, Seq(
      new TransparentResultCacheRule(_), new TransparentJoinSteeringRule(_),
      new TransparentJoinOrderingRule(_), new JoinEliminationRule(_),
      new FdAggregationRule(_), new DictionaryRoutingRule(_),
      new RollupRoutingRule(_)))
    assert(f.experimental.extraOptimizations.map(_.getClass.getSimpleName) === Seq(
      "RollupRoutingRule", "DictionaryRoutingRule", "FdAggregationRule",
      "JoinEliminationRule", "TransparentJoinOrderingRule",
      "TransparentJoinSteeringRule", "TransparentResultCacheRule"))
    val first = f.experimental.extraOptimizations
      .find(_.isInstanceOf[TransparentJoinSteeringRule]).get
    Session.install(f, Seq(new TransparentJoinSteeringRule(_, broadcastBytes = 1L)))
    val steering = f.experimental.extraOptimizations
      .filter(_.isInstanceOf[TransparentJoinSteeringRule])
    assert(steering.size === 1 && !(steering.head eq first),
      "the new steering instance must replace the old one")
    assert(f.experimental.extraOptimizations.size === 7)
    assert(spark.experimental.extraOptimizations === parentRules,
      "nothing installed on a fork reaches the parent")
  }

  test("a fork carries the parent's conf, temp views and listeners, and sets its own overrides") {
    spark.range(3).createOrReplaceTempView("session_spec_view")
    @volatile var seen = 0
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen += 1
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val parentTiers = spark.conf.getOption("spark.graft.steering.tiers")
      val f = Session.fork(spark, Nil, Map("spark.graft.steering.tiers" -> "mcv,fork"))
      assert(f.conf.get("spark.sql.session.timeZone") ===
        spark.conf.get("spark.sql.session.timeZone"))
      assert(f.conf.get("spark.graft.steering.tiers") === "mcv,fork")
      assert(spark.conf.getOption("spark.graft.steering.tiers") === parentTiers,
        "a fork's override never reaches the parent")
      assert(f.table("session_spec_view").count() === 3L)
      f.range(1).collect()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (seen == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen > 0, "the parent's query-execution listener must see fork queries")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.catalog.dropTempView("session_spec_view")
    }
  }
}
