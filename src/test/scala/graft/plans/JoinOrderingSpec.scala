package graft.plans

import graft.{Session, SparkSpec}
import graft.operators.StatsCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The transparent-ordering contract (D97): a chain of plain inner
  * equi-joins DECLARED in the worst order is re-shaped by the
  * optimizer to the DP's choice — filtered dim first, corpus-sized
  * fact last — with the result bit-identical; every veto (hints,
  * missing stats, non-simple leaves, self-joins) passes through; a
  * re-optimization of the already-ordered plan holds still (the
  * fixed-point guard); and the steering rule composes on top of the
  * ordered chain in the same batch. */
class JoinOrderingSpec extends SparkSpec {
  import spark.implicits._

  private def writeTables(dir: String): Unit = {
    (1L to 4000L).map(i => (i % 50 + 1, i % 40 + 1, i))
      .toDF("ka", "kb", "payload")
      .write.mode("overwrite").parquet(s"$dir/fact.parquet")
    (1L to 50L).map(i => (i, s"a$i")).toDF("dak", "aname")
      .write.mode("overwrite").parquet(s"$dir/dima.parquet")
    (1L to 40L).map(i => (i, s"b$i")).toDF("dbk", "bname")
      .write.mode("overwrite").parquet(s"$dir/dimb.parquet")
  }

  /** The shared session with the ordering rule and `conf` installed. */
  private def ordering(conf: (String, String)*): SparkSession =
    Session.fork(spark, Seq(new TransparentJoinOrderingRule(_)), conf.toMap)

  /** fact ⋈ dimb ⋈ dima DECLARED in the worst order: the filtered
    * 5-row dima attaches last. */
  private def worst(s: SparkSession, dir: String) = {
    val fact = graft.Tables(s, dir, "fact")
    val dima = graft.Tables(s, dir, "dima").where($"dak" <= 5L)
    val dimb = graft.Tables(s, dir, "dimb")
    fact.join(dimb, $"kb" === $"dbk").join(dima, $"ka" === $"dak")
  }

  /** The deepest join's leaf tables, from its relations' root paths. */
  private def innermostTables(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    joins.last.collectLeaves().collect {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.head.getName.stripSuffix(".parquet")
      }
    }.toSet
  }

  test("the worst declared order is re-shaped to the DP's choice; vetoes and the fixed point hold") {
    withIndexRoot("graft-tjo") {
      val dir = tmpDir("graft-tjo-data")
      writeTables(dir)
      val f = ordering()
      // no stats -> untouched even with the rule installed
      assert(innermostTables(worst(f, dir)) === Set("fact", "dimb"),
        "without ANALYZE evidence the declared order must stand")

      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      // with stats: the filtered dima attaches FIRST
      val ordered = worst(f, dir)
      assert(innermostTables(ordered) === Set("fact", "dima"),
        s"the DP must re-shape the chain:\n${ordered.queryExecution.optimizedPlan}")
      // result-invisible
      val got = ordered.select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      val want = worst(spark, dir).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      assert(got.sameElements(want), "reordering must be result-invisible")

      // fixed point: the ordered plan re-optimizes to ITSELF
      val once = ordered.queryExecution.optimizedPlan
      val rule = new TransparentJoinOrderingRule(f)
      assert(rule.apply(once).fastEquals(once),
        "re-applying the rule to its own output must hold still")

      val fact = graft.Tables(f, dir, "fact")
      val dima = graft.Tables(f, dir, "dima").where($"dak" <= 5L)
      val dimb = graft.Tables(f, dir, "dimb")
      // veto: a user hint anywhere in the chain
      val hinted = fact.join(broadcast(dimb), $"kb" === $"dbk")
        .join(dima, $"ka" === $"dak")
      assert(innermostTables(hinted) === Set("fact", "dimb"),
        "a hinted chain must pass through")

      // veto: a non-simple leaf (aggregate under the join)
      val pre = dimb.groupBy($"dbk").agg(first($"bname").as("bname"))
      val agged = fact.join(pre, $"kb" === $"dbk")
        .join(dima, $"ka" === $"dak")
      assert(innermostTables(agged) === Set("fact", "dimb"),
        "an aggregate-shaped leaf must pass through")

      // composition: steering broadcasts the ordered chain's dims
      // in the same batch (order first, steer second), with Spark's
      // own size-based broadcast off
      val composed = worst(Session.fork(spark,
        Seq(new TransparentJoinSteeringRule(_,
          broadcastBytes = 32L * 1024 * 1024, skewAvgFreq = 1e9),
          new TransparentJoinOrderingRule(_)),
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")), dir)
      assert(innermostTables(composed) === Set("fact", "dima"))
      assert(composed.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "the steering rule must hint the ordered chain's dims")
    }
  }

  test("interior Filters and SubqueryAliases are transparent; residual predicates survive the reorder (r16)") {
    withIndexRoot("graft-tjo-interior") {
      val dir = tmpDir("graft-tjo-interior-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      val f = ordering()
      // a NON-PUSHABLE interior filter: it references BOTH sides of
      // the first join, so Catalyst cannot push it below — before
      // r16 it truncated every flatten at two leaves
      def interior(s: SparkSession) = {
        val fact = graft.Tables(s, dir, "fact")
        val dima = graft.Tables(s, dir, "dima").where($"dak" <= 5L)
        val dimb = graft.Tables(s, dir, "dimb")
        fact
          .join(dimb, $"kb" === $"dbk")
          .where($"payload" + $"dbk" > 2L)
          .join(dima, $"ka" === $"dak")
      }
      assert(innermostTables(interior(f)) === Set("fact", "dima"),
        s"an interior filter must not truncate the flatten:\n${interior(f).queryExecution.optimizedPlan}")
      // the residual predicate SURVIVES the rewrite: result equals
      // the unruled plan's
      val got = interior(f).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      val want = interior(spark).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      assert(got.sameElements(want),
        "the interior-filter rewrite must be result-invisible")

      val fact = graft.Tables(f, dir, "fact")
      val dima = graft.Tables(f, dir, "dima").where($"dak" <= 5L)
      val dimb = graft.Tables(f, dir, "dimb")
      // a SubqueryAlias-wrapped interior (the generated-BI CTE
      // shape) flattens too
      def aliased = fact
        .join(dimb, $"kb" === $"dbk").alias("mid")
        .join(dima, $"ka" === $"dak")
      assert(innermostTables(aliased) === Set("fact", "dima"),
        s"an interior alias must not truncate the flatten:\n${aliased.queryExecution.optimizedPlan}")

      // DEEPEST-LEGAL residual placement (r16 close): a residual
      // over the INNERMOST chosen pair (fact, dima) must sit below
      // the top join, not above the whole chain — the declared
      // plan's early filtering survives the reorder
      def deepResid(s: SparkSession) =
        worst(s, dir).where($"payload" + $"dak" > 2L)
      val drPlan = deepResid(f).queryExecution.optimizedPlan
      assert(innermostTables(deepResid(f)) === Set("fact", "dima"))
      val innerJoin = drPlan.collect {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
      }.last
      val filtersAboveInner = drPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.find(_ eq innerJoin).isDefined &&
              f.condition.references.exists(_.name == "dak") => f
      }
      assert(filtersAboveInner.nonEmpty &&
        !filtersAboveInner.exists(_.find {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join =>
            !(jn eq innerJoin)
          case _ => false
        }.isDefined),
        s"the residual must sit directly over the innermost join:\n$drPlan")
      val gotD = deepResid(f).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      val wantD = deepResid(spark).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      assert(gotD.sameElements(wantD),
        "deep placement must be result-invisible")

      // fixed point: the filtered rewrite re-optimizes to itself
      val rule = new TransparentJoinOrderingRule(f)
      val once = interior(f).queryExecution.optimizedPlan
      assert(rule.apply(once).fastEquals(once),
        "the interior-filter rewrite must be a fixed point")
      val onceA = aliased.queryExecution.optimizedPlan
      assert(rule.apply(onceA).fastEquals(onceA),
        "the alias rewrite must be a fixed point")

      // the q87 pin is untouched: a plain chain (no interior
      // wrappers) reorders exactly as before
      assert(innermostTables(worst(f, dir)) === Set("fact", "dima"))
    }
  }

  test("a maintained-stats-only leaf participates in transparent ordering (r16)") {
    withIndexRoot("graft-tjo-maint") {
      val dir = tmpDir("graft-tjo-maint-data")
      writeTables(dir)
      // fact gets NO exact ANALYZE — only the O(batch)-maintained
      // tier (the streamed-table state); the dims are exact
      Seq("dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      graft.operators.StatsMaintain.ensure(spark, dir, "fact")
      val f = ordering()
      assert(innermostTables(worst(f, dir)) === Set("fact", "dima"),
        s"maintained evidence must license the reorder:\n${worst(f, dir).queryExecution.optimizedPlan}")
      // a stale maintained artifact (append, no maintenance) fails
      // closed: the chain passes through untouched
      (1L to 10L).map(i => (99L, 99L, 900000L + i))
        .toDF("ka", "kb", "payload")
        .write.mode("append").parquet(s"$dir/fact.parquet")
      assert(innermostTables(worst(f, dir)) === Set("fact", "dimb"),
        "appended-but-unmaintained evidence must veto the reorder")
    }
  }

  test("learned-tier enumeration memoizes under store watermarks; one observation re-keys it (r16)") {
    withIndexRoot("graft-tjo-memo") {
      val dir = tmpDir("graft-tjo-memo-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      val f = ordering("spark.graft.ordering.tiers" -> "mcv,feedback")
      val once = worst(f, dir).queryExecution.optimizedPlan
      assert(innermostTables(worst(f, dir)) === Set("fact", "dima"))
      val rule = new TransparentJoinOrderingRule(f)
      val c1 = JoinOrderer.enumerations.get
      assert(rule.apply(once).fastEquals(once))
      assert(JoinOrderer.enumerations.get === c1,
        "tiers ON + stores unchanged: the hold-still answer must come from the memo, not a re-enumeration")
      // ONE recorded observation moves the feedback-store watermark
      // — the next pass re-keys and re-enumerates exactly once
      graft.operators.CardFeedback.record(f,
        graft.Tables(f, dir, "dimb").where($"bname" === "b1"))
      assert(rule.apply(once).fastEquals(once),
        "an observation for an unrelated shape must not flip the choice")
      assert(JoinOrderer.enumerations.get === c1 + 1,
        "a store change must re-key the memo and re-enumerate once")
      // the re-enumerated choice re-memoizes under the new stamp
      val c2 = JoinOrderer.enumerations.get
      assert(rule.apply(once).fastEquals(once))
      assert(JoinOrderer.enumerations.get === c2,
        "the new stamp serves from the memo again")
    }
  }

  test("session-config tiers thread feedback into the transparent rule; unset keeps the uniform pin") {
    withIndexRoot("graft-tjo-tiers") {
      val dir = tmpDir("graft-tjo-tiers-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      def worst(s: SparkSession) = {
        val fact = graft.Tables(s, dir, "fact")
        // dima's second conjunct is outside the algebra (arithmetic on
        // the attribute — pmod survives constant folding, unlike the
        // +0 trick the opt-in spec uses on UNoptimized plans) ->
        // Selinger default 1/3 underestimates its 30 true rows; dimb
        // estimates near its true 12
        val dima = graft.Tables(s, dir, "dima")
          .where($"dak" <= 30L && pmod($"dak", lit(1000L)) <= 30L)
        val dimb = graft.Tables(s, dir, "dimb").where($"dbk" <= 12L)
        fact
          .join(dima, $"ka" === $"dak")
          .join(dimb, $"kb" === $"dbk")
      }
      val uniform = ordering()
      // uniform algebra: the misestimated dima joins first
      assert(innermostTables(worst(uniform)) === Set("fact", "dima"),
        "with tiers unset the blind underestimate seeds dima")
      // record ONE execution of the leaf EXACTLY as the rule sees it
      // (the optimizer-stage subtree, fished from the plan itself)
      val probe = worst(uniform).queryExecution.optimizedPlan
      val leaf = probe.collect { case j: Join => j.children }.flatten
        .find(ch => SimpleSides.of(ch).exists(_._3 == "dima"))
        .getOrElse(fail("the dima leaf must be a simple side"))
      val observed = graft.operators.CardFeedback.record(spark,
        org.apache.spark.sql.graftbridge.planToDf(spark, leaf))
      assert(observed.contains(30L))
      val learning = ordering("spark.graft.ordering.tiers" -> "feedback")
      assert(innermostTables(worst(learning)) === Set("fact", "dimb"),
        "one recorded observation must flip the TRANSPARENT order")
      // result-invisible either way
      val learned = worst(learning).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      val plain = worst(uniform).select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      assert(learned.sameElements(plain))
      // the uniform pin stands on a session without the config
      assert(innermostTables(worst(uniform)) === Set("fact", "dima"),
        "without the config the declared uniform algebra stands")
    }
  }
}
