package graft.relational

import graft.SparkSpec
import graft.core.GraftSession.withConfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Scale-plan pins for the headline multi-join queries (q04/q82/q83).
  *
  * The 100 TB contract: only FIXED-cardinality dimensions (nation=25,
  * region=5 — they do not grow with scale factor) may carry a hard
  * `broadcast()` hint. Tables that scale with SF (customer 150k/SF,
  * supplier 10k/SF, part 200k/SF) must be left to AQE, which broadcasts
  * them while they actually fit and demotes to a shuffle join when they
  * do not. A hard hint can never be demoted — at 100 TB it is a
  * driver/executor OOM.
  *
  * This spec simulates the at-scale regime by disabling auto-broadcast
  * (`autoBroadcastJoinThreshold=-1`, i.e. "no table is small enough"):
  * in that regime the ONLY BroadcastExchange nodes allowed in the plan
  * are those whose subtree scans nation/region, and the scaling edges
  * must plan as sort-merge joins.
  */
class ScalePlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val FixedDims = Set("nation.parquet", "region.parquet")

  /** Parquet leaf file names (`<table>.parquet`) scanned under `p`. */
  private def scannedTables(p: SparkPlan): Set[String] =
    p.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).toSet
    }.flatten.toSet

  private def assertOnlyFixedDimsBroadcast(df: DataFrame, label: String): Unit = {
    // with autoBroadcastJoinThreshold=-1 (and AQE off so exchanges are
    // static) the only BroadcastExchanges present are those forced by a
    // hard hint
    val plan = df.queryExecution.executedPlan
    val broadcastScans = plan.collect { case b: BroadcastExchangeExec =>
      scannedTables(b)
    }
    broadcastScans.foreach { tables =>
      val scaling = tables -- FixedDims
      assert(scaling.isEmpty,
        s"$label: hard broadcast hint on sf-scaling table(s) $scaling — " +
          s"at 100 TB this is an OOM; plan:\n${plan.treeString}")
    }
    assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
      s"$label: expected the scaling edges to plan as sort-merge joins " +
        s"in the no-broadcast regime; plan:\n${plan.treeString}")
  }

  /** Run `body` in the simulated at-scale regime: nothing qualifies for
    * auto-broadcast and exchanges are static (AQE off) so the executed
    * plan is inspectable.
    */
  private def atScaleRegime[A](body: => A): A =
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")(body)

  test("q04/q82/q83 broadcast only fixed-cardinality dims at scale") {
    atScaleRegime {
      assertOnlyFixedDimsBroadcast(
        RelationalQueries.q04JoinBroadcast(spark, dir), "q04")
      assertOnlyFixedDimsBroadcast(
        AnalyticalQueries.q82ShippingPriority(spark, dir), "q82")
      assertOnlyFixedDimsBroadcast(
        AnalyticalQueries.q83LocalSupplierVolume(spark, dir), "q83")
    }
  }

  test("q83 still hard-broadcasts the fixed dims (nation/region)") {
    atScaleRegime {
      val plan = AnalyticalQueries.q83LocalSupplierVolume(spark, dir)
        .queryExecution.executedPlan
      val broadcasted = plan.collect { case b: BroadcastExchangeExec =>
        scannedTables(b)
      }.flatten.toSet
      assert(broadcasted == FixedDims,
        s"q83: expected exactly nation+region broadcast, got $broadcasted")
    }
  }

  test("predicates push into the parquet scan and columns prune") {
    atScaleRegime {
    // pushdown: q02's eq/range/IN filters must reach the part scan —
    // at 100 TB the difference between reading row groups and skipping
    // them on statistics
    val scans2 = RelationalQueries.q02FilterPredicates(spark, dir)
      .queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans2.nonEmpty)
    val pushed = scans2.map(_.metadata.getOrElse("PushedFilters", "[]"))
      .mkString(";")
    assert(pushed.exists(_.isLetter) && !pushed.replace(";", "").equals("[]"),
      s"q02: no filters pushed to the scan: $pushed")
    // pruning: q01 aggregates 7 of lineitem's 16 columns; the scan must
    // not materialize the rest (ReadSchema drives parquet column IO)
    val scan1 = RelationalQueries.q01PricingSummary(spark, dir)
      .queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    val readCols = scan1.output.map(_.name).toSet
    assert(readCols.size <= 8 && readCols.contains("l_quantity"),
      s"q01: scan reads unpruned column set $readCols")
    }
  }

  test("AQE skew join splits a hot partition (the zero-code counterpart " +
      "of q80's manual salting)") {
    import spark.implicits._
    // the skew story's second half: q80 proves the manual salt recipe;
    // this pins Spark's automatic variant — AQE detecting an oversized
    // shuffle partition at runtime and splitting it, marked skew=true
    // in the finalized plan. Thresholds are scoped down so a test-sized
    // hot key (one key carrying ~75% of all rows) trips the same logic
    // a multi-GB hot partition trips in production.
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB") {
      val hot = spark.range(0, 200000)
        .select(when($"id" < 150000, 0L).otherwise($"id" % 1000).as("k"),
          $"id".as("payload"))
      val dim = spark.range(0, 1000).select($"id".as("k"),
        ($"id" * 2).as("dim_v"))
      val joined = hot.join(dim, "k")
      // materialize THIS queryExecution (count() would attach a new
      // one and AQE only finalizes the executed plan)
      assert(joined.collect().length == 200000,
        "unexpected join cardinality — fixture drifted")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot partition; finalized plan:\n$finalPlan")
    }
  }

  test("round-6 headliners: filters reach the scans (q153/q165), " +
      "q165's HAVING aggregates before any join") {
    // q153 (Q10): the quarter filter must hit the orders scan and the
    // returnflag filter the lineitem scan — at 100 TB these are the
    // difference between reading one quarter and reading seven years
    // sparkPlan, not executedPlan: AQE wraps the latter and hides the
    // scans until finalization
    val s153 = AnalyticalQueries.q153ReturnedItems(spark, dir)
      .queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val byFile = s153.map(s => s.metadata.getOrElse("Location", "") ->
      s.metadata.getOrElse("PushedFilters", "[]"))
    assert(byFile.exists { case (loc, pf) =>
      loc.contains("orders") && pf.contains("o_orderdate") }, s"q153 orders: $byFile")
    assert(byFile.exists { case (loc, pf) =>
      loc.contains("lineitem") && pf.contains("l_returnflag") }, s"q153 lineitem: $byFile")
    // q165 (Q18): the qualifying-order aggregate must sit BELOW the
    // first join (plan order: HashAggregate before SortMergeJoin /
    // BroadcastHashJoin on the lineitem branch) — the HAVING shrinks
    // the join input, never the join output
    val p165 = AnalyticalQueries.q165LargeVolume(spark, dir)
      .queryExecution.optimizedPlan.toString
    val aggIdx = p165.indexOf("Aggregate")
    val joinIdx = p165.indexOf("Join")
    assert(aggIdx >= 0 && joinIdx >= 0 && p165.indexOf("Filter") >= 0,
      s"q165 plan shape unexpected:\n$p165")
    assert(p165.indexOf("Aggregate", joinIdx) > joinIdx,
      s"q165: no aggregate below the join (HAVING not pushed):\n$p165")
  }

  test("round-8: windows and their aggregates share one hash exchange " +
      "(q255/q259); q254 broadcasts only the bounded query set") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // q255/q259: the keyed window and the same-keyed groupBy must share
    // a single hash partitioning — one hash exchange + the presentation
    // range exchange, nothing more. A second hash exchange means the
    // aggregate re-shuffled data the window already co-located.
    atScaleRegime { // adaptive off: exchanges visible in the static plan
      Seq(
        "q255" -> graft.llm.TextPipeline.q255ShardManifest(spark, dir),
        "q259" -> TimeSeriesQueries.q259Twap(spark, dir)
      ).foreach { case (label, df) =>
        val exchanges = df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        val hashCount = exchanges.count(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
        assert(hashCount == 1,
          s"$label: expected exactly 1 hash exchange (window+agg shared), " +
            s"got $hashCount: $exchanges")
      }
    }
    // q254: in the no-auto-broadcast regime the only broadcast is the
    // hard hint on the BOUNDED query set (vec_id < QuerySetSize — a
    // constant-cardinality side at any SF), never the corpus
    atScaleRegime {
      val plan = graft.llm.VectorSearch.q254KnnLabelAudit(spark, dir)
        .queryExecution.executedPlan
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, "q254: bounded query set must broadcast")
      bcasts.foreach { b =>
        assert(b.toString.contains("vec_id"),
          s"q254: broadcast side lacks the bounding vec_id filter:\n$b")
        assert(b.find(_.toString.contains("vec_id <")).isDefined ||
          b.find(_.toString.contains("< " + graft.llm.VectorSearch.QuerySetSize)).isDefined,
          s"q254: broadcast subtree is not the bounded query set:\n${b.treeString}")
      }
    }
  }

  test("round-8k: q312 routes both top-k stages through the custom heap " +
      "exec; q318's only broadcast is a 1-row aggregate; q322 stays " +
      "equi-join-only; q327 holds one generator (hashing stays in HOFs)") {
    atScaleRegime { // adaptive off: custom execs visible in the static plan
      // q312: the item-kNN cap AND the final per-customer top-10 must
      // both run on TopKPerGroupExec — a regression to WindowExec would
      // silently re-sort 21M scored rows at sf0.1
      val q312 = graft.relational.TableStatsQueries
        .q312RecsysHoldout(spark, dir)
      val heaps = q312.queryExecution.executedPlan.collect {
        case t: graft.plans.TopKPerGroupExec => t
      }
      assert(heaps.size == 2,
        s"q312: expected 2 TopKPerGroupExec (kNN cap + final top-10), " +
          s"got ${heaps.size}")

      // q318: the cross-joined 2m total must be the ONLY broadcast, and
      // it must be a grand aggregate (1 row by construction) — never a
      // scaling table
      val q318 = graft.operators.LabelPropagation
        .q318Modularity(spark, dir)
      val plan = q318.queryExecution.executedPlan
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, "q318: two_m must broadcast")
      bcasts.foreach { b =>
        val grandAgg = b.find {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            a.groupingExpressions.isEmpty
          case _ => false
        }
        assert(grandAgg.isDefined,
          s"q318: broadcast subtree is not a 1-row aggregate:\n${b.treeString}")
      }

      // q322: probe-prefix × full-index is an EQUI-join on the shingle
      // hash — any cartesian/BNLJ here is quadratic at scale
      val q322 = graft.llm.DedupQueries
        .q322ContainmentJoin(spark, dir)
      val p322 = q322.queryExecution.executedPlan
      assert(p322.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"q322: cartesian product in plan")
      assert(p322.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        "q322: expected sort-merge equi-joins in the no-broadcast regime")
    }

    atScaleRegime {
      // q327: the per-position window hashing must stay inside HOFs —
      // the plan gets exactly ONE generator (the chunk explode) and no
      // window
      val q327 = graft.llm.CdcChunking.q327CdcChunking(spark, dir)
      val p327 = q327.queryExecution.executedPlan
      val gens = p327.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.size == 1,
        s"q327: expected exactly 1 GenerateExec (chunk explode), got ${gens.size}")
      assert(p327.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "q327: unexpected window in the chunking plan")
    }
  }

  test("round-9: q351 has no single-partition window; q350/q364 filter " +
    "before their shuffles") {
    atScaleRegime {
      // q351 sequence packing: the two-level scan must leave NO window
      // with an empty partition spec on the corpus path — the one
      // window allowed to be global is the blocks-bounded offset frame,
      // which sits under an aggregate of ~n/PackBlock rows
      val q351 = graft.llm.CorpusOps.q351SeqPacking(spark, dir)
      val p351 = q351.queryExecution.executedPlan
      val globals = p351.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globals.size <= 1,
        s"q351: ${globals.size} global-order windows; only the " +
          s"blocks-bounded offset frame may sort globally:\n${p351.treeString}")
      globals.foreach { w =>
        val aggsBelow = w.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(aggsBelow.nonEmpty,
          "q351: the global window must sit above the per-block " +
            "aggregate (bounded frame), not the raw docs")
      }
      // q364 BM25: the query-term IN filter must land BELOW the
      // tf aggregate (posting-list discipline) — no corpus-wide
      // (doc, term) aggregation of non-query tokens
      val q364 = graft.llm.TextPipeline.q364Bm25(spark, dir)
      val p364 = q364.queryExecution.executedPlan
      val aggWithFilterBelow = p364.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.collect {
              case f: org.apache.spark.sql.execution.FilterExec
                  if f.condition.toString.contains("tok") => f
            }.nonEmpty => a
      }
      assert(aggWithFilterBelow.nonEmpty,
        s"q364: token filter did not land below the tf aggregate:\n${p364.treeString}")
    }
  }

  test("round-13: q488/q489/q492 carry no single-task Window/Exchange " +
    "(the rank-discipline sweep, enforced)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    atScaleRegime {
      // q488: the len×len band self-join is gone — contexts are two
      // array slices inside one projection. The plan must hold ZERO
      // joins and ZERO windows: generators + one census aggregate only.
      val p488 = graft.llm.Word2vecPrep.q488SkipGrams(spark, dir)
        .queryExecution.executedPlan
      assert(p488.collect { case w: WindowExec => w }.isEmpty,
        s"q488: window in the zero-shuffle pair generator:\n${p488.treeString}")
      assert(p488.collect {
        case j: SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"q488: join in the array-local pair plan:\n${p488.treeString}")

      // q489/q492: the cumulative runs on fullCumSum's two-level scan.
      // Any surviving global (empty-partition-spec) window and any
      // SinglePartition exchange must carry the PID-OFFSETS frame —
      // grouped by spark_partition_id, so its cardinality is the range
      // partition count (32), never corpus/vocabulary-scale rows. An
      // aggregate grouped by a data column below the window is NOT
      // enough (the pre-sweep plans had exactly that: a global window
      // over the term/value census — Heaps-law-sized at 100 TB).
      def pidBounded(p: SparkPlan): Boolean = p.collect {
        case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("pid")) => a
      }.nonEmpty
      Seq(
        "q489" -> graft.llm.Word2vecPrep.q489NegSampleTable(spark, dir),
        "q492" -> SpearmanCorr.q492Spearman(spark, dir)
      ).foreach { case (label, df) =>
        val plan = df.queryExecution.executedPlan
        plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.foreach { w =>
          assert(pidBounded(w),
            s"$label: global window over a frame not bounded by the " +
              s"pid-offsets aggregate:\n${w.treeString}")
        }
        plan.collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning == SinglePartition => e
        }.foreach { e =>
          assert(pidBounded(e),
            s"$label: single-partition exchange of a frame not bounded " +
              s"by the pid-offsets aggregate:\n${e.treeString}")
        }
      }
    }
  }

  test("round-14: q508's pair join carries the calendar-bin key " +
    "(no bare-customer self-join survives)") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec}
    atScaleRegime {
      // The r13 verdict's one weak flag: a self-join on the customer key
      // alone materializes orders² candidates inside each SMJ group — a
      // heavy account with 10⁶ orders is 10¹² pairs. The fix buckets the
      // join on (c, 7-day bin); every equi-join in the executed plan
      // (bought is checkpointed, so the only joins left ARE the pair
      // join) must carry the _bin key alongside c.
      val plan = SequentialPairs.q508SequentialPairs(spark, dir)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => (j.leftKeys, j.treeString)
        case j: BroadcastHashJoinExec => (j.leftKeys, j.treeString)
        case j: ShuffledHashJoinExec => (j.leftKeys, j.treeString)
      }
      assert(joins.nonEmpty, s"q508: pair join missing:\n${plan.treeString}")
      joins.foreach { case (keys, tree) =>
        assert(keys.exists(_.toString.contains("_bin")),
          s"q508: equi-join without the calendar bin in its keys " +
            s"(per-customer quadratic fan-out at scale):\n$tree")
      }
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"q508: non-equi pair join:\n${plan.treeString}")
    }
  }

  test("round-9c: q377 winnowing joins only on the fingerprint key " +
    "(no cartesian); q406's sketch side is one window over daily aggs") {
    atScaleRegime {
      // q377 winnowing: every join must be a hash/merge EQUI join —
      // the pair blowup is bounded by the fp equi-key + stop-fp cap,
      // and a nested-loop join would mean the key was lost. (q374's
      // posting-filter placement shares q364's code shape and pin;
      // its tf frame is checkpointed, so the filter is not visible in
      // this executed plan.)
      val q377 = graft.llm.Winnowing.q377Winnowing(spark, dir)
      val p377 = q377.queryExecution.executedPlan
      val nlJoins = p377.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(nlJoins.isEmpty,
        s"q377: non-equi join in the fingerprint pipeline:\n${p377.treeString}")
    }
  }

  test("round-14b: rank-machinery consumers stay pid-bounded and the " +
    "betweenness dependency join is pure equi") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    atScaleRegime {
      // every new doubled-rank / fullRank / fullCumSum
      // consumer: any global window or single-partition exchange must
      // carry the 32-row pid-offsets aggregate (the q489/q492 rule) —
      // NOT a data-column census that grows with the corpus
      def pidBounded(p: SparkPlan): Boolean = p.collect {
        case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains("pid")) => a
      }.nonEmpty
      Seq(
        "q527" -> BrownForsythe.q527BrownForsythe(spark, dir),
        "q528" -> JonckheereTerpstra.q528Jonckheere(spark, dir),
        "q535" -> AnsariBradley.q535AnsariBradley(spark, dir),
        "q538" -> CramerVonMises.q538CramerVonMises(spark, dir),
        "q542" -> MoodMedian.q542MoodMedian(spark, dir),
        "q545" -> PpsSample.q545PpsSample(spark, dir)
      ).foreach { case (label, df) =>
        val plan = df.queryExecution.executedPlan
        plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.foreach { w =>
          assert(pidBounded(w),
            s"$label: global window not bounded by the pid-offsets " +
              s"aggregate:\n${w.treeString}")
        }
        plan.collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning == SinglePartition => e
        }.foreach { e =>
          assert(pidBounded(e),
            s"$label: single-partition exchange not bounded by the " +
              s"pid-offsets aggregate:\n${e.treeString}")
        }
      }
      // q531: the Brandes pair-dependency assembly must be equi-joins
      // only — a nested-loop there is the n² betweenness no cluster
      // survives
      val p531 = graft.operators.Betweenness
        .betweenness(graft.operators.KTruss.ktEdges(spark, dir))
        .queryExecution.executedPlan
      val nl531 = p531.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(nl531.isEmpty,
        s"q531: non-equi join in the dependency assembly:\n${p531.treeString}")
    }
  }

  test("round-15: q559's edge build anti-joins the stop-shingle set, " +
      "q563 keeps the Apriori semi-join prune, q562's rounds are " +
      "equi-joins only") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    atScaleRegime {
    // q559: the df-capped shingle universe must reach the plan as an
    // anti-join against the (Zipf-bounded) hot set — without it one
    // skewed shingle turns the in-group pairing quadratic at scale
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val p559 = graft.operators.BoruvkaMst
      .jaccardDistEdges(graft.core.Tables.documents(spark, dir))
      .queryExecution.executedPlan
    val anti559 = p559.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => j
      case j: SortMergeJoinExec if j.joinType == LeftAnti => j
    }
    assert(anti559.nonEmpty,
      s"q559: stop-shingle anti-join missing:\n${p559.treeString}")
    // q563: the sound level-1 Apriori prune must survive as a semi-join
    // (it is what bounds the C(n,4) generation term at corpus scale)
    val p563 = FrequentItemsets.q563Itemsets4(spark, dir)
      .queryExecution.executedPlan
    val semi563 = p563.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      case j: ShuffledHashJoinExec if j.joinType == LeftSemi => j
      case j: SortMergeJoinExec if j.joinType == LeftSemi => j
    }
    assert(semi563.nonEmpty,
      s"q563: Apriori semi-join prune missing:\n${p563.treeString}")
    // q562: the SimRank ROUND expansion (the loop body — checkpointing
    // erases it from the final plan) must stay pure equi-joins: a
    // nested-loop anywhere in the round machinery is corpus²
    import spark.implicits._
    val edges562 = graft.operators.KTruss.ktEdges(spark, dir)
      .localCheckpoint()
    val deg562 = edges562.groupBy($"u".as("v"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("d"))
    val diag562 = edges562.select($"u".as("i")).distinct()
      .select($"i", $"i".as("j"),
        org.apache.spark.sql.functions.lit(
          graft.operators.SimRank.SrScale).as("sv"))
    val p562 = graft.operators.SimRank
      .roundExpansion(diag562, edges562, deg562)
      .queryExecution.executedPlan
    val nl562 = p562.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(nl562.isEmpty,
      s"q562: non-equi join in the SimRank round:\n${p562.treeString}")
    assert(p562.collect {
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: SortMergeJoinExec => j
    }.size >= 4,
      s"q562: round expansion lost its equi-join shape:\n${p562.treeString}")
    }
  }

  test("round-16: q569's scoring is equi-joins around one 1-row " +
      "broadcast, q570's coloring round and q571's climb round are " +
      "pure equi-joins") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    atScaleRegime {
    import spark.implicits._
    // q569: the only non-equi join allowed is the single-row vocab
    // total broadcast (the documented bounded form); tokenize/count/
    // weight/score all stay keyed equi-joins
    val p569 = graft.llm.LmPerplexity.lmPerplexity(
      graft.core.Tables.documents(spark, dir)
        .select("doc_id", "lang", "text"))
      .queryExecution.executedPlan
    val nl569 = p569.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(nl569.size <= 1,
      s"q569: more than the 1-row vRow broadcast:\n${p569.treeString}")
    assert(p569.collect {
      case j: BroadcastHashJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: SortMergeJoinExec => j
    }.size >= 4,
      s"q569: scoring lost its equi-join shape:\n${p569.treeString}")
    // q570: the coloring round body (the loop's join shape —
    // checkpointing erases it from final plans) must stay keyed
    // equi-joins: a nested loop here is corpus x corpus per round
    val (e570, _) = graft.operators.SccColoring.edges(spark, dir)
    val edges570 = e570.localCheckpoint()
    val live570 = edges570.select($"u".as("node"))
      .unionAll(edges570.select($"v")).distinct().localCheckpoint()
    val col570 = live570.select($"node", $"node".as("col"))
    val p570 = graft.operators.SccColoring
      .colorStep(col570, edges570, live570)
      .queryExecution.executedPlan
    assert(p570.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty,
      s"q570: non-equi join in the coloring round:\n${p570.treeString}")
    // q571: the LCA-climb round body — two keyed parent lookups, no
    // nested loop (the climb state is one row per non-tree edge)
    val st571 = Seq((1L, 2L, 1L, 3L, 2L, 2L)).toDF(
      "a", "b", "x", "dx", "y", "dy")
    val pm571 = Seq((1L, 4L, 3L), (2L, 4L, 2L)).toDF(
      "node", "parent", "depth")
    val p571 = graft.operators.Bridges.climbJoined(st571, pm571)
      .queryExecution.executedPlan
    assert(p571.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty,
      s"q571: non-equi join in the climb round:\n${p571.treeString}")
    }
  }

  test("round-17: q578's rerank stays keyed equi/semi joins past the " +
      "checkpointed token-dot stage, q579 composes two anti-joins " +
      "with the key side broadcast") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec,
      ShuffledHashJoinExec}
    atScaleRegime {
    // q578: the one intended non-equi join (bounded query tokens
    // broadcast against the streaming corpus) is paid INSIDE the
    // eager token-dot checkpoint; everything downstream — candidate
    // top-K, semi join, argmax/sum aggregates, per-query rank — must
    // be keyed. A nested loop HERE would be candidates × corpus.
    val p578 = graft.llm.MaxSim
      .maxSim(graft.core.Tables.embeddings(spark, dir),
        graft.llm.MaxSim.MsTokK)
      .queryExecution.executedPlan
    assert(p578.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty,
      s"q578: non-equi join in the rerank stage:\n${p578.treeString}")
    // q579: both delete kinds in one scan — at least two LeftAnti
    // joins, and the equality-key side rides a broadcast (the
    // erase-set is entity-bounded; shuffling the 100 TB base against
    // it would be the wrong side)
    val p579 = graft.sources.EqualityDeletes
      .q579EqualityDeletes(spark, dir)
      .queryExecution.executedPlan
    val antis = p579.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => ("b", j)
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => ("s", j)
      case j: SortMergeJoinExec if j.joinType == LeftAnti => ("s", j)
    }
    assert(antis.size >= 2,
      s"q579: expected both delete anti-joins:\n${p579.treeString}")
    assert(antis.exists(_._1 == "b"),
      s"q579: equality-key anti-join lost its broadcast:\n${p579.treeString}")
    }
  }
  test("round-17b: q580 is one partial-agged shuffle; q581's windows " +
      "stay (bucket, shard)-sliced; q585/q587 carry no data-sized " +
      "non-equi joins") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{CartesianProductExec,
      SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    atScaleRegime {
    // q580: the corpus touches exactly one aggregation shuffle (plus
    // the 3-row final sort) — a join or second corpus pass here would
    // break the one-pass moments contract
    val p580 = graft.relational.HigherMoments
      .q580HigherMoments(spark, dir).queryExecution.executedPlan
    val ex580 = p580.collect { case e: ShuffleExchangeExec => e }
    assert(ex580.size <= 2,
      s"q580: more than agg+sort exchanges:\n${p580.treeString}")
    assert(p580.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p580.collect { case j: CartesianProductExec => j }.isEmpty,
      s"q580: unexpected join:\n${p580.treeString}")
    // q581: every window partitions on BOTH bucket and shard — the
    // slice contract that keeps the rank off a corpus total order
    val p581 = graft.llm.LengthBucketing
      .q581LengthBucketing(spark, dir).queryExecution.executedPlan
    val wins = p581.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"q581: window gone:\n${p581.treeString}")
    wins.foreach { w =>
      val parts = w.partitionSpec.map(_.toString).mkString(",")
      assert(parts.contains("bucket") && parts.contains("shard"),
        s"q581: window not (bucket, shard)-sliced: $parts")
    }
    // q585: censuses + equi-joins only — no window, no cartesian
    val p585 = graft.llm.ConditionalEntropy
      .q585ConditionalEntropy(spark, dir).queryExecution.executedPlan
    assert(p585.collect { case w: WindowExec => w }.isEmpty,
      s"q585: unexpected window:\n${p585.treeString}")
    assert(p585.collect { case j: CartesianProductExec => j }.isEmpty,
      s"q585: cartesian join:\n${p585.treeString}")
    // q587: the only join is the 1-row N broadcast — no data-sized
    // merge join anywhere
    val p587 = graft.llm.TokenDispersion
      .q587TokenDispersion(spark, dir).queryExecution.executedPlan
    assert(p587.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"q587: data-sized join appeared:\n${p587.treeString}")
    }
  }
}
