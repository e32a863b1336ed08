package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 operator gates. */
class Round14WaveSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q514: boundary-split series degenerate gracefully (empty level-2 " +
      "candidate set collapses the segment instead of throwing)") {
    import spark.implicits._
    // spike on day 1: the level-1 argmax lands at i1 = 1, so the left
    // level-2 call has an EMPTY candidate set (0 < i < 1) — pre-fix this
    // threw NoSuchElementException while the oracle's LIMIT-1 CTE went
    // empty; post-fix both engines collapse segment 1 identically
    val daily = (0 until 5).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong)), if (i == 0) 1000L else 0L)
    }.toDF("d", "v")
    val out = Changepoints.segment(daily).collect()
    assert(out.length == 3, s"expected 3 surviving segments, got " +
      out.map(_.getAs[Long]("seg_id")).mkString(","))
    assert(!out.map(_.getAs[Long]("seg_id")).contains(1L),
      "segment 1 must be absent (no-op left split at the parent boundary)")
    // the spike day is its own segment
    val seg2 = out.find(_.getAs[Long]("seg_id") == 2L).get
    assert(seg2.getAs[Long]("n_days") == 1L &&
      seg2.getAs[Long]("sum_units") == 1000L)
    // and the total day count survives
    assert(out.map(_.getAs[Long]("n_days")).sum == 5L)
  }

  test("q516: the profile finds a planted repeated window (mp = 0, " +
      "cross-pointing argmins) and respects the exclusion zone") {
    import spark.implicits._
    // 15-day series: windows at i=1 and i=8 are both (1,5,2,9); every
    // other window differs. The trivial-match zone |i-j| <= 2 must not
    // let a window claim its overlapping neighbor.
    val vs = Seq(1L, 5L, 2L, 9L, 0L, 0L, 0L, 1L, 5L, 2L, 9L, 7L, 3L, 8L, 4L)
    val daily = vs.zipWithIndex.map { case (v, i) =>
      ("a", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1)
        .plusDays(i.toLong)), v)
    }.toDF("t", "d", "v")
    val prof = MatrixProfile.profile(daily)
      .collect().map(r => (r.getLong(1), (r.getLong(3), r.getLong(4))))
      .toMap
    assert(prof.size == vs.length - MatrixProfile.MpLen + 1)
    assert(prof(1L) == ((0L, 8L)), s"window 1 -> ${prof(1L)}")
    assert(prof(8L) == ((0L, 1L)), s"window 8 -> ${prof(8L)}")
    // no other window is a perfect match, and no argmin sits inside
    // the exclusion zone
    prof.foreach { case (i, (mp, j)) =>
      assert(math.abs(i - j) > MatrixProfile.MpExcl,
        s"window $i matched inside the exclusion zone: $j")
      if (i != 1L && i != 8L) assert(mp > 0L, s"unexpected 0 at $i")
    }
  }

  test("q517: Luby MIS is independent and maximal on a hand graph and " +
      "on the fixture graph") {
    import spark.implicits._
    def checkMisOn(sym: org.apache.spark.sql.DataFrame): Unit = {
      val edges = sym.as[(Long, Long)].collect()
      val mis = graft.operators.LubyMis.lubyMis(sym)._1
        .collect().map(_.getLong(0)).toSet
      // independence: no edge inside the MIS
      edges.foreach { case (u, v) =>
        assert(!(mis(u) && mis(v)), s"adjacent MIS members $u-$v")
      }
      // maximality: every non-member has a member neighbor
      val nodes = edges.map(_._1).toSet
      val nbrs = edges.groupBy(_._1).map { case (k, es) =>
        (k, es.map(_._2).toSet)
      }
      (nodes -- mis).foreach { v =>
        assert(nbrs(v).exists(mis),
          s"non-member $v has no MIS neighbor — not maximal")
      }
      assert(mis.nonEmpty)
    }
    // hand graph: a 5-path 1-2-3-4-5 plus a triangle 6-7-8
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (6L, 8L))
    val e = canon.toDF("u", "v")
    val sym = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint()
    checkMisOn(sym)
    checkMisOn(graft.operators.KTruss.ktEdges(spark, dir).localCheckpoint())
  }

  test("q518: the systematic sample takes exactly one row per " +
      "consecutive block of K, at the fixed offset") {
    val rs = SystematicSample.q518SystematicSample(spark, dir)
      .collect().map(_.getLong(1))
    val n = graft.core.Tables.orders(spark, dir).count()
    assert(rs.nonEmpty && rs.forall(r =>
      r % SystematicSample.SysK == SystematicSample.SysOffset))
    assert(rs.sorted.sameElements(rs), "sample must come back rank-ordered")
    rs.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(1) - w(0) == SystematicSample.SysK)
    }
    assert(rs.length ==
      ((n - SystematicSample.SysOffset) / SystematicSample.SysK + 1),
      "sample size must be the exact block count")
  }

  test("q519: Kruskal-Wallis H matches the textbook value on clean " +
      "separation and the tie-corrected pieces are exact") {
    import spark.implicits._
    // two cleanly separated groups of 3: ranks 1-3 vs 4-6 -> H = 27/7
    val rows = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 40L), ("b", 50L), ("b", 60L)).toDF("grp", "v")
    val out = KruskalWallis.kwTest(rows).collect().head
    assert(out.getAs[Long]("n") == 6L && out.getAs[Long]("k") == 2L)
    // S_a = 12, S_b = 30 (doubled ranks); qsum = 144/12 + 900/12 = 87
    assert(out.getAs[Long]("q_sum") == 87L)
    assert(out.getAs[Long]("tie_sum") == 0L)
    assert(math.abs(out.getAs[Double]("h") - 27.0 / 7.0) < 1e-12)
    // tied data: a 3-way tie contributes t^3 - t = 24 to the correction
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 6L))
      .toDF("grp", "v")
    val t = KruskalWallis.kwTest(tied).collect().head
    assert(t.getAs[Long]("tie_sum") == 24L)
    assert(!t.getAs[Double]("h").isNaN)
  }

  test("q521: Friedman Q = 6 on 3 blocks with a perfect treatment " +
      "ordering, from exact integer pieces") {
    import spark.implicits._
    val d0 = java.time.LocalDate.of(2024, 5, 1)
    val daily = (0 until 3).flatMap { b =>
      Seq(("a", 10L + b), ("b", 20L + b), ("c", 30L + b)).map {
        case (t, v) =>
          (t, java.sql.Date.valueOf(d0.plusDays(b.toLong)), v)
      }
    }.toDF("t", "d", "v")
    val out = FriedmanTest.friedman(daily).collect().head
    assert(out.getAs[Long]("n_days") == 3L && out.getAs[Long]("k") == 3L)
    assert(out.getAs[Long]("num") == 72L && out.getAs[Long]("den") == 24L)
    assert(math.abs(out.getAs[Double]("q") - 6.0) < 1e-12)
  }

  test("q520: coreness matches the hand decomposition (K4 nodes 3, " +
      "triangle nodes 2, pendant 1) and the H-index fixpoint is " +
      "self-consistent on the fixture") {
    import spark.implicits._
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val e = canon.toDF("u", "v")
    val sym = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint()
    val got = graft.operators.Coreness.coreness(sym)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 1L)
    assert(got == expected, s"coreness $got != $expected")
    // fixture self-consistency: within the induced subgraph of nodes
    // with coreness >= c, every node keeps >= c neighbors (the k-core
    // definition, re-checked from the output itself)
    val fx = graft.operators.KTruss.ktEdges(spark, dir).localCheckpoint()
    val cor = graft.operators.Coreness.coreness(fx)._1.localCheckpoint()
    val maxC = cor.agg(max($"coreness")).head().getLong(0)
    (2L to maxC).foreach { c =>
      val nodes = cor.filter($"coreness" >= c).select($"v")
      val degIn = fx.join(nodes.select($"v".as("u")), Seq("u"), "left_semi")
        .join(nodes, Seq("v"), "left_semi")
        .groupBy($"u").agg(count(lit(1)).as("d"))
      val short = degIn.filter($"d" < c).count()
      assert(short == 0L, s"$short nodes under-degreed in the $c-core")
    }
  }

  test("q522: the JP coloring is proper (no monochromatic edge), " +
      "respects the greedy deg+1 bound, and rounds never co-color " +
      "neighbors") {
    import spark.implicits._
    val fx = graft.operators.KTruss.ktEdges(spark, dir).localCheckpoint()
    val col = graft.operators.JpColoring.jpColoring(fx)._1.localCheckpoint()
    // propriety + per-round independence in one edge join
    val bad = fx
      .join(col.select($"v".as("u"), $"color".as("cu"), $"r".as("ru")), "u")
      .join(col.select($"v", $"color".as("cv"), $"r".as("rv")), "v")
      .filter($"cu" === $"cv" || $"ru" === $"rv")
      .count()
    assert(bad == 0L, s"$bad monochromatic or same-round edges")
    // greedy bound
    val deg = fx.groupBy($"u".as("v")).agg(count(lit(1)).as("deg"))
    val over = col.join(deg, "v").filter($"color" > $"deg" + 1L).count()
    assert(over == 0L, "a color exceeded the greedy deg+1 bound")
  }

  test("q523: the matview rewrite fires only for derivable shapes — " +
      "a filter blocks it, AVG blocks it, and the rewritten result " +
      "equals the rule-off result") {
    import spark.implicits._
    import graft.plans.MatviewRewrite
    val base = MatviewRewrite.ensureMatview(spark, dir)
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ MatviewRewrite
    try {
      val good = spark.table(base).groupBy($"l_returnflag")
        .agg(sum($"qty_c").as("sq"), count(lit(1)).as("n"))
      assert(scansOf(good).forall(_.contains("graft_mvli_")),
        s"derivable shape not rewritten: ${scansOf(good)}")
      val filtered = spark.table(base).filter($"qty_c" > 0L)
        .groupBy($"l_returnflag").agg(sum($"qty_c").as("sq"))
      assert(scansOf(filtered).forall(_.contains("graft_mvbase_")),
        s"a FILTER must block the rewrite: ${scansOf(filtered)}")
      val avged = spark.table(base).groupBy($"l_returnflag")
        .agg(avg($"qty_c").as("aq"))
      assert(scansOf(avged).forall(_.contains("graft_mvbase_")),
        s"AVG is not derivable and must block: ${scansOf(avged)}")
      val got = good.orderBy($"l_returnflag")
        .as[(String, Long, Long)].collect().toSeq
      spark.experimental.extraOptimizations = prev // rule OFF
      val want = spark.table(base).groupBy($"l_returnflag")
        .agg(sum($"qty_c").as("sq"), count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
        .as[(String, Long, Long)].collect().toSeq
      assert(got == want, s"rewritten $got != direct $want")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("q524: DTW is zero on elastic matches, exact on a hand grid, " +
      "symmetric, and never exceeds the Euclidean cost") {
    import graft.relational.DtwDistance.dtw
    // identical series
    assert(dtw(Seq(3L, 1L, 4L), Seq(3L, 1L, 4L)) == BigInt(0))
    // elastic: the plateau stretches to cover both 5s at zero cost —
    // exactly what q516's lock-step SSD cannot do
    assert(dtw(Seq(0L, 5L, 0L), Seq(0L, 5L, 5L, 0L)) == BigInt(0))
    // hand-computed 3x3 grid
    assert(dtw(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) == BigInt(2))
    // symmetry + Euclidean upper bound on equal-length series
    val x = Seq(4L, 8L, 15L, 16L, 23L, 42L)
    val y = Seq(8L, 4L, 16L, 15L, 42L, 23L)
    assert(dtw(x, y) == dtw(y, x))
    val euclid = x.zip(y).map { case (a, b) =>
      BigInt(a - b) * BigInt(a - b)
    }.sum
    assert(dtw(x, y) <= euclid, "DTW must never exceed lock-step cost")
  }

  test("q525: sweep concurrency is exact on hand intervals (nesting, " +
      "chains, instant intervals)") {
    import spark.implicits._
    // three users on one day: A [10:00,12:00], B [10:30,11:00],
    // C [11:30,11:30] (instant) -> peak 2, first reached at 10:30
    def ts(hm: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $hm:00")
    val ev = Seq(
      (1L, ts("10:00")), (1L, ts("12:00")),
      (2L, ts("10:30")), (2L, ts("11:00")),
      (3L, ts("11:30")))
      .map { case (u, t) => graft.streaming.Event(u * 100 + t.getTime %
        100000, u, "view", t, 0.0) }
    // feed through the same shape the operator builds from events
    val iv = ev.toDF().groupBy($"user_id".as("u"), to_date($"ts").as("d"))
      .agg(min($"ts").as("st"), max($"ts").as("en"))
    val pts = iv.select($"u", $"st".as("ts"), lit(1L).as("delta"))
      .unionAll(iv.select($"u", $"en".as("ts"), lit(-1L).as("delta")))
      .withColumn("dsort", -$"delta")
    val cum = QuantileNormalize.fullCumSum(pts,
      Seq(col("ts"), col("dsort"), col("u")), "delta" -> "cc")
    val got = cum.orderBy($"ts", $"dsort", $"u")
      .select($"cc").as[Long].collect().toSeq
    // order: +A(10:00)=1, +B(10:30)=2, -B(11:00)=1, +C=2, -C=1,
    // -A(12:00)=0
    assert(got == Seq(1L, 2L, 1L, 2L, 1L, 0L), s"sweep $got")
  }

  test("q526: shrinkage pulls a 1-for-1 entity far below a " +
      "950-for-1000 one, and high-volume rates barely move") {
    import spark.implicits._
    // population of mostly ~30% rates + the two cases of interest
    val counts = ((1L to 50L).map(i => (i, 100L, 30L + (i % 7))) ++
      Seq((98L, 1L, 1L), (99L, 1000L, 950L))).toDF("p", "n", "k")
    val out = EmpiricalBayes.ebShrink(counts)
      .collect().map(r => (r.getLong(0),
        (r.getLong(3), r.getLong(4)))).toMap
    val (raw1, post1) = out(98L)     // 1-for-1
    val (rawBig, postBig) = out(99L) // 950-for-1000
    assert(raw1 == 1000000L && rawBig == 950000L)
    assert(post1 < postBig,
      s"1-for-1 ($post1) must rank below 950/1000 ($postBig)")
    // the high-volume entity keeps most of its own rate
    assert(math.abs(postBig - rawBig) < 100000L,
      s"high-volume rate moved too far: $rawBig -> $postBig")
    // the 1-for-1 rate collapses most of the way toward the pool mean
    assert(post1 < 700000L, s"1-for-1 barely shrunk: $post1")
  }

  test("q515: trussness decomposes a hand graph exactly (K4 edges 4, " +
      "attached-triangle edges 3, pendant edge 2)") {
    import spark.implicits._
    // K4 on {1,2,3,4}; triangle {4,5,6} sharing vertex 4; pendant 6-7
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val e = canon.toDF("u", "v")
    val sym = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
      .localCheckpoint()
    val got = graft.operators.KTruss.trussness(sym)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val k4 = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tri = Set((4L, 5L), (4L, 6L), (5L, 6L))
    canon.foreach { uv =>
      val expected = if (k4(uv)) 4L else if (tri(uv)) 3L else 2L
      assert(got(uv) == expected, s"edge $uv trussness ${got(uv)}, " +
        s"expected $expected")
    }
  }
}
