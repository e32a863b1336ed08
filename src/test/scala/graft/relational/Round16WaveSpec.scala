package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 operator gates: the SMOTE past-cap candidate path, bigram
  * LM perplexity scoring, general directed SCC, and bridges /
  * articulation points.
  */
class Round16WaveSpec extends SparkSpec {

  // ---------------------------------------------------------------
  // q564 SMOTE — past-cap SRP-candidate path (r15 verdict note)
  // ---------------------------------------------------------------

  test("q564: the past-cap SRP-candidate path agrees row-for-row with " +
      "the exact broadcast path on a band-certain planted minority") {
    import spark.implicits._
    // minority = label 1 (4 rows vs 6): two pairs of EXACT duplicates —
    // identical vectors share every band bucket, so candidate recall
    // is certain and each member's true NN (cos exactly 1.0) is in the
    // candidate set regardless of which planes the seeds draw
    // single-axis duplicates: the Q20 norm is then a perfect square,
    // so sqrt(d)·sqrt(d) = d exactly and cos is EXACTLY 1.0
    val rows = Seq(
      (1L, 1, Array(1.0f, 0.0f, 0.0f)), (2L, 1, Array(1.0f, 0.0f, 0.0f)),
      (3L, 1, Array(0.0f, 0.75f, 0.0f)),
      (4L, 1, Array(0.0f, 0.75f, 0.0f)),
      (10L, 2, Array(0.0f, 1.0f, 1.0f)), (11L, 2, Array(0.0f, 0.5f, 0.25f)),
      (12L, 2, Array(1.0f, 1.0f, 0.0f)), (13L, 2, Array(0.5f, 0.0f, 1.0f)),
      (14L, 2, Array(0.25f, 0.25f, 0.25f)),
      (15L, 2, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nn_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Long]("s2_sum"),
        r.getAs[Long]("s2_normsq"))).sortBy(_._1)
    val exact = rowsOf(graft.llm.Smote.smote(rows))
    val cand = rowsOf(graft.llm.Smote.smote(rows, forceCandidates = true))
    assert(exact.length == 4, s"expected all 4 minority rows: $exact")
    assert(exact == cand, s"paths diverge:\n exact=$exact\n cand =$cand")
    // the duplicate partner IS the NN on both paths
    assert(exact.map(e => (e._1, e._2)) ==
      Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)))
    assert(exact.forall(_._3 == 1.0))
  }

  // ---------------------------------------------------------------
  // q569 bigram-LM perplexity
  // ---------------------------------------------------------------

  test("q569: a hand-computed 2-doc LM — add-one weights, OOV mapping, " +
      "exact micro-nat sums, shared-division cross-entropy") {
    import spark.implicits._
    // md5 buckets: doc 1 → 78 (train), doc 5 → 86 (held-out)
    val docs = Seq((1L, "en", "a b a b"), (5L, "en", "a b c"))
      .toDF("doc_id", "lang", "text")
    val out = graft.llm.LmPerplexity.lmPerplexity(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_train"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
        r.getAs[Long]("n_bigrams"), r.getAs[Long]("h_q"),
        r.getAs[Double]("ce_nats"), r.getAs[Boolean]("keep"))).toSeq
    // train stats: c2(a,b)=2, c2(b,a)=1, c1(a)=2, c1(b)=1, V=|{a,b}|+1=3
    // w(a,b) = ⌊1e6·ln(5/3)⌋ = 510825 ; w(b,a) = ⌊1e6·ln(4/2)⌋ = 693147
    // w(b,<unk>) = ⌊1e6·ln(4/1)⌋ = 1386294
    val w_ab = 510825L; val w_ba = 693147L; val w_bu = 1386294L
    assert(out == Seq(
      (1L, true, 4L, 0L, 3L, w_ab + w_ba + w_ab,
        (w_ab + w_ba + w_ab).toDouble / 3000000.0, true),
      (5L, false, 3L, 1L, 2L, w_ab + w_bu,
        (w_ab + w_bu).toDouble / 2000000.0, true)), s"got $out")
  }

  test("q569: every fixture weight sits ≥ 1e-6 from the nearest " +
      "integer — the measured libm-agreement margin (a 1-ulp LN " +
      "disagreement moves the pre-floor value ~3e-9)") {
    import spark.implicits._
    val wt = graft.llm.LmPerplexity.bigramWeightTable(
      graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "lang", "text"))
    val minDist = wt.select(
      least(col("w_raw") - floor(col("w_raw")),
        ceil(col("w_raw")) - col("w_raw")).as("d"))
      .agg(min(col("d"))).as[Double].head()
    info(f"min boundary distance at sf0.001: $minDist%.3e")
    assert(minDist > 1e-6, f"weight too close to floor boundary: $minDist%.3e")
  }

  // ---------------------------------------------------------------
  // q570 general SCC
  // ---------------------------------------------------------------

  test("q570: hand digraph — a 3-cycle, a 2-cycle, and two tail " +
      "singletons get min-member scc ids and sizes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (6L, 1L), (3L, 7L), (7L, 4L)).toDF("u", "v")
    val out = graft.operators.SccColoring.scc(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 2L), (5L, 4L, 2L), (6L, 6L, 1L), (7L, 7L, 1L)),
      s"got $out")
  }

  test("q570: a pure DAG chain collapses in ONE peel via the trim " +
      "fixpoint, and self-loop singletons stay singletons") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 9L))
      .toDF("u", "v")
    val (sccs, rounds) = graft.operators.SccColoring.sccWithRounds(chain)
    val out = sccs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L),
      (4L, 4L, 1L), (5L, 5L, 1L), (9L, 9L, 1L)), s"got $out")
    assert(rounds("peel") <= 2, s"chain took ${rounds("peel")} peels")
  }

  test("q570: fixture measurement — peel and propagation budgets " +
      "hold with margin at sf0.001 and sf0.01") {
    for ((sf, nExp) <- Seq(("sf0.001", 10L), ("sf0.01", 100L))) {
      val (e, _) = graft.operators.SccColoring
        .edges(spark, s"/root/testdata/$sf")
      val (sccs, rounds) = graft.operators.SccColoring.sccWithRounds(e)
      assert(sccs.count() == nExp)
      val maxProp = Seq("trim", "color", "harvest").map(rounds).max
      info(s"$sf: peels=${rounds("peel")} maxProp=$maxProp")
      assert(rounds("peel") <= graft.operators.SccColoring.SccMaxPeels / 2)
      assert(maxProp <= graft.operators.SccColoring.SccMaxProp / 2)
    }
    // q574's level fixpoint: depth-bounded on the condensation DAG
    val dir = "/root/testdata/sf0.001"
    val (_, levels) = graft.operators.SccColoring.sccLevelsFrom(
      graft.operators.SccColoring.edges(spark, dir)._1,
      graft.operators.SccColoring.sccTable(spark, dir))
    info(s"levels rounds=$levels")
    assert(levels <= graft.operators.SccColoring.SccMaxLevels / 2)
  }

  test("q574: condensation-DAG levels of the hand digraph — sources " +
      "level 0, longest-path levels downstream") {
    import spark.implicits._
    // SCCs {1,2,3}, {4,5}, {6}, {7}; condensed chain 6 → {1,2,3} → 7
    // → {4,5}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (6L, 1L), (3L, 7L), (7L, 4L)).toDF("u", "v")
    val out = graft.operators.SccColoring.sccLevels(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 3L, 1L), (4L, 2L, 3L), (6L, 1L, 0L),
      (7L, 1L, 2L)), s"got $out")
  }

  // ---------------------------------------------------------------
  // q575 per-group KL divergence
  // ---------------------------------------------------------------

  test("q575: hand 2-group KL — micro-floored log-ratio weights " +
      "(incl. negative ones), exact integer group sums") {
    import spark.implicits._
    val docs = Seq(("a", "x x y"), ("b", "x y y y")).toDF("g", "text")
    val out = graft.llm.KlDivergence.klByGroup(docs).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("vocab_g"),
        r.getAs[Long]("kl_q"),
        r.getAs[Long]("kl_micronats"))).toSeq
    // c_a=(x:2,y:1) N_a=3; c_b=(x:1,y:3) N_b=4; c_all=(x:3,y:4) N=7
    // w(a,x)=⌊1e6·ln(14/9)⌋=441832  w(a,y)=⌊1e6·ln(7/12)⌋=-538997
    // w(b,x)=-538997                w(b,y)=⌊1e6·ln(21/16)⌋=271933
    // micro-nats: ⌊344667/3⌋=114889, ⌊276802/4⌋=69200 (exact floors)
    assert(out == Seq(
      ("a", 3L, 2L, 344667L, 114889L),
      ("b", 4L, 2L, 276802L, 69200L)), s"got $out")
  }

  test("q575: fixture weights sit clear of the floor boundary (the " +
      "q569 libm-margin measurement)") {
    import spark.implicits._
    val wt = graft.llm.KlDivergence.klWeightTable(
      graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("lang").as("g"), col("text")))
    val minDist = wt.select(
      least(col("w_raw") - floor(col("w_raw")),
        ceil(col("w_raw")) - col("w_raw")).as("d"))
      .agg(min(col("d"))).as[Double].head()
    info(f"min boundary distance at sf0.001: $minDist%.3e")
    assert(minDist > 1e-6, f"weight too close to boundary: $minDist%.3e")
  }

  test("q576: hand 2-group JS — union-vocabulary terms (incl. " +
      "one-sided ones at exactly a·ln2 weight shape), symmetric halves") {
    import spark.implicits._
    val docs = Seq(("a", "x x y"), ("b", "x y y y")).toDF("g", "text")
    val out = graft.llm.KlDivergence.jsMatrix(docs).collect()
      .map(r => (r.getAs[String]("g1"), r.getAs[String]("g2"),
        r.getAs[Long]("js_p_q"),
        r.getAs[Long]("js_q_q"),
        r.getAs[Long]("js_micronats"))).toSeq
    // wp(x)=⌊1e6·ln(16/11)⌋=374693  wp(y)=⌊1e6·ln(8/13)⌋=-485508
    // wq(x)=⌊1e6·ln(6/11)⌋=-606136  wq(y)=⌊1e6·ln(18/13)⌋=325422
    // micro: ⌊263878/6⌋ + ⌊370130/8⌋ = 43979 + 46266 = 90245
    assert(out == Seq(("a", "b", 263878L, 370130L, 90245L)),
      s"got $out")
    // one-sided term: a third group sharing nothing with 'a' — every
    // term is one-sided, JS = ln 2 exactly (up to quantization):
    // ⌊2·693147/4⌋·2 = 346573 + 346573 = 693146 micro-nats
    val disjoint = Seq(("a", "x x"), ("c", "z z")).toDF("g", "text")
    val d = graft.llm.KlDivergence.jsMatrix(disjoint).collect().head
    assert(d.getAs[Long]("js_p_q") == 2L * 693147L &&
      d.getAs[Long]("js_q_q") == 2L * 693147L &&
      d.getAs[Long]("js_micronats") == 693146L, s"got $d")
  }

  test("q577: hand 10-doc Heaps curve — md5-order deciles, one new " +
      "token per decile, exact beta quantization") {
    import spark.implicits._
    // texts: one shared token + one unique token per doc ⟹ per md5-
    // order decile d: tokens_cum = 2d, vocab_cum = d+1, v1 = 2
    val docs = (1L to 10L).map(i => (i, s"common tok$i"))
      .toDF("doc_id", "text")
    val out = graft.llm.HeapsLaw.heapsGrowth(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    val betas = Seq(-1L, 584962L, 630929L, 660964L, 682606L, 699180L,
      712414L, 723308L, 732486L, 740362L)
    assert(out == (1 to 10).map(d => (d.toLong, d.toLong, 2L * d,
      d + 1L, betas(d - 1))), s"got $out")
  }

  test("q576: fixture weights sit clear of the floor boundary") {
    import spark.implicits._
    val raws = graft.llm.KlDivergence.jsWeightTable(
      graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("lang").as("g"), col("text")))
    val minDist = raws.select(
      least(col("w_raw") - floor(col("w_raw")),
        ceil(col("w_raw")) - col("w_raw")).as("d"))
      .agg(min(col("d"))).as[Double].head()
    info(f"q576 min boundary distance at sf0.001: $minDist%.3e")
    assert(minDist > 1e-6)
  }

  // ---------------------------------------------------------------
  // q571/q572 bridges + articulation points
  // ---------------------------------------------------------------

  test("q571/q572: hand graph — path+triangle, isolated edge, and a " +
      "4-cycle get the Tarjan-correct bridge and cut-vertex sets") {
    import spark.implicits._
    // comp A: 1-2-3 path into triangle {3,4,5}; comp B: edge 10-11;
    // comp C: 4-cycle 20-21-22-23
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L))
      .toDF("u", "v").withColumn("w", lit(1L))
    val (be, ap, _) = graft.operators.Bridges.census(edges)
    val bridges = be.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(bridges == Seq((1L, 2L, true), (2L, 3L, true),
      (3L, 4L, false), (3L, 5L, false), (4L, 5L, false),
      (10L, 11L, true), (20L, 21L, false), (20L, 23L, false),
      (21L, 22L, false), (22L, 23L, false)), s"got $bridges")
    val aps = ap.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(aps == Seq((1L, 1L, false), (2L, 2L, true), (3L, 3L, true),
      (4L, 2L, false), (5L, 2L, false), (10L, 1L, false),
      (11L, 1L, false), (20L, 2L, false), (21L, 2L, false),
      (22L, 2L, false), (23L, 2L, false)), s"got $aps")
  }

  test("q573: two-edge-connected components of the hand graph — " +
      "bridge-isolated nodes are singletons, cycles stay whole") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L))
      .toDF("u", "v").withColumn("w", lit(1L))
    val out = graft.operators.Bridges.twoEdgeCc(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (10L, 10L, 1L), (11L, 11L, 1L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L)),
      s"got $out")
  }

  test("q571/q572: fixture measurement — census round budgets hold " +
      "on both fixture graphs") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dir = "/root/testdata/sf0.001"
    val r1 = graft.operators.Bridges.census(
      graft.operators.BoruvkaMst.jaccardDistEdges(
        graft.core.Tables.documents(spark, dir)))._3.max
    val r2 = graft.operators.Bridges.census(
      graft.operators.Bridges.treeChordEdges(spark, dir))._3.max
    info(s"near-dup census maxRounds=$r1, tree+chords maxRounds=$r2")
    assert(r1 <= graft.operators.Bridges.BrMaxRounds / 2)
    assert(r2 <= graft.operators.Bridges.BrMaxRounds / 2)
  }
}
