package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BORŮVKA MINIMUM SPANNING TREE + SINGLE-LINKAGE MERGE ORDER
  * (Borůvka 1926; the O(log n)-round distributed MST — each round
  * EVERY component hooks along its minimum outgoing edge, so the
  * component count at least halves per round, the same round shape as
  * the CC/PageRank/LPA/Luby family; Gower–Ross JRSS-C'69 for the
  * equivalence that makes it matter here: the MST of a dissimilarity
  * graph determines the complete SINGLE-LINKAGE dendrogram — its
  * edges in ascending weight order ARE the merge sequence): the
  * near-dup family clusters at ONE fixed threshold (q101's connected
  * components at τ=0.7); this emits the full THRESHOLD SWEEP — which
  * Jaccard-distance level merges which document clusters — the
  * structure a curator actually tunes τ against (r14 verdict missing
  * item #2).
  *
  * Graph: the q43 exact n-gram Jaccard pair graph over `documents`
  * (df-capped shingle universe, kept pairs J ≥ 1/5 spelled as the
  * EXACT integer test 5·inter ≥ union — no float-literal boundary),
  * weighted by the integer distance
  *   dist_ppm = 10⁶ − (10⁶·inter) div union
  * (positive-operand floor division — identical in both engines).
  * Ties in dist_ppm are broken by the TOTAL edge order
  * (w, u, v), which makes the MST unique and every round
  * deterministic; under a total order a mutual hook is always the
  * SAME edge (each side's minimum is incident to both), so the
  * per-round chosen-edge set is a forest on components.
  *
  * Round mechanics (all DataFrame ops, zero per-row driver work):
  *   1. tag edges with both endpoint components (two equi-joins on the
  *      node key), keep cross-component edges;
  *   2. per-component min edge = one partial-aggregated min-struct;
  *   3. contraction: hook every component to its choice's other side,
  *      break the mutual 2-cycle toward the smaller id (forest roots),
  *      then POINTER-HALVE (p := p∘p) to the root — O(log chain)
  *      checkpointed join rounds;
  *   4. chosen edges enter the forest tagged with the EMITTED
  *      `merge_round` (the q522 "read it, never guess it" rule: the
  *      oracle unrolls [[MstMaxRounds]]/[[MstMaxHalve]] and the engine
  *      REQUIREs it never exceeds them — measured maxima at
  *      sf0.001/0.01/0.1: 2 rounds / 3 halvings (BASELINE.md,
  *      "Appendix: measurements from the retired probe mains");
  *      both loops are idempotent past convergence, so the SQL may
  *      safely over-unroll).
  *
  * `sl_rank` (ascending (w, u, v) rank over the final forest — the
  * Gower–Ross single-linkage merge ORDER) is computed with the
  * two-level fullCumSum scan, never a single-partition window.
  *
  * Scale shape: edges materialize once; each round is two equi-joins +
  * one agg on component keys, and the halving joins touch one row per
  * ACTIVE component — at 100 TB the round count stays O(log n) and
  * every shuffle is a plain key shuffle. The oracle replays every
  * round, every hook, every halving step value-for-value in SQL.
  */
object BoruvkaMst {

  import Entry.Q

  /** Outer-round unroll: measured max 2 at sf0.001/0.01/0.1
    * (+margin). Engine REQUIREs ≤ this; the SQL unrolls exactly this
    * many (idempotent once the forest spans).
    */
  val MstMaxRounds = 5
  /** Pointer-halving unroll per round: measured max 3
    * (+margin); halving is idempotent at the fixpoint, so
    * over-unrolling is safe.
    */
  val MstMaxHalve = 5

  /** q43's df cap, restated (graft.llm.DedupQueries.StopShingleDfCap). */
  val MstDfCap = 100

  /** Exact Jaccard-distance edges (u < v, dist_ppm) over the df-capped
    * trigram-shingle universe — the q43 inverted-index pipeline with
    * the keep test and the weight spelled in EXACT integers.
    */
  def jaccardDistEdges(docs: DataFrame)(implicit s: SparkSession)
      : DataFrame = {
    import s.implicits._
    val tri = graft.llm.DedupQueries.triShingles(docs)
      .select($"doc_id", xxhash64($"tg").as("tgh"))
    val hot = tri.groupBy($"tgh").agg(count(lit(1)).as("df"))
      .filter($"df" > MstDfCap).select($"tgh")
    val kept = tri.join(broadcast(hot), Seq("tgh"), "left_anti")
    val byShingle = kept.groupBy($"tgh")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
    val sizes = byShingle.select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = byShingle
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS d1, y AS d2))))"))
        .as("p"))
      .groupBy($"p.d1".as("u"), $"p.d2".as("v"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select($"doc_id".as("u"), $"n".as("n1")), "u")
      .join(sizes.select($"doc_id".as("v"), $"n".as("n2")), "v")
      .withColumn("un", $"n1" + $"n2" - $"inter")
      .filter($"inter" * 5L >= $"un")
      .select($"u", $"v",
        (lit(1000000L) - expr("(1000000 * inter) div un")).as("w"))
  }

  /** The near-dup edge list as a build-once PERSISTED table per
    * (JVM, dir) — the r12 [[graft.core.IndexStore]] discipline applied
    * to the round-16 graph family (r16 verdict perf ask: the edge
    * build executed 3× per full pass — q559's MST, q571's census,
    * q573's 2ECC — and the census twice more; each consumer now pays
    * only its marginal cost). Deterministic build, so concurrent
    * spec-suite sessions re-deriving it is a correctness no-op.
    */
  def jaccardEdgesTable(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    s.table(graft.core.IndexStore.ensure(s, "jedges", dir)(
      jaccardDistEdges(T.documents(s, dir))))
  }

  /** MST forest `(u, v, dist_ppm, merge_round, sl_rank)` of a weighted
    * `(u, v, w)` edge list (u < v, BIGINT weight). Deterministic under
    * the total edge order (w, u, v); disconnected inputs yield the
    * minimum spanning FOREST.
    */
  def mst(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val (acc, _, _) = mstForest(edges0)
    // single-linkage merge order: ascending (w, u, v) rank over the
    // forest — unique keys, so the inclusive two-level cumsum IS the
    // rank (no single-partition window at any scale)
    graft.relational.QuantileNormalize.fullCumSum(
        acc.withColumn("one", lit(1L)),
        Seq(col("w"), col("u"), col("v")), "one" -> "sl_rank")
      .select($"u", $"v", $"w".as("dist_ppm"), $"merge_round", $"sl_rank")
      .orderBy($"sl_rank")
  }

  /** The spanning forest `(u, v, w, merge_round)` WITHOUT the
    * single-linkage rank finish — the form consumers that only need
    * the edge set (the q571/q573 bridge census) read, skipping the
    * cumsum scan and the global sort — with the engine rounds run and
    * the most pointer-halving steps any round took.
    */
  def mstForest(edges0: DataFrame): (DataFrame, Int, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    var comp = PlanBridge.checkpointResetStats(
      edges.select($"u".as("id")).unionAll(edges.select($"v"))
        .distinct().withColumn("c", $"id"))
    var acc = s.emptyDataset[(Long, Long, Long, Long)]
      .toDF("u", "v", "w", "merge_round")
    var r = 0
    var halvings = 0
    var nChosen = 1L
    while (nChosen > 0L) {
      r += 1
      // r counts the final convergence-DETECT pass too (the round where
      // no component chooses an edge): an input needing exactly
      // MstMaxRounds HOOKING rounds takes MstMaxRounds+1 engine rounds
      // while the oracle's MstMaxRounds-deep unroll still replays it —
      // budget at +1 so engine and oracle capacities match (r15 advice).
      require(r <= MstMaxRounds + 1,
        s"Borůvka exceeded $MstMaxRounds hooking rounds — re-measure the unroll")
      val tagged = edges
        .join(comp.select($"id".as("u"), $"c".as("cu")), "u")
        .join(comp.select($"id".as("v"), $"c".as("cv")), "v")
        .filter($"cu" =!= $"cv")
      val dir = tagged.select($"cu".as("cc"),
          struct($"w", $"u", $"v", $"cv".as("oc")).as("e"))
        .unionAll(tagged.select($"cv".as("cc"),
          struct($"w", $"u", $"v", $"cu".as("oc")).as("e")))
      val (chosen, n) = PlanBridge.checkpointMeasured(
        dir.groupBy($"cc").agg(min($"e").as("e"))
          .select($"cc", $"e.w".as("w"), $"e.u".as("u"),
            $"e.v".as("v"), $"e.oc".as("oc")), count(lit(1)))
      nChosen = n
      if (n > 0L) {
        acc = PlanBridge.checkpointResetStats(
          acc.unionAll(chosen.select($"u", $"v", $"w").distinct()
            .withColumn("merge_round", lit(r.toLong))))
        // hook: mutual 2-cycles break toward the smaller id (roots)
        val p0raw = chosen.select($"cc", $"oc")
        val mut = p0raw.as("x").join(p0raw.as("y"),
            $"x.oc" === $"y.cc" && $"y.oc" === $"x.cc")
          .select($"x.cc".as("cc"), lit(true).as("mu"))
        val p0 = PlanBridge.checkpointResetStats(
          p0raw.join(mut, Seq("cc"), "left")
            .select($"cc", when($"mu".isNotNull && $"cc" < $"oc", $"cc")
              .otherwise($"oc").as("p")))
        // pointer halving p := p∘p; every pointer target is itself a
        // hooked component, so the previous pointer rides along as `old`
        val (p, halve, _) = PlanBridge.iterate(p0, MstMaxHalve,
            s"pointer halving (MstMaxHalve=$MstMaxHalve — re-measure)") {
          (p, _) => p.as("a").join(p.as("b"), $"a.p" === $"b.cc")
            .select($"a.cc".as("cc"), $"b.p".as("p"), $"a.p".as("old"))
        }(count(when($"p" =!= $"old", 1)), _ == 0)
        halvings = math.max(halvings, halve)
        val nextComp = PlanBridge.checkpointResetStats(
          comp.join(p.select($"cc".as("c"), $"p"), Seq("c"), "left")
            .select($"id", coalesce($"p", $"c").as("c")))
        Seq(p0, p, comp).foreach(PlanBridge.release)
        comp = nextComp
      }
      PlanBridge.release(chosen)
    }
    (acc, r, halvings)
  }

  /** q559 — Borůvka MST / single-linkage merge sequence of the
    * document near-dup distance graph.
    */
  val q559BoruvkaMst: Q = (s, dir) =>
    mst(jaccardEdgesTable(s, dir))

  /** The q43-style exact-Jaccard edge list `(u, v, w)` as SQL CTEs
    * ending at `pe` — shared verbatim by q559 and the q571/q572
    * bridges/articulation oracles (operators/Bridges.scala).
    */
  val JaccardEdgesCtes: String =
    s"""w0 AS (SELECT doc_id, string_split(text, ' ') AS ws
      |            FROM documents),
      |tri0 AS (SELECT DISTINCT doc_id,
      |           UNNEST(list_transform(range(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |         FROM w0),
      |keptsh AS (SELECT tg FROM tri0 GROUP BY tg
      |           HAVING COUNT(*) <= $MstDfCap),
      |tri AS (SELECT tri0.doc_id, tri0.tg FROM tri0
      |        JOIN keptsh USING (tg)),
      |szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM tri GROUP BY doc_id),
      |intr AS (SELECT a.doc_id AS u, b.doc_id AS v,
      |           CAST(COUNT(*) AS BIGINT) AS inter
      |         FROM tri a JOIN tri b
      |           ON a.tg = b.tg AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2),
      |pe AS MATERIALIZED (
      |  SELECT u, v,
      |    1000000 - (1000000 * inter) // (n1.n + n2.n - inter) AS w
      |  FROM intr JOIN szs n1 ON intr.u = n1.doc_id
      |            JOIN szs n2 ON intr.v = n2.doc_id
      |  WHERE 5 * inter >= n1.n + n2.n - inter)""".stripMargin

  val q559Sql: String = {
    def round(r: Int): String = {
      val prev = s"k${r - 1}"
      val halvings = (1 to MstMaxHalve).map { h =>
        s"""p${r}_$h AS (
          |  SELECT a.cc, b.p FROM p${r}_${h - 1} a
          |  JOIN p${r}_${h - 1} b ON a.p = b.cc)""".stripMargin
      }.mkString(",\n")
      s"""t$r AS (
        |  SELECT e.u, e.v, e.w, a.c AS cu, b.c AS cv
        |  FROM pe e JOIN $prev a ON e.u = a.id JOIN $prev b ON e.v = b.id
        |  WHERE a.c <> b.c),
        |d$r AS (
        |  SELECT cu AS cc, cv AS oc, w, u, v FROM t$r
        |  UNION ALL SELECT cv AS cc, cu AS oc, w, u, v FROM t$r),
        |ch$r AS MATERIALIZED (
        |  SELECT cc, oc, w, u, v FROM (
        |    SELECT cc, oc, w, u, v,
        |      row_number() OVER (PARTITION BY cc ORDER BY w, u, v) AS rn
        |    FROM d$r) x WHERE rn = 1),
        |mu$r AS (
        |  SELECT x.cc FROM ch$r x JOIN ch$r y
        |  ON x.oc = y.cc AND y.oc = x.cc),
        |p${r}_0 AS (
        |  SELECT ch.cc,
        |    CASE WHEN mu.cc IS NOT NULL AND ch.cc < ch.oc THEN ch.cc
        |         ELSE ch.oc END AS p
        |  FROM ch$r ch LEFT JOIN mu$r mu ON ch.cc = mu.cc),
        |$halvings,
        |k$r AS MATERIALIZED (
        |  SELECT k.id, COALESCE(p.p, k.c) AS c
        |  FROM $prev k LEFT JOIN p${r}_$MstMaxHalve p ON k.c = p.cc),
        |m$r AS (SELECT DISTINCT u, v, w,
        |          CAST($r AS BIGINT) AS merge_round FROM ch$r)"""
        .stripMargin
    }
    val rounds = (1 to MstMaxRounds).map(round).mkString(",\n")
    val unions = (1 to MstMaxRounds)
      .map(r => s"SELECT * FROM m$r").mkString("\n  UNION ALL ")
    s"""WITH $JaccardEdgesCtes,
      |nodes AS (SELECT u AS id FROM pe UNION SELECT v FROM pe),
      |k0 AS MATERIALIZED (SELECT id, id AS c FROM nodes),
      |$rounds,
      |mst AS (
      |  $unions)
      |SELECT u, v, w AS dist_ppm, merge_round,
      |  CAST(row_number() OVER (ORDER BY w, u, v) AS BIGINT) AS sl_rank
      |FROM mst ORDER BY sl_rank""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q559_boruvka_mst", q559BoruvkaMst, q559Sql))
}
