package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** EDGE BETWEENNESS over deterministic source PIVOTS (Girvan–Newman
  * PNAS'02's community-cutting primitive — "which EDGES carry the
  * shortest-path traffic?": the per-EDGE sibling of q531's per-node
  * brokerage; the highest-betweenness edges are the inter-community
  * bridges GN iteratively removes): an edge x→y lies on a shortest
  * s→t path iff d(s,x) + 1 + d(y,t) = d(s,t), carrying
  * σ_sx·σ_yt/σ_st of the pair's dependency; both traversal directions
  * of an undirected edge accumulate onto its canonical (min, max) key.
  *
  * PIVOTS (the scale recipe, Brandes–Pich WAW'07): full-source edge
  * dependency is Σ_edges reach(x)·reach(y) ≈ E·B² rows — 4× the node
  * form's n·B², past the bench budget at sf0.1 — so sources are the
  * DETERMINISTIC md5 sample s: md5('ebp:'||s)₁ < '[[EbPivotPrefix]]'
  * (≈ 1/16 of nodes; exact FOR THE SAMPLE — the oracle replays the
  * same pivots, so the gate is still exact value equality, and the
  * estimator is the standard pivot form whose fidelity grows with the
  * prefix knob).
  *
  * Exactness: per-(s, t, directed-edge) dependency is the exact floor
  * ⌊10⁶·σ_sx·σ_yt/σ_st⌋ in DECIMAL(38,0) (q531's q230-fold), summed
  * over pivot pairs s < t onto canonical edges; edges on no sampled
  * shortest path emit 0.
  *
  * Scale shape: the [[Betweenness.bfsClosure]] rounds restricted to
  * pivots (|S|·B state), then TWO equi-joins of the closure around
  * the directed edge list + the σ_st join + one partial agg.
  */
object EdgeBetweenness {

  import Entry.Q

  /** md5 first-hex-digit prefix bound ⟹ ≈ 1/16 pivot rate. */
  val EbPivotPrefix = "1"

  /** (eu, ev, eb6) over a symmetrized `(u, v)` edge list; a prefix
    * past 'f' makes EVERY node a pivot (the spec's exact-full mode).
    */
  def edgeBetweenness(edges0: DataFrame,
      pivotPrefix: String = EbPivotPrefix): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    val pivots = edges.select($"u".as("v")).distinct()
      .filter(expr("substring(md5(concat('ebp:', CAST(v AS STRING))), " +
        s"1, 1) < '$pivotPrefix'"))
    val d = Betweenness.bfsClosure(edges, Some(pivots))._1
    // σ_st between pivot pairs (both endpoints must be pivots so the
    // pair set is sample², symmetric and replayable)
    val pvSet = pivots.select($"v".as("t"))
    val p = d.join(pvSet, d("v") === pvSet("t"))
      .select($"s", $"t", $"d".as("dst"), $"sig".as("sigst"))
      .filter($"s" < $"t")
    val a = d.select($"s", $"v".as("x"), $"d".as("dsx"),
      $"sig".as("sigsx"))
    val b = d.select($"s".as("t"), $"v".as("y"), $"d".as("dyt"),
      $"sig".as("sigyt"))
    val dep = edges.select($"u".as("x"), $"v".as("y"))
      .join(a, "x")
      .join(b, "y")
      .join(p, Seq("s", "t"))
      .filter($"dsx" + 1L + $"dyt" === $"dst")
      .groupBy(least($"x", $"y").as("eu"), greatest($"x", $"y").as("ev"))
      .agg(sum(expr("CAST(1000000 AS DECIMAL(38,0)) * sigsx * sigyt " +
        "div sigst")).cast("long").as("eb6"))
    edges.filter($"u" < $"v").select($"u".as("eu"), $"v".as("ev"))
      .join(dep, Seq("eu", "ev"), "left")
      .select($"eu", $"ev", coalesce($"eb6", lit(0L)).as("eb6"))
      .orderBy($"eu", $"ev")
  }

  val q556EdgeBetweenness: Q = (s, dir) =>
    edgeBetweenness(KTruss.ktEdges(s, dir))

  val q556Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % ${KTruss.KtBlock} AS w
        |  FROM customer,
        |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
        |ff AS (SELECT v, w FROM outs WHERE v <> w),
        |le0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM ff
        |    UNION ALL SELECT w AS u, v AS v FROM ff)),
        |piv AS MATERIALIZED (
        |  SELECT DISTINCT u AS v FROM le0
        |  WHERE substring(md5('ebp:' || u), 1, 1) < '$EbPivotPrefix'),
        |s0 AS MATERIALIZED (
        |  SELECT v AS s, v, CAST(0 AS BIGINT) AS d, CAST(1 AS HUGEINT)
        |    AS sig
        |  FROM piv),
        |f0 AS MATERIALIZED (SELECT * FROM s0)""".stripMargin
    val rounds = (1 to Betweenness.BcUnrolledRounds).map { r =>
      s"""f$r AS MATERIALIZED (
        |  SELECT f.s, e.v, CAST($r AS BIGINT) AS d, SUM(f.sig) AS sig
        |  FROM f${r - 1} f JOIN le0 e ON e.u = f.v
        |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} x
        |    WHERE x.s = f.s AND x.v = e.v)
        |  GROUP BY 1, 2),
        |s$r AS MATERIALIZED (
        |  SELECT * FROM s${r - 1} UNION ALL SELECT * FROM f$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds,
      |dd AS MATERIALIZED (SELECT * FROM s${Betweenness.BcUnrolledRounds}),
      |p AS MATERIALIZED (
      |  SELECT s, v AS t, d AS dst, sig AS sigst FROM dd
      |  WHERE v IN (SELECT v FROM piv) AND s < v),
      |dep AS (
      |  SELECT LEAST(e.u, e.v) AS eu, GREATEST(e.u, e.v) AS ev,
      |    CAST(SUM(1000000 * a.sig * b.sig // p.sigst) AS BIGINT) AS eb6
      |  FROM le0 e
      |  JOIN dd a ON a.v = e.u
      |  JOIN dd b ON b.v = e.v
      |  JOIN p ON p.s = a.s AND p.t = b.s
      |  WHERE a.d + 1 + b.d = p.dst
      |  GROUP BY 1, 2)
      |SELECT e.u AS eu, e.v AS ev, COALESCE(dep.eb6, 0) AS eb6
      |FROM (SELECT u, v FROM le0 WHERE u < v) e
      |LEFT JOIN dep ON dep.eu = e.u AND dep.ev = e.v
      |ORDER BY eu, ev""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q556_edge_betweenness", q556EdgeBetweenness, q556Sql))
}
