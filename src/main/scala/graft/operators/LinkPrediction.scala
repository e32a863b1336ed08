package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** LINK PREDICTION with the RESOURCE-ALLOCATION index + an EXACT AUC
  * readout (Zhou–Lü–Zhang EPJ-B'09 for RA; Lü–Zhou Physica-A'11
  * survey — RA is the common-neighbor family's strongest simple
  * member, and unlike Adamic–Adar's 1/log(deg) it is an EXACT
  * integer: score(u,v) = Σ_{w ∈ N(u)∩N(v)} ⌊10⁶/deg(w)⌋): hold out a
  * deterministic md5 tenth of the edges, score held-out pairs and
  * equally many non-edge pairs over the TRAIN graph, and read the
  * ranking quality as the exact Mann–Whitney AUC (tie-averaged
  * doubled ranks, the q285/q492 integer machinery; AUC =
  * (Σ_pos r_d − P(P+1)) / (2·P·N), one shared formula string).
  *
  * Graph: a deterministic SMALL-WORLD mix (Watts–Strogatz shape) —
  * band edges v→v+d (d ≤ [[LpBand]]) plus one md5 long-range edge per
  * node. The band gives the TRIADIC CLOSURE link prediction needs: in
  * a (per-block) Erdős–Rényi graph, a held-out edge and a random
  * non-edge have IDENTICALLY distributed common-neighbor counts —
  * measured AUC 0.495 on the q509 block graph, i.e. truthfully no
  * signal — so the testbed must put structure in the edges, not just
  * density.
  *
  * Negative pairs are the q505 discipline: per held-out edge, one
  * global md5 candidate kept iff it is NOT an edge of the full
  * graph — deterministic in both engines, duplicates removed
  * identically.
  *
  * Scale shape: scoring joins touch only the EVAL pairs × their
  * common neighbors (block-degree-bounded); the rank map runs on the
  * two-level cumulative (withDoubledRank → fullCumSum — eval pairs
  * scale with |E|, so a one-task window would be corpus-sized); the
  * oracle recomputes split, negatives, scores, ranks, and AUC
  * end-to-end in SQL.
  */
object LinkPrediction {

  import Entry.Q

  val LpHoldMod = 10
  val LpBand = 3
  /** AUC formula shared verbatim by both engines. */
  val AucFormula: String =
    "CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) " +
      "* CAST(n_neg AS DOUBLE))"

  /** Small-world graph over customer ids: band v→v+d (d ≤ LpBand,
    * no wrap) + one md5 long-range edge per node; symmetrized,
    * distinct, no self-loops.
    */
  def lpEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = graft.core.Tables.customer(s, dir)
      .select($"c_custkey".as("v"))
    val n = cust.count()
    val band = cust
      .select($"v", explode(array((1 to LpBand).map(lit): _*)).as("d"))
      .select($"v", ($"v" + $"d").as("w"))
      .filter($"w" < n)
    // 8 hex chars (the q505/q513 width — 4 would cap targets at 65535
    // for sf ≥ ~0.5) mapped into [1, n] (0 is not a customer key)
    val lr = cust.select($"v",
      expr(s"1L + CAST(conv(substring(md5(concat('lr:', " +
        s"CAST(v AS STRING))), 1, 8), 16, 10) AS BIGINT) % ${n}L").as("w"))
      .filter($"v" =!= $"w")
    val out = band.unionAll(lr)
    out.select($"v".as("u"), $"w".as("v"))
      .unionAll(out.select($"w".as("u"), $"v".as("v")))
      .distinct()
  }

  val q512LinkPrediction: Q = (s, dir) => {
    import s.implicits._
    val n = graft.core.Tables.customer(s, dir).count()
    val e = PlanBridge.checkpointResetStats(lpEdges(s, dir))
    val canon = e.filter($"u" < $"v")
    val held = expr(s"CAST(conv(substring(md5(concat('lp:', " +
      s"CAST(u AS STRING), ':', CAST(v AS STRING))), 1, 4), 16, 10) " +
      s"AS INT) % $LpHoldMod = 0")
    val pos = PlanBridge.checkpointResetStats(canon.filter(held))
    val trainCanon = canon.filter(!held)
    val train = PlanBridge.checkpointResetStats(trainCanon.unionAll(
      trainCanon.select($"v".as("u"), $"u".as("v"))))
    val deg = train.groupBy($"u").agg(count(lit(1)).as("d"))
    // negatives: one GLOBAL md5 candidate per held edge, kept iff NOT
    // an edge of the full graph (q505 rejection discipline)
    val negRaw = pos.withColumn("w",
      expr(s"1L + CAST(conv(substring(md5(concat('neg:', CAST(u AS STRING), " +
        s"':', CAST(v AS STRING))), 1, 8), 16, 10) AS BIGINT) % ${n}L"))
      .filter($"w" =!= $"u")
      .select($"u", $"w".as("v"))
    val neg = negRaw.join(e, Seq("u", "v"), "left_anti").distinct()
    val pairs = PlanBridge.checkpointResetStats(
      pos.select($"u", $"v", lit(1L).as("lbl"))
        .unionAll(neg.select($"u", $"v", lit(0L).as("lbl"))))
    // RA score over the train graph
    val a = train.select($"u", $"v".as("w"))
    val b = train.select($"u".as("v"), $"v".as("w"))
    val cn = pairs.select($"u", $"v").join(a, "u").join(b, Seq("v", "w"))
    val sc = cn.join(deg.select($"u".as("w"), $"d"), "w")
      .groupBy($"u", $"v")
      .agg(sum(expr("1000000 div d")).as("score"))
    val scored = pairs.join(sc, Seq("u", "v"), "left")
      .select($"lbl", coalesce($"score", lit(0L)).as("score"))
    // exact tie-averaged AUC via doubled ranks
    val ranked = graft.relational.SpearmanCorr
      .withDoubledRank(scored, "score", "rd")
    val (nPos, nNeg, sumRd) = ranked.agg(
      sum(when($"lbl" === 1L, 1L).otherwise(0L)),
      sum(when($"lbl" === 0L, 1L).otherwise(0L)),
      sum(when($"lbl" === 1L, $"rd").otherwise(0L)))
      .as[(Long, Long, Long)].head()
    val u2 = sumRd - nPos * (nPos + 1)
    Seq((nPos, nNeg, u2)).toDF("n_pos", "n_neg", "u2")
      .select($"n_pos", $"n_neg", $"u2", expr(AucFormula).as("auc"))
  }

  val q512Sql: String =
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM customer),
      |band AS (
      |  SELECT c_custkey AS v, c_custkey + d AS w
      |  FROM customer, (SELECT UNNEST(range(1, ${LpBand + 1})) AS d)
      |  WHERE c_custkey + d < (SELECT n FROM nn)),
      |lr AS (
      |  SELECT c_custkey AS v,
      |    1 + CAST('0x' || substring(md5('lr:' || c_custkey), 1, 8)
      |      AS BIGINT) % (SELECT n FROM nn) AS w
      |  FROM customer),
      |f AS (SELECT v, w FROM band
      |  UNION ALL SELECT v, w FROM lr WHERE v <> w),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM f
      |    UNION ALL SELECT w AS u, v AS v FROM f)),
      |canon AS MATERIALIZED (
      |  SELECT u, v,
      |    CAST('0x' || substring(md5('lp:' || u || ':' || v), 1, 4)
      |      AS INTEGER) % $LpHoldMod = 0 AS held
      |  FROM e WHERE u < v),
      |pos AS MATERIALIZED (SELECT u, v FROM canon WHERE held),
      |train AS MATERIALIZED (
      |  SELECT u, v FROM canon WHERE NOT held
      |  UNION ALL SELECT v, u FROM canon WHERE NOT held),
      |deg AS (SELECT u, COUNT(*) AS d FROM train GROUP BY 1),
      |negraw AS (
      |  SELECT u,
      |    1 + CAST('0x' || substring(md5('neg:' || u || ':' || v), 1, 8)
      |      AS BIGINT) % (SELECT n FROM nn) AS v
      |  FROM pos),
      |neg AS MATERIALIZED (
      |  SELECT DISTINCT n.u, n.v FROM negraw n
      |  WHERE n.v <> n.u
      |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = n.u AND e.v = n.v)),
      |pairs AS MATERIALIZED (
      |  SELECT u, v, 1 AS lbl FROM pos
      |  UNION ALL SELECT u, v, 0 FROM neg),
      |cn AS (
      |  SELECT p.u, p.v, a.v AS w
      |  FROM pairs p JOIN train a ON a.u = p.u
      |    JOIN train b ON b.u = p.v AND b.v = a.v),
      |sc AS (
      |  SELECT cn.u, cn.v, CAST(SUM(1000000 // d.d) AS BIGINT) AS score
      |  FROM cn JOIN deg d ON d.u = cn.w GROUP BY 1, 2),
      |scored AS MATERIALIZED (
      |  SELECT p.lbl, COALESCE(sc.score, 0) AS score
      |  FROM pairs p LEFT JOIN sc ON sc.u = p.u AND sc.v = p.v),
      |rkm AS (
      |  SELECT score, 2 * COALESCE(SUM(cnt) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rd
      |  FROM (SELECT score, COUNT(*) AS cnt FROM scored GROUP BY 1)),
      |m AS (
      |  SELECT CAST(SUM(CASE WHEN lbl = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_pos,
      |    CAST(SUM(CASE WHEN lbl = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_neg,
      |    CAST(SUM(CASE WHEN lbl = 1 THEN rd ELSE 0 END) AS BIGINT)
      |      AS sum_rd
      |  FROM scored JOIN rkm USING (score))
      |SELECT n_pos, n_neg,
      |  CAST(sum_rd - n_pos * (n_pos + 1) AS BIGINT) AS u2,
      |  $AucFormula AS auc
      |FROM (SELECT n_pos, n_neg, sum_rd,
      |  sum_rd - n_pos * (n_pos + 1) AS u2 FROM m)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q512_link_prediction", q512LinkPrediction, q512Sql))
}
