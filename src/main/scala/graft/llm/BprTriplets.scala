package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BPR TRAINING-TRIPLET GENERATION (Rendle et al. UAI'09 — Bayesian
  * Personalized Ranking trains on (user, positive, negative) triples;
  * the negative sampler IS the dataset): for each sampled user's
  * positive item, the negative is the FIRST of [[BprCands]] salted-md5
  * candidate items the user has NOT purchased — deterministic
  * rejection sampling with a bounded candidate list instead of a
  * user×item cross (which is the quadratic a naive sampler hides).
  *
  * Determinism discipline: candidates are
  * `md5('bpr:'‖u‖':'‖pos‖':'‖k) mod n_parts` (the q95 salted-md5
  * convention — both engines hash the identical string), validity is
  * one anti-join against the user's purchase set, the pick is
  * min(k) among survivors. Rejection failure is negligible by
  * construction: P(all [[BprCands]] candidates purchased) ≤
  * (deg_u/n_parts)^8 ≈ 10⁻²¹ at sf0.1 — and if it ever fires the pair
  * drops IDENTICALLY in both engines, so the oracle stays exact.
  *
  * Scale shape: the user sample bounds output (1-in-[[BprUserMod]]
  * users, all their positives); candidate explosion is ×[[BprCands]]
  * on the sampled pairs only; the anti-join is one keyed left join
  * against the (u, item) edge set. No cross join anywhere.
  */
object BprTriplets {

  import Entry.Q

  val BprUserMod = 100L
  val BprCands = 8

  val q505BprTriplets: Q = (s, dir) => {
    import s.implicits._
    val nParts = T.part(s, dir).count()
    val e = PlanBridge.checkpointResetStats(
      T.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
        .join(T.orders(s, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("u"), $"l_partkey".as("p"))
        .distinct())
    val pos = e.filter($"u" % BprUserMod === 0L)
      .select($"u", $"p".as("pos"))
    val cand = pos.select($"u", $"pos",
      explode(array((1 to BprCands).map(k => lit(k)): _*)).as("k"))
      .withColumn("cand",
        expr(s"CAST(conv(substring(md5(concat('bpr:', CAST(u AS STRING), " +
          s"':', CAST(pos AS STRING), ':', CAST(k AS STRING))), 1, 8), " +
          s"16, 10) AS BIGINT) % ${nParts}L"))
    val valid = cand.join(
      e.select($"u", $"p".as("cand")), Seq("u", "cand"), "left_anti")
    val pick = valid.groupBy($"u", $"pos").agg(min($"k").as("k"))
    valid.join(pick, Seq("u", "pos", "k"))
      .select($"u".as("custkey"), $"pos".as("pos_item"),
        $"cand".as("neg_item"))
      .orderBy($"custkey", $"pos_item")
  }

  val q505Sql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |pos AS MATERIALIZED (
      |  SELECT u, p AS pos FROM e WHERE u % $BprUserMod = 0),
      |np AS (SELECT COUNT(*) AS n FROM part),
      |cand AS MATERIALIZED (
      |  SELECT u, pos, k,
      |    CAST('0x' || substring(md5('bpr:' || u || ':' || pos || ':' || k),
      |      1, 8) AS BIGINT) % (SELECT n FROM np) AS cand
      |  FROM pos, (SELECT UNNEST(range(1, ${BprCands + 1})) AS k)),
      |valid AS MATERIALIZED (
      |  SELECT c.u, c.pos, c.k, c.cand
      |  FROM cand c LEFT JOIN e ON e.u = c.u AND e.p = c.cand
      |  WHERE e.p IS NULL),
      |pick AS (SELECT u, pos, MIN(k) AS k FROM valid GROUP BY 1, 2)
      |SELECT v.u AS custkey, v.pos AS pos_item, v.cand AS neg_item
      |FROM valid v JOIN pick USING (u, pos, k)
      |ORDER BY custkey, pos_item""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q505_bpr_triplets", q505BprTriplets, q505Sql))
}
