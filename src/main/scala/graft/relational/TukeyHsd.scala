package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, ExactDiv, Tables => T}

/** TUKEY–KRAMER HSD post-hoc pairwise comparisons (Tukey 1949 "The
  * problem of multiple comparisons"; Kramer Biometrics'56 for unequal
  * n): the FOLLOW-UP the k-group test family lacked — q519 Kruskal–
  * Wallis / q527 Brown–Forsythe answer "do the k groups differ AT
  * ALL?", and running the 2-sample tests on every pair afterwards
  * inflates α exactly the way q396's BH row guards against for
  * p-values; HSD is the classical fix on the MEAN scale: every pair
  * (i, j) is read against the studentized-range critical value, so
  * the familywise error stays α across ALL C(k,2) readouts.
  *
  * Decision rule (Tukey–Kramer): |m_i − m_j| > (q_{α,k,ν}/√2)·
  * √(MSW·(1/n_i + 1/n_j)). Exactness discipline: means and MSW are
  * micro-quantized ONCE through [[ExactDiv]] off exact integer
  * sufficient statistics (s_i, ss_i as BIGINTs; SSW·Πn =
  * Πn·Σss_i − Σ s_i²·Πn/n_i ridden in DECIMAL(38,0)/HUGEINT), and
  * the squared rule evaluates as ONE exact integer cross-
  * multiplication in micro² units:
  *   Δm_micro² · 2·n_i·n_j  >  q²_micro · msw_micro · (n_i + n_j)
  * — both engines floor the same integers, so the verdict column is
  * deterministic on every build (the q576 quantized-boundary
  * convention; a flip would need the true statistic within ~10⁻⁶ of
  * the critical line). q²_micro = 10985910 pins q_{0.05, k=3, ν=∞} =
  * 3.3145 (Harter 1960 studentized-range table) as a micro literal —
  * the q408/q444 pinned-constant convention; ν = N−k ≈ 6·10⁴ at
  * sf0.01 makes the ∞-df row correct to 4 decimals (scaladoc'd
  * big-N assumption — finite-ν tables are a constant swap).
  *
  * Scale shape: ONE partial-agged groupBy to k rows of (n, s, ss);
  * the pair frame, MSW and every verdict live on the C(k,2)-bounded
  * broadcast frame — corpus size never re-enters.
  */
object TukeyHsd {

  import Entry.Q

  /** ⌊10⁶·q²⌋ for q_{0.05, k=3, ν=∞} = 3.3145. */
  val Q2Micro = 10985910L

  /** Pairwise HSD table off a `(g, x)` integer frame (k small). */
  def hsd(values: DataFrame): DataFrame = {
    val s = values.sparkSession
    import s.implicits._
    val grp = PlanBridge.checkpointResetStats(values.groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("ss")))
    // Πn over the k-bounded frame + the exact scaled SSW:
    // SSWP = Πn·Σss − Σ sx²·(Πn/n)  (every term integral)
    val tot = grp.agg(sum($"n").as("nn"), count(lit(1)).as("k"))
    // exact integer product of the k group sizes — a collect-free
    // fold over the k-element array (k is a handful by contract)
    val pnVal = grp.select(collect_list($"n".cast("decimal(38,0)"))
      .as("ns"))
      .select(expr(
        "aggregate(ns, CAST(1 AS DECIMAL(38,0)), (a, x) -> a * x)")
        .as("pn"))
    val sswp = grp.crossJoin(broadcast(pnVal))
      .select((($"ss".cast("decimal(38,0)") * $"pn")
        - ($"sx".cast("decimal(38,0)") * $"sx"
          * ($"pn" / $"n".cast("decimal(38,0)")).cast("decimal(38,0)")))
        .as("term"), $"pn")
    val msw = sswp.groupBy($"pn").agg(sum($"term").as("sswp"))
      .crossJoin(broadcast(tot))
      .withColumn("den", expr(
        "pn * CAST(nn - k AS DECIMAL(38,0))"))
      .withColumn("msw_micro", expr("CAST(" +
        ExactDiv.microFloor("sswp", "den", "div") + " AS BIGINT)"))
      .select($"msw_micro", $"nn", $"k")
    val means = grp
      .withColumn("m_micro", expr("CAST(" +
        ExactDiv.microFloor("CAST(sx AS DECIMAL(38,0))",
          "CAST(n AS DECIMAL(38,0))", "div") + " AS BIGINT)"))
      .select($"g", $"n", $"m_micro")
    means.as("a").join(means.as("b"), $"a.g" < $"b.g")
      .crossJoin(broadcast(msw))
      .select($"a.g".as("g1"), $"b.g".as("g2"),
        $"a.n".as("n1"), $"b.n".as("n2"),
        abs($"a.m_micro" - $"b.m_micro").as("dm_micro"),
        $"msw_micro")
      .withColumn("sig", expr(
        s"""CAST(dm_micro AS DECIMAL(38,0)) * dm_micro
           |  * 2 * n1 * n2
           |  > CAST($Q2Micro AS DECIMAL(38,0)) * msw_micro
           |  * (n1 + n2)""".stripMargin))
      .orderBy($"g1", $"g2")
  }

  val q588TukeyHsd: Q = (s, dir) => {
    import s.implicits._
    hsd(T.lineitem(s, dir).select($"l_returnflag".as("g"),
      expr("CAST(l_quantity AS BIGINT)").as("x")))
  }

  val q588Sql: String = {
    def micro(num: String, den: String) =
      ExactDiv.microFloor(num, den, "//")
    s"""WITH v AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
      |  FROM lineitem),
      |grp AS (
      |  SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS ss
      |  FROM v GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n) AS nn, COUNT(*) AS k,
      |    list_reduce(list(CAST(n AS HUGEINT)), (a, b) -> a * b) AS pn
      |  FROM grp),
      |mswt AS (
      |  SELECT SUM(CAST(ss AS HUGEINT) * pn
      |      - CAST(sx AS HUGEINT) * sx * (pn // n)) AS sswp,
      |    ANY_VALUE(pn) AS pn, ANY_VALUE(nn) AS nn, ANY_VALUE(k) AS k
      |  FROM grp, tot),
      |msw AS (
      |  SELECT CAST(${micro("sswp", "pn * CAST(nn - k AS HUGEINT)")}
      |    AS BIGINT) AS msw_micro, nn, k
      |  FROM mswt),
      |means AS (
      |  SELECT g, n,
      |    CAST(${micro("CAST(sx AS HUGEINT)", "CAST(n AS HUGEINT)")}
      |      AS BIGINT) AS m_micro
      |  FROM grp)
      |SELECT a.g AS g1, b.g AS g2,
      |  CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
      |  CAST(abs(a.m_micro - b.m_micro) AS BIGINT) AS dm_micro,
      |  msw_micro,
      |  CAST(abs(a.m_micro - b.m_micro) AS HUGEINT)
      |      * abs(a.m_micro - b.m_micro) * 2 * a.n * b.n
      |    > CAST($Q2Micro AS HUGEINT) * msw_micro * (a.n + b.n)
      |    AS sig
      |FROM means a JOIN means b ON a.g < b.g, msw
      |ORDER BY g1, g2""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q588_tukey_hsd", q588TukeyHsd, q588Sql))
}
