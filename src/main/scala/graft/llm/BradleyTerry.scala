package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Bradley–Terry pairwise-preference model fit by Hunter's MM
  * algorithm (Hunter, Annals of Statistics 2004) — the
  * preference-aggregation kernel of RLHF data pipelines (rank
  * completions from pairwise human judgments) and of any
  * tournament/AB-arena readout. q312 evaluates a recommender's
  * RANKING; this FITS latent strengths from noisy pairwise outcomes.
  *
  * Planted-model gate (the q319/q328 discipline): items are the 100
  * part-key residue classes; every same-order part pair is a match
  * whose winner is drawn from the TRUE BT probability
  * π_a/(π_a+π_b) using a deterministic per-match hash uniform — the
  * exact generative model, so the fit has unambiguous ground truth.
  * `ok` folds: log-likelihood non-decreasing across all MM iterations
  * (Hunter's theorem — minorize-maximize never decreases LL), and
  * Spearman rank correlation between fitted and planted strengths ≥
  * [[MinSpearmanPermille]] (measured 913‰ at sf0.001's 11k matches,
  * 985‰ at sf0.01's 114k — recovery sharpens with evidence, as BT
  * consistency predicts; chance is ~0).
  *
  * Scale shape: match generation is the per-order pair explode bounded
  * per order (the q284 discipline) collapsed to the ≤ items² count
  * frame in one partial agg; each MM iteration is ONE join of the
  * count frame against the current strengths + ONE per-item partial
  * agg — strengths never collect to the driver (the frame scales with
  * items, the pair frame with items²; both corpus-size constants
  * here, entity-scaled in general).
  */
object BradleyTerry {

  import Entry.Q

  val Items = 100
  val MmIters = 10
  val MinSpearmanPermille = 850L

  private def u01(z0: Long): Double = {
    var z = z0 * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble + 1.0) / 2.0
  }

  /** Planted strength of item class i — in [0.5, 1.5]. */
  private[llm] def planted(i: Long): Double = 0.5 + u01(i * 7717 + 13)

  final case class Fit(nItems: Long, nMatches: Long, lls: Seq[Double],
    spearmanPermille: Long, llMonotone: Boolean,
    strengths: Option[DataFrame] = None)

  def fitEval(s: SparkSession, dir: String): Fit = {
    import s.implicits._
    // matches: every same-order pair of distinct item classes; winner
    // sampled from the true BT probability with a per-match hash
    val itemsOf = T.lineitem(s, dir)
      .select($"l_orderkey", ($"l_partkey" % Items).as("item")).distinct()
    val matches = itemsOf.as("a").join(itemsOf.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.item" < $"b.item")
      .select($"a.l_orderkey".as("ord"), $"a.item".as("i"), $"b.item".as("j"))
      .as[(Long, Long, Long)]
      .map { case (ord, i, j) =>
        val pi = planted(i); val pj = planted(j)
        val u = u01(ord * 1000003L + i * 1009L + j)
        val win = if (u < pi / (pi + pj)) i else j
        (i, j, win)
      }.toDF("i", "j", "win")
    fitFromMatches(matches, nRanked = true)
  }

  /** MM fit + gates from a (i, j, win) match frame — shared with the
    * spec's hand tournaments. */
  private[llm] def fitFromMatches(matches: DataFrame,
      nRanked: Boolean): Fit = {
    val s = matches.sparkSession
    import s.implicits._
    // (i, j, n_ij wins of i over j) with i<j, both directions kept as
    // (winner, loser) counts for the W_i term
    val counts = PlanBridge.checkpointResetStats(matches.groupBy($"i", $"j")
      .agg(sum(when($"win" === $"i", 1L).otherwise(0L)).as("wij"),
        sum(when($"win" === $"j", 1L).otherwise(0L)).as("wji")))
    val nMatches = matches.count()
    val sym = PlanBridge.checkpointResetStats(
      counts.select($"i".as("a"), $"j".as("b"), $"wij".as("w_ab"),
          ($"wij" + $"wji").as("n_ab"))
        .unionByName(counts.select($"j".as("a"), $"i".as("b"),
          $"wji".as("w_ab"), ($"wij" + $"wji").as("n_ab"))))
    val wins = PlanBridge.checkpointResetStats(
      sym.groupBy($"a").agg(sum($"w_ab").as("w")))
    val nItems = wins.count()

    var pi = PlanBridge.checkpointResetStats(
      wins.select($"a", lit(1.0).as("p")))
    val lls = collection.mutable.ArrayBuffer[Double]()
    // One joined pass per iteration serves BOTH the MM denominator and
    // the LL gate (the q321 fused-collect lesson); the MM update is
    // scale-invariant (π'(cπ) = c·π'(π)), so normalization happens
    // ONCE at the end instead of burning a job every iteration.
    def joined(cur: DataFrame): DataFrame = PlanBridge.checkpointResetStats(sym
      .join(cur.select($"a", $"p".as("pa")), "a")
      .join(cur.select($"a".as("b"), $"p".as("pb")), "b"))
    def llOf(j: DataFrame): Double = j
      .select(($"w_ab" * log($"pa" / ($"pa" + $"pb"))).as("l"))
      .agg(sum($"l")).head().getDouble(0)
    // each iteration's join serves the LL of the INCOMING strengths
    // and the denominator of the update — one joined pass per iter
    for (_ <- 1 to MmIters) {
      val j = joined(pi)
      lls += llOf(j)
      val denom = j.groupBy($"a")
        .agg(sum($"n_ab" / ($"pa" + $"pb")).as("d"))
      // floor at a tiny eps: a zero-win item would get p=0, and the
      // next LL pass would fold w_ab*log(0) = 0*(-Inf) = NaN into the
      // sum (and log(0) = -Inf into the geometric-mean normalizer).
      // Hunter's condition assumes strong connectivity; the floor keeps
      // the degenerate residue-class-never-wins fixture finite instead.
      pi = PlanBridge.checkpointResetStats(wins.join(denom, "a")
        .select($"a", greatest($"w" / $"d", lit(1e-12)).as("p")))
    }
    lls += llOf(joined(pi))
    // normalize the geometric mean to 1 (BT strengths are scale-free;
    // LL is scale-invariant, so the gate is unaffected)
    val logMean = pi.agg(avg(log($"p"))).head().getDouble(0)
    pi = PlanBridge.checkpointResetStats(
      pi.select($"a", ($"p" / lit(math.exp(logMean))).as("p")))

    // Spearman between fitted and planted ranks (items-bounded frame)
    if (!nRanked) {
      val llMono0 = lls.toSeq.sliding(2).forall {
        case Seq(a: Double, b: Double) => b >= a - 1e-9 * math.abs(a) - 1e-9
        case _ => true
      }
      return Fit(nItems, nMatches, lls.toSeq, -1L, llMono0,
        Some(pi))
    }
    val wr = org.apache.spark.sql.expressions.Window.orderBy($"p", $"a")
    val wt = org.apache.spark.sql.expressions.Window.orderBy($"tp", $"a")
    val ranked = pi
      .withColumn("tp", udfFreePlanted($"a"))
      .withColumn("rf", row_number().over(wr).cast("double"))
      .withColumn("rt", row_number().over(wt).cast("double"))
    val n = nItems.toDouble
    val d2 = ranked.select((($"rf" - $"rt") * ($"rf" - $"rt")).as("dd"))
      .agg(sum($"dd")).head().getDouble(0)
    val spearman = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    val llMono = lls.toSeq.sliding(2).forall {
      case Seq(a: Double, b: Double) => b >= a - 1e-9 * math.abs(a) - 1e-9
      case _ => true
    }
    Fit(nItems, nMatches, lls.toSeq, (1000.0 * spearman).toLong, llMono,
      Some(pi))
  }

  /** Planted strength as a literal CASE over the bounded item set —
    * stays in codegen, no UDF.
    */
  private def udfFreePlanted(c: org.apache.spark.sql.Column) =
    (0L until Items.toLong).foldLeft(lit(Double.NaN)) { (acc, i) =>
      when(c === i, lit(planted(i))).otherwise(acc)
    }

  val q329BradleyTerry: Q = (s, dir) => {
    val f = fitEval(s, dir)
    val ok = f.llMonotone && f.spearmanPermille >= MinSpearmanPermille
    s.createDataFrame(Seq((f.nItems, f.nMatches, ok)))
      .toDF("n_items", "n_matches", "ok")
  }

  val q329Sql: String =
    s"""WITH io AS (
       |  SELECT DISTINCT l_orderkey, l_partkey % $Items AS item
       |  FROM lineitem),
       |m AS (
       |  SELECT a.l_orderkey, a.item AS i, b.item AS j
       |  FROM io a JOIN io b
       |    ON a.l_orderkey = b.l_orderkey AND a.item < b.item)
       |SELECT
       |  (SELECT COUNT(DISTINCT i) FROM
       |    (SELECT i FROM m UNION ALL SELECT j FROM m)) AS n_items,
       |  (SELECT COUNT(*) FROM m) AS n_matches,
       |  TRUE AS ok""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q329_bradley_terry", q329BradleyTerry, q329Sql))
}
