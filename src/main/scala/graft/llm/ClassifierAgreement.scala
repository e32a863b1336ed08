package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Entry

/** Inter-classifier AGREEMENT audit — Cohen's κ (1960) + McNemar's
  * paired test (1947) between the two independent detectors of the
  * planted concept: q319's Naive Bayes and q321's hashed logistic
  * regression, on the SAME held-out split. The eval loop this closes:
  * per-model accuracy (q319/q321) says each works; κ says whether they
  * are the SAME detector or complementary ones (ensemble-worthiness),
  * and McNemar says whether their error RATES differ beyond the paired
  * noise — the b/c discordant cells are the only information, which is
  * exactly what unpaired accuracy comparison throws away.
  *
  * All sufficient statistics are the exact integer 2×2 concordance
  * cells; κ and the continuity-corrected McNemar χ² are each one
  * spelled double chain, micro-quantized. Scores are engine-internal
  * (two trained models), so the driver row is the q347/q321 gate
  * convention: data-derivable counts + the folded `ok`.
  *
  * Scale shape: both prediction frames are one-pass scorings (their
  * own contracts); the audit adds one doc_id equi-join and a single
  * partial agg to 4 cells.
  */
object ClassifierAgreement {

  import Entry.Q

  /** (n, bothPos, nbOnly, lrOnly, bothNeg) on the held-out split. */
  def cells(s: SparkSession, dir: String): (Long, Long, Long, Long, Long) = {
    import s.implicits._
    val nb = NaiveBayes.predictions(s, dir)
      .select($"doc_id", ($"pred_lang" === "pro_join").as("nb_pos"))
    val lr = LogisticRegression.fitEval(s, dir).scored
      .select($"doc_id", ($"p" >= 0.5).as("lr_pos"))
    val agg = nb.join(lr, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(($"nb_pos" && $"lr_pos").cast("long")).as("a"),
        sum(($"nb_pos" && !$"lr_pos").cast("long")).as("b"),
        sum((!$"nb_pos" && $"lr_pos").cast("long")).as("c"),
        sum((!$"nb_pos" && !$"lr_pos").cast("long")).as("d")).head()
    (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
      agg.getLong(4))
  }

  /** (kappa_micro, mcnemar_chi2_micro) from the 2×2 cells. */
  def finish(n: Long, a: Long, b: Long, c: Long, d: Long): (Long, Long) = {
    val po = (a + d).toDouble / n.toDouble
    val pe = ((a + b).toDouble * (a + c).toDouble
      + (c + d).toDouble * (b + d).toDouble) / (n.toDouble * n.toDouble)
    val kappa = math.floor(1000000.0 * ((po - pe) / (1.0 - pe))).toLong
    val chi2 =
      if (b + c == 0L) 0L
      else {
        val num = math.abs(b - c).toDouble - 1.0
        val corrected = if (num < 0.0) 0.0 else num
        math.floor(1000000.0 *
          (corrected * corrected / (b + c).toDouble)).toLong
      }
    (kappa, chi2)
  }

  /** Measured κ = 776435µ at sf0.001 (cells 13/1/3/20), gate green at
    * sf0.01; cap = measured − wide slack (substantial agreement on
    * the Landis–Koch scale starts at 600000µ).
    */
  val KappaCapMicro = 400000L

  val q387Agreement: Q = (s, dir) => {
    import s.implicits._
    val (n, a, b, c, d) = cells(s, dir)
    val (kappa, chi2) = finish(n, a, b, c, d)
    val ok = n > 0L && a + b + c + d == n &&
      kappa >= KappaCapMicro && chi2 >= 0L
    Seq((n, ok)).toDF("n_test", "ok")
  }

  /** The test-split size is data-derivable (q347's planted frame). */
  val q387Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id FROM (SELECT doc_id,
       |      (length(text) - length(replace(text, 'join', ''))) / 4 AS cj,
       |      (length(text) - length(replace(text, 'scan', ''))) / 4 AS cs
       |    FROM documents)
       |  WHERE abs(cj - cs) >= ${NaiveBayes.ConceptMargin})
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_test, TRUE AS ok
       |FROM planted WHERE doc_id % 5 = 0""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q387_classifier_agreement", q387Agreement, q387Sql))
}
