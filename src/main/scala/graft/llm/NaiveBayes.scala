package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Multinomial Naive Bayes text classifier (McCallum & Nigam 1998) —
  * the PROBABILISTIC member of the classifier family next to q146's
  * rank-overlap profiles (Cavnar–Trenkle) and q202's unigram
  * perplexity: per-class token likelihoods with Laplace smoothing,
  * argmax of the posterior. This is the fastText-shaped quality filter
  * every corpus pipeline trains first, in its count-based form.
  *
  * Target: the fixture's `lang` column is label noise by construction
  * (token distributions are uniform across langs — measured), so the
  * gate uses a PLANTED LEXICAL CONCEPT instead: y = which of two
  * marker tokens ('join' vs 'scan') dominates the document, docs with
  * margin < [[ConceptMargin]] dropped as ambiguous. The concept is
  * defined on raw text, the classifier sees only the multinomial
  * token counts — held-out accuracy measures whether TRAINING
  * actually recovers the discriminative tokens (the planted-pair
  * discipline of the LSH specs, applied to a learner).
  *
  * Determinism contract: log-weights are computed ONCE per (term,
  * class) from exact integer counts and immediately quantized to
  * BIGINT micro-nats (⌊10⁶·ln p⌋ — one Math.log per weight, a
  * deterministic scalar), so every per-document score is an EXACT
  * integer sum — associative, order-free, stable under any
  * partitioning. Argmax ties break to the smallest lang. The oracle
  * row is the q267 gate convention: the hashed columns are
  * data-derivable counts plus `ok`, and `ok` folds the classifier
  * gates (held-out accuracy ≥ [[MinAccPermille]]‰, every test doc
  * classified exactly once, every true class present in predictions).
  *
  * Scale shape: training is one explode + one partial-aggregated
  * (lang, term) count; class totals/priors are |langs|-bounded
  * collects (the q146 broadcast rule). Scoring joins the test token
  * counts to the weight table on the term key (equi-join, vocab×L
  * rows), then one (doc, lang) partial agg; the doc×lang frame comes
  * from a broadcast of the |langs|-row class table, never a shuffle.
  * No driver loop, no window over the corpus.
  */
object NaiveBayes {

  import Entry.Q

  /** Held-out accuracy floor, permille — pinned after measuring
    * (sf0.001 and sf0.01 both measure 1000‰; chance is ~500‰).
    */
  val MinAccPermille = 800L

  /** Planted concept: |count('join') − count('scan')| must reach this
    * for a doc to be labeled; below it the doc is ambiguous and
    * excluded from both splits.
    */
  val ConceptMargin = 2

  /** Micro-nat quantization scale for log-weights. */
  val WScale = 1e6

  private def qln(x: Double): Long = math.floor(WScale * math.log(x)).toLong

  /** The planted-concept labeled frame: (doc_id, lang, text) where
    * `lang` is 'pro_join'/'pro_scan' by marker-token dominance; both
    * marker counts are exact integer replace-length arithmetic, the
    * same spelling the oracle SQL uses.
    */
  def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.documents(s, dir)
      .withColumn("cj",
        (length($"text") - length(regexp_replace($"text", "join", ""))) / 4)
      .withColumn("cs",
        (length($"text") - length(regexp_replace($"text", "scan", ""))) / 4)
      .filter(abs($"cj" - $"cs") >= ConceptMargin)
      .select($"doc_id",
        when($"cj" > $"cs", "pro_join").otherwise("pro_scan").as("lang"),
        $"text")
  }

  /** The per-(doc, class) posterior score table on the STANDARD 80/20
    * split, built once per (JVM, dir) and served from [[IndexStore]]
    * (r18, verdict item 7 — the LR modelCache discipline applied to
    * NB): q319's argmax gate, q387's agreement cells and q434's DeLong
    * margins all consume exactly this frame, and each paid the full
    * tokenize + fit before. The build is deterministic (md5-free
    * integer split, driver-collected class constants), its cost is
    * surfaced by Bench's `index_build` line, and fold-split fits
    * (q323) do NOT route through here.
    */
  private def scoresTable(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    s.table(graft.core.IndexStore.ensure(s, "nbscores", dir) {
      val docs = plantedDocs(s, dir)
      scoreFrom(docs.filter($"doc_id" % 5 =!= 0),
        docs.filter($"doc_id" % 5 === 0))
        .select(col("doc_id"), col("true_lang"), col("lang"), col("score"))
    })
  }

  /** (doc_id, true_lang, pred_lang) over the held-out split — the
    * classifier itself, shared by q319's gate and the spec; the argmax
    * over the shared [[scoresTable]].
    */
  def predictions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    scoresTable(s, dir)
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min(struct((-col("score")).as("ns"), col("lang").as("l")))
        .getField("l").as("pred_lang"))
  }

  /** Per-(doc, class) POSTERIOR SCORES on the held-out split — the
    * score-level surface predictions() argmaxes away: (doc_id,
    * true_lang, lang, score) with `score` the exact micro-nat BIGINT
    * posterior (prior + token likelihoods). The DeLong comparison
    * (q434) ranks on the two-class margin of this frame.
    */
  def classScores(s: SparkSession, dir: String): DataFrame =
    scoresTable(s, dir)

  /** Fit on `train`, classify `test`; both are (doc_id, lang, text). */
  def predictFrom(train: DataFrame, test: DataFrame): DataFrame = {
    val scored = scoreFrom(train, test)
    scored
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min(struct((-col("score")).as("ns"), col("lang").as("l")))
        .getField("l").as("pred_lang"))
  }

  /** Fit on `train`, score every (test doc, class) pair — the shared
    * core of predictFrom (argmax) and classScores (score emission).
    */
  private def scoreFrom(train: DataFrame, test: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._

    val trainTok = train
      .select($"lang", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
    val counts = PlanBridge.checkpointResetStats(
      trainTok.groupBy($"lang", $"term")
        .agg(count(lit(1)).as("c")))
    // |langs|-bounded driver frames: token totals and doc priors.
    val totals = counts.groupBy($"lang").agg(sum($"c").as("nc"))
      .as[(String, Long)].collect().toMap
    val priors = train.groupBy($"lang").agg(count(lit(1)).as("nd"))
      .as[(String, Long)].collect().toMap
    val vocab = counts.select($"term").distinct().count()
    val nTrainDocs = priors.values.sum
    // Every lang with ≥1 train doc gets a class, even if all its docs
    // tokenized to nothing (Nc=0 still smooths to 1/V).
    val langs = priors.keys.toSeq.sorted

    // Per-class constants, micro-nat quantized: prior and the shared
    // unseen-token weight ln(1/(Nc+V)) (Laplace count 0 + 1).
    val classConst = langs.map { c =>
      val denom = (totals.getOrElse(c, 0L) + vocab).toDouble
      (c, qln(priors(c).toDouble / nTrainDocs), qln(1.0 / denom))
    }
    val classDf = broadcast(classConst.toDF("lang", "prior_q", "unseen_q"))

    // Seen-weight table: one row per (term, class) observed in train;
    // a vocab term UNSEEN in class c deliberately has no row — its
    // Laplace weight equals the per-class unseen constant, so the
    // score decomposes as prior + Σ seen cnt·w + (len − seen_len)·u.
    val weights = counts
      .select($"term", $"lang",
        floor(lit(WScale) *
          log((col("c") + 1).cast("double") /
            (udfFreeDenom(totals, vocab)(col("lang")))))
          .cast("long").as("w_q"))

    val testTok = test
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
    val docLen = testTok.groupBy($"doc_id").agg(sum($"cnt").as("len"))

    val seen = testTok.join(weights, "term")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"cnt" * $"w_q").as("seen_score"),
        sum($"cnt").as("seen_len"))

    val scored = test.select($"doc_id", $"lang".as("true_lang"))
      .join(docLen, Seq("doc_id"), "left").na.fill(0L, Seq("len"))
      .crossJoin(classDf)
      .join(seen, Seq("doc_id", "lang"), "left")
      .na.fill(0L, Seq("seen_score", "seen_len"))
      .withColumn("score",
        $"prior_q" + $"seen_score" + ($"len" - $"seen_len") * $"unseen_q")
    scored
  }

  /** Train on doc_id % 5 ≠ 0, score doc_id % 5 = 0; the gate frame —
    * failures surface as ok=false against the oracle's TRUE.
    */
  val q319NaiveBayes: Q = (s, dir) => {
    import s.implicits._
    val docs = plantedDocs(s, dir)
    val pred = predictions(s, dir)

    val agg = pred.agg(
      count(lit(1)).as("n_scored"),
      sum(when($"pred_lang" === $"true_lang", 1L).otherwise(0L)).as("n_correct"),
      countDistinct($"pred_lang").as("n_pred_classes"),
      countDistinct($"true_lang").as("n_true_classes"))
      .head()
    val (nScored, nCorrect) = (agg.getLong(0), agg.getLong(1))
    val classesCovered = agg.getLong(2) == agg.getLong(3)
    val nTrain = docs.filter($"doc_id" % 5 =!= 0).count()
    val nLangs = docs.filter($"doc_id" % 5 =!= 0)
      .agg(countDistinct($"lang")).head().getLong(0)
    val nTest = docs.filter($"doc_id" % 5 === 0).count()
    val accPermille = if (nTest == 0) 0L else 1000L * nCorrect / nTest
    val ok = nScored == nTest && accPermille >= MinAccPermille &&
      classesCovered

    s.createDataFrame(Seq(
      (nTrain, nTest, nLangs, ok)
    )).toDF("n_train", "n_test", "n_classes", "ok")
  }

  /** Spell the per-class denominator Nc+V as a CASE over the
    * |langs|-bounded map — a literal expression, not a UDF, so the
    * weight projection stays inside codegen.
    */
  private def udfFreeDenom(totals: Map[String, Long], vocab: Long) = {
    (langCol: org.apache.spark.sql.Column) =>
      totals.foldLeft(lit(Double.NaN)) { case (acc, (l, nc)) =>
        when(langCol === l, lit((nc + vocab).toDouble)).otherwise(acc)
      }
  }

  val q319Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN cj > cs THEN 'pro_join' ELSE 'pro_scan' END AS lang
       |  FROM (SELECT doc_id,
       |      (length(text) - length(replace(text, 'join', ''))) / 4 AS cj,
       |      (length(text) - length(replace(text, 'scan', ''))) / 4 AS cs
       |    FROM documents)
       |  WHERE abs(cj - cs) >= $ConceptMargin)
       |SELECT
       |  (SELECT COUNT(*) FROM planted WHERE doc_id % 5 <> 0) AS n_train,
       |  (SELECT COUNT(*) FROM planted WHERE doc_id % 5 = 0) AS n_test,
       |  (SELECT COUNT(DISTINCT lang) FROM planted WHERE doc_id % 5 <> 0) AS n_classes,
       |  TRUE AS ok""".stripMargin


  /** q323 — 5-FOLD CROSS-VALIDATION of the q319 classifier (the
    * model-selection loop every trained corpus filter runs before
    * deployment): folds are the deterministic doc_id mod 5 partition,
    * each fold trains on the other four and scores its own held-out
    * fifth. One gate row per fold — a single unlucky fold fails ALONE,
    * which is exactly the diagnostic CV exists to give. Cost is
    * explicitly 5 independent fits (CV's definition, not plan waste).
    */
  val q323CvFolds: Q = (s, dir) => {
    import s.implicits._
    val docs = PlanBridge.checkpointResetStats(plantedDocs(s, dir))
    // emit only folds PRESENT in the data (the oracle's GROUP BY
    // doc_id % 5 shape): an empty fold must neither emit a phantom
    // row nor NPE on the null sum an empty frame aggregates to.
    // r17 optimization (guide §2.6 "overlap independent jobs"): the
    // five fits are independent by construction and each one is a
    // chain of small driver actions; running them from a thread pool
    // back-fills the stage tails instead of serializing ~25 jobs.
    // Fold results are reassembled in fold order, so the output is
    // byte-identical to the sequential spelling.
    val rows = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence((0 until 5).map { k =>
        Future {
          val train = docs.filter($"doc_id" % 5 =!= k)
          val test = docs.filter($"doc_id" % 5 === k)
          val pred = predictFrom(train, test)
          val agg = pred.agg(
            count(lit(1)).as("n"),
            sum(when($"pred_lang" === $"true_lang", 1L).otherwise(0L))
              .as("c"))
            .head()
          val n = agg.getLong(0)
          val c = if (agg.isNullAt(1)) 0L else agg.getLong(1)
          if (n == 0) None
          else Some((k.toLong, n, 1000L * c / n >= MinAccPermille))
        }
      }), Duration.Inf).flatten
      // shutdownNow, not shutdown (r17 advice): if one fold's action
      // throws, the siblings' queued work is cancelled instead of
      // running every remaining job before the error propagates
      finally pool.shutdownNow()
    }
    s.createDataFrame(rows).toDF("fold", "n_test", "ok")
      .orderBy("fold")
  }

  val q323Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id FROM (SELECT doc_id,
       |      (length(text) - length(replace(text, 'join', ''))) / 4 AS cj,
       |      (length(text) - length(replace(text, 'scan', ''))) / 4 AS cs
       |    FROM documents)
       |  WHERE abs(cj - cs) >= $ConceptMargin)
       |SELECT CAST(doc_id % 5 AS BIGINT) AS fold, COUNT(*) AS n_test,
       |  TRUE AS ok
       |FROM planted GROUP BY 1 ORDER BY fold""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q319_naive_bayes", q319NaiveBayes, q319Sql),
    Entry("q323_cv_folds", q323CvFolds, q323Sql))
}
