package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, ExactDiv, Tables => T}

/** BLEU-4 between near-duplicate pairs (Papineni et al. ACL'02 — THE
  * machine-translation/generation overlap metric: per n ∈ 1..4 the
  * CLIPPED n-gram precision m_n/t_n, where a candidate n-gram only
  * counts as matched up to its reference multiplicity, geometric-
  * meaned and brevity-penalized exp(min(0, 1−r/c))): the MT-eval leg
  * the evaluation family lacked — q557 pass@k scores execution, q444
  * nDCG scores ranking, q250/q342 score classification; nothing
  * scored generated TEXT against a reference. Run over the
  * q41-verified near-dup pairs (reference = doc1, candidate = doc2 —
  * the "how close is the reworded copy" reading a dedup reviewer
  * wants next to q344's located-run and q348's LCS on the same
  * frame), but `bleu` takes ANY (doc1, doc2) pair frame — paired
  * generations plug straight in.
  *
  * Exactness: every clipped match count m_n and total t_n = c_len−n+1
  * is an exact integer off pair-local array HOFs; the log finish
  * rides the q314/q569 LN discipline — each ln(m_n/t_n) is one LN of
  * a ratio of BIGINT-guarded doubles micro-FLOORED per term (the
  * floor-toward−∞ on a negative double, identical both engines),
  * ln BP = min(0, (c−r)/c) is an EXACT rational via [[ExactDiv]]
  * (true floor — the numerator is signed), and
  * bleu_ln_micro = ⌊Σ_n lnp_n/4⌋ + bp_ln_micro is pure integer
  * arithmetic after that. Any m_n = 0 → BLEU = 0 exactly
  * (NULL ln columns — the paper's uncensored convention, no
  * smoothing), kept visible next to the zero.
  *
  * Scale shape: everything downstream of the candidate set is
  * PAIR-BOUNDED (the q344/q348 discipline): token arrays join onto
  * the verified pairs, all n-gram counting is in-row HOFs over ≤100-
  * token lists (no shuffle, no explode), output is |pairs| rows. At
  * full scale the pair frame is q41's banded candidates — corpus
  * size never enters the BLEU stage.
  */
object BleuScore {

  import Entry.Q

  /** Per-n clipped-match expression over token-array columns `ca`
    * (candidate) and `ra` (reference): Σ over DISTINCT candidate
    * n-grams of min(count in candidate, count in reference).
    */
  private def matchExpr(n: Int): String = {
    // sequence(1, 0) would generate DESCENDING [1, 0] in Spark, so
    // the too-short case must return an explicit empty array
    def grams(col: String) =
      s"IF(size($col) >= $n, " +
        s"transform(sequence(1, size($col) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice($col, i, $n))), " +
        s"CAST(array() AS ARRAY<STRING>))"
    s"""CAST(aggregate(array_distinct(${grams("ca")}), 0L,
       |  (acc, g) -> acc + least(
       |    size(filter(${grams("ca")}, x -> x = g)),
       |    size(filter(${grams("ra")}, x -> x = g)))) AS BIGINT)"""
      .stripMargin
  }

  /** BLEU ledger for a `(doc1, doc2)` pair frame against a
    * `(doc_id, text)` corpus: reference = doc1, candidate = doc2.
    */
  def bleu(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val toks = docs.select($"doc_id", split($"text", " ").as("a"))
    val paired = pairs.select($"doc1", $"doc2")
      .join(toks.select($"doc_id".as("doc1"), $"a".as("ra")), "doc1")
      .join(toks.select($"doc_id".as("doc2"), $"a".as("ca")), "doc2")
      .withColumn("c_len", size($"ca").cast("long"))
      .withColumn("r_len", size($"ra").cast("long"))
    val counted = (1 to 4).foldLeft(paired) { (df, n) =>
      df.withColumn(s"m$n", expr(matchExpr(n)))
        .withColumn(s"t$n",
          expr(s"greatest(0L, c_len - ${n - 1})"))
    }
    counted
      // one LN per order, micro-floored (q569 discipline); all-orders
      // guard keeps ln(0) out of the plan
      .withColumn("lnp_sum", expr(
        (1 to 4).map(n =>
          s"CAST(FLOOR(1000000.0 * LN(CAST(m$n AS DOUBLE)" +
            s" / CAST(t$n AS DOUBLE))) AS BIGINT)")
          .mkString("CASE WHEN least(m1, m2, m3, m4) = 0" +
            " THEN CAST(NULL AS BIGINT) ELSE ", " + ", " END")))
      .withColumn("bp_ln_micro", expr("LEAST(0L, CAST(" +
        ExactDiv.microFloor(
          "CAST(c_len - r_len AS DECIMAL(38,0))",
          "CAST(c_len AS DECIMAL(38,0))", "div") + " AS BIGINT))"))
      .withColumn("bleu_ln_micro", expr(
        ExactDiv.floorDiv("lnp_sum", "4", "div") + " + bp_ln_micro"))
      .select($"doc1", $"doc2", $"c_len", $"r_len",
        $"m1", $"t1", $"m2", $"t2", $"m3", $"t3", $"m4", $"t4",
        $"bp_ln_micro", $"bleu_ln_micro")
      .orderBy($"doc1", $"doc2")
  }

  val q582Bleu: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    bleu(DedupQueries.verifiedPairs(s, dir), docs)
  }

  /** The oracle replays q41's exact all-pairs set (lossless banding —
    * the q344 precedent), then the same pair-local clipped counting
    * with DuckDB list HOFs and the identical LN/ExactDiv finish.
    */
  val q582Sql: String = {
    def grams(col: String, n: Int) =
      s"list_transform(range(1, greatest(1, len($col) - ${n - 2})), " +
        s"i -> array_to_string(list_slice($col, i, i + ${n - 1}), ' '))"
    val mCols = (1 to 4).map { n =>
      s"""COALESCE(list_sum(list_transform(
         |      list_distinct(${grams("ca", n)}),
         |      g -> least(len(list_filter(${grams("ca", n)}, x -> x = g)),
         |        len(list_filter(${grams("ra", n)}, x -> x = g))))), 0)
         |      AS m$n,
         |    greatest(0, c_len - ${n - 1}) AS t$n""".stripMargin
    }.mkString(",\n    ")
    val lnpSum = (1 to 4).map(n =>
      s"CAST(FLOOR(1000000.0 * LN(CAST(m$n AS DOUBLE)" +
        s" / CAST(t$n AS DOUBLE))) AS BIGINT)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          UNNEST(list_transform(range(1, len(ws) - 1),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
       |        FROM w),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
       |       FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc1, doc2 FROM pr
       |  JOIN sizes n1 ON pr.doc1 = n1.doc_id
       |  JOIN sizes n2 ON pr.doc2 = n2.doc_id
       |  WHERE inter / (n1.n + n2.n - inter) >=
       |    ${DedupQueries.NearDupThreshold}),
       |pt AS (
       |  SELECT doc1, doc2, w1.ws AS ra, w2.ws AS ca,
       |    CAST(len(w2.ws) AS BIGINT) AS c_len,
       |    CAST(len(w1.ws) AS BIGINT) AS r_len
       |  FROM pairs
       |  JOIN w w1 ON w1.doc_id = doc1
       |  JOIN w w2 ON w2.doc_id = doc2),
       |counted AS (
       |  SELECT doc1, doc2, c_len, r_len,
       |    $mCols
       |  FROM pt),
       |finished AS (
       |  SELECT doc1, doc2, c_len, r_len,
       |    CAST(m1 AS BIGINT) AS m1, t1, CAST(m2 AS BIGINT) AS m2, t2,
       |    CAST(m3 AS BIGINT) AS m3, t3, CAST(m4 AS BIGINT) AS m4, t4,
       |    CASE WHEN least(m1, m2, m3, m4) = 0 THEN CAST(NULL AS BIGINT)
       |      ELSE $lnpSum END AS lnp_sum,
       |    LEAST(0, CAST(${ExactDiv.microFloor(
              "CAST(c_len - r_len AS HUGEINT)",
              "CAST(c_len AS HUGEINT)", "//")} AS BIGINT)) AS bp_ln_micro
       |  FROM counted)
       |SELECT doc1, doc2, c_len, r_len, m1, t1, m2, t2, m3, t3, m4, t4,
       |  bp_ln_micro,
       |  ${ExactDiv.floorDiv("lnp_sum", "4", "//")} + bp_ln_micro
       |    AS bleu_ln_micro
       |FROM finished
       |ORDER BY doc1, doc2""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q582_bleu", q582Bleu, q582Sql))
}
