package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** FEATURE HASHING (the "hashing trick", Weinberger et al. ICML'09):
  * bag-of-words → fixed-width vector with NO vocabulary table — token t
  * lands in dimension h(t) mod D with sign ±1 from an independent hash
  * bit; the sign makes collisions cancel in expectation (the paper's
  * unbiasedness lemma), which is why a 100 TB pipeline can featurize
  * without the global vocab build a TF-IDF matrix needs.
  *
  * q383 emits the per-source hashed feature vector (D=16 rows per
  * source) plus the collision census per dimension (how many distinct
  * vocab tokens share it — with a 31-token closed vocab over 16 dims,
  * collisions are guaranteed and visible). Hashes are md5-derived
  * (engine-independent); weights are exact BIGINT counts times ±1.
  *
  * Scale shape: ONE (source, tok) partial-agg pass; the tok→(dim,
  * sign) map is a per-row expression (no vocab broadcast, the trick's
  * point); final collapse is a (source, dim) partial agg onto a
  * sources×D-bounded frame.
  */
object FeatureHashing {

  import Entry.Q

  val Dims = 16

  val q383FeatureHash: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
      .withColumn("dim", expr(
        s"""CAST(conv(substring(md5(concat('fh:', tok)), 1, 8), 16, 10)
           |  AS BIGINT) % $Dims""".stripMargin))
      .withColumn("sign", expr(
        "IF(CAST(conv(substring(md5(concat('fs:', tok)), 1, 1), 16, 10) " +
          "AS BIGINT) % 2 = 0, 1L, -1L)"))
      .groupBy($"source", $"dim")
      .agg(sum($"sign" * $"c").as("w_sum"),
        countDistinct($"tok").as("n_vocab_in_dim"))
      .orderBy($"source", $"dim")
  }

  val q383Sql: String =
    s"""WITH st AS (
       |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> '' GROUP BY source, tok),
       |h AS (
       |  SELECT source, tok, c,
       |    CAST(('0x' || substring(md5('fh:' || tok), 1, 8)) AS BIGINT)
       |      % $Dims AS dim,
       |    CASE WHEN CAST(('0x' || substring(md5('fs:' || tok), 1, 1))
       |           AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM st)
       |SELECT source, dim, CAST(SUM(sign * c) AS BIGINT) AS w_sum,
       |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab_in_dim
       |FROM h GROUP BY source, dim
       |ORDER BY source, dim""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q383_feature_hash", q383FeatureHash, q383Sql))
}
