package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** ORDER-PRESERVING DICTIONARY ENCODING — the string-storage leg next
  * to the numeric compression ops (int8 q123, binary q232, PQ q155):
  * assign each distinct string a dense integer code whose ORDER equals
  * the string order, so range predicates evaluate on fixed-width
  * integers (the classic columnar trick: a BETWEEN on codes is a
  * vectorized integer compare; C-Store/Vertica, Parquet dictionary
  * pages, Vectorwise all live on it).
  *
  * Build: code = full rank of the distinct-string frame under the
  * TWO-LEVEL scan ([[QuantileNormalize.fullRank]] — distinct strings
  * are Heaps-law-sized, never a one-task window); encode = one keyed
  * join back.
  *
  * The ORDER-PRESERVATION gate is semantic, not structural: the
  * inter-quartile range query evaluated on STRINGS (name ∈ [name@q1,
  * name@q3)) and on CODES (code ∈ [q1, q3)) must count identically —
  * required in-engine AND emitted, so the oracle (which builds the
  * same dictionary via ROW_NUMBER) full-value-checks the count and
  * the head of the dictionary itself.
  */
object DictionaryEncode {

  import Entry.Q

  val DictHead = 20

  val q506DictEncode: Q = (s, dir) => {
    import s.implicits._
    val names = PlanBridge.checkpointResetStats(
      T.part(s, dir).select($"p_name".as("name")))
    val dict = PlanBridge.checkpointResetStats(QuantileNormalize.fullRank(
      names.distinct(), Seq(), Seq("name"), "code"))
    val n = dict.count()
    val q1 = n / 4 + 1
    val q3 = 3 * n / 4 + 1
    val pivots = dict.filter($"code" === q1 || $"code" === q3)
      .orderBy($"code").select($"name").as[String].collect()
    require(pivots.length == 2, s"pivot codes $q1/$q3 missing from dict")
    val (lo, hi) = (pivots(0), pivots(1))
    // the same range query, answered on strings and on codes
    val strCount = names.filter($"name" >= lo && $"name" < hi).count()
    val codeCount = names.join(dict, "name")
      .filter($"code" >= q1 && $"code" < q3).count()
    require(strCount == codeCount,
      s"order preservation broken: $strCount string-side vs " +
        s"$codeCount code-side rows in [$lo, $hi)")
    dict.orderBy($"code").limit(DictHead)
      .select($"code", $"name", lit(strCount).as("n_mid_range"))
  }

  val q506Sql: String =
    s"""WITH d AS MATERIALIZED (
      |  SELECT name, CAST(ROW_NUMBER() OVER (ORDER BY name) AS BIGINT)
      |    AS code
      |  FROM (SELECT DISTINCT p_name AS name FROM part)),
      |nn AS (SELECT COUNT(*) AS n FROM d),
      |piv AS (SELECT
      |  (SELECT name FROM d WHERE code = (SELECT n // 4 + 1 FROM nn))
      |    AS lo,
      |  (SELECT name FROM d WHERE code = (SELECT 3 * n // 4 + 1 FROM nn))
      |    AS hi),
      |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mid
      |  FROM part, piv WHERE p_name >= lo AND p_name < hi)
      |SELECT code, name, (SELECT n_mid FROM cnt) AS n_mid_range
      |FROM d ORDER BY code LIMIT $DictHead""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q506_dict_encode", q506DictEncode, q506Sql))
}
