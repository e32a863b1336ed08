package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** PHONETIC BLOCKING via SOUNDEX (Russell patent 1918; Knuth TAOCP
  * vol. 3 §6: the classical sound-alike code) — the PHONETIC blocking
  * key the entity-resolution family lacked: q109 blocks the fuzzy
  * match on the EXACT last token (misspell the token and the pair is
  * unreachable), q197 scores Jaro–Winkler inside brand blocks;
  * soundex buckets sound-alike spellings ("red"/"rod" share R300 —
  * the one real collision in this vocabulary, invisible to exact
  * blocking) so the expensive edit-distance verify runs only inside
  * phonetic buckets.
  *
  * Engine/oracle shape — the REVERSE of q197: there DuckDB had the
  * native metric and a custom Spark expression mirrored it
  * float-for-float; here SPARK ships the native codegen `soundex`
  * and the DuckDB oracle REPLAYS the algorithm from its definition
  * in pure list HOFs. Spark's semantics (probed exhaustively, pinned
  * in spec): keep the first letter; map
  * b f p v→1, c g j k q s x z→2, d t→3, l→4, m n→5, r→6,
  * vowels+y→0 (reset), h w→transparent (REMOVED without breaking
  * adjacency — "Ashcraft"→A261, "xhx"→X000); a first-letter h/w
  * contributes code 0 ("Hmm"→H500); emit a digit when it is 1–6 and
  * differs from the previous surviving code; pad/truncate to 3
  * digits. Inputs are pre-filtered to `^[a-z]+$` so the non-letter
  * passthrough path never enters (scaladoc'd domain guard).
  *
  * Scale shape (the q109 dictionary discipline): all phonetic work
  * happens on the DISTINCT-WORD dictionary (domain-bounded, never
  * row-bounded); blocks join pairwise only within a code; the exact
  * integer outputs (block size, best match by (dist, word) min —
  * deterministic ties) make the row hash-exact.
  */
object PhoneticBlocking {

  import Entry.Q

  val MaxEdit = 2

  /** The DuckDB soundex mapping for one lowercase char expression. */
  private val CharMap =
    """CASE
      | WHEN x IN ('b','f','p','v') THEN '1'
      | WHEN x IN ('c','g','j','k','q','s','x','z') THEN '2'
      | WHEN x IN ('d','t') THEN '3'
      | WHEN x = 'l' THEN '4'
      | WHEN x IN ('m','n') THEN '5'
      | WHEN x = 'r' THEN '6'
      | WHEN x IN ('h','w') THEN '-'
      | ELSE '0' END""".stripMargin.replace('\n', ' ')

  /** Per-word phonetic table off a one-column `w` dictionary frame
    * (lowercase letters only): (w, code, block_n, best_match,
    * best_dist).
    */
  def phoneticTable(dict: DataFrame): DataFrame = {
    val s = dict.sparkSession
    import s.implicits._
    val coded = PlanBridge.checkpointResetStats(
      dict.select($"w", soundex($"w").as("code")))
    val sizes = coded.groupBy($"code").agg(count(lit(1)).as("block_n"))
    val best = coded.as("a").join(coded.as("b"),
        $"a.code" === $"b.code" && $"a.w" =!= $"b.w")
      .withColumn("dist", levenshtein($"a.w", $"b.w"))
      .filter($"dist" <= MaxEdit)
      .groupBy($"a.w".as("w"))
      .agg(min(struct($"dist", $"b.w".as("m"))).as("bm"))
      .select($"w", $"bm.m".as("best_match"),
        $"bm.dist".cast("long").as("best_dist"))
    coded.join(sizes, "code")
      .join(best, Seq("w"), "left")
      .select($"w", $"code", $"block_n", $"best_match", $"best_dist")
      .orderBy($"w")
  }

  /** The shared dictionary: distinct lowercase-letter words of part
    * names and document text.
    */
  private def dictionary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.part(s, dir).select(explode(split($"p_name", " ")).as("w"))
      .union(T.documents(s, dir)
        .select(explode(split($"text", " ")).as("w")))
      .filter($"w".rlike("^[a-z]+$"))
      .distinct()
  }

  val q589PhoneticBlocking: Q = (s, dir) =>
    phoneticTable(dictionary(s, dir))

  val q589Sql: String =
    s"""WITH dict AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(string_split(p_name, ' ')) AS w FROM part
      |    UNION ALL
      |    SELECT unnest(string_split(text, ' ')) FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$')),
      |staged AS (
      |  SELECT w,
      |    list_transform(range(1, length(w) + 1),
      |      i -> w[i]) AS chars,
      |    list_transform(chars, x -> $CharMap) AS cds,
      |    list_concat(
      |      [CASE WHEN cds[1] = '-' THEN '0' ELSE cds[1] END],
      |      list_filter(list_slice(cds, 2, len(cds)),
      |        c -> c <> '-')) AS sq,
      |    upper(w[1]) || rpad(substr(COALESCE(array_to_string(
      |      list_transform(range(2, len(sq) + 1),
      |        i -> CASE WHEN sq[i] BETWEEN '1' AND '6'
      |          AND sq[i] <> sq[i - 1] THEN sq[i] ELSE '' END),
      |      ''), ''), 1, 3), 3, '0') AS code
      |  FROM dict),
      |coded AS (SELECT w, code FROM staged),
      |sizes AS (
      |  SELECT code, COUNT(*) AS block_n FROM coded GROUP BY 1),
      |best AS (
      |  SELECT a.w,
      |    MIN(struct_pack(d := levenshtein(a.w, b.w), m := b.w)) AS bm
      |  FROM coded a JOIN coded b
      |    ON a.code = b.code AND a.w <> b.w
      |  WHERE levenshtein(a.w, b.w) <= $MaxEdit
      |  GROUP BY 1)
      |SELECT c.w, c.code, CAST(block_n AS BIGINT) AS block_n,
      |  bm.m AS best_match,
      |  CAST(bm.d AS BIGINT) AS best_dist
      |FROM coded c
      |JOIN sizes USING (code)
      |LEFT JOIN best ON c.w = best.w
      |ORDER BY c.w""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q589_phonetic_blocking", q589PhoneticBlocking, q589Sql))
}
