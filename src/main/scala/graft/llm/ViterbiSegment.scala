package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** VITERBI OPTIMAL SEGMENTATION (the DP core of SentencePiece's
  * unigram LM, Kudo ACL'18, run under the DEFINED min-pieces integer
  * cost — completes the tokenizer family: BPE merge-learning q140 +
  * encode q145 and greedy longest-match WordPiece q440; Viterbi is
  * WordPiece's GLOBALLY-OPTIMAL counterpart, and the spec pins a
  * dictionary where greedy longest-match is strictly suboptimal —
  * the reason the DP exists): per distinct corpus word, the minimum
  * number of vocabulary pieces that concatenate to it.
  *
  * Vocabulary (deterministic, corpus-fitted): the [[VsTopPieces]]
  * most frequent substrings of length 2..[[VsMaxPieceLen]] over the
  * frequency-weighted word census (ties broken by piece text — the
  * q140 census discipline), UNIONED with every single character seen
  * (full coverage ⟹ the DP is total, no OOV arm). Integer cost 1 per
  * piece = the min-pieces objective; the unigram-LM probability costs
  * are one INPUT swap away (any integer cost table works — the DP is
  * the operator, scaladoc'd).
  *
  * Exactness: costs, positions and counts are small exact integers;
  * the DP is evaluated POSITION BY POSITION (cost(p) = 1 + min over
  * piece lengths ℓ ≤ min(p, L) with word[p−ℓ..p) in vocab of
  * cost(p−ℓ)), executor-side over the broadcast piece set (the
  * multimodal batch-seam discipline — the dictionary is
  * [[VsTopPieces]]-bounded by construction); the oracle REPLAYS the
  * same DP as [[VsMaxWordLen]] unrolled MATERIALIZED position rounds
  * joining the same piece CTE (measured max word length 8 at both
  * oracle SFs; longer words are excluded by the spec-pinned filter so
  * both engines see identical domains).
  *
  * Scale shape: word census = one partial agg (vocabulary-bounded —
  * Heaps-law rows, not corpus rows); piece census = one explode +
  * partial agg + TopK; the DP is a map over the word census with a
  * ~[[VsTopPieces]]-entry broadcast.
  */
object ViterbiSegment {

  import Entry.Q

  val VsMaxPieceLen = 4
  val VsTopPieces = 50
  /** Oracle unroll bound; words longer are filtered in BOTH engines. */
  val VsMaxWordLen = 12

  /** Min-pieces DP for one word over a piece set (all single chars of
    * the word assumed present — coverage is the vocab contract).
    */
  def minPieces(word: String, pieces: Set[String]): Int = {
    val n = word.length
    val cost = Array.fill(n + 1)(Int.MaxValue)
    cost(0) = 0
    var p = 1
    while (p <= n) {
      var l = 1
      while (l <= math.min(p, VsMaxPieceLen)) {
        if (cost(p - l) != Int.MaxValue &&
            pieces.contains(word.substring(p - l, p)))
          cost(p) = math.min(cost(p), cost(p - l) + 1)
        l += 1
      }
      p += 1
    }
    cost(n)
  }

  /** The fitted piece set: top-[[VsTopPieces]] frequent multi-char
    * substrings ∪ all seen single chars, over a `(word, freq)` census.
    */
  def fitPieces(words: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val subs = words
      .select($"word", $"freq",
        explode(expr(
          s"""flatten(transform(sequence(1, length(word)), p ->
             | transform(sequence(2, $VsMaxPieceLen), l ->
             |   CASE WHEN p + l - 1 <= length(word)
             |     THEN substring(word, p, l) END)))""".stripMargin))
          .as("piece"))
      .filter($"piece".isNotNull)
      .groupBy($"piece").agg(sum($"freq").as("pfreq"))
    val top = graft.plans.TopK.perGroup(
      subs.withColumn("g", lit(1)), Seq("g"),
      Seq("pfreq" -> false, "piece" -> true), VsTopPieces)
      .select($"piece")
    val chars = words
      .select(explode(expr("split(word, '')")).as("piece"))
      .filter(length($"piece") === 1)
      .distinct()
    top.unionByName(chars).distinct()
  }

  val q558ViterbiSegment: Q = (s, dir) => {
    import s.implicits._
    val words = PlanBridge.checkpointResetStats(T(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0 && length($"word") <= VsMaxWordLen)
      .groupBy($"word").agg(count(lit(1)).as("freq")))
    val pieceSet = fitPieces(words)
      .as[String].collect().toSet // VsTopPieces + |charset| bounded
    val bc = s.sparkContext.broadcast(pieceSet)
    words.select($"word", $"freq").as[(String, Long)]
      .map { case (w, f) =>
        (w, f, minPieces(w, bc.value).toLong)
      }
      .toDF("word", "freq", "n_pieces")
      .orderBy($"word")
  }

  val q558Sql: String = {
    val base =
      s"""WITH words AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 AND length(word) <= $VsMaxWordLen
        |  GROUP BY 1),
        |subs AS (
        |  SELECT substr(word, p, l) AS piece, SUM(freq) AS pfreq
        |  FROM words,
        |    (SELECT UNNEST(range(1, $VsMaxWordLen + 1)) AS p),
        |    (SELECT UNNEST(range(2, ${VsMaxPieceLen + 1})) AS l)
        |  WHERE p + l - 1 <= length(word)
        |  GROUP BY 1),
        |top AS (
        |  SELECT piece FROM subs
        |  ORDER BY pfreq DESC, piece ASC LIMIT $VsTopPieces),
        |chars AS (
        |  SELECT DISTINCT substr(word, p, 1) AS piece
        |  FROM words, (SELECT UNNEST(range(1, $VsMaxWordLen + 1)) AS p)
        |  WHERE p <= length(word)),
        |pieces AS MATERIALIZED (
        |  SELECT DISTINCT piece FROM
        |    (SELECT piece FROM top UNION ALL SELECT piece FROM chars)),
        |c0 AS MATERIALIZED (
        |  SELECT word, 0 AS pos, 0 AS cost FROM words)""".stripMargin
    val rounds = (1 to VsMaxWordLen).map { p =>
      val arms = (1 to VsMaxPieceLen).filter(_ <= p).map { l =>
        s"""SELECT c.word, $p AS pos, c.cost + 1 AS cost
          |    FROM c${p - l} c JOIN pieces
          |      ON pieces.piece = substr(c.word, ${p - l + 1}, $l)
          |    WHERE length(c.word) >= $p""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s"""c$p AS MATERIALIZED (
        |  SELECT word, pos, MIN(cost) AS cost FROM (
        |    $arms)
        |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to VsMaxWordLen).map { p =>
      s"SELECT word, cost FROM c$p WHERE length(word) = $p"
    }.mkString("\n  UNION ALL ")
    s"""$base,
      |$rounds,
      |final AS (
      |  $finals)
      |SELECT words.word, words.freq,
      |  CAST(final.cost AS BIGINT) AS n_pieces
      |FROM words JOIN final ON final.word = words.word
      |ORDER BY words.word""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q558_viterbi_segment", q558ViterbiSegment, q558Sql))
}
