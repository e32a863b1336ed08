package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Distributed BPE merge learning (Sennrich et al. 2016, public
  * algorithm) — the tokenizer-training leg of the LLM-data pipeline:
  * learn the first N byte-pair merges from corpus word frequencies.
  *
  * Algorithm per merge rank: count adjacent symbol pairs weighted by
  * word frequency, pick the most frequent pair (ties broken
  * lexicographically), rewrite every word's symbol sequence with the
  * pair merged, repeat. Merge application is the GREEDY LEFT-TO-RIGHT
  * fold (the standard BPE convention): scanning "a a a", merge (a,a)
  * produces [aa, a], and a symbol created by a merge does not re-merge
  * within the same pass. Both engines implement the fold identically —
  * Spark via `aggregate` over the symbol array with a string
  * accumulator, DuckDB via `list_reduce` with the same accumulator
  * logic — so learned merge tables are bit-identical. (A
  * regexp-replace-until-fixpoint spelling is NOT equivalent: on
  * "a a a a a" it can merge the 4th/5th symbols before a second pass
  * reaches the 3rd, yielding [aa, a, aa] instead of greedy [aa, aa, a].)
  *
  * Scale shape: the ONLY corpus-sized operation is the initial word
  * count — one explode + partial-aggregated groupBy. Everything after
  * runs on the vocabulary frequency table (|V| rows, corpus-size
  * INDEPENDENT — the classic reason BPE trains on word counts, not raw
  * text). Each iteration is one pair-explode over |V| (map-side), one
  * partial-aggregated pair count, an argmax via TakeOrdered(1) (ONE
  * driver row per iteration, like ConnectedComponents' per-round
  * count), and a map-only rewrite. The vocab frame is
  * `localCheckpoint`ed per iteration with the superseded generation's
  * blocks dropped, so executor storage stays flat across iterations.
  *
  * Alphabet restriction: words are filtered to `^[a-z0-9]+$` in both
  * engines, so symbols never contain regex metacharacters and the
  * accumulator's last-token regexes are exact.
  *
  * Reference anchor: no tokenizer exists in the reference (it serves
  * raw bytes — main.go:300-333); north-star [N] row.
  */
object BpeTrain {

  import Entry.Q

  val MergeCount = 6

  /** Learn merges AND return the end-state vocabulary: the learned
    * merge list plus the vocab frame (word, cnt, s) with every word
    * rewritten through all merges — the trained tokenizer's word →
    * symbol-sequence table, ready for corpus encoding (q145).
    */
  def trainState(corpus: DataFrame, merges: Int = MergeCount)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    var w = PlanBridge.checkpointResetStats(corpus
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z0-9]+$"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat_ws(" ", split($"word", ""))))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to merges) {
      val sl = split($"s", " ")
      val top = w
        .select($"cnt", explode(
          zip_with(sl, slice(sl, lit(2), greatest(size(sl) - 1, lit(0))),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .filter($"p.b".isNotNull)
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"cnt").as("pc"))
        .orderBy($"pc".desc, $"a".asc, $"b".asc)
        .limit(1).collect()
      require(top.nonEmpty, s"no pairs left at merge rank $rank")
      val (a, b, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      require(a.matches("[a-z0-9]+") && b.matches("[a-z0-9]+"),
        s"non-alphanumeric symbol escaped the alphabet filter: '$a' '$b'")
      learned += ((rank, a, b, pc))
      val prev = w
      w = PlanBridge.checkpointResetStats(w.withColumn("s",
        aggregate(slice(sl, lit(2), greatest(size(sl) - 1, lit(0))),
          element_at(sl, 1),
          (acc, x) =>
            when(regexp_extract(acc, "([^ ]+)$", 1) === lit(a) && x === lit(b),
              regexp_replace(acc, "[^ ]+$", a + b))
              .otherwise(concat(acc, lit(" "), x)))))
      PlanBridge.release(prev)
    }
    (learned.result(), w)
  }

  /** Learn [[MergeCount]] merges from a (text) corpus frame; returns
    * (merge_rank, left_sym, right_sym, pair_count).
    */
  def learnMerges(corpus: DataFrame, merges: Int = MergeCount): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val (learned, vocab) = trainState(corpus, merges)
    PlanBridge.release(vocab)
    s.createDataFrame(learned)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .orderBy($"merge_rank")
  }

  /** q140 — the first [[MergeCount]] BPE merges over the documents
    * corpus.
    */
  val q140BpeTrain: Q = (s, dir) => learnMerges(T.documents(s, dir))

  /** q145 — BPE ENCODING with the learned tokenizer: every corpus word
    * is looked up in the trained word → symbol-sequence vocabulary and
    * per-doc token counts are emitted (pre-BPE character symbols vs
    * post-merge tokens) — the token-budget accounting step every
    * training-data pipeline runs after tokenizer training.
    *
    * Scale shape: encoding is an equi-join of the exploded corpus
    * against the vocabulary (broadcastable while |V| is small; hash
    * join at full vocabulary), plus per-doc partial-aggregated sums —
    * the expensive training loop is amortized across the whole corpus
    * encode. Out-of-alphabet words drop out of the inner join in both
    * engines.
    */
  val q145BpeEncode: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val (_, vocab) = trainState(docs)
    val words = docs.select($"doc_id", explode(split($"text", " ")).as("word"))
    val out = PlanBridge.checkpointResetStats(words.join(vocab, "word")
      .groupBy($"doc_id")
      .agg(sum(length($"word")).as("n_chars_sym"),
        sum(size(split($"s", " ")).cast("long")).as("n_tokens"))
      .orderBy($"doc_id"))
    PlanBridge.release(vocab)
    out
  }

  val q145Sql: String = {
    s"""${cteBody(MergeCount)}
       |SELECT d.doc_id,
       |  CAST(SUM(len(w.word)) AS BIGINT) AS n_chars_sym,
       |  CAST(SUM(len(string_split(w.s, ' '))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents) d
       |JOIN w$MergeCount w ON d.word = w.word
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Oracle CTE chain w0 → (p_i, m_i, w_i) for i = 1..merges. */
  private def cteBody(merges: Int): String = {
    val iters = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
         |    SELECT cnt, sl[i] AS a, sl[i + 1] AS b
         |    FROM (SELECT cnt, string_split(s, ' ') AS sl FROM $prev),
         |         unnest(range(1, len(sl))) AS t(i)
         |  ) GROUP BY a, b),
         |m$i AS (SELECT a, b, pc FROM p$i ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
         |w$i AS (SELECT w.word, w.cnt, list_reduce(string_split(w.s, ' '), (acc, x) ->
         |    CASE WHEN regexp_extract(acc, '([^ ]+)$$', 1) = m.a AND x = m.b
         |         THEN regexp_replace(acc, '[^ ]+$$', m.a || m.b)
         |         ELSE acc || ' ' || x END) AS s
         |  FROM $prev w CROSS JOIN m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
       |         array_to_string(string_split(word, ''), ' ') AS s
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$')
       |  GROUP BY word),
       |$iters""".stripMargin
  }

  val q140Sql: String = {
    val out = (1 to MergeCount).map { i =>
      s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, pc AS pair_count FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"""${cteBody(MergeCount)}
       |$out
       |ORDER BY merge_rank""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q140_bpe_train", q140BpeTrain, q140Sql),
    Entry("q145_bpe_encode", q145BpeEncode, q145Sql))
}
