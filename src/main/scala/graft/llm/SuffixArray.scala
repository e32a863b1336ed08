package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** SUFFIX-ARRAY construction over the corpus token stream (Lee et al.
  * ACL'22 "Deduplicating Training Data Makes Language Models Better" —
  * the data structure that makes EXACT-substring dedup scale; the
  * reference's q350 n-gram census answers the same question by
  * hashing, this builds the array the paper actually ships).
  *
  * Construction is PREFIX DOUBLING (Manber–Myers 1990), re-expressed
  * shuffle-native: rank_k(i) orders length-2^k prefixes; one round
  * joins each position to its (rank_k(i), rank_k(i+2^k) | −1) pair
  * and re-ranks pairs densely. Rounds stop once 2^k exceeds the
  * longest possible match (docs are separator-bounded — see below),
  * at which point ranks are a PERMUTATION: the suffix array.
  *
  * Dense ranking never uses a global window: distinct keys are
  * range-partitioned, row-numbered per partition (keyed window), and
  * offset by broadcast per-partition counts — the q351 two-level scan.
  * Range boundaries may vary run to run, but offset+rownumber is the
  * same total order, so ranks are deterministic.
  *
  * Doc boundaries carry a UNIQUE separator token (U+0000<doc_id> —
  * occurs exactly once in the stream), so no ≥1-token match can cross
  * a boundary: the max LCP is bounded by the longest doc, which is
  * what bounds the doubling rounds (⌈log₂(maxDocLen+1)⌉).
  *
  * q451 then replays Lee et al.'s dedup read off the array: equal
  * ≥[[CorpusOps.SubK]]-token prefixes are CONTIGUOUS in SA order, so a
  * position starts a duplicated k-gram iff it shares a ≥k prefix with
  * an SA NEIGHBOR; the ≥k test is the classic rank-overlap trick
  * (prefix_k equal ⟺ rank_{2^j} equal at both i and i+k−2^j for
  * 2^j ≤ k < 2^{j+1}) on the saved length-8 ranks. Duplicated
  * positions island-merge per doc with exactly q350's window, and the
  * ORACLE IS q350's SQL: the suffix-array pipeline must reproduce the
  * independent DuckDB n-gram census value for value — construction
  * correctness is gated by a different algorithm agreeing on every
  * span length.
  *
  * Scale shape: each doubling round is two keyed equi-joins + one
  * distinct + the two-level rank (no global window anywhere on
  * corpus-volume rows; the doc-offset window is docs-bounded and
  * block-scans at 100 TB per q351); rounds are log(longest doc), not
  * log(corpus). The adjacency join is rank=rank+1 — a co-partitioned
  * equi-join. This is the 100 TB spelling of exact-substring dedup:
  * the census hashes |corpus|·k tokens per pass, the array pays
  * log(maxdoc) sort rounds once and then answers ANY threshold.
  */
object SuffixArray {


  import Entry.Q

  /** Dense rank (1-based) of the distinct rows of `keys` under the
    * lexicographic order of `cols` — the pinned two-level scan of
    * [[graft.relational.QuantileNormalize.fullRankGlobal]].
    */
  private[llm] def denseRank(keys: DataFrame, cols: Seq[String]): DataFrame =
    graft.relational.QuantileNormalize.fullRankGlobal(
      keys.distinct(), cols.map(col), "rank")
      .select((cols :+ "rank").map(col): _*)

  /** Suffix-array ranks of a token stream (gpos: Long, tok: String):
    * returns (final ranks (gpos, r) — a permutation of 1..n — and the
    * saved length-8 ranks (gpos, r8) for the overlap test). `maxMatch`
    * bounds the longest possible repeated prefix (doubling stops at
    * the first power of two above it).
    */
  private[llm] def saRanks(stream: DataFrame, maxMatch: Long)
      : (DataFrame, DataFrame) = {
    val (ranks, levels) = saRanksLevels(stream, maxMatch)
    // maxMatch < 8 never happens on the doc fixtures (SubK=10 needs
    // length-8 ranks); guard for hand fixtures
    (ranks, levels.find(_._1 == 8L).map(_._2).getOrElse(ranks))
  }

  /** Prefix-doubling ranks at EVERY level: returns (final suffix-array
    * ranks, [(prefix length 2^k, rank frame (gpos, r))] ascending) —
    * the level frames are exactly the loop's intermediates (each
    * already checkpointed), kept because they are ALSO the structure
    * that answers LCP queries by binary descent (q471): equality of
    * rank_L at (i+acc, j+acc) extends a common prefix by L, and any
    * LCP decomposes into descending powers of two.
    */
  private[llm] def saRanksLevels(stream: DataFrame, maxMatch: Long)
      : (DataFrame, Seq[(Long, DataFrame)]) = {
    val s = stream.sparkSession
    import s.implicits._
    val vocab = denseRank(stream.select($"tok"), Seq("tok"))
    var ranks = PlanBridge.checkpointResetStats(stream.join(vocab, "tok")
      .select($"gpos", $"rank".as("r")))
    var levels = List((1L, ranks))
    var len = 1L
    while (len <= maxMatch) {
      val shifted = ranks.select(($"gpos" - len).as("gpos"), $"r".as("r2"))
      val paired = ranks.select($"gpos", $"r".as("r1"))
        .join(shifted, Seq("gpos"), "left")
        .select($"gpos", $"r1", coalesce($"r2", lit(-1L)).as("r2"))
      val rk = denseRank(paired.select($"r1", $"r2"), Seq("r1", "r2"))
      ranks = PlanBridge.checkpointResetStats(paired.join(rk, Seq("r1", "r2"))
        .select($"gpos", $"rank".as("r")))
      len *= 2
      levels ::= (len, ranks)
    }
    (ranks, levels.reverse)
  }

  /** LCP of each SA-adjacent pair by BINARY DESCENT over the saved
    * doubling levels — the distributed stand-in for Kasai's
    * inherently-sequential linear scan (Kasai et al. CPM'01 walks
    * positions in TEXT order carrying lcp±1 state; that chain has no
    * parallel form, but the SAME array falls out of log(maxdoc)
    * keyed joins): acc starts 0, and for each level L descending,
    * rank_L(i+acc) = rank_L(j+acc) extends acc by L. End-of-stream
    * positions have no rank row (left join, null ≠) and every doc
    * ends in a globally-unique separator, so no match crosses a
    * boundary or overruns the stream. Input (i, j); output
    * (i, j, lcp).
    *
    * Scale shape: 2·log(maxdoc) keyed equi-joins over the n-row
    * adjacency frame, each checkpointed — same discipline as the
    * construction rounds, no window, no driver data.
    */
  private[llm] def lcpAdjacent(adj: DataFrame,
      levels: Seq[(Long, DataFrame)]): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    var cur = PlanBridge.checkpointResetStats(adj.withColumn("lcp", lit(0L)))
    for ((len, rk) <- levels.sortBy(-_._1)) {
      val ri = rk.select($"gpos".as("gi"), $"r".as("ri"))
      val rj = rk.select($"gpos".as("gj"), $"r".as("rj"))
      cur = PlanBridge.checkpointResetStats(cur
        .join(ri, cur("i") + cur("lcp") === ri("gi"), "left")
        .join(rj, cur("j") + cur("lcp") === rj("gj"), "left")
        .select(cur("i"), cur("j"),
          (cur("lcp") + when($"ri".isNotNull && $"ri" === $"rj", lit(len))
            .otherwise(lit(0L))).as("lcp")))
    }
    cur
  }

  /** The corpus token stream: docs in doc_id order, one unique
    * separator token per doc boundary, global positions from
    * docs-bounded offsets. Returns (stream (gpos, doc_id, pos, tok),
    * maxDocLen).
    */
  private def corpusStream(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    import s.implicits._
    val docs = T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
    val maxDocLen = docs.agg(max(size($"toks"))).head().getInt(0).toLong
    // r18 (verdict item 5): the doc-offset cumulative ran one row per
    // doc through a single global window task — two-level scan instead
    // (exclusive prefix = inclusive − own count)
    val offs = graft.relational.QuantileNormalize.fullCumSum(
        docs.select($"doc_id", (size($"toks") + 1).cast("long").as("ntok")),
        Seq($"doc_id"), "ntok" -> "cum")
      .select($"doc_id", ($"cum" - $"ntok").as("off"))
    val stream = PlanBridge.checkpointResetStats(docs.join(offs, "doc_id")
      .select($"doc_id", $"off", posexplode(concat($"toks",
        array(concat(lit("\u0000"), $"doc_id".cast("string")))))
        .as(Seq("pos", "tok")))
      .select(($"off" + $"pos").as("gpos"), $"doc_id", $"pos", $"tok"))
    (stream, maxDocLen)
  }

  /** The corpus suffix-array as a BUILD-ONCE persisted index: the
    * token stream and EVERY doubling-level rank frame live in two
    * [[graft.core.IndexStore]] tables (levels unioned under a `len`
    * column), built on first use and shared by q451 (k=10 rank
    * overlap) and q471 (LCP read-off) — construction is the ~10 s
    * cost at sf0.1, the read-offs are seconds; paying it twice was
    * exactly the rebuild-per-query wart the r11 verdict called out
    * on the graph index. Returns (stream, levels ascending by len).
    */
  private[llm] def saIndex(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, DataFrame)]) = {
    import s.implicits._
    val st = graft.core.IndexStore.ensure(s, "sastr", dir) {
      corpusStream(s, dir)._1
    }
    val stream = s.table(st)
    val lt = graft.core.IndexStore.ensure(s, "salvl", dir) {
      // max doc length back out of the stream: per-doc max pos is
      // size(toks) (the separator's position), so the global max IS
      // the longest doc's token count
      val maxDocLen = stream.agg(max($"pos")).head().getInt(0).toLong
      saRanksLevels(stream.select($"gpos", $"tok"), maxDocLen)._2
        .map { case (len, rk) =>
          rk.select(lit(len).as("len"), $"gpos", $"r") }
        .reduce(_ unionByName _)
    }
    val lv = s.table(lt)
    val lens = lv.select($"len").distinct()
      .orderBy($"len").as[Long].collect()
    (stream, lens.toSeq.map(len =>
      (len, lv.filter($"len" === len).select($"gpos", $"r"))))
  }

  /** q451 — suffix-array exact-substring dedup: build the array,
    * mark every position whose SA neighbor shares a ≥[[CorpusOps.SubK]]
    * prefix, island-merge per doc, emit q350's span frame. Oracle =
    * q350's independent n-gram census (full value equality).
    */
  val q451SuffixArrayDedup: Q = (s, dir) => {
    import s.implicits._
    val k = CorpusOps.SubK
    val (stream, levels) = saIndex(s, dir)
    val sa = levels.last._2
    val r8 = levels.find(_._1 == 8L).map(_._2).getOrElse(sa)
    // SA adjacency: (gpos of rank r, gpos of rank r+1)
    val adj = sa.select($"r", $"gpos".as("i"))
      .join(sa.select(($"r" - 1).as("r"), $"gpos".as("j")), "r")
    // rank-overlap ≥k test: prefix_k equal ⟺ r8 equal at (i, j) AND
    // at (i+k−8, j+k−8) — 8 ≤ k < 16 (SubK = 10)
    require(k >= 8 && k < 16, "overlap trick spans one doubling level")
    val t1 = r8.select($"gpos".as("i"), $"r".as("ai"))
    val t2 = r8.select($"gpos".as("j"), $"r".as("aj"))
    val t3 = r8.select(($"gpos" - (k - 8)).as("i"), $"r".as("bi"))
    val t4 = r8.select(($"gpos" - (k - 8)).as("j"), $"r".as("bj"))
    val close = adj
      .join(t1, "i").join(t2, "j").join(t3, "i").join(t4, "j")
      .filter($"ai" === $"aj" && $"bi" === $"bj")
      .select(explode(array($"i", $"j")).as("gpos"))
      .distinct()
    // back to (doc_id, 1-based gram start) = q350's position space
    val dupPos = close.join(stream, "gpos")
      .select($"doc_id", ($"pos" + 1).as("pos"))
    islandSpans(dupPos, k).orderBy($"doc_id")
  }

  /** Island-merge duplicated k-gram start positions into maximal
    * spans and roll up per doc — exactly q350's window/agg shape
    * (doc-keyed window; island width bounded by doc length).
    */
  private def islandSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val s = dupPos.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    dupPos
      .withColumn("gap",
        when($"pos" - lag($"pos", 1).over(w) <= k - 1, 0L).otherwise(1L))
      .withColumn("island", sum($"gap").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"island")
      .agg((max($"pos") - min($"pos") + k).as("span_tokens"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max($"span_tokens").as("max_span_tokens"),
        sum($"span_tokens").as("covered_tokens"))
  }

  /** q471's second threshold — deliberately BELOW 8, outside the
    * envelope q451's rank-overlap trick can answer at all (it needs
    * 8 ≤ k < 16 against the saved length-8 ranks): the LCP array
    * answers it from the same construction.
    */
  val AltK = 5

  /** q471 — LCP READ-OFF: materialize the LCP of every SA-adjacent
    * pair by binary descent over the saved doubling levels
    * ([[lcpAdjacent]] — the distributed form of the Kasai et al.
    * CPM'01 pass), then answer the exact-substring dedup census for
    * TWO thresholds ([[AltK]]=5 and [[CorpusOps.SubK]]=10) from the
    * ONE array — the persistent-artifact contract of the Lee et al.
    * ACL'22 pipeline (build once, vary k at read time), which q451's
    * k-fixed rank-overlap could not honor. Oracle: the independent
    * DuckDB n-gram census parameterized by k, both thresholds, value
    * for value.
    *
    * Scale shape: construction as q451; the read-off adds
    * 2·log(maxdoc) keyed joins ONCE, after which every threshold is
    * one filter + the doc-keyed island window — no re-scan of the
    * corpus, no new shuffle shape per k.
    */
  val q471LcpDedupSpans: Q = (s, dir) => {
    import s.implicits._
    val (stream, levels) = saIndex(s, dir)
    // the LCP array itself is the PERSISTED artifact (what the Lee et
    // al. pipeline ships next to the array): built once per (JVM,
    // dir), after which every threshold is a filter + island window
    val lt = graft.core.IndexStore.ensure(s, "salcp", dir) {
      val sa = levels.last._2
      val adj = sa.select($"r", $"gpos".as("i"))
        .join(sa.select(($"r" - 1).as("r"), $"gpos".as("j")), "r")
        .select($"i", $"j")
      lcpAdjacent(adj, levels)
    }
    val lcp = s.table(lt)
    Seq(AltK, CorpusOps.SubK).map { k =>
      val dupPos = lcp.filter($"lcp" >= k)
        .select(explode(array($"i", $"j")).as("gpos"))
        .distinct()
        .join(stream, "gpos")
        .select($"doc_id", ($"pos" + 1).as("pos"))
      islandSpans(dupPos, k).withColumn("k", lit(k.toLong))
    }.reduce(_ unionByName _)
      .select($"k", $"doc_id", $"n_spans", $"max_span_tokens",
        $"covered_tokens")
      .orderBy($"k", $"doc_id")
  }

  /** The q350 census SQL parameterized by k, with a leading k column. */
  private def censusSql(k: Int): String =
    s"""SELECT CAST($k AS BIGINT) AS k, doc_id, COUNT(*) AS n_spans,
       |  CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
       |  CAST(SUM(span_tokens) AS BIGINT) AS covered_tokens
       |FROM (
       |  SELECT doc_id, island,
       |    MAX(pos) - MIN(pos) + $k AS span_tokens
       |  FROM (
       |    SELECT doc_id, pos,
       |      SUM(gap) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS UNBOUNDED PRECEDING) AS island
       |    FROM (
       |      SELECT doc_id, pos,
       |        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
       |          ORDER BY pos) <= ${k - 1} THEN 0 ELSE 1 END AS gap
       |      FROM (
       |        SELECT doc_id, pos FROM (
       |          SELECT doc_id, i AS pos,
       |            md5(array_to_string(toks[i:i + ${k - 1}], ' ')) AS h
       |          FROM (
       |            SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents
       |            WHERE len(string_split(text, ' ')) >= $k) d,
       |            unnest(range(1, len(toks) - ${k - 2})) AS t(i)) g
       |        JOIN (
       |          SELECT h FROM (
       |            SELECT doc_id, i AS pos,
       |              md5(array_to_string(toks[i:i + ${k - 1}], ' ')) AS h
       |            FROM (
       |              SELECT doc_id, string_split(text, ' ') AS toks
       |              FROM documents
       |              WHERE len(string_split(text, ' ')) >= $k) d,
       |              unnest(range(1, len(toks) - ${k - 2})) AS t(i))
       |          GROUP BY h HAVING COUNT(*) >= 2) m USING (h)) dp) fl) isl
       |  GROUP BY doc_id, island) sp
       |GROUP BY doc_id""".stripMargin

  val q471Sql: String =
    s"""SELECT * FROM (
       |  ${censusSql(AltK)}
       |  UNION ALL
       |  ${censusSql(CorpusOps.SubK)})
       |ORDER BY k, doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q451_suffix_array_dedup", q451SuffixArrayDedup, CorpusOps.q350Sql),
    Entry("q471_lcp_dedup_spans", q471LcpDedupSpans, q471Sql))
}
