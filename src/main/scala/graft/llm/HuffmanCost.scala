package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** HUFFMAN ENTROPY-CODING COST of the token stream (Huffman 1952) —
  * the corpus-compression estimate next to the lexical-stats family
  * (q129 rare-token LM, q354 Zipf slope, q415 Hill tail): "what would
  * this corpus cost, entropy-coded at the token level" prices storage
  * and detects degenerate token distributions (a collapsing vocabulary
  * compresses suspiciously well).
  *
  * Shape: the corpus collapses to the unigram census in one partial
  * agg, then the driver model is CAPPED at the top-[[HuffCap]] symbols
  * (by count desc, a bounded TakeOrdered) plus ONE OOV leaf carrying
  * the entire tail mass — "vocab-bounded" is Heaps-law-bounded, so at
  * 100 TB the full census is 10⁸-10⁹ rows and collecting it is the
  * scale-killer; the capped model is a CONSTANT-size driver artifact.
  * The Huffman tree builds on the capped model (the q363/q394
  * collected-model precedent) with DETERMINISTIC tie-breaking — nodes
  * merge by (weight, creation order) over an input sorted by
  * (cnt, term) — so code lengths are reproducible; lengths broadcast
  * back and the total bit cost is one distributed Σ cnt·len with tail
  * terms costed at the OOV length.
  *
  * The capped reading stays CERTIFIED: the capped prefix code extended
  * by a fixed-width ⌈log₂ V_tail⌉ id after each OOV codeword is a
  * valid uniquely-decodable code for the FULL source, so
  * `total_bits_upper = total_bits + tail_cnt·⌈log₂ V_tail⌉` is a
  * provable upper bound on the true (uncapped) Huffman cost.
  *
  * Gates (in-engine, the index-gate convention):
  *   - KRAFT EQUALITY: a Huffman tree is full, so Σ 2^(Lmax−len) must
  *     equal 2^Lmax EXACTLY over the capped model (BIGINT; guarded
  *     Lmax ≤ 62);
  *   - Shannon OPTIMALITY band on the COLLAPSED source (Huffman is
  *     optimal for the census it was built on): H_c ≤ avg_len < H_c+1;
  *   - compression sanity: the certified UPPER bound strictly below
  *     the full-alphabet fixed-width cost n·⌈log₂ V⌉.
  * The oracle pins (n_tokens, n_symbols, ok) — code lengths are not
  * SQL-derivable, the weak-pin convention for index internals.
  */
object HuffmanCost {

  import Entry.Q

  /** Driver-model cap: top symbols kept as distinct leaves; everything
    * below collapses into the OOV leaf. Far above the fixture vocab
    * (31), so small-SF answers are bit-identical to the uncapped form;
    * the spec exercises the capped path with a small cap over the same
    * corpus.
    */
  val HuffCap = 4096
  /** OOV leaf name — contains a space, so no whitespace-split token
    * can collide with it. */
  val OovTerm = " oov"

  /** ⌈log₂ x⌉ for x ≥ 1 (0 when a single symbol needs no id bits). */
  def bitsFor(x: Long): Int =
    if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)

  /** Deterministic Huffman code lengths for (term, cnt) pairs:
    * two-queue O(n) merge over the count-sorted census, ties by queue
    * discipline (leaves before internals at equal weight).
    */
  def codeLengths(census: Seq[(String, Long)]): Map[String, Int] = {
    require(census.nonEmpty)
    if (census.sizeIs == 1) return Map(census.head._1 -> 1)
    // node = (weight, members)
    val leaves = scala.collection.mutable.Queue(
      census.sortBy { case (t, c) => (c, t) }
        .map { case (t, c) => (c, List(t)) }: _*)
    val internals =
      scala.collection.mutable.Queue.empty[(Long, List[String])]
    val depth = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def pop(): (Long, List[String]) =
      if (internals.isEmpty) leaves.dequeue()
      else if (leaves.isEmpty) internals.dequeue()
      // strict < : at equal weight prefer the LEAF queue (deterministic)
      else if (internals.head._1 < leaves.head._1) internals.dequeue()
      else leaves.dequeue()
    while (leaves.nonEmpty || internals.size > 1) {
      val (wa, ma) = pop()
      val (wb, mb) = pop()
      (ma ++ mb).foreach(t => depth(t) += 1)
      internals.enqueue((wa + wb, ma ++ mb))
    }
    depth.toMap
  }

  /** (n_tokens, n_symbols_full, total_bits, total_bits_upper,
    * kraft_ok, entropy_ok, beats_fixed) — public for the spec, which
    * also drives the capped path with a small `cap` over the same
    * corpus (fixture vocab 31 > its cap 8).
    *
    * total_bits is the collapsed-source cost (tail terms at the OOV
    * length); total_bits_upper adds the ⌈log₂ V_tail⌉ escape payload
    * per tail token — a certified upper bound on the uncapped Huffman
    * cost.
    */
  def huffmanStats(s: SparkSession, dir: String, cap: Int = HuffCap)
      : (Long, Long, Long, Long, Boolean, Boolean, Boolean) = {
    import s.implicits._
    val census = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select(explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("cnt")))
    // n and V from distributed aggs; the DRIVER sees only the top-cap
    // rows (bounded TakeOrdered), never the Heaps-law census
    val (n, v) = census.agg(sum($"cnt"), count(lit(1)))
      .as[(Long, Long)].head()
    val top = census.orderBy($"cnt".desc, $"term").limit(cap)
      .as[(String, Long)].collect().toSeq
    val tailCnt = n - top.map(_._2).sum
    val tailVocab = v - top.size
    val model = if (tailCnt > 0) top :+ (OovTerm -> tailCnt) else top
    val lens = codeLengths(model)
    // distributed cost: lengths broadcast back, one Σ cnt·len; tail
    // terms (absent from the broadcast map) cost the OOV length
    val lenDf = lens.toSeq.toDF("term", "len")
    val oovLen = lens.getOrElse(OovTerm, 0)
    val totalBits = census.join(broadcast(lenDf), Seq("term"), "left")
      .agg(sum($"cnt" * coalesce($"len", lit(oovLen)))).as[Long].head()
    val totalBitsUpper = totalBits + tailCnt * bitsFor(tailVocab)
    // Kraft equality on exact integers (over the capped tree — full
    // by construction, so equality must be exact)
    val lmax = lens.values.max
    require(lmax <= 62, s"Huffman depth $lmax exceeds the int64 guard")
    val kraft = lens.values.map(l => 1L << (lmax - l)).sum == (1L << lmax)
    // Shannon band on the COLLAPSED source (Huffman optimality holds
    // for the census the tree was built on; driver logs over the
    // bounded model, in-engine gate only)
    val h = model.map { case (_, c) =>
      c.toDouble * math.log(n.toDouble / c.toDouble)
    }.sum / math.log(2.0)
    val avgOk = totalBits.toDouble >= h - 1e-6 &&
      totalBits.toDouble < h + n.toDouble
    // the CERTIFIED bound must beat full-alphabet fixed width
    val fixedBits = n * bitsFor(v)
    (n, v, totalBits, totalBitsUpper, kraft, avgOk,
      totalBitsUpper < fixedBits)
  }

  val q493HuffmanCost: Q = (s, dir) => {
    import s.implicits._
    val (n, v, _, _, kraft, entropy, beats) = huffmanStats(s, dir)
    Seq((n, v, kraft && entropy && beats)).toDF(
      "n_tokens", "n_symbols", "ok")
  }

  val q493Sql: String =
    """WITH toks AS (
      |  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_symbols,
      |  TRUE AS ok
      |FROM toks WHERE term <> ''""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q493_huffman_cost", q493HuffmanCost, q493Sql))
}
