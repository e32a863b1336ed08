package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Unigram language-model tokenizer training (Kudo 2018, the
  * SentencePiece unigram algorithm — public) — the second
  * tokenizer-training leg next to BPE (q140): where BPE GROWS a vocab
  * bottom-up by merging, the unigram model starts from a large
  * candidate set and learns piece probabilities by EM, segmenting each
  * word into the maximum-likelihood piece sequence (Viterbi). This is
  * the hard-EM variant: the E-step takes each word's single best
  * segmentation under current probabilities, the M-step re-estimates
  * piece probabilities from the chosen segmentations' counts — the
  * classic coordinate ascent whose objective (corpus best-segmentation
  * log-likelihood) is NON-DECREASING per iteration, which the q268
  * gate pins as the algorithm-level invariant (a broken DP, a stale
  * broadcast, or a miscounted M-step all show up as an LL drop).
  *
  * Scale shape, the BPE discipline throughout: the only corpus-sized
  * job is the initial word count (one explode + partial-agg groupBy).
  * Candidate generation, every E-step, and every M-step run on the
  * WORD frame (|V| rows, corpus-size independent) with the piece table
  * broadcast (bounded by [[MaxCandidates]]); per-iteration driver
  * state is one piece-count array (vocab-bounded, the
  * one-argmax-row-per-merge convention of BpeTrain scaled to one
  * bounded vector per EM round).
  *
  * Determinism: fixed candidate cap with (freq desc, piece asc)
  * tie-break; Viterbi prefers the LONGER last piece on exact score
  * ties; M-step arithmetic is a fixed-order fold over the sorted piece
  * array. Same input → same vocab, same probabilities, same LL curve.
  */
object UnigramLm {

  import Entry.Q

  val MaxPieceLen = 4
  val MaxCandidates = 4096
  val TargetVocab = 128
  val EmIters = 4

  /** Viterbi best segmentation of `word` under `logp` (piece → log
    * prob); returns null when some prefix is uncoverable. Longer last
    * piece wins exact ties — the deterministic convention the scaladoc
    * promises.
    */
  def segment(word: String, logp: collection.Map[String, Double])
      : Array[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bLen = Array.fill(n + 1)(0)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(MaxPieceLen, i)) {
        if (best(i - l) > Double.NegativeInfinity) {
          logp.get(word.substring(i - l, i)) match {
            case Some(lp) =>
              val cand = best(i - l) + lp
              if (cand > best(i) || (cand == best(i) && l > bLen(i))) {
                best(i) = cand; bLen(i) = l
              }
            case None => ()
          }
        }
        l += 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) return null
    var pos = n
    var acc: List[String] = Nil
    while (pos > 0) {
      val l = bLen(pos)
      acc = word.substring(pos - l, pos) :: acc
      pos -= l
    }
    acc.toArray
  }

  /** Viterbi score of the best segmentation (NegativeInfinity when
    * uncoverable) — shares the DP with [[segment]].
    */
  def segmentScore(word: String, logp: collection.Map[String, Double])
      : Double = {
    val pieces = segment(word, logp)
    if (pieces == null) Double.NegativeInfinity
    else pieces.map(logp).sum
  }

  /** Train on a (text) corpus frame. Returns (final vocab as
    * (piece, prob) sorted prob desc / piece asc, per-iteration
    * best-segmentation LL curve, distinct word count).
    */
  def train(corpus: DataFrame, targetVocab: Int = TargetVocab)
      : (Seq[(String, Double)], Seq[Double], Long) = {
    val s = corpus.sparkSession
    import s.implicits._
    val words = PlanBridge.checkpointResetStats(corpus
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word".rlike("^[a-z0-9]+$"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)])
    val nWords = words.count()

    // candidate pieces: all substrings up to MaxPieceLen, weighted by
    // word freq; cap at MaxCandidates by (freq desc, piece asc); single
    // chars always retained (coverage floor). The cap is applied
    // DISTRIBUTED (TakeOrderedAndProject under orderBy+limit) so the
    // driver materializes ≤ MaxCandidates + |alphabet| rows, never the
    // full substring census.
    val subCounts = PlanBridge.checkpointResetStats(
      words.flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(MaxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), f)
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, f) => (p, f) })
    val singles = subCounts.filter(_._1.length == 1).collect()
    val multis = subCounts.filter(_._1.length > 1)
      .orderBy(org.apache.spark.sql.functions.col("_2").desc,
        org.apache.spark.sql.functions.col("_1").asc)
      .limit(MaxCandidates - singles.length)
      .collect()
      .sortBy { case (p, f) => (-f, p) }
    require(singles.length + multis.length >= targetVocab,
      s"candidate pool ${singles.length + multis.length} < $targetVocab")
    var pieces: Array[(String, Double)] = {
      val all = (singles ++ multis).sortBy(_._1)
      val tot = all.map(_._2).sum.toDouble
      all.map { case (p, f) => (p, f / tot) }
    }

    val llCurve = Seq.newBuilder[Double]
    for (_ <- 1 to EmIters) {
      val logp = pieces.map { case (p, pr) => (p, math.log(pr)) }.toMap
      val bLogp = s.sparkContext.broadcast(logp)
      // E-step: per word, best segmentation; emit (piece, freq) counts
      // and the word's freq-weighted best score
      val seg = words.mapPartitions { it =>
        val lp = bLogp.value
        it.map { case (w, f) =>
          val ps = segment(w, lp)
          require(ps != null, s"word '$w' not coverable — single-char floor lost")
          (ps, f, f * ps.map(lp).sum)
        }
      }.persist()
      val ll = seg.map(_._3).reduce(_ + _)
      llCurve += ll
      val counts = seg.flatMap { case (ps, f, _) => ps.map((_, f)) }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, f) => (p, f) }
        .collect().toMap
      seg.unpersist(blocking = false)
      // M-step: MLE over chosen-segmentation counts; pieces the
      // current best segmentations skipped keep a vanishing floor —
      // hard EM would otherwise drop them irreversibly after ONE cold
      // round (Viterbi concentrates fast on small vocabularies), and
      // single-char floors are what keep coverage unconditional. The
      // floor's total mass (~|pieces|·1e-12) shifts LL far below the
      // monotonicity gate's tolerance.
      val floor = 1e-12
      val raw = pieces.map { case (p, _) =>
        (p, counts.get(p).map(_.toDouble).getOrElse(floor))
      }
      val tot = raw.map(_._2).sum
      pieces = raw.map { case (p, c) => (p, c / tot) }.sortBy(_._1)
    }

    val vocab = pieces
      .sortBy { case (p, pr) => (-pr, p) }
      .filter { case (p, pr) => p.length == 1 || pr > 0 }
    // prune to TargetVocab by prob, single chars always kept
    val singlesF = vocab.filter(_._1.length == 1)
    val keepMulti = vocab.filter(_._1.length > 1)
      .take(math.max(0, targetVocab - singlesF.length))
    val finalVocab = (singlesF ++ keepMulti)
      .sortBy { case (p, pr) => (-pr, p) }.toSeq
    (finalVocab, llCurve.result(), nWords)
  }

  /** q268 — the unigram-tokenizer training gate, the q74 (n, ok)
    * convention: `ok` requires at once
    *   - the hard-EM LL curve NON-DECREASING across [[EmIters]]
    *     iterations (rel tolerance 1e-6 for the single-char floor);
    *   - piece probabilities summing to 1 (1e-9) after every M-step's
    *     renormalization;
    *   - full coverage (every corpus word segmentable at every
    *     iteration — enforced by the in-loop require);
    *   - the pruned vocab exactly [[TargetVocab]] pieces with all
    *     single chars retained.
    * `n_words` is the alphabet-filtered distinct word count — the
    * corpus-derived number DuckDB recomputes independently.
    */
  val q268UnigramLm: Q = (s, dir) => {
    import s.implicits._
    val (vocab, ll, nWords) = train(T.documents(s, dir))
    val monotone = ll.zip(ll.tail).forall { case (a, b) =>
      b >= a - 1e-6 * math.abs(a)
    }
    // pruning drops the tail's mass by design, so the pruned sum sits
    // in (0, 1]; each M-step itself renormalizes exactly
    val probSum = vocab.map(_._2).sum
    val sizeOk = vocab.length == TargetVocab
    val ok = monotone && sizeOk && probSum > 0 && probSum <= 1 + 1e-9
    Seq((nWords, TargetVocab, EmIters, ok))
      .toDF("n_words", "vocab_size", "iters", "ok")
  }

  val q268Sql: String =
    s"""SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
       |  $TargetVocab AS vocab_size, $EmIters AS iters, TRUE AS ok
       |FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
       |WHERE regexp_matches(word, '^[a-z0-9]+$$')""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q268_unigram_lm", q268UnigramLm, q268Sql))
}
