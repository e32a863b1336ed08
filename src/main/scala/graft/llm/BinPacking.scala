package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** FIRST-FIT-DECREASING SEQUENCE PACKING (the NO-SPLIT packer: q351's
  * concat-and-chunk splits documents across sequence boundaries;
  * trainers that must keep documents intact — contrastive batches,
  * long-context curricula, "no cross-document attention" regimes —
  * pack whole docs into [[CorpusOps.SeqLen]]-token bins instead, and
  * FFD is the classical 11/9·OPT+6/9 guarantee (Johnson '73,
  * Dósa '07 tight bound)).
  *
  * Distributed spelling: exact FFD is inherently sequential, so docs
  * (≤ SeqLen tokens; longer docs are q351's truncation census, not
  * packable wholes) RANGE-PARTITION BY LENGTH DESC and each partition
  * runs FFD locally in one mapPartitions pass (the documented
  * last-resort tier: a greedy sequential fold per partition, state =
  * that partition's open-bin list). Per-partition FFD bins ≤
  * 11/9·OPT_p + 1, and Σ OPT_p ≤ OPT + P, so the GLOBAL bin count
  * is theorem-bounded: bins ≤ 11/9·(OPT + P) + P with
  * OPT ≥ ⌈Σtokens / SeqLen⌉ — the gate tests this bound with exact
  * integers, plus conservation (every doc packed exactly once —
  * token totals equal, DuckDB-replayable) and no bin overflow.
  *
  * Scale shape: one length projection + one range shuffle + one
  * sequential pass per partition; bins never materialize globally
  * (only per-partition counts and fills aggregate). The linear
  * open-bin scan is O(items·bins) per partition — fine at any
  * realistic partition size; a tree-indexed best-fit is the
  * production form if partitions carry millions of items.
  */
object BinPacking {

  import Entry.Q

  /** Range partitions of the per-partition FFD pass — the `P` of the
    * q479 bound `9·bins ≤ 11·(OPT + P) + 9·P + 6`.
    */
  val FfdParts = 32

  /** (n_docs, total_tokens, bins, max_fill, packed_tokens) — public
    * for the spec. */
  def packStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long) = {
    import s.implicits._
    val cap = CorpusOps.SeqLen
    val items = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"doc_id",
        size(expr("filter(split(text, ' '), t -> t <> '')"))
          .cast("long").as("len"))
      .filter($"len" > 0L && $"len" <= cap))
    val nDocs = items.count()
    val total = items.agg(sum($"len")).head().getLong(0)
    val perPart = items
      .repartitionByRange(FfdParts, $"len".desc, $"doc_id")
      .sortWithinPartitions($"len".desc, $"doc_id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val bins = scala.collection.mutable.ArrayBuffer[Long]()
        var packed = 0L
        it.foreach { case (_, len) =>
          val i = bins.indexWhere(_ + len <= cap)
          if (i >= 0) bins(i) += len else bins += len
          packed += len
        }
        if (bins.isEmpty) Iterator.empty
        else Iterator((bins.length.toLong, bins.max, packed))
      }
      .toDF("bins", "max_fill", "packed")
      .agg(sum($"bins"), max($"max_fill"), sum($"packed")).head()
    (nDocs, total, perPart.getLong(0), perPart.getLong(1),
      perPart.getLong(2))
  }

  val q479FfdPacking: Q = (s, dir) => {
    import s.implicits._
    val cap = CorpusOps.SeqLen
    val (nDocs, total, bins, maxFill, packed) = packStats(s, dir)
    val optLb = (total + cap - 1) / cap
    val p = FfdParts.toLong
    // global theorem bound: 9·bins ≤ 11·(OPT + P) + 9·P + 6, exact ints
    val boundOk = 9L * bins <= 11L * (optLb + p) + 9L * p + 6L
    val ok = nDocs > 0L && packed == total && maxFill <= cap &&
      bins >= optLb && boundOk
    Seq((nDocs, total, ok)).toDF("n_docs", "total_tokens", "ok")
  }

  val q479Sql: String = {
    val cap = CorpusOps.SeqLen
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens, TRUE AS ok
       |FROM (
       |  SELECT len(list_filter(string_split(text, ' '), t -> t <> ''))
       |    AS n_tok
       |  FROM documents) d
       |WHERE n_tok > 0 AND n_tok <= $cap""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q479_ffd_packing", q479FfdPacking, q479Sql))
}
