package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** b-BIT MINWISE HASHING (Li & König, WWW 2010): store only the
  * lowest b bits of each minhash — a 64-permutation signature drops
  * from 256 bytes (32-bit mins) to 16 BYTES at b=2, the storage trick
  * that makes sketch-based dedup indexes fit in memory at corpus
  * scale. Collisions now happen by chance (a random pair agrees on b
  * bits with probability c = 2⁻ᵇ), so the estimator debiases:
  * Ĵ = (C − c)/(1 − c) for collision fraction C — spelled here as the
  * exact cross-multiplication (coll·2ᵇ − S)/(S·(2ᵇ−1)).
  *
  * Engine equality: permutations are md5-derived 32-bit uniforms
  * keyed by (seed, trigram) — the q302/q420 pinned-randomness idiom —
  * so minima, b-bit slices, collision counts, the debiased estimate
  * AND the exact trigram Jaccard are all replayable in DuckDB: the
  * oracle hash-matches every per-pair value (no ok-gate needed; the
  * accuracy claim itself is spec-gated on measured mean error).
  *
  * Pair set: docs with doc_id ≡ 0 (mod [[PairMod]]) under
  * [[PairCap]]·[[PairMod]] — a deterministic ≤[[PairCap]]-doc panel,
  * so the pair frame is bounded at every SF (the q432 discipline).
  *
  * Scale shape: signatures are one groupBy(doc, seed) min over the
  * shingle×seed expansion (map-side combinable); the panel pair join
  * is panel²-bounded; at 100 TB the same signatures feed an LSH
  * band join (q41's shape) instead of a panel.
  */
object BbitMinhash {

  import Entry.Q

  val Seeds = 64
  val Bits = 2
  val PairMod = 29
  val PairCap = 100

  val q459BbitMinhash: Q = (s, dir) => {
    import s.implicits._
    val mask = (1 << Bits) - 1 // 3
    val panel = T.documents(s, dir)
      .filter($"doc_id" % PairMod === 0 &&
        $"doc_id" < PairMod * PairCap)
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
    val grams = PlanBridge.checkpointResetStats(panel.select($"doc_id",
      explode(transform(sequence(lit(1), size($"toks") - 2),
        i => concat_ws(" ", slice($"toks", i, lit(3))))).as("tg"))
      .distinct())
    val seeds = s.range(1, Seeds + 1).select($"id".cast("int").as("seed"))
    val sigs = grams.crossJoin(broadcast(seeds))
      .select($"doc_id", $"seed",
        conv(substring(md5(concat($"seed".cast("string"), lit(":"), $"tg")),
          1, 8), 16, 10).cast("long").as("u"))
      .groupBy($"doc_id", $"seed")
      .agg(min($"u").as("mh"))
      .select($"doc_id", $"seed", ($"mh" % (mask + 1)).as("bb"))
    val coll = sigs.as("a")
      .join(sigs.as("b"),
        $"a.seed" === $"b.seed" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum(when($"a.bb" === $"b.bb", 1L).otherwise(0L)).as("coll"))
    // exact trigram Jaccard per panel pair
    val sets = grams.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        $"a.tg" === $"b.tg" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = sets.as("x").join(sets.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        $"x.sz".as("sza"), $"y.sz".as("szb"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(coll, Seq("doc_a", "doc_b"))
    pairs.select($"doc_a", $"doc_b", $"coll",
      expr(s"""CAST(FLOOR(1000.0 * CAST(coll * ${mask + 1} - $Seeds AS DOUBLE)
              | / (CAST($Seeds AS DOUBLE) * $mask)) AS BIGINT)"""
        .stripMargin).as("est_milli"),
      expr("(1000 * inter) div (sza + szb - inter)").as("j_milli"))
      .orderBy($"doc_a", $"doc_b")
  }

  val q459Sql: String = {
    val mask = (1 << Bits) - 1
    s"""WITH panel AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id % $PairMod = 0 AND doc_id < ${PairMod * PairCap}
       |    AND len(string_split(text, ' ')) >= 3),
       |grams AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(toks[i:i + 2], ' ') AS tg
       |  FROM panel, unnest(range(1, len(toks) - 1)) AS t(i)),
       |seeds AS (SELECT unnest(range(1, ${Seeds + 1})) AS seed),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, seed,
       |    MIN(CAST('0x' || substring(
       |      md5(CAST(seed AS VARCHAR) || ':' || tg), 1, 8) AS BIGINT))
       |      % ${mask + 1} AS bb
       |  FROM grams CROSS JOIN seeds
       |  GROUP BY doc_id, seed),
       |coll AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(SUM(CASE WHEN a.bb = b.bb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS coll
       |  FROM sigs a JOIN sigs b
       |    ON a.seed = b.seed AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |sets AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM grams GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS i
       |  FROM grams a JOIN grams b
       |    ON a.tg = b.tg AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, coll.coll,
       |  CAST(FLOOR(1000.0 * CAST(coll.coll * ${mask + 1} - $Seeds AS DOUBLE)
       |    / (CAST($Seeds AS DOUBLE) * $mask)) AS BIGINT) AS est_milli,
       |  (1000 * COALESCE(inter.i, 0))
       |    // (x.sz + y.sz - COALESCE(inter.i, 0)) AS j_milli
       |FROM sets x JOIN sets y ON x.doc_id < y.doc_id
       |LEFT JOIN inter ON inter.doc_a = x.doc_id AND inter.doc_b = y.doc_id
       |JOIN coll ON coll.doc_a = x.doc_id AND coll.doc_b = y.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q459_bbit_minhash", q459BbitMinhash, q459Sql))
}
