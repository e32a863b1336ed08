package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Tabular feature engineering for model training — the encodings a
  * training-data pipeline applies to categorical and text columns
  * before handing rows to a learner: smoothed leave-one-out target
  * encoding (the high-cardinality-categorical workhorse) and the
  * hashing trick (fixed-width sparse text features with no vocabulary
  * pass). Complements the numeric preps the repo already has (q262
  * quantile binning, q110 winsorization, q123 quantization).
  *
  * Cross-engine determinism: the StatInference discipline — exact
  * cent-BIGINT sums finished by one identically spelled double
  * expression — plus the repo's engine-portable md5 hash convention
  * (q95/q140: `conv(substr(md5(x),1,4),16,10)` ≡ DuckDB
  * `CAST('0x' || substr(md5(x),1,4) AS INTEGER)`).
  *
  * Reference anchor: none (the reference serves listings); [N] rows.
  */
object FeaturePrepQueries {

  import Entry.Q

  /** q295 smoothing prior weight: the encoding shrinks toward the
    * global mean with the strength of `TePrior` virtual rows — the
    * standard guard against tiny categories memorizing their targets.
    */
  val TePrior = 10

  /** q295 — smoothed LEAVE-ONE-OUT target encoding of the customer
    * market segment against order totalprice:
    *   te_i = (S_seg − y_i + m·μ) / (n_seg − 1 + m)
    * Removing the row's OWN target from its category statistic is what
    * makes the encoding usable as a training feature — naive
    * category-mean encoding leaks each row's label into its own
    * feature and the learner finds the leak (Micci-Barreca 2001 is
    * the smoothing form; LOO is its train-split variant). Exactness:
    * y in cents (BIGINT), S/n per segment and globally are exact
    * integer aggregates; the encoding is one double expression over
    * them, identical in both engines.
    *
    * Scale shape: two partial-aggregated groupBys (segment frame ≈
    * |segments| rows, global = 1 row) broadcast back onto the order
    * stream — no window over data-sized partitions, no self-join; the
    * per-row finish is a narrow projection.
    */
  val q295TargetEncode: Q = (s, dir) => {
    import s.implicits._
    val oc = T.orders(s, dir)
      .join(T.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment".as("segment"),
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("y"))
    val seg = oc.groupBy($"segment")
      .agg(sum($"y").as("sg"), count(lit(1)).as("ng"))
    val tot = oc.agg(sum($"y").as("st"), count(lit(1)).as("nt"))
    oc.join(broadcast(seg), "segment")
      .crossJoin(broadcast(tot))
      .select($"o_orderkey", $"segment",
        expr(s"""(CAST(sg - y AS DOUBLE)
                | + CAST($TePrior AS DOUBLE) * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)))
                | / (CAST(ng AS DOUBLE) - 1.0 + CAST($TePrior AS DOUBLE))""".stripMargin)
          .as("te_cents"))
      .orderBy($"o_orderkey")
  }

  val q295Sql: String =
    s"""WITH oc AS (
       |  SELECT o_orderkey, c_mktsegment AS segment,
       |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |seg AS (
       |  SELECT segment, SUM(y) AS sg, COUNT(*) AS ng
       |  FROM oc GROUP BY segment),
       |tot AS (SELECT SUM(y) AS st, COUNT(*) AS nt FROM oc)
       |SELECT o_orderkey, segment,
       |  (CAST(sg - y AS DOUBLE)
       |   + CAST($TePrior AS DOUBLE) * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)))
       |   / (CAST(ng AS DOUBLE) - 1.0 + CAST($TePrior AS DOUBLE)) AS te_cents
       |FROM oc JOIN seg USING (segment) CROSS JOIN tot
       |ORDER BY o_orderkey""".stripMargin

  /** q296 hashed feature width (buckets). */
  val HashDim = 64

  /** q296 — the HASHING TRICK (feature hashing, Weinberger et al.
    * ICML'09): each document's tokens map to a fixed [[HashDim]]-wide
    * sparse vector with NO vocabulary table — bucket = 16-bit
    * md5(token) mod dim, sign = the next hash bit (the signed variant
    * that makes collisions cancel in expectation instead of biasing
    * upward), weight = signed token count. The zero-vocabulary
    * property is the point at 100 TB: a dictionary encoding needs a
    * corpus-wide distinct pass and a broadcast vocabulary that GROWS
    * with the corpus; hashing is a stateless per-row projection with
    * constant output width, trivially streamable and shardable.
    *
    * Zero-weight buckets (sign-cancelled collisions) drop — emitted
    * sparse entries are the nonzero coordinates only, the sparse-
    * vector convention.
    *
    * Scale shape: one explode + one partial-aggregated (doc, bucket)
    * count; output ≤ [[HashDim]] rows per doc. No joins, no windows,
    * no vocabulary state anywhere.
    */
  val q296FeatureHash: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .select($"doc_id",
        conv(substring(md5($"tok"), 1, 4), 16, 10).cast("int").as("h"))
      .select($"doc_id", ($"h" % HashDim).cast("long").as("bucket"),
        when(expr(s"(h div $HashDim) % 2") === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy($"doc_id", $"bucket").agg(sum($"sign").as("w"))
      .filter($"w" =!= 0L)
      .orderBy($"doc_id", $"bucket")
  }

  val q296Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(tok), 1, 4) AS INTEGER) AS h
       |  FROM tok WHERE tok <> ''),
       |signed AS (
       |  SELECT doc_id, CAST(h % $HashDim AS BIGINT) AS bucket,
       |    CASE WHEN (h // $HashDim) % 2 = 0 THEN 1 ELSE -1 END AS sign
       |  FROM hashed)
       |SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS w
       |FROM signed GROUP BY doc_id, bucket
       |HAVING SUM(sign) <> 0
       |ORDER BY doc_id, bucket""".stripMargin

  /** q405 label horizon (µs): purchase within 7 days after cutoff. */
  val PitHorizonUs: Long = 7L * 24 * 3600 * 1000000

  /** q405 — POINT-IN-TIME-correct training-set construction (the
    * feature-store discipline — Kakade/feast-style "as of" semantics:
    * every feature must be computable at PREDICTION time, so features
    * aggregate STRICTLY BEFORE the cutoff and the label looks only
    * FORWARD into (cutoff, cutoff+horizon]; mixing the two directions
    * is label leakage, the most common silent ML-pipeline bug): one
    * row per user active before the cutoff (the observation window's
    * midpoint — qs16's split convention), features = pre-cutoff
    * view/click counts, spend cents, distinct active days; label =
    * any purchase in the horizon. Exact integers throughout.
    *
    * Scale shape: ONE conditional-aggregation pass keyed by user —
    * feature and label windows are per-row predicates inside the same
    * agg, no self-join, no second scan.
    */
  val q405PitTrainingSet: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"event_type",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("xc"))
    val mid = ev.agg((((min($"t_us") + max($"t_us")) / 2L).cast("long"))
      .as("mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(
        sum(when($"t_us" < $"mid" && $"event_type" === "view", 1L)
          .otherwise(0L)).as("n_views"),
        sum(when($"t_us" < $"mid" && $"event_type" === "click", 1L)
          .otherwise(0L)).as("n_clicks"),
        sum(when($"t_us" < $"mid" && $"event_type" === "purchase", $"xc")
          .otherwise(0L)).as("spend_cents"),
        countDistinct(when($"t_us" < $"mid",
          expr("t_us div 86400000000"))).as("n_active_days"),
        max(when($"t_us" >= $"mid" &&
          $"t_us" < $"mid" + PitHorizonUs &&
          $"event_type" === "purchase", 1L).otherwise(0L)).as("label"))
      .filter($"n_views" + $"n_clicks" + $"spend_cents" +
        $"n_active_days" > 0L)
      .orderBy($"user_id")
  }

  val q405Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |    event_type, CAST(FLOOR(100 * value) AS BIGINT) AS xc
       |  FROM events),
       |m AS (SELECT (MIN(t_us) + MAX(t_us)) // 2 AS mid FROM ev),
       |agg AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN t_us < mid AND event_type = 'view'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
       |    CAST(SUM(CASE WHEN t_us < mid AND event_type = 'click'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       |    CAST(SUM(CASE WHEN t_us < mid AND event_type = 'purchase'
       |      THEN xc ELSE 0 END) AS BIGINT) AS spend_cents,
       |    CAST(COUNT(DISTINCT CASE WHEN t_us < mid
       |      THEN t_us // 86400000000 END) AS BIGINT) AS n_active_days,
       |    CAST(MAX(CASE WHEN t_us >= mid
       |      AND t_us < mid + ${PitHorizonUs}
       |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS label
       |  FROM ev CROSS JOIN m GROUP BY user_id)
       |SELECT * FROM agg
       |WHERE n_views + n_clicks + spend_cents + n_active_days > 0
       |ORDER BY user_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q405_pit_training_set", q405PitTrainingSet, q405Sql),
    Entry("q295_target_encode", q295TargetEncode, q295Sql),
    Entry("q296_feature_hash", q296FeatureHash, q296Sql))
}
