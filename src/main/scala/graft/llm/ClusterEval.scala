package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Centroid-based SILHOUETTE score of the embedding table's label
  * partition (the simplified/medoidless silhouette — "how coherent is
  * each labeled group in embedding space": a = distance to the own
  * label's centroid, b = distance to the nearest other centroid,
  * s = (b − a)/max(a, b)). The cluster-QUALITY readout next to the
  * clusterers themselves (q234 k-means gate, q340 DBSCAN, q239 LPA) —
  * scored here on the ground-truth labels so the oracle can replay it
  * exactly (a fitted model's centroids live behind gates; the label
  * partition is data).
  *
  * Exactness: centroids are exact integer quantized-coordinate sums
  * finished by one division per axis; distances are the identically
  * spelled SQRT chain (correctly-rounded IEEE ops — the q228 list);
  * per-point silhouettes are therefore bit-identical cross-engine, so
  * the per-label MEAN is taken over ⌊10⁶·s⌋ BIGINTs — order-free.
  *
  * Scale shape: centroids = ONE partial-agged groupBy → |labels|-row
  * broadcast; per-point nearest-other = a broadcast join + min over
  * the bounded label set; one final per-label agg. No pairwise
  * distances anywhere (the full silhouette is O(n²); the centroid
  * form is THE practical variant at corpus scale).
  */
object ClusterEval {

  import Entry.Q

  val SilScale = 1000

  val q341Silhouette: Q = (s, dir) => {
    import s.implicits._
    val pts = T.embeddings(s, dir)
      .select($"vec_id", $"label",
        expr(s"CAST(FLOOR($SilScale * embedding[0]) AS BIGINT)").as("x"),
        expr(s"CAST(FLOOR($SilScale * embedding[1]) AS BIGINT)").as("y"))
    val cent = pts.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"))
      .select($"label".as("clabel"),
        expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("cx"),
        expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cy"))
    val dists = pts.crossJoin(broadcast(cent))
      .withColumn("d", expr(
        """SQRT((CAST(x AS DOUBLE) - cx) * (CAST(x AS DOUBLE) - cx)
          | + (CAST(y AS DOUBLE) - cy) * (CAST(y AS DOUBLE) - cy))""".stripMargin))
    val perPoint = dists.groupBy($"vec_id", $"label")
      .agg(
        min(when($"label" === $"clabel", $"d")).as("a"),
        min(when($"label" =!= $"clabel", $"d")).as("b"))
      .withColumn("s_q",
        // degenerate case spelled explicitly IN BOTH ENGINES: a point
        // sitting exactly on its own and the nearest-other centroid has
        // a = b = 0; the textbook convention is s = 0, and leaving it
        // to 0/0 diverges (Spark casts the NaN to 0L, DuckDB errors on
        // CAST(FLOOR(NaN) AS BIGINT))
        when(greatest($"a", $"b") === 0.0, 0L)
          .otherwise(floor(lit(1000000.0) * ($"b" - $"a")
            / greatest($"a", $"b")).cast("long")))
    perPoint.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"s_q").as("s_q_sum"))
      .withColumn("mean_silhouette",
        expr("CAST(s_q_sum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"))
      .select($"label".cast("long").as("label"), $"n", $"s_q_sum",
        $"mean_silhouette")
      .orderBy($"label")
  }

  val q341Sql: String =
    s"""WITH pts AS (
       |  SELECT vec_id, label,
       |    CAST(FLOOR($SilScale * embedding[1]) AS BIGINT) AS x,
       |    CAST(FLOOR($SilScale * embedding[2]) AS BIGINT) AS y
       |  FROM embeddings),
       |cent AS (
       |  SELECT label AS clabel,
       |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cx,
       |    CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cy
       |  FROM pts GROUP BY label),
       |d AS (
       |  SELECT p.vec_id, p.label, c.clabel,
       |    SQRT((CAST(p.x AS DOUBLE) - c.cx) * (CAST(p.x AS DOUBLE) - c.cx)
       |     + (CAST(p.y AS DOUBLE) - c.cy) * (CAST(p.y AS DOUBLE) - c.cy)) AS d
       |  FROM pts p CROSS JOIN cent c),
       |pp AS (
       |  SELECT vec_id, label,
       |    MIN(CASE WHEN label = clabel THEN d END) AS a,
       |    MIN(CASE WHEN label <> clabel THEN d END) AS b
       |  FROM d GROUP BY vec_id, label),
       |sq AS (
       |  SELECT label,
       |    CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(FLOOR(1000000.0 * (b - a) / GREATEST(a, b))
       |                AS BIGINT) END AS s_q
       |  FROM pp)
       |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
       |  CAST(SUM(s_q) AS BIGINT) AS s_q_sum,
       |  CAST(SUM(s_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
       |    AS mean_silhouette
       |FROM sq GROUP BY label ORDER BY label""".stripMargin

  /** q342 — EXACT ROC-AUC by the tie-aware rank formula (the
    * Mann–Whitney identity q285 already exploits for its U statistic —
    * here finished into the classifier-eval metric): for score s with
    * positives np and negatives nn,
    *   AUC·2·np·nn = Σ_distinct s [ 2·nn_below(s)·np(s) + np(s)·nn(s) ]
    * — an exact BIGINT numerator (ties contribute the ½ term), one
    * final division. Scored on the q331 framing: does an event's
    * cent-value predict the user-parity variant — a near-0.5 AUC by
    * construction, which is exactly what an A/A-shaped audit should
    * read; the METRIC is the operator, the exactness is the point
    * (sklearn's roc_auc_score reproduces this number bit-for-bit).
    *
    * Scale shape: one groupBy on the distinct score + one ordered
    * prefix window over the DISTINCT-SCORE frame (values-bounded, the
    * q291 discipline), never a per-row global sort.
    */
  val q342RocAuc: Q = (s, dir) => {
    import s.implicits._
    val scored = T.events(s, dir)
      .select(expr("CAST(FLOOR(100 * value) AS BIGINT)").as("score"),
        ($"user_id" % 2 === 0).cast("long").as("y"))
    val byScore = scored.groupBy($"score")
      .agg(sum($"y").as("np_s"), (count(lit(1)) - sum($"y")).as("nn_s"))
    // r18 (verdict item 5): exclusive prefix over the distinct-score
    // frame via the two-level scan (inclusive cum − own count), not a
    // one-task global window
    val pre = graft.relational.QuantileNormalize.fullCumSum(
        byScore, Seq($"score".asc), "nn_s" -> "cumnn")
      .withColumn("nn_below", $"cumnn" - $"nn_s")
    pre.agg(
        sum($"np_s").as("n_pos"), sum($"nn_s").as("n_neg"),
        sum($"np_s" * ($"nn_below" * 2 + $"nn_s")).as("auc2_num"))
      .select($"n_pos", $"n_neg", $"auc2_num",
        expr("CAST(auc2_num AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")
          .as("auc"))
  }

  val q342Sql: String =
    """WITH s AS (
      |  SELECT CAST(FLOOR(100 * value) AS BIGINT) AS score,
      |    CAST(user_id % 2 = 0 AS BIGINT) AS y
      |  FROM events),
      |bs AS (
      |  SELECT score, SUM(y) AS np_s, COUNT(*) - SUM(y) AS nn_s
      |  FROM s GROUP BY score),
      |pre AS (
      |  SELECT score, np_s, nn_s,
      |    COALESCE(SUM(nn_s) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
      |  FROM bs)
      |SELECT CAST(SUM(np_s) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn_s) AS BIGINT) AS n_neg,
      |  CAST(SUM(np_s * (nn_below * 2 + nn_s)) AS BIGINT) AS auc2_num,
      |  CAST(SUM(np_s * (nn_below * 2 + nn_s)) AS DOUBLE)
      |    / (2.0 * CAST(SUM(np_s) AS DOUBLE) * CAST(SUM(nn_s) AS DOUBLE))
      |    AS auc
      |FROM pre""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q341_silhouette", q341Silhouette, q341Sql),
    Entry("q342_roc_auc", q342RocAuc, q342Sql))
}
