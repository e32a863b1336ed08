package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Depth-2 decision-TREE GROWTH on the q330 histogram kernel — the
  * composition that turns one split into a learner: find the global
  * best root split, partition the data by it, and re-run the kernel
  * inside each child (XGBoost's exact growth loop at depth 2, with
  * the GLOBAL per-feature binning the hist algorithm fixes once —
  * child nodes re-aggregate histograms, they never re-bin).
  *
  * Everything hashed is exact: bins are integer arithmetic on the
  * once-computed global bounds, histograms are BIGINT counts, the
  * Gini gain is the one identically spelled double (q330's), argmax
  * ties break (gain desc, feature asc, bin asc). The ONLY driver
  * traffic is the root split choice — one row, the q140 BPE argmax
  * discipline (each tree level is a driver decision in every
  * distributed GBDT).
  *
  * Scale shape: two histogram passes over the corpus (root, then
  * children keyed by the node id — ONE extra grouping column, not one
  * pass per node), each a single partial-agged shuffle to a
  * nodes×features×bins-bounded frame; windows and argmax run on that
  * frame only.
  */
object TreeGrow {

  import Entry.Q

  import SplitFinding.SplitBins

  private val Features =
    Seq("quantity" -> "f_quantity", "price" -> "f_price",
      "discount" -> "f_discount", "tax" -> "f_tax")

  /** (y, f_*) base frame — q330's quantization. */
  private def base(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.lineitem(s, dir).select(
      ($"l_returnflag" === "R").cast("long").as("y"),
      expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("f_quantity"),
      expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("f_price"),
      expr("CAST(FLOOR(1000 * l_discount) AS BIGINT)").as("f_discount"),
      expr("CAST(FLOOR(1000 * l_tax) AS BIGINT)").as("f_tax"))
  }

  /** Per-(node, feature) best Gini split of a (node, feature, bin, y)
    * frame — the q330 scan with one extra key.
    */
  private def bestSplits(binned: DataFrame): DataFrame = {
    val s = binned.sparkSession
    import s.implicits._
    val hist = binned.groupBy($"node", $"feature", $"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("p"))
    val wCum = Window.partitionBy($"node", $"feature").orderBy($"bin")
    val wAll = Window.partitionBy($"node", $"feature")
    hist
      .withColumn("nl", sum($"n").over(wCum))
      .withColumn("pl", sum($"p").over(wCum))
      .withColumn("nt", sum($"n").over(wAll))
      .withColumn("pt", sum($"p").over(wAll))
      .filter($"nl" > 0 && $"nl" < $"nt")
      .withColumn("gain", giniGain)
      .groupBy($"node", $"feature")
      .agg(min(struct((-$"gain").as("ng"), $"bin".as("b"), $"nl".as("l"),
        $"nt".as("t"))).as("best"))
      .groupBy($"node")
      // best.ng is ALREADY the negated gain — min picks max gain; a
      // second negation here would argMIN (shipped once, caught by the
      // oracle: every "best" split came out negative)
      .agg(min(struct(($"best.ng").as("nng"), $"feature".as("f"),
        $"best.b".as("b"), $"best.l".as("l"), $"best.t".as("t"))).as("bb"))
      .select($"node", $"bb.f".as("feature"), $"bb.b".as("split_bin"),
        (-$"bb.nng").as("gain"), $"bb.l".as("n_left"),
        ($"bb.t" - $"bb.l").as("n_right"), $"bb.t".as("n_node"))
  }

  /** q330's Gini gain, verbatim. */
  private def giniGain: Column = expr(
    """(1.0
      |  - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
      |  - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)))
      | - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))
      |   * (1.0
      |      - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
      |      - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
      | - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))
      |   * (1.0
      |      - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
      |      - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)))""".stripMargin)

  val q333TreeDepth2: Q = (s, dir) => {
    import s.implicits._
    val df = PlanBridge.checkpointResetStats(base(s, dir))
    // global bounds → one bin COLUMN per feature (bins are fixed once;
    // children never re-bin — the hist-algorithm contract)
    val b = df.agg(
      min($"f_quantity").as("lo_quantity"), max($"f_quantity").as("hi_quantity"),
      min($"f_price").as("lo_price"), max($"f_price").as("hi_price"),
      min($"f_discount").as("lo_discount"), max($"f_discount").as("hi_discount"),
      min($"f_tax").as("lo_tax"), max($"f_tax").as("hi_tax")).head()
    def binCol(name: String): Column = {
      val lo = b.getAs[Long](s"lo_$name"); val hi = b.getAs[Long](s"hi_$name")
      expr(s"CAST((f_$name - $lo) * $SplitBins div (${hi - lo + 1}) AS BIGINT)")
        .as(s"b_$name")
    }
    val binned = PlanBridge.checkpointResetStats(
      df.select($"y" +: Features.map { case (n, _) => binCol(n) }: _*))
    val meltRoot = binned.select(lit("root").as("node"), $"y", expr(
      """stack(4, 'quantity', b_quantity, 'price', b_price,
        |  'discount', b_discount, 'tax', b_tax)""".stripMargin)
      .as(Seq("feature", "bin")))
    val rootBest = PlanBridge.checkpointResetStats(bestSplits(meltRoot))
    val rootRow = rootBest.head()
    val rootFeat = rootRow.getAs[String]("feature")
    val rootBin = rootRow.getAs[Long]("split_bin")
    val withNode = binned.withColumn("node",
      when(col(s"b_$rootFeat") <= rootBin, "root/L").otherwise("root/R"))
    val meltKids = withNode.select($"node", $"y", expr(
      """stack(4, 'quantity', b_quantity, 'price', b_price,
        |  'discount', b_discount, 'tax', b_tax)""".stripMargin)
      .as(Seq("feature", "bin")))
    rootBest.unionByName(bestSplits(meltKids))
      .orderBy($"node")
  }

  /** The oracle replays the same two-level scan; the root argmax is a
    * window over the per-feature bests (no driver in SQL-land).
    */
  val q333Sql: String = {
    val gini =
      """(1.0
        |      - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
        |      - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)))
        |     - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))
        |       * (1.0
        |          - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
        |          - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
        |     - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))
        |       * (1.0
        |          - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
        |          - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)))""".stripMargin
    def bestOf(src: String, out: String): String =
      s"""${out}_hist AS (
         |  SELECT node, feature, bin, COUNT(*) AS n, SUM(y) AS p
         |  FROM $src GROUP BY 1, 2, 3),
         |${out}_cum AS (
         |  SELECT node, feature, bin,
         |    SUM(n) OVER (PARTITION BY node, feature ORDER BY bin) AS nl,
         |    SUM(p) OVER (PARTITION BY node, feature ORDER BY bin) AS pl,
         |    SUM(n) OVER (PARTITION BY node, feature) AS nt,
         |    SUM(p) OVER (PARTITION BY node, feature) AS pt
         |  FROM ${out}_hist),
         |${out}_gain AS (
         |  SELECT node, feature, bin, nl, nt,
         |    $gini AS gain
         |  FROM ${out}_cum WHERE nl > 0 AND nl < nt),
         |$out AS (
         |  SELECT node, feature, bin AS split_bin, gain,
         |    CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
         |    CAST(nt AS BIGINT) AS n_node
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY node
         |          ORDER BY gain DESC, feature ASC, bin ASC) AS rk
         |        FROM ${out}_gain)
         |  WHERE rk = 1)""".stripMargin
    s"""WITH basef AS (
       |  SELECT CAST(l_returnflag = 'R' AS BIGINT) AS y,
       |    CAST(FLOOR(l_quantity) AS BIGINT) AS f_quantity,
       |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) AS f_price,
       |    CAST(FLOOR(1000 * l_discount) AS BIGINT) AS f_discount,
       |    CAST(FLOOR(1000 * l_tax) AS BIGINT) AS f_tax
       |  FROM lineitem),
       |bounds AS (
       |  SELECT MIN(f_quantity) AS loq, MAX(f_quantity) AS hiq,
       |    MIN(f_price) AS lop, MAX(f_price) AS hip,
       |    MIN(f_discount) AS lod, MAX(f_discount) AS hid,
       |    MIN(f_tax) AS lot, MAX(f_tax) AS hit
       |  FROM basef),
       |binned AS (
       |  SELECT y,
       |    (f_quantity - loq) * $SplitBins // (hiq - loq + 1) AS b_quantity,
       |    (f_price - lop) * $SplitBins // (hip - lop + 1) AS b_price,
       |    (f_discount - lod) * $SplitBins // (hid - lod + 1) AS b_discount,
       |    (f_tax - lot) * $SplitBins // (hit - lot + 1) AS b_tax
       |  FROM basef CROSS JOIN bounds),
       |mroot AS (
       |  SELECT 'root' AS node, y, 'quantity' AS feature, b_quantity AS bin FROM binned
       |  UNION ALL SELECT 'root', y, 'price', b_price FROM binned
       |  UNION ALL SELECT 'root', y, 'discount', b_discount FROM binned
       |  UNION ALL SELECT 'root', y, 'tax', b_tax FROM binned),
       |${bestOf("mroot", "rootbest")},
       |kids AS (
       |  SELECT CASE WHEN
       |      (CASE (SELECT feature FROM rootbest)
       |         WHEN 'quantity' THEN b_quantity WHEN 'price' THEN b_price
       |         WHEN 'discount' THEN b_discount ELSE b_tax END)
       |      <= (SELECT split_bin FROM rootbest)
       |    THEN 'root/L' ELSE 'root/R' END AS node, y,
       |    b_quantity, b_price, b_discount, b_tax
       |  FROM binned),
       |mkids AS (
       |  SELECT node, y, 'quantity' AS feature, b_quantity AS bin FROM kids
       |  UNION ALL SELECT node, y, 'price', b_price FROM kids
       |  UNION ALL SELECT node, y, 'discount', b_discount FROM kids
       |  UNION ALL SELECT node, y, 'tax', b_tax FROM kids),
       |${bestOf("mkids", "kidbest")}
       |SELECT node, feature, split_bin, gain, n_left, n_right, n_node
       |FROM rootbest
       |UNION ALL
       |SELECT node, feature, split_bin, gain, n_left, n_right, n_node
       |FROM kidbest
       |ORDER BY node""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q333_tree_depth2", q333TreeDepth2, q333Sql))
}
