package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Hierarchical BOM-style cost rollup — WEIGHTED aggregation along a
  * tree (the parts-explosion query: extended cost of an assembly =
  * its own cost + qty-weighted extended cost of every sub-part,
  * recursively). Distinct from q188's recursive REACHABILITY (no
  * weights, set semantics) and the q138/q231 fixpoints (relaxation to
  * convergence): this is one exact bottom-up dynamic program over a
  * forest.
  *
  * The hierarchy is arithmetic on the SHIFTED part key hk = key + 1
  * (the fixture's keys start at 0, and 0 div 10 = 0 would make node 0
  * its own child — the shift makes every parent strictly smaller):
  * parent = hk div 10, qty = hk mod 3 + 1, so both engines derive the
  * identical forest with depth = decimal-digit count and no fixture
  * beyond `part` itself (the q239 derived-graph convention). Costs
  * are cent-exact
  * BIGINTs; qty ≤ 3 and depth ≤ digits(maxkey) bound every extended
  * cost far inside int64.
  *
  * Scale shape: depth(key) is a per-row projection, so the LEVELS are
  * data-derived, not driver-guessed; the rollup runs depth−1 rounds,
  * each ONE partial-aggregated groupBy of the previous level on its
  * parent key + ONE equi-join onto the next level up — the classic
  * bottom-up tree DP as relational algebra. Rounds = O(log₁₀ maxkey)
  * (≤ 10 at any conceivable scale); per-round working set is one row
  * per node at that level. The oracle is DuckDB's recursive CTE
  * enumerating (root, descendant, path-qty-product) — quadratic in
  * subtree size, fine at oracle SF, exactly what the DP avoids.
  */
object HierarchyRollup {

  import Entry.Q

  val q325BomRollup: Q = (s, dir) => {
    import s.implicits._
    val parts = PlanBridge.checkpointResetStats(T.part(s, dir)
      .select(($"p_partkey" + 1).as("k"),
        expr("(p_partkey + 1) div 10").as("parent"),
        (($"p_partkey" + 1) % 3 + 1).as("qty"),
        expr("CAST(FLOOR(100 * p_retailprice) AS BIGINT)").as("price"))
      .withColumn("depth", length($"k".cast("string"))))
    val maxDepth = parts.agg(max($"depth")).head().getInt(0)

    var level = parts.filter($"depth" === maxDepth)
      .select($"k", $"parent", $"qty", $"price".as("ext"))
    var out = level.select($"k", $"ext")
    for (d <- (maxDepth - 1) to 1 by -1) {
      val childSum = level.groupBy($"parent".as("ck"))
        .agg(sum($"qty" * $"ext").as("child_ext"))
      level = PlanBridge.checkpointResetStats(parts.filter($"depth" === d)
        .join(childSum, $"k" === $"ck", "left")
        .na.fill(0L, Seq("child_ext"))
        .select($"k", $"parent", $"qty", ($"price" + $"child_ext").as("ext")))
      out = out.unionAll(level.select($"k", $"ext"))
    }
    out.select(($"k" - 1).as("p_partkey"), $"ext".as("ext_cost_cents"))
      .orderBy($"p_partkey")
  }

  val q325Sql: String =
    """WITH RECURSIVE sub(root, node, mult) AS (
      |  SELECT p_partkey + 1, p_partkey + 1, CAST(1 AS BIGINT) FROM part
      |  UNION ALL
      |  SELECT s.root, c.p_partkey + 1, s.mult * ((c.p_partkey + 1) % 3 + 1)
      |  FROM sub s JOIN part c ON (c.p_partkey + 1) // 10 = s.node)
      |SELECT CAST(sub.root - 1 AS BIGINT) AS p_partkey,
      |  CAST(SUM(sub.mult *
      |    CAST(FLOOR(100 * p.p_retailprice) AS BIGINT)) AS BIGINT)
      |    AS ext_cost_cents
      |FROM sub JOIN part p ON sub.node = p.p_partkey + 1
      |GROUP BY sub.root
      |ORDER BY p_partkey""".stripMargin

  /** q349 — the NATIVE recursive-CTE surface (Spark 4's
    * `WITH RECURSIVE`, SPARK-24497: UnionLoop/UnionLoopRef in the
    * plan, pinned by HierarchyRollupSpec): the SAME parts-explosion
    * semantics as q325, spelled as the recursive enumeration BOTH
    * engines now run natively — so q325-DP ≡ q349-recursion ≡
    * DuckDB-recursion triangulate each other exactly (cent-exact
    * BIGINTs, no tolerance). The q325 key-shift trap applies verbatim
    * (hk = key + 1, else node 0 is its own child and the recursion
    * never terminates).
    *
    * Scale note: the enumeration materializes one row per
    * (root, descendant) path — Σ subtree sizes ≈ n·depth rows with
    * depth ≤ digits(maxkey) ≤ 10, so the loop is bounded and each
    * iteration is ONE equi-join the optimizer plans normally; for
    * deep/wide hierarchies where per-root enumeration explodes, the
    * q325 bottom-up DP (one row per NODE per round) remains the
    * 100 TB path — this row exists to certify the native surface
    * against it.
    */
  val q349RecursiveCte: Q = (s, dir) => {
    T.part(s, dir).createOrReplaceTempView("q349_part")
    s.sql(
      """WITH RECURSIVE sub(root, node, mult) AS (
        |  SELECT p_partkey + 1, p_partkey + 1, CAST(1 AS BIGINT)
        |  FROM q349_part
        |  UNION ALL
        |  SELECT s.root, c.p_partkey + 1,
        |    s.mult * ((c.p_partkey + 1) % 3 + 1)
        |  FROM sub s JOIN q349_part c
        |    ON (c.p_partkey + 1) div 10 = s.node)
        |SELECT CAST(sub.root - 1 AS BIGINT) AS p_partkey,
        |  CAST(SUM(sub.mult *
        |    CAST(FLOOR(100 * p.p_retailprice) AS BIGINT)) AS BIGINT)
        |    AS ext_cost_cents
        |FROM sub JOIN q349_part p ON sub.node = p.p_partkey + 1
        |GROUP BY sub.root
        |ORDER BY p_partkey""".stripMargin)
  }

  /** DuckDB's recursion is q325's oracle verbatim — the point: both
    * engines run the literal same recursive program.
    */
  val q349Sql: String = q325Sql

  val entries: Seq[Entry] = Seq(
    Entry("q325_bom_rollup", q325BomRollup, q325Sql),
    Entry("q349_recursive_cte", q349RecursiveCte, q349Sql))
}
