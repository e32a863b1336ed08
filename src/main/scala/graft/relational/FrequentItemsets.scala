package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** FREQUENT 4-ITEMSETS — the general lattice level above q134's pairs
  * and q244's triples (Agrawal–Srikant VLDB'94 Apriori: candidate
  * k-itemsets only from frequent (k−1)-subsets; Han–Pei–Yin
  * SIGMOD'00 FP-growth for the conditional-growth view — the
  * market-basket leg the family was missing at k = 4, r14 verdict
  * item #8): part quadruples bought together in ≥ [[MinSupport]]
  * orders, top-[[TopK]].
  *
  * Items are part BRANDS (lineitem ⋈ part), not raw part keys: at the
  * part granularity no quadruple reaches support 2 at sf ≥ 0.01 (a
  * 0-row gate — measured), while brand bundles stay dense at every SF,
  * which is also the granularity a merchandiser actually reads.
  *
  * Candidate discipline (what keeps k = 4 from exploding): combos are
  * generated IN-GROUP by a 4-deep nested HOF over each order's sorted
  * distinct brand array — C(n,4) per order with n ≤ lines-per-order
  * (≤ 7 in TPC-H-shaped data, so ≤ 35 quadruples per order), never a
  * four-way shuffle self-join — AND the basket is first semi-joined to
  * the level-1 FREQUENT items (order-count ≥ MinSupport): the Apriori
  * prune, SOUND because every item of a ≥s-support itemset has
  * ≥s-support itself, so the pruned run returns the identical answer
  * while the generation cost drops to C(n', 4) over frequent items
  * only — at 100 TB the prune is what bounds the combinatorial term,
  * the same per-bucket cap idea as the LSH band caps (q41/q50-row
  * discipline).
  *
  * The oracle spells the same answer as the quadratic-free-hand
  * FOUR-way self-join with HAVING — fine at oracle scale, exactly
  * what the in-group generation avoids at 100 TB.
  */
object FrequentItemsets {

  import Entry.Q

  val MinSupport = 2L
  val TopK = 50

  val q563Itemsets4: Q = (s, dir) => {
    import s.implicits._
    val op = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .join(T.part(s, dir), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct())
    // Apriori level-1 prune: items in ≥ MinSupport orders
    val freq1 = op.groupBy($"p_brand")
      .agg(count(lit(1)).as("df")).filter($"df" >= MinSupport)
      .select($"p_brand")
    op.join(freq1, Seq("p_brand"), "left_semi")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"p_brand")).as("ps"))
      .filter(size($"ps") >= 4)
      .select(explode(expr(
        """flatten(flatten(flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), (y, j) ->
          |    transform(slice(ps, i + j + 3, size(ps)), (z, k) ->
          |      transform(slice(ps, i + j + k + 4, size(ps)), t ->
          |        struct(x AS p1, y AS p2, z AS p3, t AS p4))))))))"""
          .stripMargin)).as("q"))
      .groupBy($"q.p1".as("p1"), $"q.p2".as("p2"),
        $"q.p3".as("p3"), $"q.p4".as("p4"))
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= MinSupport)
      .orderBy($"n_orders".desc, $"p1".asc, $"p2".asc, $"p3".asc,
        $"p4".asc)
      .limit(TopK)
  }

  val q563Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, p_brand FROM lineitem
      |            JOIN part ON l_partkey = p_partkey)
      |SELECT a.p_brand AS p1, b.p_brand AS p2, c.p_brand AS p3,
      |  d.p_brand AS p4, COUNT(*) AS n_orders
      |FROM op a
      |JOIN op b ON a.l_orderkey = b.l_orderkey
      |  AND a.p_brand < b.p_brand
      |JOIN op c ON b.l_orderkey = c.l_orderkey
      |  AND b.p_brand < c.p_brand
      |JOIN op d ON c.l_orderkey = d.l_orderkey
      |  AND c.p_brand < d.p_brand
      |GROUP BY p1, p2, p3, p4
      |HAVING COUNT(*) >= $MinSupport
      |ORDER BY n_orders DESC, p1 ASC, p2 ASC, p3 ASC, p4 ASC
      |LIMIT $TopK""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q563_itemsets4", q563Itemsets4, q563Sql))
}
