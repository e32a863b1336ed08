package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** SCC OF A FUNCTIONAL GRAPH (every node has exactly ONE out-edge —
  * the random-mapping "rho" structure behind Pollard's rho, hash-chain
  * analysis, and next-pointer datasets like `f(v) = parent(v)`):
  * the strongly-connected components are exactly the CYCLES, every
  * weakly-connected component owns exactly one, and each node's walk
  * is a ρ — a tail into a cycle. Per node this operator reports
  * `(on_cycle, cycle_id)` with `cycle_id` = the minimum node of the
  * cycle its walk reaches.
  *
  * Spark-first algorithm: POINTER DOUBLING on a min-semiring
  * (Wyllie-style pointer jumping — the textbook O(log n)-round
  * list/functional-graph primitive). State `(node, ptr, mn)` starts
  * at `(v, f(v), v)` and each round squares the pointer while folding
  * the window minimum:
  * `mn' = min(mn(v), mn(ptr(v)))`, `ptr' = ptr(ptr(v))` — after
  * K = ⌈log₂ n⌉ rounds `ptr(v) = f^(2^K)(v)` has left the tail (tail
  * length < n ≤ 2^K) and `mn(v)` is the min of v's 2^K-step window.
  * Then with one self-join: `cycle_id(v) = mn(ptr(v))` — ptr(v) is ON
  * the cycle and its window (2^K ≥ cycle length) covers the whole
  * cycle and nothing outside it. `on_cycle` = membership in the IMAGE
  * of `f^(2^K)` (every long-walk endpoint is on a cycle, and every
  * cycle node is its own cycle-predecessor's endpoint).
  *
  * Edges are `f(v) = md5_16('fg:'||v) mod n` over the customer keys
  * (0-based) — md5 is engine-independent, so DuckDB rebuilds the identical
  * graph and replays the walks with a recursive CTE (single-step,
  * bounded at n steps, revisit-terminated): the oracle checks every
  * (node, on_cycle, cycle_id) row value-for-value against an
  * INDEPENDENT algorithm (O(n²) sequential walks vs O(log n)-round
  * doubling).
  *
  * Scale shape: K = ⌈log₂ n⌉ self-equi-joins, each a keyed shuffle of
  * the n-row pointer table; every round is checkpointed through
  * [[PlanBridge.checkpointResetStats]] (measured stats — the round-11
  * compounding-estimate lesson). No driver-side iteration state.
  */
object FunctionalScc {

  import Entry.Q

  /** (node, nxt) — the functional edge table over customer keys. */
  def edges(s: SparkSession, dir: String): (DataFrame, Long) = {
    import s.implicits._
    val cust = T.customer(s, dir).select($"c_custkey".as("node"))
    val n = cust.count()
    val h = conv(substring(
      md5(concat(lit("fg:"), $"node".cast("string"))), 1, 4), 16, 10)
      .cast("long")
    (cust.withColumn("nxt", pmod(h, lit(n))), n)
  }

  /** Full per-node result: (node, on_cycle, cycle_id). */
  def sccTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (e, n) = edges(s, dir)
    val rounds = math.max(1,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt)
    var p = PlanBridge.checkpointResetStats(
      e.select($"node", $"nxt".as("ptr"), $"node".as("mn")))
    for (_ <- 1 to rounds) {
      val q = p.select($"node".as("j_node"), $"ptr".as("j_ptr"),
        $"mn".as("j_mn"))
      p = PlanBridge.checkpointResetStats(
        p.join(q, $"ptr" === $"j_node")
          .select($"node", $"j_ptr".as("ptr"),
            least($"mn", $"j_mn").as("mn")))
    }
    val cyc = p.select($"ptr".as("node")).distinct()
    val endMin = p.select($"node".as("j_node"), $"mn".as("j_mn"))
    p.join(endMin, $"ptr" === $"j_node")
      .select($"node", $"j_mn".as("cycle_id"))
      .join(cyc.withColumn("on_cycle", lit(true)), Seq("node"), "left")
      .select($"node", coalesce($"on_cycle", lit(false)).as("on_cycle"),
        $"cycle_id")
  }

  val q483FunctionalScc: Q = (s, dir) => {
    import s.implicits._
    sccTable(s, dir).orderBy($"node")
  }

  val q483Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT c_custkey AS node,
      |    CAST('0x' || substring(md5('fg:' || CAST(c_custkey AS VARCHAR)),
      |                           1, 4) AS BIGINT)
      |      % (SELECT COUNT(*) FROM customer) AS nxt
      |  FROM customer),
      |walk(start, cur, step) AS (
      |  SELECT node, node, 0 FROM e
      |  UNION ALL
      |  SELECT w.start, e.nxt, w.step + 1
      |  FROM walk w JOIN e ON w.cur = e.node
      |  WHERE w.step < (SELECT COUNT(*) FROM customer)
      |    AND NOT (w.step > 0 AND w.cur = w.start)),
      |cyc AS (SELECT DISTINCT start AS node FROM walk
      |        WHERE step > 0 AND cur = start),
      |ans AS (
      |  SELECT w.start AS node,
      |    MIN(w.cur) FILTER (WHERE w.cur IN (SELECT node FROM cyc))
      |      AS cycle_id
      |  FROM walk w GROUP BY 1)
      |SELECT a.node, a.node IN (SELECT node FROM cyc) AS on_cycle,
      |  a.cycle_id
      |FROM ans a
      |ORDER BY a.node""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q483_functional_scc", q483FunctionalScc, q483Sql))
}
