package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T}

/** PERSISTED inverted index as a token-bucketed warehouse table — the
  * serving layout q135's inline postings join promises ("a served
  * system would persist the full index bucketed by token"): the
  * (token, doc_id, pos) postings are written ONCE with
  * `bucketBy(token)`, and every term lookup afterwards scans only the
  * term's bucket files (Spark's bucket pruning on the equality
  * predicate — 1/N of the index, no shuffle to co-locate postings of
  * the same term because bucketing already did). At 100 TB this is
  * the difference between a phrase query touching ~GBs and touching
  * the whole index.
  *
  * q428 runs the q135 phrase query THROUGH the persisted index and
  * must reproduce exactly the counts the inline build produces
  * (oracle = the relational replay); PostingsIndexSpec pins the
  * bucket-pruned scan (SelectedBucketsCount 1/N per term). The
  * adjacency join itself still shuffles — but only the two TERMS'
  * posting lists, which the pruned scans have already cut to
  * term-bounded size (bucketing buys the scan, the posting-list
  * filter discipline bounds the shuffle).
  */
object PostingsIndex {

  import Entry.Q

  val Buckets = 16

  /** This JVM's pid, baked into the table name so concurrent sbt
    * processes sharing the warehouse dir never drop/create the same
    * table path (the object-level `synchronized` below only guards one
    * JVM).
    */
  private val Pid = ProcessHandle.current().pid()

  private def tableFor(dir: String): String =
    "graft_postings_" + dir.replaceAll("[^a-zA-Z0-9]", "_") + "_p" + Pid

  /** Build once per (JVM, sf dir): the write-side of the recipe. */
  def ensureIndex(s: SparkSession, dir: String): String = {
    import s.implicits._
    val t = tableFor(dir)
    if (!s.catalog.tableExists(t)) synchronized {
      if (!s.catalog.tableExists(t)) {
        val warehouse = java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath
        // Reap index dirs left by DEAD JVMs only — the owner pid is in
        // the name, and a pid that no longer resolves can't be racing
        // us. Live siblings belong to concurrent sbt processes and are
        // non-conflicting by construction (per-JVM names).
        val wh = Paths.get(warehouse)
        if (Files.isDirectory(wh)) {
          val ls = Files.list(wh)
          try ls.forEach { p =>
            val n = p.getFileName.toString
            val i = n.lastIndexOf("_p")
            if (n.startsWith("graft_postings_") && i > 0) {
              val dead = scala.util.Try(n.substring(i + 2).toLong).toOption
                .exists(id => id != Pid && !ProcessHandle.of(id).isPresent)
              if (dead) scala.util.Try(Fixtures.deleteTree(p))
            }
          } finally ls.close()
        }
        Fixtures.deleteTree(Paths.get(warehouse, t)) // leftovers from a pid reuse
        val t0 = System.nanoTime()
        T.documents(s, dir)
          .select($"doc_id",
            posexplode(expr("filter(split(text, ' '), x -> x <> '')"))
              .as(Seq("pos", "tok")))
          .write
          .bucketBy(Buckets, "tok").sortBy("tok", "doc_id", "pos")
          .saveAsTable(t)
        // build cost into the bench's index_build line (IndexStore doc)
        graft.core.IndexStore.recordBuild("postings",
          (System.nanoTime() - t0) / 1e9)
      }
    }
    t
  }

  /** q428 — the q135 phrase query served from the persisted index. */
  val q428IndexedPhrase: Q = (s, dir) => {
    import s.implicits._
    val t = ensureIndex(s, dir)
    val idx = s.table(t)
    val t1 = idx.filter($"tok" === graft.llm.CorpusOps.PhraseFirst)
      .select($"doc_id", $"pos")
    val t2 = idx.filter($"tok" === graft.llm.CorpusOps.PhraseSecond)
      .select($"doc_id", ($"pos" - 1).as("pos"))
    t1.join(t2, Seq("doc_id", "pos"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy($"doc_id")
  }

  /** Oracle: the same phrase counts straight from the documents (the
    * q135 replay — proving index build + pruned lookup lose nothing).
    */
  val q428Sql: String =
    s"""WITH idx AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS ts
       |        FROM documents),
       |       UNNEST(range(1, len(ts) + 1)) AS t(i)),
       |t1 AS (SELECT doc_id, pos FROM idx
       |       WHERE tok = '${graft.llm.CorpusOps.PhraseFirst}'),
       |t2 AS (SELECT doc_id, pos - 1 AS pos FROM idx
       |       WHERE tok = '${graft.llm.CorpusOps.PhraseSecond}')
       |SELECT t1.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
       |FROM t1 JOIN t2 USING (doc_id, pos)
       |GROUP BY t1.doc_id
       |ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q428_indexed_phrase", q428IndexedPhrase, q428Sql))
}
