package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** Merge-on-read POSITION DELETES (q187) — the deletion-vector
  * mechanism of modern table formats (Iceberg position-delete files,
  * Delta deletion vectors): a delete does not rewrite data files, it
  * records (file, row-position) tombstones in a sidecar; readers apply
  * them as an anti-join at scan time. The write amplification of
  * copy-on-write (q102's MERGE rewrites whole files for one row) turns
  * into a read-side merge — the right trade for frequent small deletes
  * over 100 TB.
  *
  * The Spark-native mechanics: `_metadata.file_path` +
  * `_metadata.row_index` give every scanned row its stable physical
  * coordinate (generated by the reader, no data column needed), so the
  * tombstone sidecar is just a parquet table of those coordinates and
  * the merge is one left-anti equi-join — hash-partitioned, no row
  * numbering window, no shuffle of the base beyond the join itself.
  *
  * The honesty contract of the oracle row: tombstones are created ONCE
  * from a logical predicate and stored as PURE POSITIONS; the read path
  * never sees the predicate. DuckDB replays the logical complement from
  * the original table — the hash can only match if positions were
  * stable across the write→scan round trip and the anti-join dropped
  * exactly the tombstoned rows.
  */
object DeletionVectors {

  import Entry.Q

  /** Every event with event_id ≡ 3 (mod 7) is deleted — selective but
    * file-spanning, so every base file carries some tombstones.
    */
  val DeleteMod = 7L
  val DeleteRem = 3L
  val BaseFiles = 8

  /** (base, tombstones) fixture roots — single source of truth for the
    * path scheme (the spec reads through this, never re-deriving it).
    */
  private[sources] def roots(dir: String): (String, String) =
    (Fixtures.path(s"mor_base_${Fixtures.dirTag(dir)}"),
      Fixtures.path(s"mor_deletes_${Fixtures.dirTag(dir)}"))

  /** Shared with [[EqualityDeletes]] — q579 composes its equality-key
    * sidecar with this base/position fixture in one scan.
    */
  private[sources] def ensureAll(s: SparkSession, dir: String)
      : (String, String) = ensureFixture(s, dir)

  private def ensureFixture(s: SparkSession, dir: String): (String, String) = {
    import s.implicits._
    val (baseRoot, delRoot) = roots(dir)
    Fixtures.once(s"mor_base_${Fixtures.dirTag(dir)}",
        s"mor:$dir:$BaseFiles:$DeleteMod:$DeleteRem") {
      T.events(s, dir).repartition(BaseFiles)
        .write.mode(SaveMode.Overwrite).parquet(baseRoot)
      // tombstone creation: the ONLY place the logical predicate runs —
      // what is persisted is pure (file, position) coordinates
      s.read.parquet(baseRoot)
        .select($"_metadata.file_path".as("fp"),
          $"_metadata.row_index".as("ri"), $"event_id")
        .filter($"event_id" % DeleteMod === DeleteRem)
        .select($"fp", $"ri")
        .write.mode(SaveMode.Overwrite).parquet(delRoot)
    }
    (baseRoot, delRoot)
  }

  /** q187 — merge-on-read scan: base ⟕̸ tombstones on the physical
    * coordinate, then the survivors aggregated. The oracle computes the
    * logical complement from the ORIGINAL events table, so a drifted
    * row_index, a lossy coordinate round trip, or an anti-join bug all
    * break the hash.
    */
  val q187MergeOnRead: Q = (s, dir) => {
    import s.implicits._
    val (baseRoot, delRoot) = ensureFixture(s, dir)
    val deletes = s.read.parquet(delRoot)
    val live = s.read.parquet(baseRoot)
      .select($"_metadata.file_path".as("fp"),
        $"_metadata.row_index".as("ri"),
        $"event_type", $"value")
      .join(deletes, Seq("fp", "ri"), "left_anti")
    live.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  val q187Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value
       |FROM events
       |WHERE NOT (event_id % $DeleteMod = $DeleteRem)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q242 compacted-layout width. */
  val CompactedFiles = 4

  /** q242 — tombstone COMPACTION (copy-on-write materialization of the
    * q187 merge-on-read view): when tombstones accumulate, the
    * read-side anti-join cost is paid on every query — the maintenance
    * job rewrites live rows into a fresh layout and retires the
    * deletion vectors (Iceberg's rewrite_data_files / Delta's
    * `REORG ... APPLY (PURGE)`). One anti-join + one write; afterwards
    * scans read the compacted files DIRECTLY with no merge.
    *
    * In-query REQUIREs (the q111/q125 discipline — the green row
    * certifies the physical claim, not just values): compacted row
    * count must equal base − tombstones (a lost or resurrected row
    * fails before any output), and the compacted layout must hold
    * exactly [[CompactedFiles]] files. The oracle is q187's logical
    * complement — identical results from the compacted files prove the
    * rewrite preserved content, while the scan itself no longer touches
    * tombstones.
    */
  val q242CompactTombstones: Q = (s, dir) => {
    import s.implicits._
    val (baseRoot, delRoot) = ensureFixture(s, dir)
    val compactRoot = Fixtures.path(s"mor_compact_${Fixtures.dirTag(dir)}")
    val deletes = s.read.parquet(delRoot)
    val live = s.read.parquet(baseRoot)
      .select($"_metadata.file_path".as("fp"),
        $"_metadata.row_index".as("ri"),
        $"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .join(deletes, Seq("fp", "ri"), "left_anti")
      .drop("fp", "ri")
    live.repartition(CompactedFiles)
      .write.mode(SaveMode.Overwrite).parquet(compactRoot)
    // compaction-job bookkeeping: three bounded metadata scalars
    val nBase = s.read.parquet(baseRoot).count()
    val nDel = deletes.count()
    val compacted = s.read.parquet(compactRoot)
    val nComp = compacted.count()
    require(nComp == nBase - nDel,
      s"compaction row drift: $nComp != $nBase - $nDel")
    val listing = Files.list(Paths.get(compactRoot))
    val nFiles =
      try listing.toArray.map(_.toString).count(_.endsWith(".parquet"))
      finally listing.close()
    require(nFiles == CompactedFiles,
      s"compacted layout has $nFiles files, want $CompactedFiles")
    compacted.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** Same logical complement as q187 — content must survive the
    * rewrite; the scan no longer touches tombstones. */
  val q242Sql: String = q187Sql

  val entries: Seq[Entry] = Seq(
    Entry("q187_merge_on_read", q187MergeOnRead, q187Sql),
    Entry("q242_compact_tombstones", q242CompactTombstones, q242Sql))
}
