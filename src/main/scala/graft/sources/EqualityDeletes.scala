package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** Merge-on-read EQUALITY DELETES composed with position deletes
  * (q579) — Iceberg's second delete-file kind (spec §Delete Formats:
  * an equality-delete file lists KEY VALUES, "delete every row whose
  * key equals one of these", vs q187's (file, position) tombstones):
  * the right-to-be-forgotten shape — one small key file erases every
  * occurrence of an entity across 100 TB without touching a data
  * file, applied as a key anti-join at scan time. Real tables carry
  * BOTH kinds side by side (Iceberg readers apply every delete file
  * overlapping a scan), so the oracle row composes them in ONE scan:
  * base ⟕̸ position-tombstones on the physical coordinate ⟕̸
  * equality-keys on the entity key.
  *
  * The q187 honesty contract, extended: the position sidecar is pure
  * coordinates (its predicate ran once at write), and the equality
  * sidecar is pure KEYS — the erase-set is "every user_id that ever
  * produced an 'error' event and sits in the md5-free deterministic
  * [[EqKeyMod]] bucket", materialized ONCE; the read path sees only
  * the key list. DuckDB replays the LOGICAL COMPLEMENT from the
  * original table (NOT position-deleted AND user NOT IN the
  * re-derived erase-set), so a dropped key, a resurrected row, or a
  * wrong join kind all break the hash. Rows hit by BOTH kinds must
  * drop exactly once — anti-joins compose idempotently; the spec pins
  * a non-empty overlap so the composition is actually exercised.
  *
  * Scale shape: the base streams through one scan; the position
  * anti-join is hash-partitioned on the coordinate; the equality key
  * list is entity-bounded and BROADCAST (an erase-set is ~thousands
  * of keys against 10¹¹ rows — the classic small-side anti-join).
  */
object EqualityDeletes {

  import Entry.Q

  /** Erase-set selector: user_ids with an 'error' event in the
    * deterministic bucket (user_id mod EqKeyMod = EqKeyRem).
    */
  val EqKeyMod = 17L
  val EqKeyRem = 2L

  /** Equality-key sidecar name under the fixture root (the q187 roots
    * scheme).
    */
  private def eqName(dir: String): String =
    s"mor_eqdeletes_${Fixtures.dirTag(dir)}"

  /** Ensure the q187 base/position fixture AND the equality-key
    * sidecar exist; returns (baseRoot, posDeleteRoot, eqDeleteRoot).
    */
  private[sources] def ensureFixture(s: SparkSession, dir: String)
      : (String, String, String) = {
    import s.implicits._
    val (baseRoot, posRoot) = DeletionVectors.ensureAll(s, dir)
    val root = Fixtures.path(eqName(dir))
    Fixtures.once(eqName(dir), s"eq:$dir:$EqKeyMod:$EqKeyRem") {
      // key creation: the ONLY place the erase predicate runs — what
      // is persisted is pure entity keys
      T.events(s, dir)
        .filter($"event_type" === "error" &&
          $"user_id" % EqKeyMod === EqKeyRem)
        .select($"user_id").distinct()
        .write.mode(SaveMode.Overwrite).parquet(root)
    }
    (baseRoot, posRoot, root)
  }

  /** q579 — one merge-on-read scan applying BOTH delete kinds: the
    * physical-coordinate anti-join (q187's position tombstones), then
    * the broadcast key anti-join (the equality keys), then the
    * survivor aggregate.
    */
  val q579EqualityDeletes: Q = (s, dir) => {
    import s.implicits._
    val (baseRoot, posRoot, eqR) = ensureFixture(s, dir)
    val posDeletes = s.read.parquet(posRoot)
    val eqKeys = s.read.parquet(eqR)
    val live = s.read.parquet(baseRoot)
      .select($"_metadata.file_path".as("fp"),
        $"_metadata.row_index".as("ri"),
        $"user_id", $"event_type", $"value")
      .join(posDeletes, Seq("fp", "ri"), "left_anti")
      .join(broadcast(eqKeys), Seq("user_id"), "left_anti")
    live.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  val q579Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value
       |FROM events
       |WHERE NOT (event_id % ${DeletionVectors.DeleteMod}
       |           = ${DeletionVectors.DeleteRem})
       |  AND user_id NOT IN (
       |    SELECT DISTINCT user_id FROM events
       |    WHERE event_type = 'error' AND user_id % $EqKeyMod = $EqKeyRem)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q579_equality_deletes", q579EqualityDeletes, q579Sql))
}
