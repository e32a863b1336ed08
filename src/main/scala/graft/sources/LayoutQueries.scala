package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}
import graft.core.GraftSession.withConfs

/** Date-partitioned table layout + partition pruning — the write-side
  * scale recipe: laying a fact table out by day means a day-filtered
  * query lists and reads ONLY that day's files (the generalization of
  * the reference's (package, schema) directory layout, main.go:226-238,
  * where the route handler opens exactly one partition directory).
  *
  * q111 proves all three legs in one oracle row: the layout builds
  * through the real partitioned writer, the day-filtered read is
  * REQUIRED to carry a partition filter in its physical plan (pruning,
  * not post-scan filtering), and the aggregate over the pruned scan
  * hash-matches DuckDB reading the same files with hive partitioning.
  */
object LayoutQueries {

  import Entry.Q

  /** Fixed path so the static oracle SQL can address the layout. */
  val LayoutRoot = Fixtures.path("layout_events")
  val PruneDay = "2024-01-15"

  /** Build the day-partitioned layout once per (sfDir) — marker-keyed
    * like q91's GC fixture; switching scale factors rebuilds.
    */
  private def ensureLayout(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Fixtures.once("layout_events", s"events:$dir") {
      T.events(s, dir)
        .withColumn("event_day", date_format($"ts", "yyyy-MM-dd"))
        .repartition($"event_day")
        .sortWithinPartitions($"event_day", $"user_id", $"ts")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_day")
        .parquet(LayoutRoot)
    }
  }

  /** q111 — aggregate one day off the partitioned layout; the physical
    * plan must prune at the partition level (a scan whose
    * `PartitionFilters` carries the day predicate), which is asserted
    * in the query itself so the green oracle row certifies layout,
    * pruning, and correctness together.
    */
  val q111PartitionPruning: Q = (s, dir) => {
    import s.implicits._
    ensureLayout(s, dir)
    val day = s.read.parquet(LayoutRoot)
      .filter($"event_day" === PruneDay)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_type")
    val plan = day.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters: [") &&
      plan.contains("event_day"),
      s"day filter did not prune partitions; plan:\n$plan")
    require(!plan.contains("PartitionFilters: []"),
      s"empty partition filter — scan reads every day; plan:\n$plan")
    day
  }

  val q111Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  ${O.dsumExpr("value")} AS sum_value
       |FROM read_parquet('$LayoutRoot/*/*.parquet',
       |                  hive_partitioning=1, hive_types_autocast=0)
       |WHERE event_day = '$PruneDay'
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q186 — DYNAMIC partition pruning (the runtime sibling of q111's
    * static pruning): the pruning predicate is not known until another
    * relation is filtered at run time — the fact table's partitions are
    * pruned by the RESULT of the dim-side filter, which Catalyst wires
    * as a dynamicpruning subquery reusing the dim's broadcast. At
    * 100 TB this is the difference between scanning every day and
    * scanning the handful of days a filtered dimension selects, for
    * predicates no static planner can see. The plan REQUIRE pins the
    * `dynamicpruningexpression` inside the scan's PartitionFilters;
    * the oracle replays the join over the raw files.
    */
  val q186DynamicPruning: Q = (s, dir) => {
    import s.implicits._
    ensureLayout(s, dir)
    val fact = s.read.parquet(LayoutRoot)
    // calendar dim mapped into the events month (the fixtures live in
    // different eras: events in 2024-01, orders in the 90s) — what
    // matters for DPP is that the day set is the runtime result of
    // filtering another relation, invisible to any static planner
    val dim = T.orders(s, dir)
      .filter(month($"o_orderdate") === 3 && dayofmonth($"o_orderdate") <= 10)
      .select(concat(lit("2024-01-"),
        lpad(dayofmonth($"o_orderdate").cast("string"), 2, "0"))
        .as("event_day"))
      .distinct()
    val joined = fact.join(dim, "event_day")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_type")
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in the fact scan; plan:\n$plan")
    joined
  }

  val q186Sql: String =
    s"""WITH dim AS (
       |  SELECT DISTINCT '2024-01-' ||
       |    lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') AS event_day
       |  FROM orders
       |  WHERE month(o_orderdate) = 3 AND day(o_orderdate) <= 10)
       |SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value
       |FROM read_parquet('$LayoutRoot/*/*.parquet',
       |                  hive_partitioning=1, hive_types_autocast=0) f
       |JOIN dim USING (event_day)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q113 — small-file compaction: the table-maintenance op every
  // long-running ingest needs. Streaming/incremental writers fragment a
  // partitioned layout into many tiny files; scan cost then goes by file
  // COUNT (open/footer/seek per file), not bytes. Compaction rewrites
  // each partition into ceil(partition_bytes / target) files, sorted
  // within files for row-group min/max locality — content-identical,
  // physically consolidated. The reference's moral anchor: one file per
  // (package, schema) partition IS its layout invariant (cache.go:85-99
  // writes exactly one JSON per directory).
  // ---------------------------------------------------------------------

  val FragRoot = Fixtures.path("frag_events")
  val CompactRoot = Fixtures.path("compact_events")
  val FragFilesPerDay = 8
  val CompactTargetBytes = 128L * 1024

  private def listParquet(root: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
  }

  /** AQE's partition coalescing merges the salt groups of a tiny write
    * back into one task (exactly the fragmentation-defeating behavior
    * it exists for) — scope it off when a write's file layout IS the
    * fixture/contract being built.
    */
  private val KeepSaltGroups =
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  /** Fragmented fixture: the q111 layout re-written with a per-day salt
    * so every day splinters into ~[[FragFilesPerDay]] files — the state
    * a micro-batching ingester leaves behind.
    */
  private def ensureFragmented(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Fixtures.once("frag_events", s"frag:$dir:$FragFilesPerDay") {
      withConfs(s, KeepSaltGroups) {
        T.events(s, dir)
          .withColumn("event_day", date_format($"ts", "yyyy-MM-dd"))
          .withColumn("salt", pmod(xxhash64($"event_id"), lit(FragFilesPerDay)))
          .repartition($"event_day", $"salt")
          .write.mode(SaveMode.Overwrite)
          .partitionBy("event_day")
          .parquet(FragRoot)
      }
      s.read.parquet(FragRoot).foreach(_ => ()) // fail loudly if unreadable
    }
  }

  /** Compact `src` (a hive-partitioned layout on `partitionCol`) into
    * `dst`: each partition gets EXACTLY ceil(bytes / targetBytes)
    * output files, rows sorted within files by `sortCols` for min/max
    * row-group locality. Returns (filesBefore, filesAfter).
    *
    * ONE Spark job for the whole table — not one job per partition: at
    * 10k day-partitions a serial per-partition loop costs 10k
    * sequential job round-trips from the driver. Every row is assigned
    * a global output-file slot (partition offset + a row-hash spread
    * over that partition's file budget), and one
    * `repartition(totalSlots, slotVal)` + `partitionBy` write emits
    * every file concurrently. Exactness of the file count survives the
    * hash shuffle because the slot VALUES are chosen as a bijection
    * against the engine's own `hash()` (= the Murmur3 HashPartitioning
    * uses): slot f gets a value v_f with `pmod(hash(v_f), total) == f`,
    * so no two slots collide into one task and no task holds two slots.
    * Driver-side work stays METADATA-bounded: the file listing and one
    * tiny groupBy over ≤ 64·totalSlots integers for the bijection.
    */
  def compact(s: SparkSession, src: String, dst: String,
      partitionCol: String, sortCols: Seq[String],
      targetBytes: Long): (Long, Long) = {
    import s.implicits._
    val before = listParquet(src)
    if (before.isEmpty) return (0L, 0L)
    // partition VALUE (the `col=value` suffix, URL-decoded) → exact
    // output file count from its byte budget
    val filesPerPart: Seq[(String, Int)] = before
      .groupBy(_.getParent.getFileName.toString)
      .toSeq.sortBy(_._1)
      .map { case (d, fs) =>
        val v = java.net.URLDecoder.decode(
          d.substring(d.indexOf('=') + 1), "UTF-8")
        v -> math.max(1,
          math.ceil(fs.map(Files.size).sum.toDouble / targetBytes).toInt)
      }
    val total = filesPerPart.map(_._2).sum
    val offsets = filesPerPart.scanLeft(0)(_ + _._2)
    // bijection slot → value under the engine's own hash partitioning
    val slotVals: Map[Int, Long] = s.range(0, 64L * total)
      .select(pmod(hash($"id"), lit(total)).as("f"), $"id")
      .groupBy($"f").agg(min($"id").as("v"))
      .as[(Int, Long)].collect().toMap
    require(slotVals.size == total,
      s"hash-slot bijection incomplete: ${slotVals.size} of $total")
    val parts = filesPerPart.zip(offsets).map { case ((v, n), off) =>
      (v, n, off)
    }.toDF("__pval", "__nfiles", "__off")
    val slots = slotVals.toSeq.map { case (f, v) => (f, v) }
      .toDF("__slot", "__slotval")
    // a stale dst (e.g. from a previous run over different partitions)
    // must not leak old partitions into the compacted layout
    Fixtures.deleteTree(Paths.get(dst))
    val df = s.read.parquet(src)
    val dataCols = df.columns.filter(_ != partitionCol).toSeq
    df.join(broadcast(parts), col(partitionCol).cast("string") === $"__pval")
      .withColumn("__slot", $"__off" +
        pmod(xxhash64(struct(dataCols.map(col): _*)), $"__nfiles").cast("int"))
      .join(broadcast(slots), "__slot")
      .repartition(total, $"__slotval")
      // sort key leads with the partition column so the dynamic-partition
      // writer's required ordering is already satisfied — no second sort
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .drop("__pval", "__nfiles", "__off", "__slot", "__slotval")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(dst)
    (before.size.toLong, listParquet(dst).size.toLong)
  }

  /** q113 — compaction certified three ways in one row: the query
    * REQUIRES the file count to drop to the per-partition target
    * (physical effect), reads its answer off the COMPACTED layout, and
    * the oracle recomputes the same per-day aggregate from the original
    * source file (content preservation — any row lost, duplicated, or
    * moved across a day boundary breaks the hash).
    */
  val q113Compaction: Q = (s, dir) => {
    import s.implicits._
    ensureFragmented(s, dir)
    // v2: one-job slot-bijection writer (key bump forces a rebuild so
    // the layout on disk is the new writer's output)
    Fixtures.once("compact_events", s"compact:v2:$dir:$CompactTargetBytes") {
      val (nb, na) = compact(s, FragRoot, CompactRoot, "event_day",
        Seq("user_id", "ts"), CompactTargetBytes)
      require(na < nb, s"compaction did not shrink the layout: $nb -> $na")
    }
    s.read.parquet(CompactRoot)
      .groupBy($"event_day".cast("string").as("event_day"))
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .withColumn("compacted_ok",
        lit(listParquet(CompactRoot).size < listParquet(FragRoot).size))
      .orderBy($"event_day")
  }

  val q113Sql: String =
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day,
       |  COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value,
       |  TRUE AS compacted_ok
       |FROM events
       |GROUP BY 1
       |ORDER BY event_day""".stripMargin

  // ---------------------------------------------------------------------
  // q128 — parquet bloom-filter point-lookup layout: the third physical
  // index leg next to min/max (q111/q121/q125). Min/max prunes RANGES;
  // a point lookup on a high-cardinality column whose values scatter
  // across files (every file's [min,max] contains every probe) gets
  // nothing from it — the per-column bloom filter parquet embeds in the
  // file is what lets the reader skip row groups that provably lack the
  // key. The reference's point-get (main.go:268, one file open per
  // lookup) is the layout contract this generalizes.
  // ---------------------------------------------------------------------

  val BloomRoot = Fixtures.path("bloom_orders")
  /** The bloom column must be HIGH-cardinality: parquet-mr drops the
    * bloom filter for a chunk whose pages all stayed dictionary-encoded
    * (the dictionary already gives exact chunk-level filtering), so a
    * low-cardinality key like o_custkey gets no bloom no matter the
    * write option — and needs none. o_orderkey is unique per row: the
    * dictionary falls back to plain, the bloom materializes, and it is
    * exactly the point-lookup shape (hash-scattered unique ids, every
    * file's [min,max] containing every probe) that min/max cannot
    * prune.
    */
  val BloomCol = "o_orderkey"
  /** Probe key — present at every scale factor (orderkeys start at 0). */
  val BloomProbeKey = 37L
  val BloomFiles = 4

  private def ensureBloomLayout(s: SparkSession, dir: String): Unit =
    Fixtures.once("bloom_orders", s"bloom:$dir:$BloomFiles") {
      T.orders(s, dir)
        .repartition(BloomFiles)
        .write.mode(SaveMode.Overwrite)
        // per-column bloom filters are a parquet WRITE option — no table
        // format needed; the reader consults them whenever an equality
        // predicate is pushed (parquet.filter.bloom.enabled, default on)
        .option(s"parquet.bloom.filter.enabled#$BloomCol", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$BloomCol", "200000")
        .parquet(BloomRoot)
    }

  /** True iff every non-empty file embeds a bloom filter for `column`
    * (footer metadata: the column chunk's bloom-filter offset is set).
    */
  def bloomPresent(s: SparkSession, root: String, column: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList
    require(files.nonEmpty, s"no parquet files under $root")
    files.forall { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        blocks.isEmpty || blocks.forall(_.getColumns.asScala.exists(c =>
          c.getPath.toDotString == column && c.getBloomFilterOffset >= 0))
      } finally r.close()
    }
  }

  /** q128 — point lookup off the bloom-indexed layout: content parity
    * with DuckDB on the ORIGINAL orders (the layout is a pure
    * repartition), the equality predicate REQUIRED to reach the scan
    * (what consults the bloom filter), and `bloom_ok` asserting the
    * filters physically exist in every file's footer.
    */
  val q128BloomLookup: Q = (s, dir) => {
    import s.implicits._
    ensureBloomLayout(s, dir)
    val hit = s.read.parquet(BloomRoot)
      .filter(col(BloomCol) === BloomProbeKey)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        $"o_orderstatus")
    val plan = hit.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters:") && plan.contains(BloomCol),
      s"point predicate not pushed to the parquet scan; plan:\n$plan")
    hit
      .withColumn("bloom_ok", lit(bloomPresent(s, BloomRoot, BloomCol)))
      .orderBy($"o_orderkey")
  }

  val q128Sql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       |  TRUE AS bloom_ok
       |FROM orders
       |WHERE $BloomCol = $BloomProbeKey
       |ORDER BY o_orderkey""".stripMargin

  /** q274 fixture: one logical events table across an EVOLVED
    * partition spec — generation 1 (days before [[EvoCutoff]])
    * partitioned by day alone, generation 2 partitioned by
    * (day, event_type). The Iceberg-style scenario: specs change
    * mid-table-life and readers must span both layouts transparently,
    * pruning each generation BY ITS OWN spec.
    */
  val EvoRoot = Fixtures.path("evo_partitions")
  val EvoCutoff = "2024-01-15"
  val EvoDayOld = "2024-01-10"
  val EvoDayNew = "2024-01-20"

  private def ensureEvolvedLayout(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Fixtures.once("evo_partitions", s"evo:$dir") {
      val ev = T.events(s, dir)
        .withColumn("event_day", date_format($"ts", "yyyy-MM-dd"))
      ev.filter($"event_day" < EvoCutoff)
        .repartition($"event_day")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_day")
        .parquet(s"$EvoRoot/gen1")
      ev.filter($"event_day" >= EvoCutoff)
        .repartition($"event_day", $"event_type")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_day", "event_type")
        .parquet(s"$EvoRoot/gen2")
    }
  }

  /** q274 — PARTITION-SPEC EVOLUTION read: one query spans both layout
    * generations (pre-cutoff day-partitioned, post-cutoff
    * (day, type)-partitioned), and the plan REQUIREs prove each
    * generation prunes by its own spec — gen1's scan carries the day
    * predicate in PartitionFilters (type filters post-scan, the old
    * spec can do no better), gen2's scan carries BOTH day and type.
    * The aggregate over the union hash-matches DuckDB recomputing from
    * the raw events table, so spec evolution changed the I/O shape and
    * nothing else. At 100 TB this is the point of evolving a spec:
    * new data gains the finer pruning immediately, old data needs no
    * rewrite.
    */
  val q274PartitionEvolution: Q = (s, dir) => {
    import s.implicits._
    ensureEvolvedLayout(s, dir)
    def leg(root: String, day: String): DataFrame =
      s.read.parquet(root)
        .filter($"event_day" === day && $"event_type" === "purchase")
        .select($"event_day", $"value")
    val g1 = leg(s"$EvoRoot/gen1", EvoDayOld)
    val g2 = leg(s"$EvoRoot/gen2", EvoDayNew)
    val p1 = g1.queryExecution.executedPlan.toString
    require(p1.contains("PartitionFilters: [") && !p1.contains("PartitionFilters: []") &&
      p1.substring(p1.indexOf("PartitionFilters")).takeWhile(_ != ']')
        .contains("event_day"),
      s"gen1 scan must prune on event_day; plan:\n$p1")
    val p2 = g2.queryExecution.executedPlan.toString
    val p2Filters = p2.substring(p2.indexOf("PartitionFilters"))
      .takeWhile(_ != ']')
    require(p2Filters.contains("event_day") && p2Filters.contains("event_type"),
      s"gen2 scan must prune on BOTH partition columns; plan:\n$p2")
    g1.unionByName(g2)
      // partition-type inference reads the day directory as DATE;
      // surface it as the string the writer used
      .groupBy($"event_day".cast("string").as("event_day"))
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .orderBy($"event_day")
  }

  val q274Sql: String =
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day,
       |  COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value
       |FROM events
       |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
       |    IN ('$EvoDayOld', '$EvoDayNew')
       |  AND event_type = 'purchase'
       |GROUP BY event_day
       |ORDER BY event_day""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q111_partition_pruning", q111PartitionPruning, q111Sql),
    Entry("q113_compaction", q113Compaction, q113Sql),
    Entry("q128_bloom_lookup", q128BloomLookup, q128Sql),
    Entry("q186_dynamic_pruning", q186DynamicPruning, q186Sql),
    Entry("q274_partition_evolution", q274PartitionEvolution, q274Sql))
}
