package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Session + table-loading helpers shared by every graft module.
  *
  * Design note (scale): all queries take the data directory as a parameter
  * and read parquet through `spark.read.parquet`, so on a real cluster the
  * same code reads from HDFS/S3 with Hive-style partition discovery,
  * vectorized parquet scan, predicate pushdown, and column pruning — none
  * of that is re-implemented here.
  */
object GraftSession {
  /** The one local session every main and spec runs on, so a plan dump,
    * a test and a bench run all see the same settings. `cores` sets both
    * the master and the shuffle partition count; it defaults to
    * `SPARK_GRAFT_CPUS` (4 when unset). On a real cluster the builder is
    * replaced by spark-submit conf; nothing else in the library changes.
    */
  def local(appName: String = "graft",
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet ships TIMESTAMP(NANOS) in some fixture generations;
      // `Tables.events` reads those as long (the scan reads this conf
      // again at execution, so it is pinned here, not set per read)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only frees finished broadcasts/shuffles when the
      // SparkContext's JVM runs a GC, and its periodic-GC default
      // (30 min) never fires inside a ~10-minute bench — so ~560
      // entries' broadcast blocks accumulate in the block manager and
      // mid-pass entries pay eviction churn that isn't theirs (r15: q312
      // read 25.5 s in-pass vs 8.9 s in its own same-run sentinel).
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `confs` set on the session, then put every key back
    * the way it was: a key that was set gets its prior value, a key that
    * was not set is unset — also when `body` throws.
    *
    * A Dataset result is materialised (`PlanBridge.checkpointResetStats`)
    * inside the scope: a lazy plan would otherwise be planned after the
    * restore, under the session's other settings.
    *
    * The scope mutates the shared session conf, not a
    * `spark.newSession()`: a new session starts with empty `experimental`
    * state and would drop the strategies `PlanBridge.addStrategy`
    * installs (q266's AsOfStrategy).
    */
  def withConfs[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prior = s.conf.getAll
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body match {
      case ds: Dataset[_] =>
        PlanBridge.checkpointResetStats(ds).asInstanceOf[A]
      case a => a
    } finally confs.foreach { case (k, _) =>
      prior.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }
}

/** Parquet table loader over a scale-factor directory. */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations (which Spark's vectorized reader rejects — the
    * [[GraftSession.local]] session reads nanos as long; floor-divide to
    * micros, the same truncation DuckDB applies casting TIMESTAMP_NS →
    * TIMESTAMP) and as plain TIMESTAMP(MICROS, isAdjustedToUTC=false) in
    * others (Spark reads TIMESTAMP_NTZ — cast to session-TZ TimestampType,
    * identical instant under the UTC session this library pins).
    * Normalizing here keeps every consumer and every oracle SQL
    * (`CAST(ts AS TIMESTAMP)`) agnostic to the generation.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
