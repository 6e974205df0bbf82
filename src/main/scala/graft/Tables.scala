package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * `events.parquet` stores TIMESTAMP(NANOS) which Spark's parquet reader
  * rejects; sessions must set `spark.sql.legacy.parquet.nanosAsLong=true`
  * (as [[Sessions.tuned]] does) and [[events]] converts the long-nanos
  * column to a microsecond TimestampType (matching DuckDB's own ns->us
  * semantics).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  // documents/embeddings arrive as ONE small parquet file locally, but feed
  // CPU-bound pipelines (shingling, hashing, regex scoring, dot products) —
  // fan the scan out so that work uses every core (no-op on wide scans)
  def documents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FanOut(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FanOut(table(spark, dir, "embeddings"))

  /** Events with `ts` as a proper TimestampType (truncated ns -> us).
    * Files written by other engines may carry TIMESTAMP_NTZ — normalized
    * here too (sessions run UTC, so the cast is value-preserving).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}

/** The one session factory: every main and the spec session build here, so
  * the plans `Plans` captures and `Verify` checks are the plans `Bench`
  * times.
  */
object Sessions {
  val CodegenCacheEntries = "spark.sql.codegen.cache.maxEntries"
  val RetainedExecutions = "spark.sql.ui.retainedExecutions"

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def mainCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def tuned(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Shuffle files are reclaimed only after the driver GCs the
      // referencing RDD objects (ContextCleaner is weak-reference
      // driven); under a large heap that can be tens of gates / TBs of
      // leftovers at 100-TB scale (observed locally: a 240-gate sf10
      // sweep filled the disk mid-run). 5min periodic GC is the
      // cluster-mode defense — [[releaseGateState]] additionally
      // System.gc()s between gates in local mode, where the 30min
      // default is too slow.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // Evictable checkpoint storage (0.3 floor, not the 0.5 default):
      // checkpoint-heavy pipelines otherwise starve hash aggregates at
      // 100x scale while MEMORY_AND_DISK checkpoint blocks sit
      // protected in memory (observed: q_dedup_sweep
      // AGGREGATE_OUT_OF_MEMORY at sf10); eviction just moves them to
      // disk. And shuffles PLAN at 256 partitions with AQE coalescing
      // down — small inputs still run ~cores tasks, big inputs don't
      // concentrate aggregate state in a few.
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.ui.enabled", "false")
      // Generated classes are cached per JVM, 100 by default (a static
      // conf, read once). One pass of the five Spark analyses with UQ on
      // the 60-day synthetic plant compiles 216 classes into an empty
      // cache; at 100 entries every later pass recompiles most of them
      // (215-306 compiles per warm benchmark pass), at 512 the next pass
      // compiles 4.
      .config(CodegenCacheEntries, "512")
      // The SQL status store keeps every execution's plan and metrics,
      // 1000 by default, even with the UI off; the retained heap grows
      // with each query until then. Nothing here reads it.
      .config(RetainedExecutions, "50")
      .getOrCreate()
    // ERROR: stray WARN chatter on stderr must not drown the JSON line
    // Bench prints
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drops what a gate left behind before the next one runs. Operators
    * and gates release their own pins when their `Pins.scoped` returns;
    * what is left for this sweep is the pins a returned frame still
    * reads. Those PERSIST in the
    * BlockManager until unpersisted: 240 gates of leftovers mean
    * later gates run under storage-memory pressure and GC churn that
    * isolated runs don't see (measured ±3x on single gates). The
    * System.gc() makes the ContextCleaner reclaim the gate's shuffle
    * files, which it does only once the driver has collected the
    * referencing RDDs — under a large heap that may not happen for
    * dozens of gates. The live set between gates is tiny, so this costs
    * milliseconds.
    */
  def releaseGateState(spark: SparkSession): Unit =
    try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    } catch { case _: Throwable => () }
}
