package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loaders for the graft engine.
  *
  * Scale defaults: AQE on (runtime re-planning, skew-join handling,
  * partition coalescing), shuffle partitions sized for the local[32]
  * test harness (on a real cluster this is overridden to ~2-3x total
  * cores), UTC session time.
  */
object GraftSession {

  def local(cores: Int = 32): SparkSession = configure(
    SparkSession.builder().master(s"local[$cores]"),
    shufflePartitions = cores
  ).getOrCreate()

  /** `spark.sql.extensions` with [[GraftExtensions]] APPENDED to whatever
    * the caller already configured (builder option first, then
    * spark-defaults / system properties) — Spark accepts a comma list and
    * applies each, so graft composes with other extension libraries
    * instead of silently clobbering them. */
  private def mergedExtensions(b: SparkSession.Builder): String = {
    val existing = org.apache.spark.sql.graft.Bridge
      .builderOption(b, "spark.sql.extensions")
      .orElse(Option(new org.apache.spark.SparkConf(true).get("spark.sql.extensions", null)))
    val graftExt = classOf[GraftExtensions].getName
    existing.map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty) match {
      case prior if prior.contains(graftExt) => prior.mkString(",")
      case prior => (prior :+ graftExt).mkString(",")
    }
  }

  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int = 32
  ): SparkSession.Builder = b
    // native functions + catalog SQL rules (optimizer rules bind at
    // session build only; GraftTableCatalog instances are configured per
    // catalog name at runtime via spark.sql.catalog.<name>[.root])
    .config("spark.sql.extensions", mergedExtensions(b))
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // respect the advisory partition size when coalescing instead of
    // fanning every post-shuffle stage out to defaultParallelism: with the
    // default (true), a 5-group aggregate feeding a table write schedules
    // 32 near-empty tasks and lands up to 32 tiny files per commit — pure
    // scheduling + small-file overhead at ANY scale (Spark's own docs
    // recommend false on busy clusters; the advisory size stays the
    // scale-adaptive knob). Measured r16: the 32-task micro-stages were
    // ~half the summed task time of the WAP lifecycle queries.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // let AQE re-plan (and coalesce) CACHED plans too: persisted
    // intermediates (mview fold deltas, dedup edge sets, …) are aggregate
    // outputs, and with the default (false) an InMemoryRelation freezes
    // the raw shuffle partition count — every consumer of a tiny cached
    // aggregate then schedules shuffle-partition-many near-empty tasks
    // (measured r16: the mview changelog fold's cached delta made EVERY
    // downstream stage 32-task). Values are unchanged; only the cached
    // plan's partitioning is allowed to adapt.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    // the testdata events table carries parquet TIMESTAMP(NANOS), which
    // Spark cannot represent natively: under graft sessions it always
    // reads as long nanos (set ONCE here — never flipped at read time, so
    // the events schema is stable for the whole session). Tables.eventsWithTs
    // derives a micro-truncated timestamp column from it.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // resolve parquet columns by FIELD ID whenever the requested schema
    // carries ids (W58 renames) — a no-op for id-less schemas/files
    .config("spark.sql.parquet.fieldId.read.enabled", "true")
    .config("spark.sql.parquet.fieldId.write.enabled", "true")
    // the catalog's manifests are the commit record — the Hadoop
    // committer's _SUCCESS marker is one extra create+close per write job
    // that nothing ever reads (at any scale; on object stores it is a
    // whole extra PUT per commit)
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    .config("spark.ui.enabled", "false")
}

/** Loaders for the driver-generated testdata star schema.
  * Reads are plain parquet scans so Catalyst pushes filters/projections
  * down (verified in RelationalSpec via the formatted plan).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet carries parquet TIMESTAMP(NANOS): under graft sessions
    * (GraftSession.configure sets nanosAsLong once at build time) `ts`
    * reads as long nanos. No conf is touched here — the session conf is
    * never mutated at read time. */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** events with both an exact `ts_ns` (long nanos) and a `ts` timestamp
    * column, whatever the physical encoding of the generated parquet:
    * older testdata wrote parquet TIMESTAMP(NANOS) (reads as long under
    * nanosAsLong), current testdata writes timestamp[us] (reads as
    * TIMESTAMP_NTZ). The session TZ is pinned to UTC, so the NTZ→
    * timestamp cast is wall-clock-identity and `unix_micros` is exact —
    * bucketing queries use `ts`, exact gap arithmetic uses `ts_ns`. */
  def eventsWithTs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros((col("ts_ns") / 1000L).cast("long")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
