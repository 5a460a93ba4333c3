package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet readers for the driver-generated test tables (FIXTURES.md §4)
  * and declared schemas for the five reference config/fact tables
  * (reference: db_model.py:9-62).
  *
  * All reads go through `spark.read.parquet` so Catalyst's column pruning
  * and predicate pushdown reach the scan — at 100 TB the scan is the
  * dominant cost and a pruned vectorized parquet read is the single
  * biggest lever.
  */
object Tables {

  /** Driver test tables available under /root/testdata/sf*. */
  val driverTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs, applied ONCE at build
    * time (never mutated mid-query):
    *
    *  - events.ts has shipped as parquet TIMESTAMP(NANOS) (pre-r7
    *    driver data), which Spark's vectorized reader rejects unless
    *    the legacy flag maps it to a raw int64 — a session-level
    *    schema decision, deliberately not flipped per-read (a
    *    mid-session flip would silently change how concurrent plans
    *    see NANOS columns); kept even though round-7 data is plain
    *    MICROS, so the engine reads either vintage (see [[table]]);
    *  - InferFiltersFromGenerate is excluded: it plants a
    *    `size(e) > 0` filter under every explode, and predicate
    *    pushdown then substitutes the generator's WHOLE expression
    *    tree into that filter — for this engine's expensive
    *    array-building projections (shingling, signatures) that means
    *    the pipeline is evaluated 3x per row (filter twice, project
    *    once). The rule only prunes empty-array rows early, worthless
    *    for corpus tables where arrays are almost never empty. */
  def withSessionDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver tables are naive UTC wall-clock; timestamp-literal
      // comparisons (q1_agg cutoff, date_trunc buckets) must resolve
      // in UTC no matter which JVM embeds the engine — pinned here,
      // not just in the CLI entrypoints
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** THE session constructor for every measurement/CLI main (Bench,
    * Verify, DaqMain). Round 5's bench regression was this exact
    * hygiene landing in one harness and missing another (Bench): a
    * long measurement session accumulates shuffle / broadcast /
    * localCheckpoint state that the ContextCleaner only
    * releases after a driver GC, and with a mostly-idle heap that GC
    * may never come (default periodicGC is 30 min) — numbers then
    * degrade progressively (measured: dd_cluster 3.9 s → 26 s → 106 s
    * across warm repeats). Pinning `spark.cleaner.periodicGC.interval`
    * short bounds the accumulation; Bench additionally builds a FRESH
    * session per query, and no protocol fix can land in one main and
    * miss the others.
    *
    * PROTOCOL NOTE (round 6 change): the default core count is 32
    * (`SPARK_GRAFT_CPUS` overrides). Pre-r06 Bench/Verify defaulted to
    * local[4]/shuffle=4, so BENCH artifacts before r06 are not
    * comparable to later ones on the same default invocation. On
    * machines with fewer cores set SPARK_GRAFT_CPUS explicitly —
    * local[32] oversubscribes a small box. */
  def buildLocalSession(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = withSessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // The driver has shipped events.ts under two parquet encodings:
      // TIMESTAMP(NANOS) (pre-round-7 data; Spark's vectorized reader
      // rejects it unless nanosAsLong maps it to a raw int64, set at
      // session construction via withSessionDefaults) and plain
      // TIMESTAMP(MICROS) (round-7 refresh). Branch on the OBSERVED
      // read type, not an assumed encoding: int64 nanos floor-divide
      // to micros — exactly DuckDB's ns→us conversion — and a native
      // timestamp just pins to TIMESTAMP_NTZ (all driver tables are
      // naive/UTC wall-clock, and the session TZ is pinned UTC so the
      // NTZ cast is value-exact either way).
      // Both vintage branches below are only value-exact when the
      // session resolves timestamps in UTC: the MICROS branch's
      // timestamp -> TIMESTAMP_NTZ cast reads the wall-clock through
      // the session zone, and the NANOS branch's timestamp_micros
      // literal comparison semantics assume it too. A library embedder
      // on a non-UTC session would get silently shifted values, so
      // fail loudly instead (withSessionDefaults pins the zone).
      // Accept any SPELLING of UTC ("UTC", "Etc/UTC", "+00:00", "Z",
      // "GMT"): compare the resolved zone's normalized offset, not the
      // literal string — an embedder pinning a value-identical zone id
      // must not trip the guard.
      val sessionZone = java.time.ZoneId
        .of(spark.conf.get("spark.sql.session.timeZone"),
          java.time.ZoneId.SHORT_IDS)
        .normalized()
      require(sessionZone == java.time.ZoneOffset.UTC,
        "events.ts conversion requires a UTC session timezone " +
          s"(spark.sql.session.timeZone resolves to $sessionZone) — " +
          "build the session via Tables.withSessionDefaults")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
              .cast("timestamp_ntz"))
        case _ =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  // ---- Reference data model (SURVEY.md §1), as Spark schemas ----------
  // PKs/FKs widened to LongType: at 100 TB the fact table passes 2^31 rows.

  /** reference db_model.py:31-39 */
  val busesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("protocol", IntegerType, nullable = false),
    StructField("address", StringType),
    StructField("port", IntegerType),
    StructField("timeout", IntegerType, nullable = false),
    StructField("enabled", BooleanType, nullable = false)))

  /** reference db_model.py:9-28 */
  val channelsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("bus_id", LongType, nullable = false),
    StructField("device_id", IntegerType, nullable = false),
    StructField("address", IntegerType, nullable = false),
    StructField("timing", IntegerType, nullable = false),
    StructField("conversion_id", LongType),
    StructField("func_code", IntegerType, nullable = false),
    StructField("format_code", IntegerType, nullable = false),
    StructField("enabled", BooleanType, nullable = false),
    StructField("eng_unit", StringType),
    StructField("history_len", IntegerType, nullable = false),
    StructField("long_name", StringType)))

  /** reference db_model.py:42-46 */
  val conversionsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("expr", StringType)))

  /** reference db_model.py:49-54 — the append-only time-series fact table.
    * `value` keeps the reference's exact NUMERIC(25,6). */
  val channelDataSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("channel_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DecimalType(25, 6))))

  /** reference db_model.py:57-62 — keyed last-writer-wins status table. */
  val daqStatusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("parameter", StringType, nullable = false),
    StructField("status", IntegerType),
    StructField("ts", TimestampType)))

  /** All five reference tables by name (db_model.py:9-62). */
  val referenceSchemas: Map[String, StructType] = Map(
    "buses" -> busesSchema,
    "channels" -> channelsSchema,
    "conversions" -> conversionsSchema,
    "channel_data" -> channelDataSchema,
    "daq_status" -> daqStatusSchema)

  /** The reference's CREATE-TABLE run mode (R13/D12 —
    * db_model.py:69-80 `create_tables` via `Base.metadata.create_all`,
    * invoked from daq-3i.py:326-332): materialize the five declared
    * schemas as empty EXTERNAL parquet tables rooted at `location`
    * (the caller owns the location — DROP TABLE unregisters but keeps
    * the data, matching a DB whose files outlive the catalog entry).
    * Idempotent like `create_all` (CREATE TABLE IF NOT EXISTS). */
  def createReferenceTables(spark: SparkSession, location: String): Unit =
    referenceSchemas.foreach { case (name, schema) =>
      if (!spark.catalog.tableExists(name)) {
        spark.catalog.createTable(name, "parquet", schema,
          Map("path" -> s"$location/$name"))
        ()
      }
    }
}
