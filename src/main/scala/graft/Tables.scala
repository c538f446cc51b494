package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Table registry over the driver-generated parquet dirs.
  *
  * Mirrors the reference's schema surface (tigraph/tidb `infoschema/`):
  * a fixed catalog of typed tables. On a real cluster these readers
  * point at partitioned/bucketed warehouse paths; locally they read
  * the single-file parquet from TESTDATA.md. All readers are plain
  * `spark.read.parquet` so Catalyst keeps filter pushdown, column
  * pruning and partition pruning.
  *
  * Each table's schema is read once per `Tables`: a schema-less
  * `spark.read.parquet` launches a footer-merge job on every call,
  * before the query is even planned. Later reads pass the memoized
  * schema, so they launch no job; each accessor call still returns a
  * fresh relation (fresh exprIds, so self-joins keep resolving). The
  * memo assumes `Tables` never writes under `dir` — a rewritten file
  * needs a new `Tables`. `SparkEntry` builds a new `Tables` per call,
  * so that path still infers once per table read.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // The engine's timestamp policy (NTZ files cast to session-UTC
  // TimestampType) and every oracle's date/time rendering assume a
  // UTC session. A non-UTC session would silently shift events.ts by
  // the zone offset — wrong-but-plausible results with no error —
  // so refuse it loudly here instead. Any spelling of zero-offset
  // passes ("UTC", "Etc/UTC", "GMT", "+00:00" — the driver's own
  // session may carry the JVM default, Etc/UTC on this image).
  {
    require(Tables.isUtcSession(spark),
      s"graft.Tables requires a UTC session timezone, got " +
        s"'${spark.conf.get("spark.sql.session.timeZone", "jvm-default")}'" +
        " (timestamp policy + oracle parity depend on it)")
  }
  functions.GraftFunctions.register(spark)

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def path(name: String): String = s"$dir/$name.parquet"

  private def t(name: String): DataFrame = {
    val schema = schemas.computeIfAbsent(path(name),
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path(name))
  }

  /** The memoized schema of `name`, once a read has filled it. */
  private[graft] def memoizedSchema(name: String): Option[StructType] =
    Option(schemas.get(path(name)))

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  /** Engine-wide timestamp policy: every table's timestamp columns are
    * session-UTC `TimestampType` at the reader boundary, regardless of
    * how the file encodes them. The driver has shipped `events.ts` as
    * parquet TIMESTAMP(NANOS) (which Spark's reader rejects outright)
    * and later as TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark reads as TIMESTAMP_NTZ) — so branch on the LOADED schema:
    *  - LongType      → nanos read raw via the legacy conf; the
    *                    generator is microsecond-aligned, so `div 1000`
    *                    is a lossless rebuild;
    *  - TIMESTAMP_NTZ → cast; under the UTC session zone this keeps
    *                    the wall-clock micros DuckDB sees;
    *  - TimestampType → already the policy type, pass through. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // Set before the first t("events"): the memoized schema is
    // inferred under it, so a TIMESTAMP(NANOS) file stays LongType.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Run ANSI SQL against the catalog: registers the named tables as
    * temp views (same readers as the typed accessors, so pushdown /
    * pruning behave identically) and hands the text to Catalyst. */
  def sql(query: String, tables: String*): DataFrame = {
    tables.foreach {
      case "events" => events.createOrReplaceTempView("events")
      case name => t(name).createOrReplaceTempView(name)
    }
    spark.sql(query)
  }

  /** Decouple map-side parallelism from source file layout.
    *
    * Per-row-CPU-heavy pipelines (sketching, hashing, shingling,
    * vector scoring) are bottlenecked by the number of SCAN splits,
    * not by the shuffle width: the local testdata is one row group
    * per table, i.e. one task, and even on a production warehouse
    * file splits can be far coarser than cores (a 128 MB split of
    * compressed text is minutes of sketching work). A round-robin
    * repartition right after the scan pays one narrow exchange of the
    * input rows and spreads the expensive map work across the full
    * executor width; it also evens out document-size skew. Use only
    * where downstream per-row cost dominates the exchange (dedup,
    * ANN, sessionization) — plain relational scans stay unfanned so
    * filters/pruning keep reaching parquet. */
  def fan(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** The full registered-table catalog as (name, reader) pairs — the
    * ONE list the runtime-facts cards (q_memtable_info,
    * q_inspection) and catalog tooling iterate, so adding a table
    * can't silently skew one card and not the other. Sorted by name
    * (the cards' render order). */
  def registered: Seq[(String, DataFrame)] = Seq(
    "customer" -> customer, "documents" -> documents,
    "embeddings" -> embeddings, "events" -> events,
    "lineitem" -> lineitem, "nation" -> nation,
    "orders" -> orders, "part" -> part,
    "region" -> region, "supplier" -> supplier)
}

object Tables {

  /** True when the session timezone is a fixed zero-offset zone
    * (any spelling: "UTC", "Etc/UTC", "GMT", "+00:00") — the ONE
    * predicate behind the Tables constructor guard and the
    * q_memtable_info / q_inspection runtime cards. */
  def isUtcSession(spark: SparkSession): Boolean = {
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    val rules = java.time.ZoneId.of(tz,
      java.time.ZoneId.SHORT_IDS).getRules
    rules.isFixedOffset &&
      rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }
}
