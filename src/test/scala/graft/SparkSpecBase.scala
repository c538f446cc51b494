package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (same forked JVM). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val t: Tables = Tables(spark, "/root/testdata/sf0.001")

  /** Events with `ts` rewritten as raw int64 nanoseconds (the r1-r5
    * encoding), 100 rows; written once and shared by the suites.
    * Returns the dir to hand to `Tables`. */
  def nanosEventsDir: String = {
    val dir = "/tmp/graft_w9_nanos_events"
    if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists()) {
      t.events.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
        .limit(100).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    dir
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Match the Verify/Bench sessions: bucketed scans expose their
      // sortBy order (sound — writeBucketed gives 1 file per bucket).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
