// Dev scratch: print the formatted plan of one registry query at a
// given SF dir. Run: sbt 'runMain graft.tools.ExplainOne <name> <sfDir>'
// The session carries graft.Bench's settings, so the printed plan is
// the plan Bench times.
package graft.tools

import org.apache.spark.sql.SparkSession

object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = graft.Tables(spark, dir)
    // Build the entry ONCE: constructing some entries runs eager
    // jobs (/tmp layout builds), and the printed plan must be the
    // plan of the DataFrame actually timed below.
    val df = graft.Registry.byName(name).run(t)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"ELAPSED ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
