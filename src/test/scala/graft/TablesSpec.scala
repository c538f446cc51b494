package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

class TablesSpec extends SparkSpecBase {

  /** Jobs launched on this thread while `body` runs (counted through
    * a job group, so jobs of other threads are not counted). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try body finally {
      sc.clearJobGroup()
      GraftBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("memoized schema equals a schema-inferring read of each table") {
    val names = t.registered.map(_._1)
    assert(names.size == 10)
    names.foreach { name =>
      val inferred = spark.read.parquet(s"${t.dir}/$name.parquet").schema
      assert(t.memoizedSchema(name).contains(inferred), name)
    }
  }

  test("re-reading every table and building q_tpch_q5 launches no job") {
    t.registered.foreach(_._2.schema)
    Registry.byName("q_tpch_q5").run(t)
    val jobs = jobsDuring {
      t.registered.foreach(_._2.schema)
      Registry.byName("q_tpch_q5").run(t)
    }
    assert(jobs == 0)
    // The listener does see jobs this thread launches.
    assert(jobsDuring(t.region.count()) > 0)
  }

  test("each accessor call is a fresh relation: self-joins resolve") {
    val n = t.orders.count()
    val aliased = t.orders.as("a").join(t.orders.as("b"),
      col("a.o_orderkey") === col("b.o_orderkey"))
    assert(aliased.count() == n)
    // Column references taken from two accessor calls stay distinct;
    // one shared DataFrame would make the non-equi term ambiguous.
    val (a, b) = (t.orders, t.orders)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey") &&
      a("o_totalprice") <= b("o_totalprice")).count() == n)
  }

  test("raw-nanos events read as TimestampType on first and repeat calls") {
    val nt = Tables(spark, nanosEventsDir)
    val first = nt.events
    assert(first.schema("ts").dataType == TimestampType)
    assert(nt.memoizedSchema("events").map(_("ts").dataType)
      .contains(LongType))
    val second = nt.events
    assert(second.schema("ts").dataType == TimestampType)
    assert(second.count() == 100)
    assert(second.collect().toSet == first.collect().toSet)
  }
}
