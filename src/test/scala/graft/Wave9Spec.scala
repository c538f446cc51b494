package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class Wave9Spec extends SparkSpecBase {

  private def q(name: String) =
    Registry.all.find(_.name == name).get.run(t)

  test("q_func_time3: parse round-trips and unit arithmetic") {
    val rows = q("q_func_time3").collect()
    assert(rows.length > 0)
    val src = t.orders.filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderdate").cast("date"))
      .collect().map(r => r.getLong(0) -> r.getDate(1)).toMap
    rows.foreach { r =>
      val key = r.getAs[Long]("o_orderkey")
      // STR_TO_DATE(DATE_FORMAT(d)) and FROM_DAYS(TO_DAYS(d)) are
      // exact round trips.
      assert(r.getAs[java.sql.Date]("parsed_date") == src(key))
      assert(r.getAs[java.sql.Date]("from_days_rt") == src(key))
      // SEC_TO_TIME output is a well-formed HH:MM:SS clock value.
      val hms = r.getAs[String]("sec2time").split(":").map(_.toInt)
      assert(hms.length == 3 && hms(0) < 24 && hms(1) < 60 && hms(2) < 60)
      // PERIOD_ADD(p, 14) is 14 months ahead of p in period space.
      val d = src(key).toLocalDate
      val p14 = d.plusMonths(14)
      assert(r.getAs[Int]("period_add14") ==
        p14.getYear * 100 + p14.getMonthValue)
      // TO_SECONDS is TO_DAYS in seconds (dates are midnight-aligned).
      assert(r.getAs[Long]("secs_since_y0") ==
        r.getAs[Long]("to_days_n") * 86400L)
      // ADDTIME(+90min) lands 10:00:00 from the 08:30:00 anchor.
      assert(r.getAs[java.sql.Timestamp]("add_90min").toString
        .endsWith("10:00:00.0"))
    }
  }

  test("admin check: clean derived layout is consistent everywhere") {
    val rows = q("q_admin_check").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Boolean]("consistent")))
  }

  test("admin check: detects injected corruption, missing and extra keys") {
    val base = t.orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
    // Corrupt one group's count, drop another group, add a phantom.
    val corrupted = base
      .withColumn("n_orders",
        when(col("o_orderpriority") === "1-URGENT", col("n_orders") + 1)
          .otherwise(col("n_orders")))
      .filter(col("o_orderpriority") =!= "2-HIGH")
      .union(base.limit(1).select(lit("9-PHANTOM"), lit(1L), lit(0.0)))
    val res = operators.AdminCheck
      .check(base, corrupted, Seq("o_orderpriority"))
      .collect().map(r => r.getAs[String]("o_orderpriority") ->
        r.getAs[Boolean]("consistent")).toMap
    assert(!res("1-URGENT"), "divergent value must flag")
    assert(!res("2-HIGH"), "missing derived key must flag")
    assert(!res("9-PHANTOM"), "extra derived key must flag")
    assert(res.count(_._2) == 3, "the untouched groups stay consistent")
  }

  test("admin check: a matching NULL group key is consistent, not an alarm") {
    import t.spark.implicits._
    val base = Seq((Option("a"), 1L), (Option.empty[String], 2L))
      .toDF("k", "v")
    val derived = Seq((Option("a"), 1L), (Option.empty[String], 2L))
      .toDF("k", "v")
    val res = operators.AdminCheck.check(base, derived, Seq("k"))
      .collect()
    assert(res.length == 2 && res.forall(_.getAs[Boolean]("consistent")),
      "identical sides must be consistent even on the NULL key")
    // And a NULL-keyed divergence still flags.
    val bad = Seq((Option("a"), 1L), (Option.empty[String], 9L))
      .toDF("k", "v")
    val res2 = operators.AdminCheck.check(base, bad, Seq("k"))
      .collect().map(r => Option(r.getAs[String]("k")) ->
        r.getAs[Boolean]("consistent")).toMap
    assert(res2(Some("a")) && !res2(None))
  }

  test("catalog: every registered table listed with live schema width") {
    val rows = q("q_catalog").collect()
    assert(rows.length == 10)
    val byName = rows.map(r => r.getAs[String]("table_name") ->
      (r.getAs[Int]("n_cols"), r.getAs[Long]("n_rows"))).toMap
    assert(byName("lineitem")._1 == 11)
    assert(byName.values.forall(_._2 > 0), "every table non-empty")
  }

  test("describe: loaded schemas match the pinned engine-neutral catalog") {
    val rows = q("q_describe").collect()
    assert(rows.length == 51, "10 tables, 51 columns")
    val m = rows.map(r => (r.getAs[String]("table_name"),
      r.getAs[String]("col_name")) -> r.getAs[String]("type_class")).toMap
    assert(m(("events", "ts")) == "timestamp")
    assert(m(("embeddings", "embedding")) == "array<float>")
    assert(m(("lineitem", "l_shipdate")) == "timestamp")
  }

  test("timestamp policy: events.ts is session-UTC TimestampType " +
      "whatever the file encodes") {
    // The reader contract that broke in r6: events.ts must come back
    // as TimestampType (not NTZ, not raw long) from any of the
    // encodings the driver has shipped.
    assert(t.events.schema("ts").dataType == TimestampType)
    // And from the raw-nanos layout (the r1-r5 encoding), rebuilt the
    // same way — written as int64 then read through the same branch.
    val nano = Tables(spark, nanosEventsDir).events
    assert(nano.schema("ts").dataType == TimestampType)
    assert(nano.count() == 100)
  }

  test("tables accept any zero-offset session zone, refuse shifted ones") {
    // The driver smoke-checks SparkEntry.entry with ITS OWN session,
    // which may carry the JVM default zone id (Etc/UTC on this
    // image) — any zero-offset spelling must pass; a genuinely
    // shifted zone must throw, not silently move timestamps.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    assert(Tables(s2, t.dir).region.count() > 0)
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    intercept[IllegalArgumentException] { Tables(s2, t.dir) }
    s2.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("graph loops: reliable checkpoint path matches localCheckpoint") {
    val edges = t.events.select(
      (col("user_id") % 97).as("src"), (col("event_id") % 97).as("dst"))
      .limit(2000)
    val local = graph.Graph(edges).connectedComponents()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.graph.checkpointDir",
      "/tmp/graft_w9_ckpt")
    try {
      val reliable = graph.Graph(edges).connectedComponents()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local, "same components under both modes")
    } finally spark.conf.unset("spark.graft.graph.checkpointDir")
  }

  test("backup/restore: restored rows equal the source snapshot") {
    val restored = q("q_backup_restore")
    assert(restored.count() == t.orders.count())
    val src = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    restored.select("o_orderkey", "o_price").collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - src(r.getLong(0))) < 1e-9)
    }
  }

  test("backup/restore: a tampered backup refuses to restore") {
    val dir = "/tmp/graft_w9_backup_tamper"
    val snap = t.orders.limit(100)
      .select(col("o_orderkey"), col("o_orderstatus"))
    operators.Backup.write(snap, dir)
    // Clean restore works...
    assert(operators.Backup.restore(spark, dir).count() == 100)
    // ...then corrupt the data under the manifest's back: drop rows
    // by rewriting the data dir with a subset.
    snap.limit(90).write.mode("overwrite").parquet(s"$dir/data")
    intercept[IllegalStateException] {
      operators.Backup.restore(spark, dir).count()
    }
  }

  test("backup digest: order-independent, content-sensitive") {
    val snap = t.orders.limit(200).select(col("o_orderkey"),
      col("o_orderstatus"))
    val base = operators.Backup.digest(snap)
    // The BIT_XOR fold must be invariant under physical row order /
    // partitioning — that's what makes it a valid cross-layout
    // consistency check.
    assert(operators.Backup.digest(snap.repartition(7)) == base)
    assert(operators.Backup.digest(
      snap.orderBy(col("o_orderkey").desc)) == base)
    // ...and any single-row change must move it.
    val tampered = snap.withColumn("o_orderstatus",
      when(col("o_orderkey") === snap.limit(1).collect()(0).getLong(0),
        lit("X")).otherwise(col("o_orderstatus")))
    assert(operators.Backup.digest(tampered) != base)
  }

  test("trace: executed-plan metrics expose per-operator row counts") {
    val nodes = tools.Trace.run("q_agg_hash", t)
    assert(nodes.exists(n => n.name.contains("HashAggregate") &&
      n.rowsOut.exists(_ > 0)), s"no counted HashAggregate in: " +
      nodes.map(_.name).distinct.mkString(","))
    assert(nodes.exists(_.name.contains("Scan")), "source scan visible")
  }

  test("index advisor: TPC-H workload yields the expected layout advice") {
    val workload = Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10",
      "q_tpch_q12", "q_tpch_q14", "q_join_broadcast", "q_scan_filter")
    val advice = tools.IndexAdvise.run(t, workload)
      .map(s => (s.table, s.column) -> s).toMap
    // l_shipdate is range-filtered across Q6/Q12/Q14 → partition/sort.
    val ship = advice(("lineitem", "l_shipdate"))
    assert(ship.rangeRefs >= 2 && ship.advice == "PARTITION_SORT", s"$ship")
    // The orders-lineitem equi-join key dominates → bucket both sides.
    val okey = advice(("lineitem", "l_orderkey"))
    assert(okey.joinRefs >= 2 && okey.advice == "BUCKET", s"$okey")
    // Every surfaced column maps to a real catalog table.
    val tables = operators.Catalog.tables(t).map(_._1).toSet
    assert(advice.keys.forall(k => tables(k._1)))
  }

  test("explain surface: formatted plan renders for registry entries") {
    val plan = tools.Explain.formatted("q_tpch_q3", t)
    assert(plan.contains("Join") && plan.contains("Scan parquet"),
      "plan shows joins over parquet scans")
    assert(plan.contains("PushedFilters"),
      "scan detail section present (pushdown visible)")
    val simple = tools.Explain.plan("q_agg_hash", t, "simple")
    assert(simple.contains("HashAggregate"))
    intercept[IllegalArgumentException] {
      tools.Explain.formatted("no_such_query", t)
    }
  }
}
