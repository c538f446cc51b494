package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Q, Registry, Tables}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The JVM half of the benchmark (`perfbench/run.py` is the other).
  *
  * Drives graft from outside through its public calls only:
  * `Registry.byName(name).run(tables)`, then the final action as a
  * `noop` write. One JVM, `local[cores]`, one SparkSession per client
  * (`spark.newSession()` over the one SparkContext). Steps:
  *
  *  1. setup: session(s) + function registration (`Tables`), then one
  *     untimed warm-up pass that is also the first output-check
  *     execution of every entry;
  *  2. the timed region, without listeners: `passes` seeded passes per
  *     client, closed loop, every sample kept (no retries, no minimum);
  *  3. with `traced=1`, a region with listeners and spans, then one
  *     more region without them;
  *  4. second execution of every entry that has no DuckDB oracle, so
  *     run.py can compare the two checksums.
  *
  * Results go to `<work>/result.json`; run.py turns them into metrics.
  *
  * Usage: perfbench.Harness <plan.properties>
  */
object Harness {
  val GroupPrefix = "pb-"
  val PhaseKey = "perfbench.phase"

  final case class Plan(workload: String, seed: Long, passes: Int,
      warmPasses: Int, traced: Boolean, dataDir: String, workDir: String,
      cores: Int, clients: Int, entries: Seq[String])

  object Plan {
    def load(path: String): Plan = {
      val p = new java.util.Properties
      val in = Files.newInputStream(Paths.get(path))
      try p.load(in) finally in.close()
      def get(k: String) = Option(p.getProperty(k)).getOrElse(
        throw new IllegalArgumentException(s"plan is missing '$k'"))
      Plan(get("workload"), get("seed").toLong, get("passes").toInt,
        get("warm_passes").toInt, get("traced") == "1", get("data"),
        get("work"), get("cores").toInt, get("clients").toInt,
        get("entries").split(",").toSeq)
    }
  }

  final class Client(val idx: Int, val spark: SparkSession) {
    val tables: Tables = Tables(spark, plan.dataDir)
    val phases = new PlanPhases
  }

  final case class Sample(entry: String, client: Int, latency: Double,
      build: Double, error: String)

  final case class Check(entry: String, oracle: Boolean, rows: Long,
      first: String, second: String, error: String)

  private var plan: Plan = _
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6
  private val execIds = new java.util.concurrent.atomic.AtomicLong
  private val spanIds = new java.util.concurrent.atomic.AtomicLong

  def main(args: Array[String]): Unit = {
    plan = Plan.load(args(0))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName(s"perfbench-${plan.workload}")
      .config("spark.sql.shuffle.partitions", plan.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${plan.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clients = (0 until plan.clients).map { i =>
      new Client(i, if (i == 0) spark else spark.newSession())
    }
    val entries = plan.entries.map(Registry.byName)
    val sessionDoneMs = System.currentTimeMillis()

    // Warm-up, untimed: the first check execution of every entry
    // (spread over the clients' own sessions) fills memos and codegen
    // caches; `warm_passes` seeded passes per client then bring the
    // JIT closer to steady state before the first timed query.
    val firstChecks = onClients(clients, entries)((c, q) => check(c, q, None))
    if (plan.warmPasses > 0)
      region(clients, entries, plan.warmPasses, salt = 0, tracer = None)
    val warmDoneMs = System.currentTimeMillis()

    val regions = mutable.ArrayBuffer[String]()
    val (plain, firstQueryMs) = region(clients, entries, plan.passes,
      salt = 1, tracer = None)
    regions += plain
    val heapMb = heapAfterGc()
    if (plan.traced) {
      // Untraced regions on both sides of the traced one, so JIT
      // warming during the run does not bias trace.overhead_ratio.
      regions += region(clients, entries, plan.passes, salt = 2,
        tracer = Some(new LayerListener))._1
      regions += region(clients, entries, plan.passes, salt = 3,
        tracer = None)._1
    }

    val checks = {
      val byName = firstChecks.map(c => c.entry -> c).toMap
      val again = onClients(clients, entries.filter(_.oracle.isEmpty)) {
        (c, q) => check(c, q, Some(byName(q.name)))
      }.map(c => c.entry -> c).toMap
      firstChecks.map(c => again.getOrElse(c.entry, c))
    }

    val oracles = entries.flatMap(q => q.oracle.map(sql => q.name -> sql))
    write("oracle_sql.json", Json.obj(oracles: _*))
    write("result.json", Json.obj(
      "workload" -> plan.workload, "seed" -> plan.seed,
      "cores" -> plan.cores, "clients" -> plan.clients,
      "setup_s" -> (firstQueryMs - jvmStartMs) / 1e3,
      "setup_session_s" -> (sessionDoneMs - jvmStartMs) / 1e3,
      "setup_warmup_s" -> (warmDoneMs - sessionDoneMs) / 1e3,
      "heap_mb" -> heapMb,
      "regions" -> Json.Raw(regions.mkString("[", ",", "]")),
      "checks" -> Json.Raw(checks.map(c => Json.obj("entry" -> c.entry,
        "oracle" -> c.oracle, "rows" -> c.rows, "first" -> c.first,
        "second" -> c.second, "error" -> c.error)).mkString("[", ",", "]"))))
    spark.stop()
  }

  private def write(name: String, text: String): Unit =
    Files.write(Paths.get(plan.workDir, name), text.getBytes(UTF_8))

  /** Runs `f` for every entry, entry i on client i mod clients, the
    * clients in parallel and each client's share in order. */
  private def onClients[T](clients: Seq[Client], entries: Seq[Q])(
      f: (Client, Q) => T): Seq[T] = {
    val out = new java.util.concurrent.ConcurrentHashMap[String, T]
    val threads = clients.map { c =>
      new Thread(() => entries.zipWithIndex.foreach { case (q, i) =>
        if (i % clients.size == c.idx) out.put(q.name, f(c, q))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    entries.flatMap(q => Option(out.get(q.name)))
  }

  /** One output-check execution. Oracle entries are written to parquet
    * for run.py's DuckDB compare; the others are reduced to a
    * canonical row checksum that a second execution must repeat. */
  private def check(c: Client, q: Q, prev: Option[Check]): Check = {
    try {
      val df = q.run(c.tables)
      if (q.oracle.isDefined) {
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"${plan.workDir}/out/${q.name}")
        Check(q.name, oracle = true, -1, null, null, null)
      } else {
        val (rows, sum) = checksum(df)
        prev match {
          case Some(p) => p.copy(second = sum)
          case None => Check(q.name, oracle = false, rows, sum, null, null)
        }
      }
    } catch {
      case NonFatal(e) =>
        Check(q.name, q.oracle.isDefined, -1, null, null, describe(e))
    }
  }

  private def checksum(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else "%.10g".format(d)
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .linesIterator.take(3).mkString(" ").take(400)

  /** Heap still used after forced GCs. The ContextCleaner frees
    * checkpoint and broadcast blocks asynchronously, only after a GC
    * has cleared their references, so collect a few times and keep
    * the lowest reading. */
  private def heapAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Seeded order of one client's pass; every pass holds every entry
    * once, so each run samples the same multiset of entries. */
  private def order(entries: Seq[Q], client: Int, pass: Int,
      salt: Int): Seq[Q] =
    new scala.util.Random(plan.seed * 1000003L + salt * 7919L +
      client * 131L + pass).shuffle(entries)

  /** A closed-loop region: every client runs `passes` seeded passes,
    * starting together. Returns the region's JSON and the wall-clock
    * ms at which its first query started. */
  private def region(clients: Seq[Client], entries: Seq[Q], passes: Int,
      salt: Int, tracer: Option[LayerListener]): (String, Long) = {
    val sc = clients.head.spark.sparkContext
    tracer.foreach { l =>
      sc.addSparkListener(l)
      clients.foreach(c => classic(c.spark).listenerManager.register(c.phases))
    }
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
    val totals = new Counters
    val go = new CountDownLatch(1)
    val threads = clients.map { c =>
      new Thread(() => {
        go.await()
        for (p <- 0 until passes; q <- order(entries, c.idx, p, salt))
          samples.add(runEntry(c, q, tracer, spans, totals))
      })
    }
    threads.foreach(_.start())
    val cp0 = graft.tools.Reliable.count
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    go.countDown()
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    totals.checkpoints = graft.tools.Reliable.count - cp0
    tracer.foreach { l =>
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(l)
      clients.foreach(c =>
        classic(c.spark).listenerManager.unregister(c.phases))
      val out = Files.newBufferedWriter(
        Paths.get(plan.workDir, "spans.jsonl"), UTF_8)
      try spans.forEach(s => out.write(s.json + "\n")) finally out.close()
    }
    import scala.jdk.CollectionConverters._
    val json = Json.obj(
      "traced" -> tracer.isDefined, "passes" -> passes,
      "wall_s" -> wall,
      "samples" -> Json.Raw(samples.asScala.map(s => Json.value(Seq(
        s.entry, s.client, s.latency, s.build, s.error))).mkString("[", ",", "]")),
      "counters" -> Json.Raw(totals.json))
    (json, startMs)
  }

  private def classic(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** One timed entry: `Q.run` (the query builder, including any eager
    * driver loops) and then the `noop` action, under a job group that
    * ties every job it launches to this execution. */
  private def runEntry(c: Client, q: Q, tracer: Option[LayerListener],
      spans: java.util.Collection[Span], totals: Counters): Sample = {
    val sc = c.spark.sparkContext
    val id = execIds.incrementAndGet()
    sc.setJobGroup(GroupPrefix + id, q.name, interruptOnCancel = false)
    sc.setLocalProperty(PhaseKey, "build")
    val t0 = System.nanoTime()
    var t1 = 0L
    var error: String = null
    try {
      val df = q.run(c.tables)
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "action")
      df.write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) => error = describe(e) }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    sc.clearJobGroup()
    sc.setLocalProperty(PhaseKey, null)
    tracer.foreach { l =>
      PerfbenchBus.drain(sc)
      val k = l.take(id)
      k.build_s = (t1 - t0) / 1e9
      val (queries, phases) = c.phases.take()
      k.queries = queries
      val Seq(root, build, action) = Seq.fill(3)(spanIds.incrementAndGet())
      spans.add(Span(root, 0, id, q.name, nowMs(t0), nowMs(t2)))
      spans.add(Span(build, root, id, "build", nowMs(t0), nowMs(t1)))
      spans.add(Span(action, root, id, "action", nowMs(t1), nowMs(t2)))
      phases.foreach { case (name, s, e) =>
        val secs = (e - s) / 1e3
        name match {
          case "analysis" => k.analysis_s += secs
          case "optimization" => k.optimization_s += secs
          case "planning" => k.planning_s += secs
          case _ =>
        }
        val parent = if (s < nowMs(t1)) build else action
        spans.add(Span(spanIds.incrementAndGet(), parent, id, name,
          s.toDouble, e.toDouble))
      }
      totals.synchronized(totals.add(k))
    }
    Sample(q.name, c.idx, (t2 - t0) / 1e9, (t1 - t0) / 1e9, error)
  }
}
