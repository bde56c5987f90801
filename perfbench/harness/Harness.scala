package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, Session, SparkEntry, Tables}
import graft.sources.Lake
import graft.streaming.Streams

/** Drives graft through its public entry points for one benchmark run and
  * writes the raw measurements as JSON; `perfbench/run.py` turns them into
  * metrics and checks the outputs.
  *
  * Arguments (all required): `--workload tpch|lake --seed N --passes N
  * --trace 0|1 --cores N --data DIR --work DIR`. `--passes` is the number
  * of timed TPC-H passes; lake_ingest drains every staged batch file.
  * With `--trace 1` the run also installs Spark listeners and records
  * spans; the untraced run installs none and never waits on the listener
  * bus.
  */
object Harness {
  val SetupReps = 3
  val WarmPasses = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val run = new Run(a("workload"), a("seed").toLong, a("passes").toInt,
      a("trace") == "1", a("cores"), a("data"), a("work"))
    try run.go() finally run.writeOut()
  }
}

/** Wall clock in epoch microseconds, monotonic within the run, so harness
  * spans line up with listener timestamps (epoch milliseconds). */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def us(): Long = ms0 * 1000 + (System.nanoTime() - ns0) / 1000
}

/** In-memory spans, written out when the run ends. A span names the layer
  * it belongs to and the operation it serves. Harness spans name their
  * parent; listener spans have parent 0 and are nested by time later. */
final class Trace(val on: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
      op: String, start: Long, end: Long)
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()

  /** A span observed by a listener, times in epoch microseconds. */
  def add(name: String, layer: String, op: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, layer, op, start, end))

  /** Time `f` as a span; `f` gets the span id so children can point at it. */
  def span[T](parent: Long, name: String, layer: String, op: String)(f: Long => T): T = {
    if (!on) return f(0L)
    val id = ids.incrementAndGet()
    val t0 = Clock.us()
    try f(id) finally spans.add(Span(id, parent, name, layer, op, t0, Clock.us()))
  }
}

/** Totals the traced run reads from Spark's listeners, keyed by the role
  * the issuing thread set (`perfbench.role`: `setup`, `warm`, `build` and
  * `query` for a TPC-H gate, `read` for the lake reader, `final`), or
  * `stream` for the micro-batch thread, or `other`. */
final class Listeners(trace: Trace) extends SparkListener
    with QueryExecutionListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, deserMs, waitMs = 0L
    var inputB, shufReadB, shufWriteB, spillB, outputB = 0L
  }
  val totals = mutable.Map[String, Totals]()
  var optimizationMs, planningMs, aqeUpdates = 0L
  private val stageRole = mutable.Map[Int, String]()
  private val stageOp = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, (Long, String, String)]()

  private def role(p: java.util.Properties): String =
    if (p == null) "other"
    else if (p.getProperty("sql.streaming.queryId") != null) "stream"
    else Option(p.getProperty("perfbench.role")).getOrElse("other")

  def snapshot(): Map[String, Map[String, Long]] = synchronized {
    totals.map { case (r, t) => r -> Map(
      "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
      "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
      "deser_ms" -> t.deserMs, "wait_ms" -> t.waitMs, "input_b" -> t.inputB,
      "shuffle_read_b" -> t.shufReadB, "shuffle_write_b" -> t.shufWriteB,
      "spill_b" -> t.spillB, "output_b" -> t.outputB) }.toMap ++
      Map("plans" -> Map("optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
        "aqe_updates" -> aqeUpdates))
  }

  private def of(r: String) = totals.getOrElseUpdate(r, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = role(e.properties)
    of(r).jobs += 1
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    jobSpan(e.jobId) = (e.time, r, op)
    e.stageInfos.foreach { s => stageRole(s.stageId) = r; stageOp(s.stageId) = op }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (t0, r, op) =>
      trace.add(s"job.$r", "scheduler", op, t0 * 1000, e.time * 1000)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val r = stageRole.getOrElse(s.stageId, "other")
    of(r).stages += 1
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      trace.add(s"stage.$r", "executor", stageOp.getOrElse(s.stageId, ""),
        t0 * 1000, t1 * 1000)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val t = of(stageRole.getOrElse(e.stageId, "other"))
    t.tasks += 1
    t.runMs += m.executorRunTime
    t.cpuNs += m.executorCpuTime
    t.gcMs += m.jvmGCTime
    t.deserMs += m.executorDeserializeTime
    t.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime)
    t.inputB += m.inputMetrics.bytesRead
    t.shufReadB += m.shuffleReadMetrics.totalBytesRead
    t.shufWriteB += m.shuffleWriteMetrics.bytesWritten
    t.spillB += m.diskBytesSpilled
    t.outputB += m.outputMetrics.bytesWritten
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { aqeUpdates += 1 }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      val ms = p.endTimeMs - p.startTimeMs
      name match {
        case "optimization" => optimizationMs += ms
        case "planning" => planningMs += ms
        case _ =>
      }
      trace.add(s"plans.$name", "plans", "", p.startTimeMs * 1000, p.endTimeMs * 1000)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      trace.add("streaming.batch", "streaming", "drain", t0 * 1000, (t0 + dur) * 1000)
    }
  }
}

/** Peak heap in use after GC, from the JVM's GC notifications. */
final class HeapWatch {
  private val peak = new AtomicLong()
  private val armed = new AtomicBoolean(false)
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (armed.get && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          peak.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }

  def arm(): Unit = { peak.set(0L); armed.set(true) }
  /** Stop watching: (peak after any GC, live heap), MB. Live heap is read
    * after two full collections a second apart, so Spark's context cleaner
    * has released the broadcasts and shuffles the first one found
    * unreachable. The first collection also guarantees a peak sample. */
  def disarm(): (Double, Double) = {
    System.gc()
    Thread.sleep(1000)
    armed.set(false)
    System.gc()
    Thread.sleep(200)
    val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (peak.get / 1048576.0, live / 1048576.0)
  }
}

final class Run(workload: String, seed: Long, passes: Int, traced: Boolean,
    cores: String, data: String, work: String) {
  private val trace = new Trace(traced)
  private val listeners = new Listeners(trace)
  private val heap = new HeapWatch
  private val out = mutable.LinkedHashMap[String, Any]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong()
  private var spark: SparkSession = _

  private def fail(what: String, e: Throwable): Unit = {
    failures.add(s"$what: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
    System.err.println(s"[perfbench] $what failed: $e")
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def setLocal(role: String, op: String): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.role", role)
    spark.sparkContext.setLocalProperty("perfbench.op", op)
  }

  def go(): Unit = {
    setup()
    if (traced) {
      spark.sparkContext.addSparkListener(listeners)
      spark.listenerManager.register(listeners)
      spark.streams.addListener(listeners.streamListener)
    }
    workload match {
      case "tpch" => tpch()
      case "lake" => lake()
    }
  }

  // ---- set-up: session start, prepare, table registration (+ lake base write)

  private def baseTable(rep: Int) = s"$work/lake/table$rep"

  private def setup(): Unit = {
    val reps = (1 to Harness.SetupReps).map { rep =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val op = s"setup-$rep"
      trace.span(0L, "setup", "harness", op) { sid =>
        val t0 = System.nanoTime()
        spark = trace.span(sid, "session.start", "session", op) { _ =>
          Engine.configure(SparkSession.builder().appName("perfbench"), cores)
            .config("spark.local.dir", s"$work/tmp")
            .config("spark.sql.warehouse.dir", s"$work/warehouse")
            .getOrCreate()
        }
        spark.sparkContext.setLogLevel("ERROR")
        val t1 = System.nanoTime()
        trace.span(sid, "session.prepare", "session", op) { _ => Session.prepare(spark) }
        val t2 = System.nanoTime()
        setLocal("setup", op)
        trace.span(sid, "tables.register", "tables", op) { _ => Tables.registerAll(spark, data) }
        val t3 = System.nanoTime()
        if (workload == "lake") trace.span(sid, "lake.write", "lake", op) { _ =>
          Lake.write(spark.read.parquet(s"$data/orders.parquet").withColumn("ver", lit(0L)),
            baseTable(rep), Nil)
        }
        val t4 = System.nanoTime()
        Map("start_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9,
          "register_s" -> (t3 - t2) / 1e9, "base_write_s" -> (t4 - t3) / 1e9,
          "total_s" -> (t4 - t0) / 1e9)
      }
    }
    out("setup") = reps
  }

  /** Counters read at both ends of the timed region; the traced run first
    * waits until the listener bus has delivered every earlier event. */
  private def counters(): Map[String, Any] = {
    if (!traced) return Map.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Map("listeners" -> listeners.snapshot(),
      "codegen" -> Map(
        "compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        "compile_ns" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
        "gen_ns" -> org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime))
  }

  private def timedRegion(body: => Unit): Unit = {
    out("counters_start") = counters()
    heap.arm()
    val t0 = System.nanoTime()
    out("timed_start_us") = Clock.us()
    body
    out("timed_wall_s") = secs(t0)
    out("timed_end_us") = Clock.us()
    val (peak, live) = heap.disarm()
    out("peak_heap_mb") = peak
    out("live_heap_mb") = live
    out("counters_end") = counters()
  }

  // ---- tpch: the 22 q*_ gates, closed loop, one client, whole passes

  private def tpch(): Unit = {
    val gates = SparkEntry.queries.filter { case (n, _) => n.matches("q\\d+_.*") }
    val names = gates.keys.toSeq.sorted
    out("oracles") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    def order(pass: Int) = new scala.util.Random(seed * 1000 + pass).shuffle(names)

    // untimed warm-up: one pass whose results are checked against the
    // oracle, then WarmPasses more through the noop sink (the JIT is still
    // speeding up shared code over the first passes)
    for (n <- order(0)) {
      setLocal("warm", s"warm-$n")
      try gates(n)(spark, data).write.mode("overwrite").parquet(s"$work/results/$n")
      catch { case e: Throwable => fail(s"verify $n", e) }
    }
    for (pass <- 1 to Harness.WarmPasses; n <- order(-pass)) {
      setLocal("warm", s"warm-$n")
      try gates(n)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(s"warm $n", e) }
    }

    val lat = mutable.ArrayBuffer[Double]()
    timedRegion {
      for (pass <- 1 to passes) {
        for (n <- order(pass)) {
          val op = s"p$pass-$n"
          attempted.incrementAndGet()
          val q0 = System.nanoTime()
          try trace.span(0L, "query", "harness", op) { sid =>
            setLocal("build", op)
            val df = trace.span(sid, "queries.build", "queries", op) { _ => gates(n)(spark, data) }
            setLocal("query", op)
            trace.span(sid, "query.execute", "scheduler", op) { _ =>
              df.write.format("noop").mode("overwrite").save()
            }
            lat += secs(q0)
          } catch { case e: Throwable => fail(op, e) }
        }
      }
    }
    out("rounds") = passes
    out("ops") = Map("query" -> lat.toSeq)
  }

  // ---- lake: MoR upsert stream with maintenance plus one concurrent reader

  private def lake(): Unit = {
    val table = baseTable(Harness.SetupReps)
    val staged = Paths.get(work, "staged")
    val in = Paths.get(work, "lake", "in")
    Files.createDirectories(in)
    val files = Files.list(staged).iterator.asScala.toSeq.sortBy(_.getFileName.toString)
    def install(fs: Seq[Path]): Unit = fs.foreach(f =>
      Files.move(f, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    val schema = spark.read.parquet(files.head.toString).schema

    def drain(op: String): Seq[Map[String, Any]] = {
      setLocal("stream", op)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val q = Streams.lakeMorUpsertSink(stream, Seq("o_orderkey"), "ver", table,
        s"$work/lake/ckpt", maintain = true)
      trace.span(0L, "streaming.drain", "streaming", op) { _ => q.awaitTermination() }
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        Map("batch" -> p.batchId, "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> d("triggerExecution"), "add_ms" -> d("addBatch"),
          "wal_ms" -> d("walCommit"), "rows" -> p.numInputRows)
      }
    }

    val reads = new ConcurrentLinkedQueue[Double]()
    def readOnce(op: String): Unit = {
      setLocal("read", op)
      trace.span(0L, "lake.read", "lake", op) { _ =>
        val r = Lake.read(spark, table)
          .agg(count(lit(1)).as("n"), countDistinct(col("o_orderkey")).as("k")).head()
        if (r.getLong(0) != r.getLong(1))
          throw new IllegalStateException(s"torn snapshot: ${r.getLong(0)} rows, ${r.getLong(1)} keys")
      }
    }

    // warm-up: reader queries on the base table and one micro-batch, untimed
    for (i <- 1 to 3) try readOnce(s"warm-read-$i") catch { case e: Throwable => fail("warm read", e) }
    install(files.take(1))
    try drain("warm-drain") catch { case e: Throwable => fail("warm drain", e) }

    install(files.drop(1))
    val v0 = Lake.currentVersion(spark, table)
    var batches: Seq[Map[String, Any]] = Nil
    timedRegion {
      val done = new AtomicBoolean(false)
      val reader = new Thread(() => {
        var i = 0
        while (!done.get) {
          i += 1
          attempted.incrementAndGet()
          val r0 = System.nanoTime()
          try { readOnce(s"read-$i"); reads.add(secs(r0)) }
          catch { case e: Throwable => fail(s"read-$i", e) }
        }
      }, "perfbench-reader")
      reader.start()
      try {
        batches = drain("drain")
        attempted.addAndGet(batches.size.toLong)
      } catch { case e: Throwable =>
        attempted.addAndGet(files.size - 1L)
        fail("drain", e)
      } finally { done.set(true); reader.join() }
    }
    if (batches.size != files.size - 1)
      failures.add(s"drain committed ${batches.size} of ${files.size - 1} batches")

    val v1 = Lake.currentVersion(spark, table)
    val versions = (v0 + 1 to v1).map(v => Lake.readSnapshot(spark, table, v).createdAtMs)
    val snap = Lake.readSnapshot(spark, table, v1)
    out("lake") = Map("versions" -> (v1 - v0), "version_ms" -> versions,
      "files_live" -> snap.files.size, "dv_files_live" -> snap.dvFiles.size)
    out("rounds") = 1
    out("ops") = Map("read" -> reads.asScala.toSeq,
      "commit" -> batches.map(b => b("trigger_ms").asInstanceOf[Long] / 1000.0))
    out("batches") = batches
    // the final state, as plain parquet: checked against the expected
    // state and used as the user-bytes base of bytes stored per user byte
    setLocal("final", "final")
    try Lake.read(spark, table).write.mode("overwrite").parquet(s"$work/final")
    catch { case e: Throwable => fail("final read", e) }
  }

  // ---- output

  def writeOut(): Unit = {
    out("attempted") = attempted.get
    out("failures") = failures.asScala.toSeq
    if (traced) {
      val sb = new StringBuilder
      trace.spans.asScala.foreach { s =>
        sb.append(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "start" -> s.start, "end" -> s.end))).append('\n')
      }
      Files.write(Paths.get(work, "spans.jsonl"), sb.toString.getBytes("UTF-8"))
    }
    Files.write(Paths.get(work, "harness.json"), Json(out.toMap).getBytes("UTF-8"))
    if (spark != null) spark.stop()
  }
}

/** Minimal JSON writer for the harness output (numbers, strings, lists, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
