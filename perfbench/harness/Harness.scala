package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: set-up, a cold pass, warm passes for a
  * fixed window, then an untimed output-check pass. Keys run closed-loop on
  * the caller thread, in the order given; each call is
  * `SparkEntry.queries(k)(spark, fixtures)` (construction) followed by
  * `Exec.fullCount` (execution).
  *
  * With `--trace 1` a SparkListener and a QueryExecutionListener attribute
  * every job, stage and task to the (pass, key, phase) that submitted it,
  * through a local property set on the caller thread; threads started by
  * the program inherit it. Without tracing neither listener is registered.
  *
  * Prints one line `PERFBENCH_RESULT {json}` on stdout; `run.py` turns it
  * into the benchmark's metrics.
  */
object Harness {
  private val TagProp = "perfbench.tag"
  private val Phases = Seq("SparkEntry", "Exec")
  // The first half of the warm passes is warm-up: the JIT keeps compiling
  // for several passes after the cold one, and pass times step down when it
  // settles (see README.md, Steady state). The second half is timed.
  private val MinTimedPasses = 3

  final case class Args(fixtures: String, keys: Seq[String], seconds: Double,
      trace: Boolean, expected: Map[String, (Long, Option[String])],
      ledger: Option[String], outputs: Option[String])

  final class CallFailed(msg: String) extends Exception(msg)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val result = run(a)
    println("PERFBENCH_RESULT " + json.writeValueAsString(result))
    System.out.flush()
    // Spark leaves non-daemon threads behind after stop(); exit explicitly.
    System.exit(0)
  }

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val expected = m.get("expected").filter(_.nonEmpty).map(readExpected).getOrElse(Map.empty)
    Args(m("fixtures"), m("keys").split(",").toSeq, m("seconds").toDouble,
      m("trace") == "1", expected,
      m.get("ledger").filter(_.nonEmpty), m.get("outputs").filter(_.nonEmpty))
  }

  /** `expected.tsv`: key, row count, content hash or `-` (row count only). */
  private def readExpected(path: String): Map[String, (Long, Option[String])] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, n, h) = l.split("\t")
      k -> (n.toLong, if (h == "-") None else Some(h))
    }.toMap
    finally src.close()
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Linear-interpolated percentile, the same rule as numpy's default. */
  private def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  private def mb(bytes: Long): Double = bytes / 1e6

  def run(a: Args): Map[String, Any] = {
    // --- set-up: session build plus the untimed table warm-up ---
    val t0 = System.nanoTime()
    val spark = session()
    graft.Tables.names.foreach(n => graft.Tables.t(spark, a.fixtures, n).count())
    val setupTime = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val order = a.keys
    val queries = graft.SparkEntry.queries
    val unknown = order.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")

    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    val firstRows = mutable.Map[String, Long]()

    /** One call: construction, then execution. Returns wall seconds. */
    def call(pass: Int, key: String): Option[Double] = {
      attempted += 1
      def tag(phase: String): Unit =
        if (tracer.isDefined) sc.setLocalProperty(TagProp, s"$pass\t$key\t$phase")
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try {
        tag("SparkEntry")
        val df = queries(key)(spark, a.fixtures)
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        tag("Exec")
        tracer.foreach(_.wantPlan(df.queryExecution, s"$pass\t$key"))
        val n = org.apache.spark.sql.graft.Exec.fullCount(df)
        val t2 = System.nanoTime()
        val w2 = System.currentTimeMillis()
        tracer.foreach { t =>
          t.window(s"$pass\t$key\tSparkEntry", (t1 - t0) / 1e9, w0, w1)
          t.window(s"$pass\t$key\tExec", (t2 - t1) / 1e9, w1, w2)
        }
        val want = a.expected.get(key).map(_._1).orElse(firstRows.get(key))
        firstRows.getOrElseUpdate(key, n)
        if (want.exists(_ != n))
          throw new CallFailed(s"row count $n, expected ${want.get}")
        Some((t2 - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          failures += s"$key (pass $pass): ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally {
        if (tracer.isDefined) sc.setLocalProperty(TagProp, null)
      }
    }

    final case class Pass(index: Int, wall: Double, gc: Double, jit: Double,
        calls: Seq[Double])

    def pass(index: Int): Pass = {
      val gc0 = gcSeconds
      val jit0 = jitSeconds
      val t0 = System.nanoTime()
      val calls = order.flatMap(k => call(index, k))
      val wall = (System.nanoTime() - t0) / 1e9
      val p = Pass(index, wall, gcSeconds - gc0, jitSeconds - jit0, calls)
      tracer.foreach(_.drain())
      p
    }

    // --- cold pass, then warm passes for the measurement window ---
    val cold = pass(0)
    val warm = mutable.ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    def warmup = warm.length / 2
    while (warm.length - warmup < MinTimedPasses ||
        (System.nanoTime() - w0) / 1e9 < a.seconds)
      warm += pass(warm.length + 1)
    val timed = warm.drop(warmup).toSeq
    val timedCalls = timed.flatMap(_.calls)

    // --- untimed output check: row count and order-insensitive hash ---
    val c0 = System.nanoTime()
    val outputs = order.map { key =>
      attempted += 1
      key -> (try {
        val (n, h) = contentHash(queries(key)(spark, a.fixtures))
        a.expected.get(key).orElse(firstRows.get(key).map(r => (r, None))).foreach {
          case (en, eh) =>
            if (en != n) throw new CallFailed(s"check row count $n, expected $en")
            if (eh.exists(_ != h)) throw new CallFailed(s"content hash $h, expected ${eh.get}")
        }
        Some((n, h))
      } catch {
        case NonFatal(e) =>
          failures += s"$key (check): ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      })
    }
    val checkTime = (System.nanoTime() - c0) / 1e9
    a.outputs.foreach { path =>
      val lines = outputs.sortBy(_._1).map { case (k, o) =>
        o.map { case (n, h) => s"$k\t$n\t$h" }.getOrElse(s"$k\tFAILED\t-") }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    // --- state left behind: disk under the store root, live heap ---
    // the program's own files only: Spark also unpacks the snappy and lz4
    // native libraries into java.io.tmpdir
    val storeLayers = graft.Footprint.storeDirs(a.fixtures).map { case (module, dirs) =>
      s"$module.mb" -> mb(dirs.map(dirBytes).sum) } +
      ("Sources.spill_mb" -> mb(graft.Footprint.spillBytes))
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val layers = tracer.map { t =>
      val perPass = timed.map(p => t.passLayers(p.index, order))
      val ledgerKeys = order.map(k => k -> t.keyLayers(timed.map(_.index), k)).toMap
      a.ledger.foreach(path => t.writeLedger(path, ledgerKeys, cold.index))
      val names = perPass.flatMap(_.keys).distinct
      names.map(n => n -> median(perPass.map(_.getOrElse(n, 0.0)))).toMap ++
        Map("jvm.gc_s" -> median(timed.map(_.gc)), "jvm.jit_s" -> median(timed.map(_.jit)))
    }.getOrElse(Map.empty)
    spark.stop()

    def passJson(p: Pass) = Map("pass" -> p.index, "wall_s" -> p.wall,
      "gc_s" -> p.gc, "jit_s" -> p.jit, "calls" -> p.calls.length)
    Map(
      "keys" -> order,
      "setup_s" -> setupTime,
      "cold_s" -> cold.wall,
      "warm_s" -> median(timed.map(_.wall)),
      "call_p90_s" -> percentile(timedCalls, 0.9),
      "call_samples" -> timedCalls.length,
      "check_s" -> checkTime,
      "warmup_passes" -> warmup,
      "passes" -> (cold +: warm.toSeq).map(passJson),
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "store_mb" -> storeLayers.values.sum,
      "live_heap_mb" -> mb(liveHeap),
      "store_layers" -> storeLayers,
      "layers" -> layers)
  }

  /** Row count plus an order-insensitive hash: two sums of per-row hashes
    * of the row's JSON rendering, so duplicate rows do not cancel. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val row = to_json(struct(cols.map(col): _*))
    val r = df.toDF(cols: _*).agg(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(row), lit(2147483647L))), lit(0L)),
      coalesce(sum(hash(row).cast("long")), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }

  /** Counters for one (pass, key, phase). Task spans are kept to compute
    * how much of the call's wall time had no task, or exactly one, running. */
  final class Tally {
    var jobs, stages, skipped, tasks, failedTasks = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, fetchMs, spill, written = 0L
    var longestMs = 0L
    val spans = mutable.ArrayBuffer[(Long, Long)]()
    var wall = 0.0
    var windowMs = (0L, 0L)
    var planMs = 0L
  }

  final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val tallies = new ConcurrentHashMap[String, Tally]()
    private val jobTag = new ConcurrentHashMap[Int, String]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    private val stageTag = new ConcurrentHashMap[Int, String]()
    private val submitted = ConcurrentHashMap.newKeySet[Int]()
    private val plans = new java.util.IdentityHashMap[QueryExecution, String]()

    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    private def tally(tag: String): Tally = tallies.computeIfAbsent(tag, _ => new Tally)

    def wantPlan(qe: QueryExecution, passKey: String): Unit =
      plans.synchronized(plans.put(qe, passKey))

    def window(tag: String, wall: Double, startMs: Long, endMs: Long): Unit = {
      val t = tally(tag)
      t.synchronized { t.wall += wall; t.windowMs = (startMs, endMs) }
    }

    /** Wait until the listener queues have delivered every posted event.
      * `listenerBus` is private to Spark, hence the reflection. */
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagProp))).foreach { tag =>
        jobTag.put(e.jobId, tag)
        jobStages.put(e.jobId, e.stageIds)
        e.stageIds.foreach(s => stageTag.putIfAbsent(s, tag))
        val t = tally(tag)
        t.synchronized(t.jobs += 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTag.remove(e.jobId)).foreach { tag =>
        val stages = Option(jobStages.remove(e.jobId)).getOrElse(Nil)
        val t = tally(tag)
        t.synchronized(t.skipped += stages.count(s => !submitted.contains(s)))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        val t = tally(tag)
        t.synchronized(t.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val t = tally(tag)
        val info = e.taskInfo
        t.synchronized {
          t.tasks += 1
          if (!info.successful) t.failedTasks += 1
          t.spans += ((info.launchTime, info.finishTime))
          t.longestMs = math.max(t.longestMs, info.finishTime - info.launchTime)
          Option(e.taskMetrics).foreach { m =>
            t.runMs += m.executorRunTime
            t.cpuNs += m.executorCpuTime
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.fetchMs += m.shuffleReadMetrics.fetchWaitTime
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            t.written += m.outputMetrics.bytesWritten
          }
        }
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized(Option(plans.remove(qe))).foreach { passKey =>
        val t = tally(s"$passKey\tExec")
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        t.synchronized(t.planMs += ms)
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      plans.synchronized(plans.remove(qe))

    /** Milliseconds of [start, end) with at least one, and exactly one,
      * task running. */
    private def coverage(spans: Seq[(Long, Long)], start: Long, end: Long): (Long, Long) = {
      val events = spans.flatMap { case (s, f) =>
        val a = math.max(s, start); val b = math.min(f, end)
        if (b > a) Seq((a, 1), (b, -1)) else Nil
      }.sortBy(e => (e._1, e._2))
      var running = 0; var last = start; var busy = 0L; var single = 0L
      events.foreach { case (at, d) =>
        if (running >= 1) busy += at - last
        if (running == 1) single += at - last
        running += d; last = at
      }
      (busy, single)
    }

    /** Layer metrics of one (pass, key, phase), keyed `Layer.metric`. */
    def callLayers(pass: Int, key: String, phase: String): Map[String, Double] = {
      val t = Option(tallies.get(s"$pass\t$key\t$phase")).getOrElse(new Tally)
      t.synchronized {
        val (busyMs, singleMs) = coverage(t.spans.toSeq, t.windowMs._1, t.windowMs._2)
        val windowMs = t.windowMs._2 - t.windowMs._1
        val common = Map(
          "wall_s" -> t.wall, "jobs" -> t.jobs.toDouble, "tasks" -> t.tasks.toDouble,
          "task_s" -> t.runMs / 1e3, "driver_s" -> math.max(0L, windowMs - busyMs) / 1e3)
        val more = if (phase == "SparkEntry") Map("written_mb" -> mb(t.written))
        else Map(
          "stages" -> t.stages.toDouble, "cpu_s" -> t.cpuNs / 1e9,
          "single_task_s" -> singleMs / 1e3, "longest_task_s" -> t.longestMs / 1e3,
          "plan_ms" -> t.planMs.toDouble, "shuffle_write_mb" -> mb(t.shuffleWrite),
          "shuffle_read_mb" -> mb(t.shuffleRead), "fetch_wait_s" -> t.fetchMs / 1e3,
          "spill_mb" -> mb(t.spill), "skipped_stages" -> t.skipped.toDouble,
          "failed_tasks" -> t.failedTasks.toDouble)
        (common ++ more).map { case (m, v) => s"$phase.$m" -> v }
      }
    }

    private def sumLayers(ms: Seq[Map[String, Double]]): Map[String, Double] = {
      val out = ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      // longest_task_s sums the per-call longest tasks; parallelism is a ratio
      val wall = out.getOrElse("Exec.wall_s", 0.0)
      out + ("Exec.parallelism" -> (if (wall > 0) out("Exec.task_s") / wall else 0.0))
    }

    def passLayers(pass: Int, keys: Seq[String]): Map[String, Double] =
      sumLayers(for (k <- keys; ph <- Phases) yield callLayers(pass, k, ph))

    /** One key's layer metrics: the median of each over the given passes. */
    def keyLayers(passes: Seq[Int], key: String): Map[String, Double] = {
      val per = passes.map(p => sumLayers(Phases.map(ph => callLayers(p, key, ph))))
      per.flatMap(_.keys).distinct.map(n => n -> median(per.map(_.getOrElse(n, 0.0)))).toMap
    }

    def writeLedger(path: String, keys: Map[String, Map[String, Double]],
        coldPass: Int): Unit = {
      val cold = keys.keys.map(k =>
        k -> sumLayers(Phases.map(ph => callLayers(coldPass, k, ph)))).toMap
      val doc = Map("warm" -> keys, "cold" -> cold)
      json.writeValue(new java.io.File(path), doc)
    }
  }
}
