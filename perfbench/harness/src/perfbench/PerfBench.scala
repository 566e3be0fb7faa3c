package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

import graft.SparkEntry
import graft.engine.Graft

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  *   catalog OUT.json       every query name with its oracle SQL
  *   run key=value ...      one measured run; writes OUT/result.json and,
  *                          traced, OUT/spans.jsonl
  *
  * Every call goes through the caller path only: the builder from
  * `SparkEntry.queries` on a default `Graft.session(_, cores)`, then
  * `collect()` drains every row to the calling thread. */
object PerfBench {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("catalog") => catalog(args(1))
    case Some("run") => run(args.tail.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
    case _ =>
      System.err.println("usage: PerfBench catalog OUT.json | PerfBench run key=value ...")
      sys.exit(2)
  }

  private def catalog(out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val names = SparkEntry.queries.keys.toSeq.sorted
    write(out, Map("names" -> names, "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
  }

  /** One call, timed from the builder call to the last row at the caller.
    * Times are epoch milliseconds with sub-millisecond resolution. */
  final class Call(val id: Int, val name: String, val client: Int, val pass: Int, val timed: Boolean) {
    var t0, t1, t2 = 0.0
    var rows = 0L
    var fingerprint = ""
    var error = ""
    var translateUs = -1.0
    var phases: Seq[(String, Long, Long)] = Nil
    var plan: Seq[(String, Int)] = Nil
  }

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def run(conf: Map[String, String]): Unit = {
    require(sys.env.get("SPARK_GRAFT_CONF").isEmpty, "SPARK_GRAFT_CONF must be unset: calls run on session defaults")
    val dir = conf("data")
    val names = Files.readAllLines(Paths.get(conf("names"))).asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val clients = conf("clients").toInt
    val minCalls = conf("min_calls").toInt
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val warmPasses = conf("warm_passes").toInt
    val cores = conf("cores").toInt
    val out = conf("out")
    val builders = names.map(n => n -> SparkEntry.queries(n)).toMap

    val sessionStart = now()
    val spark = Graft.session("perfbench", cores)
    val sessionEnd = now()
    val listener = if (traced) Some(new CallListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
    val ids = new java.util.concurrent.atomic.AtomicInteger()

    def call(name: String, client: Int, pass: Int, timed: Boolean): Unit = {
      val c = new Call(ids.getAndIncrement(), name, client, pass, timed)
      calls.add(c)
      if (traced) c.translateUs = translateMicros(name)
      val sc = spark.sparkContext
      sc.setLocalProperty(CallListener.Key, c.id.toString)
      try {
        c.t0 = now()
        val df = builders(name)(spark, dir)
        c.t1 = now()
        val rows = df.collect()
        c.t2 = now()
        c.rows = rows.length
        c.fingerprint = Fingerprint.of(df.schema, rows)
        if (traced) {
          c.phases = df.queryExecution.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }
          c.plan = planCounts(df.queryExecution.executedPlan)
        }
      } catch {
        case e: Throwable =>
          if (c.t2 == 0.0) c.t2 = now()
          if (c.t1 == 0.0) c.t1 = c.t2
          c.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally sc.setLocalProperty(CallListener.Key, null)
    }

    /** Closed loop: `clients` threads share one call sequence, each
      * taking the next call when its previous one has returned. The
      * sequence is whole passes, each a permutation of the names fixed by
      * (seed, pass); a new pass starts only before `deadline` or while
      * fewer than `minCalls` calls were issued. The result is (passes,
      * time the sequence ran out, time the last call returned). */
    def clientsRun(clients: Int, firstPass: Int, timed: Boolean, deadline: Double,
                   minCalls: Int): (Int, Double, Double) = {
      val lock = new Object
      var pass = firstPass
      var issued = 0
      var exhausted = 0.0
      var queue: Iterator[String] = Iterator.empty
      def next(): Option[(String, Int)] = lock.synchronized {
        if (!queue.hasNext && exhausted == 0.0 && (pass == firstPass || issued < minCalls || now() < deadline)) {
          queue = new Random(seed * 1000003L + pass).shuffle(names).iterator
          pass += 1
        }
        if (queue.hasNext) { issued += 1; Some((queue.next(), pass - 1)) }
        else { if (exhausted == 0.0) exhausted = now(); None }
      }
      val threads = (0 until clients).map { k =>
        new Thread(() => {
          var job = next()
          while (job.isDefined) {
            call(job.get._1, k, job.get._2, timed)
            job = next()
          }
        }, s"perfbench-client-$k")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (pass - firstPass, exhausted, now())
    }

    val warm = (0 until warmPasses).map { p =>
      val start = now()
      val (_, _, end) = clientsRun(clients, p, timed = false, deadline = start, minCalls = 0)
      (end - start) / 1000
    }

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    heapPools.foreach(_.resetPeakUsage())
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcs.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val compiles0 = codegen.getCount
    val compileNs0 = CodeGenerator.compileTime
    val windowStart = now()
    val (passes, exhausted, windowEnd) =
      clientsRun(clients, warm.length, timed = true, deadline = windowStart + seconds * 1000, minCalls = minCalls)
    val cpu1 = os.getProcessCpuTime
    val gc1 = gcs.map(_.getCollectionTime).sum
    val jit1 = jit.getTotalCompilationTime
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val compiles1 = codegen.getCount
    val compileNs1 = CodeGenerator.compileTime

    listener.foreach(_ => org.apache.spark.perfbench.BusDrain(spark.sparkContext))
    val all = calls.asScala.toSeq.sortBy(_.id)
    val result = Map(
      "session_start_ms" -> sessionStart,
      "session_end_ms" -> sessionEnd,
      "warm_pass_s" -> warm,
      "window_start_ms" -> windowStart,
      "window_end_ms" -> windowEnd,
      "exhausted_ms" -> exhausted,
      "passes" -> passes,
      "cores" -> cores,
      "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "gc_ms" -> (gc1 - gc0),
      "jit_ms" -> (jit1 - jit0),
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "rss_peak_mb" -> peakRssMb(),
      "codegen_compiles" -> (compiles1 - compiles0),
      "codegen_ms" -> (compileNs1 - compileNs0) / 1e6,
      "calls" -> all.map(c => Map(
        "id" -> c.id, "name" -> c.name, "client" -> c.client, "pass" -> c.pass, "timed" -> c.timed,
        "t0" -> c.t0, "t1" -> c.t1, "t2" -> c.t2, "rows" -> c.rows,
        "fingerprint" -> c.fingerprint, "error" -> c.error,
        "translate_us" -> c.translateUs,
        "plan" -> c.plan.toMap)),
      "tasks" -> listener.map(l => l.synchronized {
        l.tasks.map { case (id, t) => id.toString -> t.fields.toMap }.toMap
      }).getOrElse(Map.empty),
      "stages" -> listener.map(l => l.synchronized {
        l.stages.toSeq.map { case (id, s) =>
          Map("id" -> id, "call" -> s.call, "submitted" -> s.submitted, "first_launch" -> s.firstLaunch) }
      }).getOrElse(Nil))
    write(s"$out/result.json", result)
    listener.foreach(l => writeSpans(s"$out/spans.jsonl", all, l))
    spark.stop()
  }

  /** Spans of every call: the call, its builder and its drain, the
    * planning phases Spark's tracker recorded, and the jobs the listener
    * attributed to it. A phase or job hangs under the builder or the
    * drain, whichever was running when it started. */
  private def writeSpans(path: String, calls: Seq[Call], l: CallListener): Unit = {
    val lines = mutable.ArrayBuffer[String]()
    var next = 0
    def span(name: String, start: Double, end: Double, parent: Int, call: Int): Int = {
      val id = next
      next += 1
      lines += json.writeValueAsString(Map("id" -> id, "name" -> name, "start" -> start, "end" -> end,
        "parent" -> parent, "call" -> call))
      id
    }
    val jobsByCall = l.synchronized(l.jobs.values.toSeq).groupBy(_.call)
    calls.foreach { c =>
      val root = span("call", c.t0, c.t2, -1, c.id)
      val build = span("queries.build", c.t0, c.t1, root, c.id)
      val drain = span("exec.drain", c.t1, c.t2, root, c.id)
      def under(start: Double) = if (start < c.t1) build else drain
      c.phases.foreach { case (k, s, e) => span(s"plans.$k", s.toDouble, e.toDouble, under(s.toDouble), c.id) }
      jobsByCall.getOrElse(c.id, Nil).foreach { j =>
        val end = if (j.end < 0) c.t2 else j.end.toDouble
        span("scheduler.job", j.start.toDouble, end, under(j.start.toDouble), c.id)
      }
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Time `Dialect.translate` on the query's public reference SQL, when
    * `DialectQueries` has one (`dx7_...` reads `dx7Reference`). */
  private def translateMicros(name: String): Double = {
    val field = name.takeWhile(_ != '_') + "Reference"
    val ref = scala.util.Try(graft.queries.DialectQueries.getClass.getMethod(field)
      .invoke(graft.queries.DialectQueries).asInstanceOf[String]).toOption
    ref.flatMap { sql =>
      val t = System.nanoTime()
      scala.util.Try(graft.sqlcompat.Dialect.translate(sql)).toOption.map(_ => (System.nanoTime() - t) / 1e3)
    }.getOrElse(-1.0)
  }

  /** Exchanges and subqueries in the final (post-AQE) physical plan. */
  private def planCounts(root: SparkPlan): Seq[(String, Int)] = {
    var shuffles, broadcasts, reused, subqueries = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: ShuffleExchangeLike => shuffles += 1; e.children.foreach(walk)
        case e: BroadcastExchangeLike => broadcasts += 1; e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach { s => subqueries += 1; walk(s) }
    }
    walk(root)
    Seq("shuffle_exchanges" -> shuffles, "broadcast_exchanges" -> broadcasts,
      "reused_exchanges" -> reused, "subqueries" -> subqueries)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json.writeValueAsBytes(v))
}
