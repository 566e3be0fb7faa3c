package graft

import org.apache.spark.sql.DataFrame

/** Benchmark harness (driver contract: ONE JSON line on stdout).
  *
  * Every sample is the caller path: `SparkEntry.queries(name)(spark,
  * sfDir)` on the default [[graft.engine.Graft.session]], then a full
  * drain of the result. Each sample therefore pays the builder, analysis,
  * optimization, physical planning + codegen and every execution stage,
  * exactly as a caller does; only what the session itself caches
  * (relation metadata, generated classes) carries across samples.
  * Rebuilding per sample also keeps builders that run jobs at
  * construction (p22's connected components, p28's BPE rounds) or carry
  * a lazy localCheckpoint honest: no sample reads blocks an earlier one
  * materialized.
  *
  * Passes are INTERLEAVED (r11, contamination resistance: BENCH_r10
  * recorded 124 s on a contended box for a binary that re-measures at
  * 63 s). Pass 0 warms every query once (JIT, codegen, shuffle paths),
  * then 3 full-suite passes each time every query once. The reported
  * per-query number is the median ACROSS passes, so a contended window
  * poisons at most one pass, not one query's entire sample set. The
  * JSON carries /proc load averages, this process's CPU time and the
  * window verdict ([[adjudicate]]), so a run taken under external load
  * is visible as such.
  *
  * Results are materialized by fully iterating the executed plan:
  * every operator runs and every output row is produced, with no
  * Catalyst rewrite of the measured plan (a bare `.count()` would let
  * the optimizer prune every aggregate and benchmark a cheaper plan
  * than the one CORRECTNESS validates).
  *
  * Failures are loud: a failed query is reported in `"failed"` and the
  * process exits non-zero — a broken query must never lower the total.
  */
object Bench {
  private val Passes = 3

  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())

  // Locale.ROOT: under comma-decimal default locales (de_DE etc.) the
  // f-interpolator would emit "1,234" and break the JSON contract.
  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Mechanical window verdict (r21, VERDICT #2). r20 discarded poisoned
    * bench windows BY HAND (external load hitting only the parallel
    * Spark passes while the single-threaded comparator ran clean, or
    * vice versa) — a selection-bias surface. The run now judges its
    * own window:
    *   - `extP90`: 90th percentile of EXTERNAL cpu cores in use while
    *     the Spark passes run;
    *   - `duckDrift`: this window's comparator total over the
    *     previously saved baseline's total, over the queries both hold
    *     (an added or removed query cannot pass for drift). None unless
    *     the comparator ran in THIS window (`duckNow`): a filtered run,
    *     SPARK_GRAFT_NO_DUCK=1 or a failed comparator leaves only the
    *     saved baseline, and dividing it by itself would read as a
    *     passed check;
    *   - `clean`: extP90 <= max(1.5, cpus/16) AND duckDrift within
    *     [0.75, 1.33]. Without a drift the verdict rests on extP90
    *     alone, and the JSON says so by omitting `duck_drift`. */
  private[graft] final case class Window(extP90: Double, duckDrift: Option[Double],
                                         clean: Boolean) {
    def json: String = s""","ext_p90":${r3(extP90)}""" +
      duckDrift.map(d => s""","duck_drift":${r3(d)}""").getOrElse("") +
      s""","clean_window":$clean"""
  }

  private[graft] def adjudicate(extP90: Double, cpus: Int,
                                duckNow: Option[Map[String, Double]],
                                duckPrev: Map[String, Double]): Window = {
    val duckDrift = duckNow.flatMap { now =>
      val shared = (now.keySet & duckPrev.keySet).toSeq
      val prevSum = shared.map(duckPrev).sum
      if (shared.isEmpty || prevSum <= 0) None
      else Some(shared.map(now).sum / prevSum)
    }
    Window(extP90, duckDrift, extP90 <= math.max(1.5, cpus / 16.0) &&
      duckDrift.forall(d => d >= 0.75 && d <= 1.33))
  }

  /** A saved comparator baseline: the sf dir it was recorded for and
    * its per-query DuckDB medians. None when absent or unreadable. */
  private def readDuckBaseline(f: java.io.File): Option[(String, Map[String, Double])] =
    if (!f.exists) None
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val it = node.get("queries").fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
      Some(node.get("sf").asText() -> b.result())
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] duck baseline ${f.getPath} unreadable: ${e.getMessage}")
        None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.engine.Graft.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Local-iteration aid (driver passes no args): an optional regex
    // restricts the run to matching query names. find() (substring
    // match), not matches(): a partial pattern like "p14" silently
    // benching nothing (nq:0) cost a judge run in r8.
    val only = args.headOption.map(_.r)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    if (selected.isEmpty) {
      System.err.println(s"[bench] no query matches '${args.head}' — " +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }

    // Full-suite runs pair with a same-window comparator and write the
    // ratio artifact; a filtered run does neither (its ratios would
    // cover a subset, and the committed artifact holds the whole suite).
    val runDuck = args.isEmpty && !sys.env.contains("SPARK_GRAFT_NO_DUCK") &&
      new java.io.File("tools/duck_bench.py").exists
    val duckFile = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_DUCK_JSON",
      s"tools/duck_baseline_${new java.io.File(sfDir).getName}.json"))
    // Read the PRIOR comparator baseline before --save overwrites it:
    // the window verdict measures this window's comparator drift
    // against it.
    val duckPrev: Map[String, Double] =
      if (runDuck) readDuckBaseline(duckFile).map(_._2).getOrElse(Map.empty)
      else Map.empty

    // Same-window comparator pairing (r15 verdict Next #5): two rounds
    // were poisoned by host-load drift between the Spark bench and a
    // DuckDB baseline recorded in a different window, needing manual
    // re-pairing. A full-suite run now executes tools/duck_bench.py
    // --save ADJACENT to the Spark passes, so the baseline this run's
    // ratios divide by was measured under the same host conditions by
    // construction. The comparator's stdout is rerouted to stderr (the
    // driver contract is ONE JSON line on stdout); failures degrade to
    // the previously saved baseline. SPARK_GRAFT_NO_DUCK=1 skips.
    val duckRan = runDuck && {
      try {
        val tmp = java.nio.file.Files.createTempDirectory("graft_duck")
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val m = new java.util.LinkedHashMap[String, String]()
        SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        java.nio.file.Files.write(tmp.resolve("oracle_sql.json"),
          om.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
        val t0 = System.nanoTime()
        val pb = new ProcessBuilder(
          "python3", "tools/duck_bench.py", sfDir, tmp.toString, "--save")
        pb.redirectErrorStream(true)
        val proc = pb.start()
        // drain stdout on a daemon thread so waitFor's timeout stays
        // reachable — a blocking mkString before waitFor would hang the
        // whole bench run if the comparator ever wedges
        val outRef = new java.util.concurrent.atomic.AtomicReference[String]("")
        val drain = new Thread(() => {
          try outRef.set(scala.io.Source.fromInputStream(proc.getInputStream).mkString)
          catch { case _: Exception => () }
        }, "duck-bench-drain")
        drain.setDaemon(true)
        drain.start()
        val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) {
          proc.destroyForcibly()
          System.err.println("[bench] duck comparator timed out")
          false
        } else {
          drain.join(10000)
          val outLines = outRef.get
          System.err.println(
            f"[bench] same-window duck comparator (rc=${proc.exitValue}, " +
              f"${(System.nanoTime() - t0) / 1e9}%.1f s): " + outLines.linesIterator
              .filter(_.startsWith("{")).mkString(" ").take(400))
          proc.exitValue == 0
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] duck comparator unavailable (${e.getMessage}) " +
            "— falling back to the saved baseline")
          false
      }
    }

    // External load while the Spark passes run (system cpu load minus
    // this process's, sampled every 2 s from the OS bean — load1 can't
    // separate our own bursts from contention); see [[adjudicate]].
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val hostCores = Runtime.getRuntime.availableProcessors()
    val extSamples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val extSampler = new Thread(() => {
      try while (true) {
        val sys = osBean.getCpuLoad
        val self = osBean.getProcessCpuLoad
        if (sys >= 0 && self >= 0)
          extSamples.add(math.max(0.0, (sys - self) * hostCores))
        Thread.sleep(2000)
      } catch { case _: InterruptedException => () }
    }, "bench-ext-sampler")
    extSampler.setDaemon(true)
    extSampler.start() // covers warm + timed passes, not the comparator

    val failed = scala.collection.mutable.ListBuffer[String]()
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)

    // pass 0 warms; passes 1..Passes are timed
    for (pass <- 0 to Passes; (name, fn) <- selected if !failed.contains(name)) {
      try {
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        if (pass > 0) samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
          failed += name
          samples.remove(name)
      }
    }

    val timed = selected.map(_._1).filter(samples(_).nonEmpty).map { name =>
      val ss = samples(name)
      val med = ss.sorted.apply(ss.size / 2)
      System.err.println(f"[bench] $name%-28s median=$med%.3fs samples=${ss.map(s => f"$s%.2f").mkString(",")}")
      name -> med
    }

    // The driver captures only the LAST 2000 chars of output, so the
    // JSON line must stay well under that or it is truncated and the
    // round's perf numbers are unparseable (this happened in r2/r3:
    // 97 queries x full-precision doubles ~= 4 KB). Emit the 22 TPC-H
    // headline queries plus the composite pipelines individually, and
    // roll the rest up into per-family subtotals; full per-query detail
    // is on stderr above.
    val composites = Set("p9_corpus_pipeline", "x1_yoy_growth", "x2_market_basket")
    def isHeadline(k: String): Boolean = k.matches("q\\d+_.*") || composites(k)
    val headline = timed.filter { case (k, _) => isHeadline(k) }
    val family = "^([a-z]+).*".r
    val groups = timed
      .filterNot { case (k, _) => isHeadline(k) }
      .groupBy { case (k, _) => k match { case family(p) => p } }
      .toSeq.sortBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sum }
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timed.map(_._2).sum

    // Per-query comparator ratios (r13 verdict Next #6): duck_bench.py
    // --save records the DuckDB per-query medians for this SF; when a
    // matching baseline exists, the JSON carries spark/duck ratios so
    // ONE query drifting past the 2x bar is visible even while the
    // suite total is comfortably under it. Stale-baseline guard: the
    // recorded sf dir must equal this run's (regenerated testdata or a
    // different SF silently mismatching would fabricate ratios).
    val duckTimes: Map[String, Double] = readDuckBaseline(duckFile) match {
      case Some((sf, times)) if sf == sfDir => times
      case Some((sf, _)) =>
        System.err.println(s"[bench] duck baseline ${duckFile.getPath} is for " +
          s"$sf, not $sfDir — ratios omitted")
        Map.empty
      case None => Map.empty
    }
    val common = timed.filter { case (k, _) => duckTimes.contains(k) }
    val ratioOf: ((String, Double)) => (String, Double) = {
      case (k, v) => k -> v / math.max(duckTimes(k), 1e-4)
    }
    // Full per-query ratio artifact (r14 verdict Next #9): the JSON
    // line is size-capped to the driver's 2000-char tail window, so
    // drift in a non-headline query (the q19 case) was invisible
    // without judge archaeology. Every paired query's spark/duck/ratio
    // goes to a file artifact instead — on full-suite runs only, so a
    // filtered run never truncates the committed artifact.
    if (runDuck && common.nonEmpty) {
      val f = new java.io.File("tools/ratios_latest.json")
      val body = common.sortBy(x => -ratioOf(x)._2).map { case (k, v) =>
        s"""  "$k": {"spark": ${r3(v)}, "duck": ${r3(duckTimes(k))}, "ratio": ${r3(v / math.max(duckTimes(k), 1e-4))}}"""
      }.mkString("{\n\"sf\": \"" + sfDir + "\",\n\"queries\": {\n", ",\n", "\n}}")
      try {
        val w = new java.io.PrintWriter(f); w.write(body); w.close()
        System.err.println(s"[bench] per-query ratios -> ${f.getPath}")
      } catch { case e: Exception =>
        System.err.println(s"[bench] ratios artifact write failed: ${e.getMessage}")
      }
    }
    val ratioTotal =
      if (common.isEmpty) None
      else Some(common.map(_._2).sum / common.map(x => duckTimes(x._1)).sum)
    // worst offenders across the WHOLE common set (not just headline).
    // Denominator floor 50 ms: a sub-50ms DuckDB query divided into
    // Spark's fixed per-query overhead (~0.3 s scheduling + codegen at
    // local[32]) produces 100x+ "ratios" that measure nothing — the
    // drift signal this field exists for is algorithmic work, which
    // needs a measurable baseline on both sides.
    val ratioWorst = common.filter(x => duckTimes(x._1) >= 0.05).map(ratioOf)
      .sortBy(-_._2).take(5)
    val headlineRatios = common.filter { case (k, _) => isHeadline(k) }.map(ratioOf)
    def ratioJson: String = ratioTotal match {
      case None => ""
      case Some(rt) =>
        s""","ratio_total":${r3(rt)},"ratio_n":${common.size}""" +
          s""","duck_total":${r3(common.map(x => duckTimes(x._1)).sum)}""" +
          s""","ratio_worst":${obj(ratioWorst)},"ratios":${obj(headlineRatios)}"""
    }
    // Contention self-identification: a trustworthy run has
    // load1 ~<= cpus used by this process alone.
    val load = f"${osBean.getSystemLoadAverage}%.1f"
    val cpuSec = r3(osBean.getProcessCpuTime / 1e9)
    extSampler.interrupt()
    val extSorted = extSamples.toArray(new Array[java.lang.Double](0))
      .map(_.doubleValue).sorted.toIndexedSeq
    val extP90 = if (extSorted.isEmpty) 0.0
      else extSorted(math.min(extSorted.size - 1, (extSorted.size * 9) / 10))
    val windowJson =
      adjudicate(extP90, cpus, if (duckRan) Some(duckTimes) else None, duckPrev).json
    // nq_timed vs nq_declared: the total is only comparable across
    // rounds when every declared query was timed — a run with failures
    // shrinks the total, and without these fields a shrunken run reads
    // as a speedup (r12 What's-wrong #3).
    val nqDecl = selected.size
    var line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline)},"groups":${obj(groups)},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"interleaved":true,"load1":$load,"cpu_sec":$cpuSec$ratioJson$windowJson,"sf":"$sfDir"}"""
    if (line.length > 1800) // size guard: drop per-query ratios first
      line =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline)},"groups":${obj(groups)},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"interleaved":true,"load1":$load,"cpu_sec":$cpuSec${ratioTotal.map(rt => s""","ratio_total":${r3(rt)},"ratio_n":${common.size},"duck_total":${r3(common.map(x => duckTimes(x._1)).sum)},"ratio_worst":${obj(ratioWorst)}""").getOrElse("")}$windowJson,"sf":"$sfDir"}"""
    if (line.length > 1800) // hard guard: never overflow the tail window
      line =
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(headline.sortBy(-_._2).take(10))},"failed":$fs,"nq_timed":${timed.size},"nq_declared":$nqDecl,"n":$Passes,"prewarm":1,"load1":$load${ratioTotal.map(rt => s""","ratio_total":${r3(rt)}""").getOrElse("")}$windowJson,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
