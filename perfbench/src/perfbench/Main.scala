package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  def apply(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f] $msg")
}

/** One benchmark run in its own JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --result FILE
  *
  * Sets the workload up three times, each ending with one cold engine
  * call (the median is `setup_s`), warms up until two operations agree,
  * prepares the output-check reference, and runs the timed closed loop.
  * With `--trace 0` every timed operation is untraced and gives the
  * end-to-end figures. With `--trace 1` untraced and traced operations
  * alternate: the traced ones (spans plus a benchmark-owned
  * `SparkListener`) give the per-layer figures, and the difference
  * between the two kinds is the tracing overhead. Writes one JSON record
  * to FILE, which `perfbench/run.py` turns into the printed result. */
object Main {
  val SetupReps = 3
  /** warm-up ends when the last two operations' walls differ by at most this share */
  val WarmTol = 0.05

  /** Spans that carry the standard Spark set. */
  val SparkSpans: Seq[String] = Seq("sources.scan", "operators.cdx_sort", "operators.dedup.simhash",
    "operators.dedup.cc", "sources.sink", "frontier.wave") ++ CrawlWaves.Labels
  val SparkSet: Seq[String] = Seq("wall_s", "self_s", "jobs", "task_cpu_s", "occupancy", "shuffle_mb", "spill_mb")
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_s", "records_per_s", "retained_heap_mb")
  /** end-to-end timings the traced run compares, traced minus untraced */
  val Overhead: Seq[String] = Seq("op_p50_s", "records_per_s")

  /** Every per-layer figure a traced run reports, in print order. A
    * layer the workload does not touch reports 0. */
  val PerLayer: Seq[String] = SparkSpans.flatMap(s => SparkSet.map(m => s"$s.$m")) ++ Seq(
    "sources.scan.records", "sources.scan.mb_in",
    "operators.dedup.simhash.candidates", "operators.dedup.simhash.pairs",
    "operators.dedup.simhash.pairs_per_candidate", "operators.dedup.simhash.truncated_docs",
    "operators.dedup.cc.rounds", "sources.sink.mb_written",
    "frontier.wave.driver_serial_s", "frontier.dedup_ratio", "frontier.fresh", "frontier.scheduled",
    "frontier.pending_total", "frontier.ckpt_mb_written_per_wave", "frontier.ckpt_mb_written_per_url",
    "frontier.compact_wave_s",
    "core.frame.records_per_s", "core.frame.inflated_mb_per_s", "core.cdx_project.rows_per_s",
    "core.surt.urls_per_s", "core.serialize.mb_per_s", "core.frame_project_mb_per_s",
    "cdx_index.parallel_efficiency", "trace.coverage", "trace.untracked_jobs") ++
    Overhead.map(m => s"trace_overhead.$m")

  /** Heap in use after full collections: what the program keeps alive
    * between calls. Two collections, so objects the first one queues
    * for Spark's cleaner are gone by the second. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(200)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  private def jsonObj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def jsonNums(kv: Iterable[(String, Double)]): String = jsonObj(kv.map { case (k, v) => k -> jsonNum(v) })

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val calibMs = Calibration.ms()

    val spark = graft.GraftSession.create(master = s"local[$nproc]", benchMode = false)
    Log("session up")
    val wl: Workload = workloadName match {
      case "cdx_index"     => new CdxIndex(spark, work, seed)
      case "crawl_waves"   => new CrawlWaves(spark, work, seed)
      case "dedup_rewrite" => new DedupRewrite(spark, work, seed)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted, failed = 0
    val checkLog = mutable.ArrayBuffer.empty[(String, Boolean)]
    def record(cs: Seq[(String, Boolean)]): Unit = {
      cs.foreach { case (n, ok) => attempted += 1; if (!ok) failed += 1; checkLog += ((n, ok)) }
    }

    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      val t = (System.nanoTime() - t0) / 1e9
      Log(f"setup $rep: $t%.3f s")
      t
    }
    val off = new Tracer("", enabled = false)
    val tw = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Double]
    val (warmMin, warmMax) = wl.warmUp
    def settled = warm.size >= 2 && math.abs(warm.last - warm(warm.size - 2)) <= WarmTol * warm(warm.size - 2)
    while (warm.size < warmMin || (warm.size < warmMax && !settled)) warm += wl.checkOp(wl.op(off)).wallS
    wl.checks.clear()
    val warmupS = (System.nanoTime() - tw) / 1e9
    Log(f"warm-up: ${warm.size} ops, $warmupS%.3f s")
    val tc = System.nanoTime()
    wl.prepareChecks()
    Log(f"reference: ${(System.nanoTime() - tc) / 1e9}%.3f s")

    val runId = f"$workloadName-$seed-${System.currentTimeMillis()}%x"
    val tr = new Tracer(runId, enabled = true)
    val listener = new JobListener
    val sc = spark.sparkContext
    /** one traced operation: the listener sees only its jobs */
    def tracedOp(): Op = {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.addSparkListener(listener)
      try wl.op(tr)
      finally { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
    }
    // the timed loop; traced, every second operation is traced
    val ops = mutable.ArrayBuffer.empty[(Op, Boolean)]
    val fixed = wl.fixedOps(trace)
    val t0 = System.nanoTime()
    def more = fixed match {
      case Some(n) => ops.size < n
      case None =>
        val min = if (trace) 2 * wl.minOps else wl.minOps
        ops.size < min || (System.nanoTime() - t0) / 1e9 < seconds || (trace && ops.size % 2 == 1)
    }
    while (more) {
      val traced = trace && ops.size % 2 == 1
      ops += ((wl.checkOp(if (traced) tracedOp() else wl.op(off)), traced))
    }
    val retained = retainedHeapMb()
    attempted += ops.size
    record(wl.checks.toSeq)
    val untraced = ops.collect { case (o, false) => o }.toSeq
    val traced = ops.collect { case (o, true) => o }.toSeq

    /** Gated figures cover the steady operations only: a scheduled
      * background step (the crawl's compaction wave) is reported apart. */
    def timings(os: Seq[Op]): Map[String, Double] = {
      val steady = os.filterNot(_.background)
      Map("op_p50_s" -> Workload.median(steady.map(_.wallS)),
        "records_per_s" -> steady.map(_.units).sum / steady.map(_.wallS).sum)
    }
    val base = timings(untraced)
    val e2e = Seq("setup_s" -> Workload.median(setupTimes), "op_p50_s" -> base("op_p50_s"),
      "records_per_s" -> base("records_per_s"), "retained_heap_mb" -> retained)
    val notes = mutable.ArrayBuffer.empty[(String, Double)]
    notes ++= wl.notes(untraced)

    val layer = mutable.LinkedHashMap(PerLayer.map(_ -> 0.0): _*)
    var traceLines: Seq[String] = Nil
    if (trace) {
      val attr = new Attribution(tr, listener, nproc, traced.size, wl.scanParents, "frontier.wave",
        CrawlWaves.labelOf, CrawlWaves.Labels)
      attr.compute()
      SparkSpans.foreach(s => attr.sparkSet(s).foreach { case (k, v) => layer(k) = v })
      val kernels = new Kernels(work.resolve("kernel-sample"), 0.6).run()
      kernels.foreach { case (k, v) => layer(k) = v }
      wl.layerFigures(attr, traced, kernels.toMap).foreach { case (k, v) => layer(k) = v }
      // share of the traced operations' wall time inside a layer span
      attr.byName.get(wl.opSpan).foreach(a => layer("trace.coverage") = 1.0 - a.self / a.wall)
      layer("trace.untracked_jobs") = attr.untracked.size.toDouble
      val withTrace = timings(traced)
      Overhead.foreach(k => layer(s"trace_overhead.$k") = withTrace(k) - base(k))
      notes ++= wl.notes(traced).map { case (k, v) => s"traced.$k" -> v }
      traceLines = attr.jsonLines
    }

    val tf = System.nanoTime()
    record(wl.finalChecks())
    Log(f"final checks: ${(System.nanoTime() - tf) / 1e9}%.3f s")
    val props = wl.inputProperties
    val context = Seq(
      "nproc" -> nproc.toString, "calib_ms" -> jsonNum(calibMs),
      "java_version" -> s""""${System.getProperty("java.version")}"""",
      "max_heap_mb" -> jsonNum(Runtime.getRuntime.maxMemory() / 1048576.0),
      "spark_version" -> s""""${spark.version}"""",
      "setup_runs_s" -> setupTimes.map(jsonNum).mkString("[", ",", "]"),
      "warmup_s" -> jsonNum(warmupS),
      "warmup_walls_s" -> warm.map(jsonNum).mkString("[", ",", "]"),
      "peak_rss_mb" -> jsonNum(vmHwmMb()),
      "timed_ops" -> untraced.size.toString,
      "op_walls_s" -> untraced.map(o => jsonNum(o.wallS)).mkString("[", ",", "]"),
      "traced_op_walls_s" -> traced.map(o => jsonNum(o.wallS)).mkString("[", ",", "]"))
    Log("context")
    spark.stop()
    Log("stopped")

    val out = jsonObj(Seq(
      "workload" -> s""""$workloadName"""",
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> jsonNums(e2e),
      "per_layer" -> jsonNums(layer),
      "notes" -> jsonNums(notes),
      "inputs" -> jsonNums(props),
      "context" -> jsonObj(context),
      "checks" -> jsonObj(checkLog.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> s"""{"passed":${v.count(_._2)},"failed":${v.count(!_._2)}}""" })))
    Files.write(Paths.get(opt("result")), out.getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(opt("result") + ".trace.jsonl"),
      traceLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
