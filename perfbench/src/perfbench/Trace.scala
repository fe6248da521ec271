package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with nanosecond steps, on the same
  * base as the epoch-millisecond times Spark stamps on listener events. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** A span the harness opens around one call into a layer. `parent` is
  * the enclosing span's id (-1 for a root); `run` ties every span of one
  * workload run together. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      start: Double, var end: Double = Double.NaN)

/** In-memory span recorder. With `enabled` false it only runs the body:
  * end-to-end figures are measured that way. */
final class Tracer(val run: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, run, Clock.nowMs)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = Clock.nowMs; stack = stack.tail }
    }
}

/** Benchmark-owned listener: one record per job and per stage, with the
  * task metrics summed per stage. Events arrive on the listener-bus
  * thread; they are read only after the bus has drained. */
final class JobListener extends SparkListener {
  final class JobRec(val id: Int, val start: Double, val desc: String, val callSite: String,
                     val stages: Seq[Int]) { @volatile var end: Double = Double.NaN }
  final class StageRec(val id: Int, val scansWarc: Boolean) {
    var submit, complete = Double.NaN
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, shuffleRecordsOut, inputRecords, tasks = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  /** A stage that reads WARC input directly: the v1 scan lists files
    * through `binaryFile` (a FileScanRDD), the v2 source is a DataSourceRDD. */
  private def scansWarc(si: StageInfo): Boolean =
    si.rddInfos.exists(r => r.name.contains("FileScanRDD") || r.name.contains("DataSourceRDD"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble,
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).orNull,
      // the result stage is named after the job's call site
      if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId).name,
      e.stageIds))
    e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageRec(si.stageId, scansWarc(si))))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = stages.computeIfAbsent(si.stageId, _ => new StageRec(si.stageId, scansWarc(si)))
    si.submissionTime.foreach(t => s.submit = t.toDouble)
    si.completionTime.foreach(t => s.complete = t.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id, false))
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecordsOut += m.shuffleWriteMetrics.recordsWritten
      s.inputRecords += m.inputMetrics.recordsRead
      s.spill += m.diskBytesSpilled
    }
  }
}

/** Turns spans plus listener records into per-layer figures.
  *
  * Rules:
  *  - a job belongs to the innermost span open at its start time (the
  *    client makes one call at a time, so this also catches jobs that
  *    engine-owned threads submit without the caller's job group);
  *  - inside a span named in `scanParents`, stages that read WARC input
  *    form a derived child span `sources.scan`;
  *  - inside a span named `labelParent`, jobs form derived child spans
  *    by their `spark.job.description` label (`labelOf`);
  *  - wall_s is inclusive, self_s is wall_s minus the part of it that
  *    child spans (harness or derived) cover; the Spark set of a span
  *    covers every stage that ran inside it, children included;
  *  - every figure is divided by `ops`, the number of traced
  *    operations, so it reads "per pass" or "per wave". */
final class Attribution(tracer: Tracer, listener: JobListener, nproc: Int, ops: Int,
                        scanParents: Set[String], labelParent: String,
                        labelOf: String => String, labelNames: Seq[String]) {

  final class Agg {
    var wall, self, runMs, cpuNs, shuffle, spill, shuffleRecordsOut, inputRecords = 0.0
    val jobs = mutable.Set.empty[Int]
    def add(stageRecs: Iterable[listener.StageRec]): Unit = stageRecs.foreach { s =>
      runMs += s.runMs; cpuNs += s.cpuNs
      shuffle += s.shuffleRead + s.shuffleWrite; spill += s.spill
      shuffleRecordsOut += s.shuffleRecordsOut; inputRecords += s.inputRecords
    }
  }
  val byName = mutable.LinkedHashMap.empty[String, Agg]
  private def agg(n: String) = byName.getOrElseUpdate(n, new Agg)

  private def unionLen(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter(x => x._2 > x._1).sortBy(_._1)
    var tot, curS, curE = 0.0
    var open = false
    sorted.foreach { case (s, e) =>
      if (!open || s > curE) { if (open) tot += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) tot += curE - curS
    tot
  }

  private val jobsAll = listener.jobs.values().asScala.toSeq.sortBy(_.start)
  private val spans = tracer.spans.toVector
  private val depth: Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = if (s.parent < 0) 0 else 1 + d(byId(s.parent))
    spans.map(s => s.id -> d(s)).toMap
  }
  /** job id → innermost span open at the job's start */
  val jobSpan: Map[Int, Span] = jobsAll.flatMap { j =>
    val open = spans.filter(s => s.start <= j.start && j.start <= s.end)
    if (open.isEmpty) None else Some(j.id -> open.maxBy(s => depth(s.id)))
  }.toMap
  /** jobs that started inside no span at all */
  val untracked: Seq[Int] = jobsAll.map(_.id).filterNot(jobSpan.contains)

  private def stagesOf(jobIds: Iterable[Int]): Seq[listener.StageRec] =
    jobIds.flatMap(j => listener.jobs.get(j).stages).toSeq.distinct
      .flatMap(id => Option(listener.stages.get(id))).filter(_.tasks > 0)

  private def clip(iv: (Double, Double), s: Span) = (math.max(iv._1, s.start), math.min(iv._2, s.end))

  def compute(): Unit = {
    val children = spans.groupBy(_.parent)
    def jobsUnder(s: Span): Seq[Int] = {
      val own = jobSpan.collect { case (j, sp) if sp.id == s.id => j }.toSeq
      own ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)
    }
    spans.foreach { s =>
      val a = agg(s.name)
      val jobIds = jobsUnder(s)
      a.wall += s.end - s.start
      a.jobs ++= jobIds
      a.add(stagesOf(jobIds))
      val childIv = mutable.ArrayBuffer.empty[(Double, Double)]
      children.getOrElse(s.id, Nil).foreach(c => childIv += ((c.start, c.end)))
      val ownJobs = jobSpan.collect { case (j, sp) if sp.id == s.id => j }.toSeq
      if (scanParents.contains(s.name)) {
        val scan = stagesOf(ownJobs).filter(_.scansWarc)
        val iv = scan.map(st => clip((st.submit, st.complete), s))
        val c = agg("sources.scan")
        c.wall += unionLen(iv); c.self += unionLen(iv)
        c.jobs ++= ownJobs.filter(j => listener.jobs.get(j).stages.exists(id => scan.exists(_.id == id)))
        c.add(scan)
        childIv ++= iv
      }
      if (s.name == labelParent) {
        val grouped = ownJobs.groupBy(j => labelOf(listener.jobs.get(j).desc))
        labelNames.foreach(n => agg(n))
        grouped.foreach { case (label, js) =>
          val iv = js.map(j => listener.jobs.get(j)).map(j => clip((j.start, j.end), s))
          val c = agg(label)
          c.wall += unionLen(iv); c.self += unionLen(iv)
          c.jobs ++= js
          c.add(stagesOf(js))
          childIv ++= iv
        }
      }
      a.self += (s.end - s.start) - unionLen(childIv.toSeq.map(iv => clip(iv, s)))
    }
  }

  /** The standard Spark set of one layer, per operation. */
  def sparkSet(name: String): Seq[(String, Double)] = {
    val a = byName.getOrElse(name, new Agg)
    val n = math.max(1, ops).toDouble
    val wallS = a.wall / 1e3
    Seq(
      s"$name.wall_s" -> wallS / n,
      s"$name.self_s" -> a.self / 1e3 / n,
      s"$name.jobs" -> a.jobs.size / n,
      s"$name.task_cpu_s" -> a.cpuNs / 1e9 / n,
      s"$name.occupancy" -> (if (wallS > 0) a.runMs / 1e3 / (wallS * nproc) else 0.0),
      s"$name.shuffle_mb" -> a.shuffle / 1e6 / n,
      s"$name.spill_mb" -> a.spill / 1e6 / n)
  }

  /** Number of traced jobs whose call site matches `p`. */
  def jobsAt(p: String => Boolean): Int =
    listener.jobs.values().asScala.count(j => j.callSite != null && p(j.callSite))

  /** Spans and jobs as JSON lines, for the run's trace file. */
  def jsonLines: Seq[String] = {
    def esc(x: String) = Option(x).map(_.replace("\\", "\\\\").replace("\"", "\\\"")).getOrElse("")
    spans.map(s =>
      f"""{"kind":"span","run":"${esc(s.run)}","id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""") ++
      jobsAll.map(j =>
        f"""{"kind":"job","id":${j.id},"span":${jobSpan.get(j.id).map(_.id).getOrElse(-1)},"desc":"${esc(j.desc)}","call_site":"${esc(j.callSite)}","start_ms":${j.start}%.3f,"end_ms":${j.end}%.3f}""")
  }
}
