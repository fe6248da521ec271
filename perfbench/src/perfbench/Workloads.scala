package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{CdxIndexing, WarcStreaming}
import graft.frontier.{Frontier, FrontierConfig, WaveResult}
import graft.operators.{CdxPipeline, CdxRow, Dedup}
import graft.sources.{WarcRow, WarcSink}
import scala.collection.mutable

/** One timed operation: its wall time, the input units it handled,
  * whether it is the workload's scheduled background-work step, and the
  * workload's domain counts for it (`stats`). */
final case class Op(wallS: Double, units: Double, background: Boolean = false,
                    readMb: Double = 0, writtenMb: Double = 0,
                    stats: Map[String, Double] = Map.empty)

/** A workload: a seeded input, a set-up, operations against the
  * engine's public entry points, and output checks. The client thread
  * makes one call at a time; `Main` drives the loop. */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** name of the span around one timed operation */
  def opSpan: String
  /** spans inside which stages reading WARC input count as `sources.scan` */
  def scanParents: Set[String] = Set.empty
  /** one set-up of the inputs and the engine's state, ending with one
    * cold engine call on them: repeated, and the median time is `setup_s` */
  def setup(rep: Int): Unit
  /** warm-up operations after the last set-up: at least `min`, then
    * until the last two agree within `Main.WarmTol`, at most `max` */
  def warmUp: (Int, Int)
  /** untimed preparation of the reference the output checks compare to */
  def prepareChecks(): Unit = ()
  /** one operation of the timed loop */
  def op(tr: Tracer): Op
  /** the checks of the operation just run, into `checks`; runs after the
    * listener of a traced operation is detached, so its jobs are not
    * attributed. Returns the operation with its domain counts. */
  def checkOp(o: Op): Op = o
  /** a fixed number of timed operations (untraced or traced phase), or
    * None to run until `--seconds` have passed, at least `minOps` */
  def fixedOps(traced: Boolean): Option[Int] = None
  def minOps: Int = 2
  /** output checks over the final state, name → passed */
  def finalChecks(): Seq[(String, Boolean)]
  /** measured shares of the input properties speed depends on */
  def inputProperties: Map[String, Double]
  /** workload-owned per-layer figures of the traced operations, given
    * the single-thread kernel rates */
  def layerFigures(attr: Attribution, ops: Seq[Op], kernels: Map[String, Double]): Seq[(String, Double)]
  /** figures for the run record that are neither gated nor per-layer */
  def notes(ops: Seq[Op]): Seq[(String, Double)] = Nil

  /** per-operation check results since the last `clear` */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]

  protected def timed(tr: Tracer, units: Double, background: Boolean = false)(body: => Unit): Op = {
    val (r0, w0) = Workload.fsBytes
    val t0 = System.nanoTime()
    tr.span(opSpan)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val (r1, w1) = Workload.fsBytes
    Log(f"$opSpan ${wall}%.3f s${if (tr.enabled) " traced" else ""}")
    Op(wall, units, background, (r1 - r0) / 1e6, (w1 - w0) / 1e6)
  }

  protected def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  protected def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

object Workload {
  /** Bytes read and written through the Hadoop local filesystem so far
    * (scan input, parquet and checkpoint files; not shuffle files). */
  def fsBytes: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** 64-bit order-independent multiset hash of strings. */
  def multisetHash(xs: Iterator[String]): (Long, Long) = {
    var sum, n = 0L
    xs.foreach { x =>
      val a = scala.util.hashing.MurmurHash3.stringHash(x, 0x5eed).toLong
      val b = scala.util.hashing.MurmurHash3.stringHash(x, 0x1234).toLong
      sum += (a << 32) ^ (b & 0xffffffffL)
      n += 1
    }
    (n, sum)
  }
}

// ---------------------------------------------------------------------
// cdx_index: WARC corpus → merged, globally sorted CDX on disk
// ---------------------------------------------------------------------

/** Indexing a crawl's WARCs into one sorted CDX. `core` (framing,
  * inflate, header parse, CDX projection), `sources` (the fused scan)
  * and the one range exchange do the work; `frontier` and `Dedup` do
  * none, so a change there predicts no change here. */
final class CdxIndex(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  import spark.implicits._
  val opSpan = "cdx_index.pass"
  override val scanParents = Set("operators.cdx_sort")
  private val spec = Corpus.Spec(files = 12, captures = 12000, hosts = 500, clusters = false)
  private val corpusDir = work.resolve("corpus")
  private val outDir = work.resolve("cdx")
  var corpus: Corpus.Result = _
  private var reference: (Long, Long) = _

  private def indexOnce(): Unit =
    CdxPipeline.mergedCdx(spark, corpus.paths).write.mode("overwrite").parquet(outDir.toString)

  /** A fresh corpus and its first, cold index pass. */
  def setup(rep: Int): Unit = {
    rmrf(corpusDir)
    corpus = Corpus.generate(spark, corpusDir, seed, spec)
    indexOnce()
  }

  val warmUp = (2, 4)

  /** Single-thread reference: the same framing, pairing and projection
    * on the driver, one file after another. */
  override def prepareChecks(): Unit = {
    val rows = corpus.paths.iterator.flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      val recs = WarcStreaming.parseStream(
        new java.io.BufferedInputStream(Files.newInputStream(java.nio.file.Paths.get(p))), name, isGzip = true)
      CdxIndexing.pairRecords(recs).flatMap(CdxPipeline.toCdxRow).map(_.toString)
    }
    reference = Workload.multisetHash(rows)
  }

  def op(tr: Tracer): Op = timed(tr, corpus.records.toDouble)(tr.span("operators.cdx_sort")(indexOnce()))

  override def checkOp(o: Op): Op = {
    checks += "cdx_row_count_per_pass" -> (spark.read.parquet(outDir.toString).count() == corpus.indexable)
    o
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    // part files in partition order: the range exchange makes that key order
    val parts = Files.list(outDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    var sorted = true
    var prev: (String, String) = null
    val all = mutable.ArrayBuffer.empty[String]
    parts.foreach { f =>
      spark.read.parquet(f.toString).as[CdxRow].collect().foreach { r =>
        val k = (r.urlkey, r.timestamp)
        if (prev != null && Ordering[(String, String)].gt(prev, k)) sorted = false
        prev = k
        all += r.toString
      }
    }
    val got = Workload.multisetHash(all.iterator)
    Seq(
      "cdx_row_count_equals_indexable" -> (got._1 == corpus.indexable),
      "cdx_hash_equals_single_thread_reference" -> (got == reference),
      "cdx_globally_sorted_by_urlkey_timestamp" -> sorted)
  }

  def inputProperties: Map[String, Double] = corpus.properties ++ Map(
    "corpus_mb" -> corpus.bytes / 1e6, "records" -> corpus.records.toDouble,
    "indexable" -> corpus.indexable.toDouble, "files" -> corpus.paths.size.toDouble)

  /** compressed corpus MB indexed per second */
  private def indexMbPerS(ops: Seq[Op]) = corpus.bytes / 1e6 * ops.size / ops.map(_.wallS).sum

  override def notes(ops: Seq[Op]): Seq[(String, Double)] = Seq("index_mb_per_s" -> indexMbPerS(ops))

  def layerFigures(attr: Attribution, ops: Seq[Op], kernels: Map[String, Double]): Seq[(String, Double)] = {
    val scan = attr.byName.get("sources.scan")
    val n = math.max(1, ops.size)
    val nproc = spark.sparkContext.defaultParallelism
    Seq(
      "sources.scan.records" -> scan.map(_.shuffleRecordsOut / n).getOrElse(0.0),
      // the range sampler and the sort's map side each read the corpus
      "sources.scan.mb_in" -> ops.map(_.readMb).sum / n,
      "cdx_index.parallel_efficiency" -> indexMbPerS(ops) / (nproc * kernels("core.frame_project_mb_per_s")))
  }
}

// ---------------------------------------------------------------------
// crawl_waves: the north-rule frontier, wave after wave
// ---------------------------------------------------------------------

/** The crawl frontier over a Zipf host pool with a deep backlog
  * (pending far above the per-wave schedule). `frontier` (seen-set LSM
  * probe, shuffles, checkpoint I/O, commit) and URL canonicalization do
  * the work; WARC framing does none.
  *
  * Production `FrontierConfig` (seen compaction every 8th wave). Waves
  * 1-4 are warm-up: the seed hosts' queue heads drain and the first
  * backlog refill lands in wave 4, so the schedule settles. Untraced,
  * the steady waves 5-7 before the compaction are timed; traced, waves
  * 5-8 alternate untraced and traced, so the compaction wave (8) is
  * traced. `--seconds` does not change the wave count. */
final class CrawlWaves(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  val opSpan = "frontier.wave"
  private val seeds = 20000
  private val warmWaves = 4
  private var ckpt: Path = _
  private var cfg: FrontierConfig = _
  private var frontier: Frontier = _
  private val inits = mutable.ArrayBuffer.empty[WaveResult]
  private val waves = mutable.ArrayBuffer.empty[WaveResult]

  /** Seed generation and `initialize` into a fresh checkpoint. */
  def setup(rep: Int): Unit = {
    if (ckpt != null) rmrf(ckpt)
    ckpt = work.resolve(s"ckpt-$rep")
    cfg = FrontierConfig(checkpointDir = ckpt.toString, seed = seed)
    frontier = new Frontier(spark, cfg)
    inits += frontier.initialize(Frontier.syntheticSeeds(spark, seeds, seed, cfg.hostPool))
  }

  /** a fixed count: wave times follow the crawl's state, not only the JIT */
  val warmUp = (warmWaves, warmWaves)

  override def fixedOps(traced: Boolean): Option[Int] = {
    require(frontier.latestCommittedWave() == warmWaves, "timed waves must follow the warm-up waves")
    val steady = cfg.compactEvery - 1 - warmWaves
    Some(if (traced) steady + 1 else steady)
  }

  def op(tr: Tracer): Op = {
    val wave = frontier.latestCommittedWave() + 1
    spark.sparkContext.setJobDescription(null) // no stale label from the previous call
    var r: WaveResult = null
    val o = timed(tr, 0, background = wave % cfg.compactEvery == 0) { r = frontier.runWave() }
    waves += r
    checks += "wave_schedules_from_backlog" -> (r.scheduled > 0 && r.pendingTotal > r.scheduled)
    o.copy(units = (r.scheduled + r.deduped).toDouble, stats = Map(
      "wave" -> r.wave.toDouble, "scheduled" -> r.scheduled.toDouble, "deduped" -> r.deduped.toDouble,
      "fresh" -> r.fresh.toDouble, "pending" -> r.pendingTotal.toDouble))
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val last = frontier.latestCommittedWave()
    val sched = (1 to last).map(w => frontier.scheduledDf(w).select("wave", "host", "surt_key"))
      .reduce(_ unionByName _)
    val twice = sched.groupBy("surt_key").count().filter(col("count") > 1).count()
    val overBudget = sched.groupBy("wave", "host").count()
      .filter(col("count") > cfg.hostBudget).count()
    Seq(
      "no_surt_key_scheduled_twice" -> (twice == 0),
      "no_host_over_budget_in_any_wave" -> (overBudget == 0),
      "counts_identical_across_setups" -> (inits.map(_.copy(elapsedSec = 0)).distinct.size == 1))
  }

  def inputProperties: Map[String, Double] = {
    // the hottest host's share of the seed list, by the same host rule
    // the seed synthesizer applies
    val hot = Frontier.syntheticSeeds(spark, seeds, seed, cfg.hostPool)
      .select(regexp_extract(col("url"), "host(\\d+)\\.", 1).as("h"))
      .groupBy("h").count().agg(max("count")).head().getLong(0)
    Map("seeds" -> seeds.toDouble, "host_pool" -> cfg.hostPool.toDouble,
      "hottest_host_share" -> hot.toDouble / seeds,
      "pending_at_start" -> waves(warmWaves - 1).pendingTotal.toDouble,
      "dedup_ratio" -> dedupRatio(waves.drop(warmWaves).map(w =>
        Map("scheduled" -> w.scheduled.toDouble, "deduped" -> w.deduped.toDouble)).toSeq))
  }

  /** deduped ÷ candidates: each scheduled URL yields `outlinksPerUrl`
    * discovered candidates; `deduped` are those new to the seen set. */
  private def dedupRatio(ws: Seq[Map[String, Double]]): Double =
    ws.map(_("deduped")).sum / math.max(1.0, ws.map(_("scheduled") * cfg.outlinksPerUrl).sum)

  override def notes(ops: Seq[Op]): Seq[(String, Double)] = {
    // equal digests across runs of one seed: the crawl counts repeat exactly
    val digest = Workload.multisetHash((inits ++ waves)
      .map(w => w.copy(elapsedSec = 0).toString).iterator)._2
    val steady = ops.filterNot(_.background)
    Seq("counts_digest" -> (digest >>> 11).toDouble,
      "wave_p50_s" -> Workload.median(steady.map(_.wallS)),
      "crawl_urls_per_s" -> steady.map(_.units).sum / steady.map(_.wallS).sum) ++
      ops.filter(_.background).map(o => "wave_compact_s" -> o.wallS) ++
      ops.map(o => s"dedup_ratio.wave${o.stats("wave").toInt}" -> dedupRatio(Seq(o.stats)))
  }

  def layerFigures(attr: Attribution, ops: Seq[Op], kernels: Map[String, Double]): Seq[(String, Double)] = {
    val n = math.max(1, ops.size).toDouble
    val ck = ops.map(_.writtenMb).sum
    val sched = ops.map(_.stats("scheduled")).sum
    Seq(
      "frontier.dedup_ratio" -> dedupRatio(ops.map(_.stats)),
      "frontier.fresh" -> ops.map(_.stats("fresh")).sum / n,
      "frontier.scheduled" -> sched / n,
      "frontier.pending_total" -> ops.map(_.stats("pending")).sum / n,
      "frontier.ckpt_mb_written_per_wave" -> ck / n,
      "frontier.ckpt_mb_written_per_url" -> ck / math.max(1.0, sched),
      "frontier.wave.driver_serial_s" -> attr.byName.get("frontier.wave").map(_.self / 1e3 / n).getOrElse(0.0),
      "frontier.compact_wave_s" -> ops.filter(_.background).map(_.wallS).sum)
  }
}

object CrawlWaves {
  /** `spark.job.description` labels the frontier sets → sub-span names */
  val Labels: Seq[String] = Seq("frontier.schedule", "frontier.discover", "frontier.seen_delta",
    "frontier.shards", "frontier.maint", "frontier.unlabeled")
  def labelOf(desc: String): String =
    if (desc == null) "frontier.unlabeled"
    else if (desc.matches("wave\\d+:schedule")) "frontier.schedule"
    else if (desc.matches("wave\\d+:discover")) "frontier.discover"
    else if (desc == "wave:seenDelta") "frontier.seen_delta"
    else if (desc == "wave:shards") "frontier.shards"
    else if (desc == "wave:maint" || desc.startsWith("maint:")) "frontier.maint"
    else "frontier.unlabeled"
}

// ---------------------------------------------------------------------
// dedup_rewrite: exact + near-dup dedup, keepers rewritten as WARC
// ---------------------------------------------------------------------

/** Deduplicating crawled content and rewriting the keepers. It reads
  * WARC the other way round from `cdx_index`: payloads are inflated,
  * not skipped, through the v2 `format("warc")` source, and it writes
  * as well as reads. Near-dups are planted in clusters of known size. */
final class DedupRewrite(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  import spark.implicits._
  val opSpan = "dedup_rewrite.pass"
  override val scanParents = Set("operators.dedup.simhash", "sources.sink")
  private val maxDist = 3
  private val spec = Corpus.Spec(files = 8, captures = 3000, hosts = 300, clusters = true,
    exactDupShare = 0.1, maxDist = maxDist)
  private val corpusDir = work.resolve("corpus")
  private val outDir = work.resolve("rewrite")
  var corpus: Corpus.Result = _
  private var refPairs: Set[(Long, Long)] = _
  private var refKeepers: Set[String] = _
  private var lastPairs: Set[(Long, Long)] = _

  /** One dedup pass over the corpus into `outDir`; returns the near-dup
    * pairs and the simhash truncation counter. */
  private def pass(tr: Tracer): (org.apache.spark.sql.DataFrame, org.apache.spark.util.LongAccumulator) = {
    val docs = responses()
    // 1. exact payload dedup: one keeper id per payload
    val exact = exactKeepers(docs)
    val uniq = docs.join(exact, "id")
    // 2. near-dup pairs over the exact-unique docs
    val text = uniq.select(col("id"), col("payload").cast("string").as("text"))
    val trunc = Dedup.truncationAccumulator(text, "perfbench.simhash.truncated_docs")
    val pairs = Dedup.simhashPairs(text, "id", "text", maxDist, truncAcc = Some(trunc))
    val pairRows = tr.span("operators.dedup.simhash") { pairs.localCheckpoint() }
    // 3. components, one keeper each
    val keep = tr.span("operators.dedup.cc") {
      Dedup.keepPerComponent(Dedup.connectedComponentsStar(pairRows)).localCheckpoint()
    }
    // 4. rewrite the keepers
    val dropped = keep.filter(!col("keep")).select("id")
    val keepers = uniq.join(dropped, Seq("id"), "left_anti").drop("id").as[WarcRow]
    tr.span("sources.sink") { WarcSink.write(keepers, outDir.toString) }
    (pairRows, trunc)
  }

  private def responses() = spark.read.format("warc").load(corpusDir.toString)
    .filter(col("warcType") === "response")
    .withColumn("id", regexp_extract(col("targetUri"), "/doc/(\\d+)", 1).cast("long"))

  private def exactKeepers(docs: org.apache.spark.sql.DataFrame) =
    Dedup.exact(docs, "id", "payload").select(col("keep_id").as("id"))

  private var uniqCount = 0L

  /** A fresh corpus and a first, cold read of it with payloads through
    * the v2 source and the exact-dedup step. */
  def setup(rep: Int): Unit = {
    rmrf(corpusDir)
    corpus = Corpus.generate(spark, corpusDir, seed, spec)
    exactKeepers(responses()).count()
  }

  val warmUp = (2, 3)

  /** Reference on the driver: exact groups by payload, all-pairs simhash
    * distance over the unique docs, union-find components, min id kept. */
  override def prepareChecks(): Unit = {
    val byBody = corpus.docs.groupBy(d => java.nio.ByteBuffer.wrap(d.body))
    val uniq = byBody.values.map(_.minBy(_.id)).toVector.sortBy(_.id)
    uniqCount = uniq.size.toLong
    val sh = uniq.map(d => Dedup.simhash64(new String(d.body, "UTF-8")))
    val parent = Array.tabulate(uniq.size)(identity)
    def find(i: Int): Int = { var x = i; while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }; x }
    val pairs = mutable.Set.empty[(Long, Long)]
    var i = 0
    while (i < uniq.size) {
      var j = i + 1
      while (j < uniq.size) {
        if (java.lang.Long.bitCount(sh(i) ^ sh(j)) <= maxDist) {
          pairs += ((uniq(i).id, uniq(j).id))
          parent(find(i)) = find(j)
        }
        j += 1
      }
      i += 1
    }
    refPairs = pairs.toSet
    refKeepers = uniq.indices.groupBy(find).values.map(g => uniq(g.minBy(k => uniq(k).id)).recordId).toSet
    corpus = corpus.copy(docs = Vector.empty) // the bodies are not needed again
  }

  private var lastRes: (org.apache.spark.sql.DataFrame, org.apache.spark.util.LongAccumulator) = _

  def op(tr: Tracer): Op = {
    rmrf(outDir)
    timed(tr, corpus.responses.toDouble) { lastRes = pass(tr) }
  }

  override def checkOp(o: Op): Op = {
    lastPairs = lastRes._1.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    if (refPairs != null) checks += "simhash_pairs_equal_reference_per_pass" -> (lastPairs == refPairs)
    o.copy(stats = Map("candidates" -> uniqCount.toDouble, "pairs" -> lastPairs.size.toDouble,
      "truncated" -> lastRes._2.value.doubleValue()))
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val files = Files.list(outDir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".warc.gz"))
    val ids = mutable.ArrayBuffer.empty[String]
    var digestsOk = true
    files.foreach { f =>
      WarcStreaming.parseStream(new java.io.BufferedInputStream(Files.newInputStream(f)),
        f.getFileName.toString, isGzip = true).foreach { r =>
        ids += r.warcHeader("WARC-Record-ID").getOrElse("")
        val http = Option(r.httpStatusline).map { sl =>
          (graft.core.StatusAndHeaders(sl, r.httpHeaders, Set.empty).serialize + "\r\n").getBytes("UTF-8")
        }.getOrElse(Array.emptyByteArray)
        digestsOk &&= r.warcHeader("WARC-Payload-Digest").contains(Corpus.sha1Digest(r.payload)) &&
          r.warcHeader("WARC-Block-Digest").contains(Corpus.sha1Digest(http, r.payload))
      }
    }
    val want = refKeepers.map(id => s"<urn:uuid:$id>")
    Seq(
      "every_planted_pair_within_max_dist_found" -> refPairs.subsetOf(lastPairs),
      "keeper_count_equals_planted_clusters" -> (refKeepers.size == corpus.clusterCount),
      "rewrite_rescans_to_exactly_the_keepers" -> (ids.size == want.size && ids.toSet == want),
      "rewrite_digests_valid" -> digestsOk)
  }

  override def notes(ops: Seq[Op]): Seq[(String, Double)] =
    Seq("dedup_docs_per_s" -> ops.map(_.units).sum / ops.map(_.wallS).sum)

  def inputProperties: Map[String, Double] = corpus.properties ++ Map(
    "corpus_mb" -> corpus.bytes / 1e6, "docs" -> corpus.responses.toDouble,
    "planted_clusters" -> corpus.clusterCount.toDouble,
    "exact_dup_share" -> (1.0 - uniqCount.toDouble / corpus.responses))

  def layerFigures(attr: Attribution, ops: Seq[Op], kernels: Map[String, Double]): Seq[(String, Double)] = {
    val n = math.max(1, ops.size).toDouble
    val cand = ops.map(_.stats("candidates")).sum / n
    val pairs = ops.map(_.stats("pairs")).sum / n
    val scan = attr.byName.get("sources.scan")
    // connectedComponentsStar checkpoints its edges once, then twice per
    // round (large-star, small-star)
    val checkpoints = attr.jobsAt(cs => cs.startsWith("localCheckpoint at Dedup.scala")).toDouble / n
    Seq(
      "operators.dedup.simhash.candidates" -> cand,
      "operators.dedup.simhash.pairs" -> pairs,
      "operators.dedup.simhash.pairs_per_candidate" -> pairs / math.max(1.0, cand),
      "operators.dedup.simhash.truncated_docs" -> ops.map(_.stats("truncated")).sum / n,
      "operators.dedup.cc.rounds" -> math.max(0.0, (checkpoints - 1) / 2),
      "sources.sink.mb_written" -> dirBytes(outDir) / 1e6,
      "sources.scan.records" -> scan.map(_.inputRecords / n).getOrElse(0.0),
      "sources.scan.mb_in" -> ops.map(_.readMb).sum / n)
  }
}
