package perfbench

import java.nio.file.{Files, Path}
import graft.core.{CdxIndexing, FramedRecord, UrlCanon, WarcStreaming, WarcWriter}

/** Single-thread `core` kernels over one fixed sample file, outside
  * Spark: the baseline the parallel runs are read against. Each kernel
  * repeats over the sample for about `budgetS` seconds. */
final class Kernels(dir: Path, budgetS: Double) {
  // the sample never depends on the run's seed, so its rates compare across runs
  private val sample = {
    val spec = Corpus.Spec(files = 1, captures = 1500, hosts = 500, clusters = false)
    Files.createDirectories(dir)
    Corpus.combine(Seq(Corpus.generateFile(dir.toString, 0L, 0, spec, spec.captures)), spec)
  }
  private val bytes = Files.readAllBytes(java.nio.file.Paths.get(sample.paths.head))
  private val inflatedBytes = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
  }

  private def parse(): Iterator[FramedRecord] =
    WarcStreaming.parseStream(new java.io.ByteArrayInputStream(bytes), "sample.warc.gz", isGzip = true)

  private val records: Vector[FramedRecord] = parse().toVector

  /** (iterations, seconds) of repeating `body` for about budgetS, at least 3 times */
  private def repeat(body: => Unit): (Int, Double) = {
    body // warm-up
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - t0) / 1e9 < budgetS) { body; n += 1 }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  private var sink = 0L

  def run(): Seq[(String, Double)] = {
    val (fn, fs) = repeat { sink += parse().size }
    val (pn, ps) = repeat {
      sink += CdxIndexing.pairRecords(records.iterator)
        .flatMap(p => CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS)).size
    }
    val rows = CdxIndexing.pairRecords(records.iterator)
      .flatMap(p => CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS)).size
    val urls = records.flatMap(r => Option(r.warcTargetURI)) ++
      (0 until 2000).map(i => s"https://www.Host${i % 97}.Example.org:443/a/./b/../c%7e$i?z=1&a=$i#frag")
    val (un, us) = repeat { urls.foreach(u => sink += UrlCanon.surt(u).length) }
    val responses = records.filter(_.warcType == "response")
    val serializedMb = responses.map(r => r.payload.length + 600).sum / 1e6
    val (sn, ss) = repeat {
      responses.foreach { r =>
        // digests dropped so serialize computes SHA-1 block and payload digests
        val h = new WarcWriter.OrderedHeaders(r.warcHeaders
          .filterNot(kv => kv.name.endsWith("-Digest")).map(kv => (kv.name, kv.value)))
        sink += WarcWriter.serialize(
          WarcWriter.BuiltRecord(r.warcVersion, h, Option(r.httpStatusline), r.httpHeaders, r.payload),
          WarcWriter.CdxDigest, gzip = true).length
      }
    }
    val mb = bytes.length / 1e6
    val frameS = fs / fn
    val projectS = ps / pn
    Seq(
      "core.frame.records_per_s" -> records.size / frameS,
      "core.frame.inflated_mb_per_s" -> inflatedBytes / 1e6 / frameS,
      "core.cdx_project.rows_per_s" -> rows / projectS,
      "core.surt.urls_per_s" -> urls.size * un / us,
      "core.serialize.mb_per_s" -> serializedMb * sn / ss,
      // compressed input MB/s of framing + projection on one thread
      "core.frame_project_mb_per_s" -> mb / (frameS + projectS))
  }
}

/** Fixed single-thread spin: a run made in a noisy window shows up as a
  * slow calibration in its own record. */
object Calibration {
  def ms(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 1469598103934665603L
      var i = 0
      while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    once(); math.min(once(), once())
  }
}
