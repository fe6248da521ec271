package perfbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.collection.mutable

/** Seeded synthetic WARC corpus, written as multi-member `.warc.gz`
  * (one gzip member per record, the layout crawlers write).
  *
  * The generator is the benchmark's own: it calls no engine code (not
  * its writer, not its simhash), so an engine change cannot change the
  * inputs. Everything is derived from `seed`; the same seed gives
  * byte-identical files.
  *
  * Input properties the engine's speed depends on are skewed on
  * purpose: host popularity is Zipf, body sizes are heavy-tailed, one
  * file is oversized, and bodies mix identity, chunked and gzip content
  * encodings. The shares are chosen, not taken from a crawl (see
  * perfbench/README.md for which have a published source); every run
  * records the shares it generated. */
object Corpus {

  final case class Spec(
      files: Int,
      captures: Int,
      hosts: Int,
      /** near-dup mode: bodies come from planted clusters (dedup workload) */
      clusters: Boolean,
      /** share of captures whose body is an exact copy of an earlier one */
      exactDupShare: Double = 0.0,
      /** simhash distance a planted cluster member may have from its base */
      maxDist: Int = 3)

  /** One response document as the generator wrote it. */
  final case class Doc(id: Long, body: Array[Byte], cluster: Int, recordId: String)

  final case class Result(
      paths: Seq[String],
      bytes: Long,
      records: Long,
      /** response + revisit records: the rows a CDX index must hold */
      indexable: Long,
      responses: Long,
      docs: Vector[Doc],
      clusterCount: Int,
      properties: Map[String, Double])

  private val Words: Array[String] = {
    val r = new java.util.Random(7L)
    val syl = Array("ar", "chi", "ve", "web", "crawl", "in", "dex", "re", "cord", "to", "ma",
      "sur", "tal", "en", "co", "de", "pay", "load", "head", "er", "spark", "frame")
    Array.tabulate(4096) { _ =>
      val n = 1 + r.nextInt(3)
      (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }
  }

  /** Zipf(s) sampler over [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def text(r: java.util.Random, words: Int): String = {
    val sb = new java.lang.StringBuilder(words * 7)
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(if (i % 13 == 0) '\n' else ' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    sb.toString
  }

  /** Text of fresh random tokens: unlike `text`, no shared vocabulary, so
    * the simhashes of two such texts are independent and planted clusters
    * do not fall within near-dup distance of each other by accident. */
  private def freshText(r: java.util.Random, words: Int): String = {
    val sb = new java.lang.StringBuilder(words * 8)
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      var n = 3 + r.nextInt(7)
      while (n > 0) { sb.append(('a' + r.nextInt(26)).toChar); n -= 1 }
      i += 1
    }
    sb.toString
  }

  /** Heavy-tailed word count: mostly 100-600 words, a Pareto tail to ~40k. */
  private def bodyWords(r: java.util.Random): Int = {
    val pareto = 150.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)
    math.min(40000, pareto.toInt + 50)
  }

  private def sha1(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-1")
    parts.foreach(md.update)
    md.digest()
  }

  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** RFC 4648 base32 of a SHA-1 digest (20 bytes = 32 chars, no padding). */
  def base32(d: Array[Byte]): String = {
    val sb = new StringBuilder
    var bits = 0
    var v = 0
    d.foreach { b =>
      v = (v << 8) | (b & 0xff); bits += 8
      while (bits >= 5) { sb.append(B32((v >>> (bits - 5)) & 31)); bits -= 5 }
    }
    if (bits > 0) sb.append(B32((v << (5 - bits)) & 31))
    sb.toString
  }

  def sha1Digest(parts: Array[Byte]*): String = "sha1:" + base32(sha1(parts: _*))

  private def gzip(data: Array[Byte], bos: ByteArrayOutputStream): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(bos, 65536) {
      `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
    }
    gz.write(data)
    gz.close() // frees the deflater's native memory now, not at the next GC
  }

  private def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 3 + 64)
    gzip(data, bos)
    bos.toByteArray
  }

  private def chunked(body: Array[Byte], r: java.util.Random): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 64)
    var off = 0
    while (off < body.length) {
      val n = math.min(body.length - off, 512 + r.nextInt(8192))
      out.write(Integer.toHexString(n).getBytes(UTF_8))
      out.write("\r\n".getBytes(UTF_8))
      out.write(body, off, n)
      out.write("\r\n".getBytes(UTF_8))
      off += n
    }
    out.write("0\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  private final class Writer(out: OutputStream) {
    var bytes = 0L
    private val member = new ByteArrayOutputStream(1 << 16)
    def record(warcType: String, url: String, date: String, id: String,
               contentType: String, httpBlock: Array[Byte], payload: Array[Byte],
               extra: Seq[(String, String)] = Nil, payloadDigest: String = null): Unit = {
      val h = new java.lang.StringBuilder(512)
      h.append("WARC/1.0\r\n")
      h.append("WARC-Type: ").append(warcType).append("\r\n")
      h.append("WARC-Record-ID: <urn:uuid:").append(id).append(">\r\n")
      if (url != null) h.append("WARC-Target-URI: ").append(url).append("\r\n")
      h.append("WARC-Date: ").append(date).append("\r\n")
      extra.foreach { case (k, v) => h.append(k).append(": ").append(v).append("\r\n") }
      if (warcType == "response" || warcType == "request" || warcType == "revisit")
        h.append("WARC-Payload-Digest: ")
          .append(if (payloadDigest != null) payloadDigest else sha1Digest(payload)).append("\r\n")
      h.append("WARC-Block-Digest: ").append(sha1Digest(httpBlock, payload)).append("\r\n")
      h.append("Content-Type: ").append(contentType).append("\r\n")
      h.append("Content-Length: ").append(httpBlock.length + payload.length).append("\r\n\r\n")
      val raw = new ByteArrayOutputStream(httpBlock.length + payload.length + 600)
      raw.write(h.toString.getBytes(UTF_8))
      raw.write(httpBlock)
      raw.write(payload)
      raw.write("\r\n\r\n".getBytes(UTF_8))
      member.reset()
      gzip(raw.toByteArray, member)
      member.writeTo(out)
      bytes += member.size()
    }
  }

  private def uuid(r: java.util.Random): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private def date(i: Long): String = {
    val t = java.time.Instant.ofEpochSecond(1600000000L + i * 7L)
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(t)
  }

  /** 64-bit SimHash of whitespace tokens, a frozen copy of the engine's
    * `Dedup.simhash64` as of the benchmark's first version. Only the
    * generator uses it, to plant clusters; the output checks use the
    * engine's own function. */
  def plantSimhash64(text: String): Long = {
    val counts = new Array[Int](64)
    for (w <- text.split("\\s+") if w.nonEmpty) {
      var h = 1125899906842597L
      var c = 0
      while (c < w.length) { h = 31 * h + w.charAt(c); c += 1 }
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h = h ^ (h >>> 31)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Planted near-dup clusters: a base text per cluster and members that
    * differ by a few word edits, each accepted only when its simhash
    * (`plantSimhash64`) is within `maxDist` of the base, so every cluster
    * is connected. */
  private def clusterBodies(r: java.util.Random, spec: Spec, n: Int)
      : (Vector[(Array[Byte], Int)], Int) = {
    val out = Vector.newBuilder[(Array[Byte], Int)]
    var made = 0
    var cluster = 0
    while (made < n) {
      // a third of documents are singletons; the rest sit in clusters of 2-8
      val size = if (r.nextInt(3) == 0) 1 else math.min(n - made, 2 + r.nextInt(7))
      val baseWords = freshText(r, 150 + r.nextInt(250)).split(' ')
      val baseSh = plantSimhash64(baseWords.mkString(" "))
      out += ((baseWords.mkString(" ").getBytes(UTF_8), cluster))
      var m = 1
      while (m < size) {
        var ok = false
        var tries = 0
        while (!ok) {
          tries += 1
          if (tries > 10000) throw new IllegalStateException(s"no near-dup member within ${spec.maxDist} bits")
          val w = baseWords.clone()
          (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = freshText(r, 1))
          val t = w.mkString(" ")
          if (java.lang.Long.bitCount(plantSimhash64(t) ^ baseSh) <= spec.maxDist) {
            out += ((t.getBytes(UTF_8), cluster))
            ok = true
          }
        }
        m += 1
      }
      made += size
      cluster += 1
    }
    (out.result(), cluster)
  }

  /** What one generated file holds; summed into a `Result`. */
  final case class FileResult(path: String, bytes: Long, records: Long, indexable: Long,
                              responses: Long, chunked: Long, gzip: Long, revisits: Long,
                              posts: Long, hostHits: Array[Long], docs: Vector[Doc], clusters: Int)

  /** Captures per file: one oversized file takes ~4x an ordinary file's share. */
  private def fileCaptures(spec: Spec): Array[Int] = {
    val w = Array.tabulate(spec.files)(i => if (i == 0) 4.0 else 1.0)
    val a = w.map(x => (spec.captures * x / w.sum).toInt)
    a(spec.files - 1) += spec.captures - a.sum
    a
  }

  /** Generate the corpus, one file per Spark task over the session's
    * cores (each file has its own seeded stream, so the output does not
    * depend on the core count). */
  def generate(spark: org.apache.spark.sql.SparkSession, dir: Path, seed: Long, spec: Spec): Result = {
    Files.createDirectories(dir)
    val d = dir.toString
    val per = fileCaptures(spec)
    val files = spark.sparkContext.parallelize(0 until spec.files, spec.files)
      .map(f => generateFile(d, seed, f, spec, per(f))).collect().toSeq
    combine(files, spec)
  }

  def combine(files: Seq[FileResult], spec: Spec): Result = {
    val total = files.map(_.bytes).sum
    val responses = files.map(_.responses).sum
    val resp = math.max(1L, responses)
    val indexable = files.map(_.indexable).sum
    val hostHits = files.map(_.hostHits).reduce((a, b) => a.zip(b).map(x => x._1 + x._2))
    val docs = files.flatMap(_.docs).toVector
    val props = Map(
      "chunked_share" -> files.map(_.chunked).sum.toDouble / resp,
      "gzip_encoded_share" -> files.map(_.gzip).sum.toDouble / resp,
      "revisit_share" -> files.map(_.revisits).sum.toDouble / math.max(1L, indexable),
      "post_share" -> files.map(_.posts).sum.toDouble / resp,
      "largest_file_share" -> files.map(_.bytes).max.toDouble / total,
      "hottest_host_share" -> hostHits.max.toDouble / math.max(1L, hostHits.sum)) ++
      (if (spec.clusters) Map(
        "clustered_doc_share" -> {
          val sizes = docs.groupBy(_.cluster).map { case (k, v) => k -> v.size }
          docs.count(x => sizes(x.cluster) > 1).toDouble / docs.size
        }) else Map.empty)
    Result(files.map(_.path), total, files.map(_.records).sum, indexable, responses, docs,
      files.map(_.clusters).sum, props)
  }

  /** One `.warc.gz` file of `captures` captures (near-dup mode: distinct
    * planted bodies, plus exact copies on top). */
  def generateFile(dir: String, seed: Long, f: Int, spec: Spec, captures: Int): FileResult = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + f * 0xC2B2AE3D27D4EB4FL + 17)
    val hostZipf = new Zipf(spec.hosts, 1.1)
    val (planted, clusterCount) =
      if (spec.clusters) clusterBodies(r, spec, captures) else (Vector.empty, 0)
    val dups = if (spec.clusters) (captures * spec.exactDupShare).toInt else 0
    val totalCaptures = captures + dups
    val dupSlots: Array[Boolean] = {
      val a = Array.tabulate(totalCaptures)(i => i >= captures)
      // a copy needs an earlier body: keep slot 0 a planted one
      var i = totalCaptures - 1
      while (i > 1) { val j = 1 + r.nextInt(i); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    var nextPlanted = 0
    val pool = if (spec.clusters) Array.emptyByteArray else text(r, 1 << 19).getBytes(UTF_8)
    val docs = Vector.newBuilder[Doc]
    val bodies = mutable.ArrayBuffer.empty[(Array[Byte], Int)] // near-dup mode only
    val captured = mutable.ArrayBuffer.empty[(String, String, String)] // url, date, digest
    val hostHits = new Array[Long](spec.hosts)
    var records, indexable, responses, chunkedN, gzipN, revisitN, postN = 0L
    val name = f"crawl-$seed%d-$f%03d.warc.gz"
    val path = java.nio.file.Paths.get(dir, name)
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
    val w = new Writer(out)
    val base = f * 10000000L // ids, dates and cluster numbers stay distinct across files
    val info = s"software: perfbench-generator\r\nformat: WARC File Format 1.0\r\nseed: $seed\r\n"
    w.record("warcinfo", null, date(base), uuid(r), "application/warc-fields",
      Array.emptyByteArray, info.getBytes(UTF_8), Seq("WARC-Filename" -> name))
    records += 1
    var c = 0
    while (c < totalCaptures) {
      val host = hostZipf.sample(r)
      hostHits(host) += 1
      val www = if (r.nextInt(3) == 0) "www." else ""
      val id = base + c
      val url = s"https://${www}host$host.example.org/doc/$id" +
        (if (r.nextInt(4) == 0) s"?q=${Words(r.nextInt(Words.length))}&b=${r.nextInt(50)}" else "")
      val d = date(id)
      val kind = r.nextInt(100)
      if (!spec.clusters && kind < 8 && captured.nonEmpty) {
        // revisit of an earlier capture (identical-payload-digest profile)
        val (pu, pd, pdig) = captured(r.nextInt(captured.size))
        val http = "HTTP/1.1 304 Not Modified\r\nServer: perfbench\r\n\r\n".getBytes(UTF_8)
        w.record("revisit", pu, d, uuid(r), "application/http; msgtype=response", http,
          Array.emptyByteArray, Seq(
            "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
            "WARC-Refers-To-Target-URI" -> pu, "WARC-Refers-To-Date" -> pd),
          payloadDigest = pdig)
        val req = s"GET /revisit HTTP/1.1\r\nHost: host$host.example.org\r\n\r\n".getBytes(UTF_8)
        w.record("request", pu, d, uuid(r), "application/http; msgtype=request", req,
          Array.emptyByteArray)
        records += 2; indexable += 1; revisitN += 1
      } else {
        val post = !spec.clusters && kind >= 8 && kind < 14
        val (body, cluster, isImage) =
          if (spec.clusters) {
            val (b, k) =
              if (dupSlots(c)) bodies(r.nextInt(bodies.size))
              else { nextPlanted += 1; planted(nextPlanted - 1) }
            (b, k, false)
          } else if (r.nextInt(20) == 0) {
            val a = new Array[Byte](2000 + r.nextInt(30000)); r.nextBytes(a); (a, -1, true)
          } else {
            // a random slice of the seeded text pool: same statistics as
            // fresh random text, at the cost of a copy
            val n = math.min(pool.length - 1, bodyWords(r) * 7)
            val off = r.nextInt(pool.length - n)
            (java.util.Arrays.copyOfRange(pool, off, off + n), -1, false)
          }
        if (spec.clusters) bodies += ((body, cluster))
        val enc = if (spec.clusters) 0 else r.nextInt(10) // 0-5 identity, 6-7 chunked, 8 gzip, 9 both
        val isChunked = enc == 6 || enc == 7 || enc == 9
        val isGzip = enc == 8 || enc == 9
        var payload = if (isGzip) gzipBytes(body) else body
        if (isChunked) payload = chunked(payload, r)
        if (isChunked) chunkedN += 1
        if (isGzip) gzipN += 1
        val ctype = if (isImage) "image/jpeg" else "text/html; charset=utf-8"
        val hh = new StringBuilder("HTTP/1.1 200 OK\r\n")
        hh.append(s"Content-Type: $ctype\r\n")
        if (isChunked) hh.append("Transfer-Encoding: chunked\r\n")
        else hh.append(s"Content-Length: ${payload.length}\r\n")
        if (isGzip) hh.append("Content-Encoding: gzip\r\n")
        hh.append("\r\n")
        val digest = sha1Digest(payload)
        val rid = uuid(r)
        val respRec = () => w.record("response", url, d, rid, "application/http; msgtype=response",
          hh.toString.getBytes(UTF_8), payload, payloadDigest = digest)
        val reqBody =
          if (post) s"q=${Words(r.nextInt(Words.length))}&page=${r.nextInt(9)}".getBytes(UTF_8)
          else Array.emptyByteArray
        val reqHead = (if (post)
            s"POST /doc/$id HTTP/1.1\r\nHost: host$host.example.org\r\n" +
              s"Content-Type: application/x-www-form-urlencoded\r\nContent-Length: ${reqBody.length}\r\n\r\n"
          else s"GET /doc/$id HTTP/1.1\r\nHost: host$host.example.org\r\nUser-Agent: perfbench\r\n\r\n")
          .getBytes(UTF_8)
        val reqRec = () => w.record("request", url, d, uuid(r), "application/http; msgtype=request",
          reqHead, reqBody)
        // both pair orders occur in real crawls
        if (r.nextBoolean()) { respRec(); reqRec() } else { reqRec(); respRec() }
        records += 2; indexable += 1; responses += 1
        if (post) postN += 1
        captured += ((url, d, digest))
        if (spec.clusters) docs += Doc(id, body, base.toInt / 10 + cluster, rid)
        if (!spec.clusters && r.nextInt(10) == 0) {
          val meta = s"via: https://host$host.example.org/\r\nhopsFromSeed: L\r\n".getBytes(UTF_8)
          w.record("metadata", url, d, uuid(r), "application/warc-fields",
            Array.emptyByteArray, meta)
          records += 1
        }
      }
      c += 1
    }
    out.close()
    FileResult(path.toString, w.bytes, records, indexable, responses, chunkedN, gzipN, revisitN,
      postN, hostHits, docs.result(), clusterCount)
  }
}
