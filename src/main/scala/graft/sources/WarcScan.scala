package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._

/** One WARC record as a typed Dataset row. Headers are ordered
  * Array[Struct[name,value]] — order and duplicates are load-bearing
  * (SURVEY.md §1.4). `payload` is the raw (undecoded) payload. */
final case class WarcRow(
    filename: String,
    offset: Long,
    length: Long,
    warcType: String,
    targetUri: String,
    warcDate: String,
    recordId: String,
    contentType: String,
    contentLength: Long,
    payloadDigest: String,
    blockDigest: String,
    warcVersion: String,
    warcHeaders: Seq[HeaderKV],
    httpStatusline: String,
    httpStatus: Option[Int],
    httpContentType: String,
    httpHeaders: Seq[HeaderKV],
    payload: Array[Byte],
    warning: String
)

object WarcRow {
  def fromFramed(r: FramedRecord): WarcRow = {
    val sah = StatusAndHeaders(r.warcVersion, r.warcHeaders, r.warcReencoded)
    val http = r.http
    WarcRow(
      filename = r.filename,
      offset = r.offset,
      length = r.length,
      warcType = r.warcType,
      targetUri = r.warcTargetURI,
      warcDate = sah.get("WARC-Date").orNull,
      recordId = sah.get("WARC-Record-ID").orNull,
      contentType = sah.get("Content-Type").orNull,
      contentLength = sah.get("Content-Length").flatMap(v =>
        try Some(v.trim.toLong) catch { case _: Exception => None }).getOrElse(0L),
      payloadDigest = sah.get("WARC-Payload-Digest").orNull,
      blockDigest = sah.get("WARC-Block-Digest").orNull,
      warcVersion = r.warcVersion,
      warcHeaders = r.warcHeaders,
      httpStatusline = r.httpStatusline,
      httpStatus = http.flatMap(h =>
        if (r.warcType == "response" || r.warcType == "revisit") h.statusCode else None),
      httpContentType = http.flatMap(_.get("content-type")).orNull,
      httpHeaders = r.httpHeaders,
      payload = r.payload,
      warning = r.warning
    )
  }

  def toFramed(w: WarcRow): FramedRecord =
    FramedRecord(w.filename, w.offset, w.length, w.warcVersion,
      w.warcHeaders.toVector, Set.empty, w.httpStatusline,
      w.httpHeaders.toVector, Set.empty, w.payload, w.warning)
}

/** The WARC scan (S1-S4): splittable parallel read of .warc / .warc.gz.
  *
  * v1 strategy: `binaryFile` source lists/distributes the files (path
  * column only — content is pruned away and never read by Spark), one
  * task per file, and the task STREAMS the file through
  * `WarcStreaming.parseStream` — O(one record) of task memory, no 2 GB
  * file cap, payload bytes skipped (not copied) when `withPayload`
  * is false. WARC files are bounded (typically ≤1 GiB by convention),
  * so file-granular tasks give a clean parallel unit at any corpus
  * size; a 100 TB crawl is ~100k files → ~100k tasks, ideal for a
  * 1000-executor cluster. Oversized files additionally split by gzip
  * member ranges in the DSv2 source (`format("warc")`). Offsets and
  * record lengths match warcio's accounting exactly (member-based for
  * .gz), verified by fixture goldens.
  *
  * Because each task sees a whole file in order, order-dependent
  * operators (request/response pairing) run fused inside the scan with
  * ZERO shuffle — see CdxPipeline. A plan that range-sorts the scan's
  * output must end the scan at an exchange first (as
  * `CdxPipeline.mergedCdx` does): the range partitioner's sampling job
  * would otherwise run the whole scan a second time.
  */
object WarcScan {

  /** Open a file path (file:/hdfs:/s3a:… URI or local path) as a stream
    * via the Hadoop FileSystem API — works on any cluster filesystem. */
  def openPath(path: String): java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
  }

  /** Streaming per-file record iterator with the scan's leniency rule:
    * at corpus scale one corrupt file must not fail the job — log and
    * truncate that file's iteration (strict mode propagates). */
  private def fileRecords(path: String, withPayload: Boolean,
                          lenient: Boolean): (String, Iterator[FramedRecord]) = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val inner =
      try WarcStreaming.parseStream(openPath(path), name,
        WarcFraming.isGzipName(name), keepPayload = withPayload)
      catch {
        case e: Exception if lenient =>
          System.err.println(s"[warc-scan] skipping corrupt file $name: ${e.getMessage}")
          Iterator.empty
      }
    val it = if (!lenient) inner else new Iterator[FramedRecord] {
      private var broken = false
      def hasNext: Boolean = !broken && {
        try inner.hasNext catch {
          case e: Exception =>
            System.err.println(s"[warc-scan] truncating corrupt file $name: ${e.getMessage}")
            broken = true
            false
        }
      }
      def next(): FramedRecord = inner.next()
    }
    (name, it)
  }

  /** Read WARC files into a typed Dataset. Column pruning note: when the
    * downstream plan does not need `payload`, pass
    * `withPayload = false` so the scan SKIPS payload bytes inside the
    * parser (the reference's skipFully-vs-readFully distinction,
    * indexer.ts:74) — they are never inflated into the task. */
  def warcRecords(spark: SparkSession, paths: Seq[String], withPayload: Boolean = true,
                  lenient: Boolean = true): Dataset[WarcRow] = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(paths: _*).select("path").as[String]
    bin.mapPartitions(_.flatMap { path =>
      fileRecords(path, withPayload, lenient)._2.map(WarcRow.fromFramed)
    })
  }

  /** Fused scan + per-file fold: applies `fold` to each file's records in
    * offset order inside the scan task — the zero-shuffle path for
    * order-dependent per-file operators. The iterator is streaming: the
    * fold must consume in order and may hold O(1) records. */
  def scanFold[T: org.apache.spark.sql.Encoder](
      spark: SparkSession,
      paths: Seq[String]
  )(fold: (String, Iterator[FramedRecord]) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").load(paths: _*).select("path").as[String]
    bin.mapPartitions(_.flatMap { path =>
      val (name, records) = fileRecords(path, withPayload = true, lenient = false)
      fold(name, records)
    })
  }
}
