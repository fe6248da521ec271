package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.CdxIndexing
import org.apache.spark.graftprobe.StageProbe

/** The fixture goldens again, but through Spark execution (scan → fused
  * fold → Dataset), plus plan-shape assertions: the fused scan has no
  * exchange, and the merged CDX runs the scan once. */
class CdxPipelineSpec extends AnyFunSuite with SparkTestBase {

  test("cdxj via Spark matches reference golden") {
    val lines = CdxPipeline.cdxLines(spark, Seq(fixturePath("example.warc.gz")))
      .collect().toVector
    assert(lines == Vector(
      """com,example)/ 20170306040206 {"url":"http://example.com/","mime":"text/html","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"1228","offset":"784","filename":"example.warc.gz"}""",
      """com,example)/ 20170306040348 {"url":"http://example.com/","mime":"warc/revisit","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"586","offset":"2621","filename":"example.warc.gz"}"""))
  }

  test("index via Spark matches reference golden") {
    val lines = CdxPipeline.indexLines(spark, Seq(fixturePath("example.warc.gz")))
      .collect().toVector
    assert(lines == Vector(
      """{"offset":0,"warc-type":"warcinfo"}""",
      """{"offset":353,"warc-type":"warcinfo"}""",
      """{"offset":784,"warc-type":"response","warc-target-uri":"http://example.com/"}""",
      """{"offset":2012,"warc-type":"request","warc-target-uri":"http://example.com/"}""",
      """{"offset":2621,"warc-type":"revisit","warc-target-uri":"http://example.com/"}""",
      """{"offset":3207,"warc-type":"request","warc-target-uri":"http://example.com/"}"""))
  }

  test("typed CdxRow dataset") {
    val rows = CdxPipeline.cdxDataset(spark, Seq(fixturePath("post-test.warc.gz")))
      .collect().toVector
    assert(rows.map(_.urlkey) == Vector(
      "org,httpbin)/post?__wb_method=post&foo=bar&test=abc",
      "org,httpbin)/post?__wb_method=post&a=1&b=[]&c=3",
      "org,httpbin)/post?__wb_method=post&data=^&foo=bar"))
    assert(rows.forall(_.method == "POST"))
    assert(rows.map(_.status) == Vector(Some(200), Some(200), Some(200)))
  }

  test("fused scan has no exchange; merged cdx hashes then range-sorts") {
    val paths = Seq(fixturePath("example.warc.gz"))
    assert(exchanges(CdxPipeline.cdxDataset(spark, paths)).isEmpty)
    // the hash exchange on urlkey ends the fused scan, so the range
    // sort's sampler reads shuffled rows, not the WARC files
    assert(exchanges(CdxPipeline.mergedCdx(spark, paths)) ==
      Seq("range" -> Seq("urlkey", "timestamp"), "hash" -> Seq("urlkey")))
  }

  test("merged cdx reads each WARC once: one scan stage, 1x input bytes") {
    import spark.implicits._
    val paths = Seq("example.warc.gz", "post-test.warc.gz", "example.warc",
      "post-test-more.warc", "example-iana.org-chunked.warc", "redirect.warc").map(fixturePath)
    val fixtureBytes = paths.map(p => new java.io.File(p).length).sum
    def bytesRead: Long = { // as the benchmark counts scan input
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val out = graft.Scratch.dir("merged-cdx").resolve("cdx").toString
    val r0 = bytesRead
    val stages = StageProbe.stagesRun(spark.sparkContext) {
      CdxPipeline.mergedCdx(spark, paths).write.mode("overwrite").parquet(out)
    }
    val read = bytesRead - r0
    assert(stages.count(s => StageProbe.operators(s).exists(_.startsWith("Scan binaryFile"))) == 1,
      s"scan ran in more than one stage: ${stages.map(StageProbe.operators)}")
    assert(read >= fixtureBytes && read < fixtureBytes * 3 / 2,
      s"read $read bytes for $fixtureBytes bytes of WARC input")
    // rows and order unchanged: the fused scan's rows, sorted by (urlkey, timestamp)
    val merged = CdxPipeline.mergedCdx(spark, paths).collect().toVector
    assert(merged.sortBy(r => (r.urlkey, r.timestamp)).map(r => (r.urlkey, r.timestamp)) ==
      merged.map(r => (r.urlkey, r.timestamp)))
    assert(merged.sortBy(_.toString) ==
      CdxPipeline.cdxDataset(spark, paths).collect().toVector.sortBy(_.toString))
    assert(spark.read.parquet(out).as[CdxRow].collect().toSet == merged.toSet)
  }

  test("pairDataset (explicit shuffle variant) agrees with fused path") {
    val paths = Seq(fixturePath("example.warc.gz"), fixturePath("post-test.warc.gz"))
    val fused = CdxPipeline.cdxDataset(spark, paths).collect().toSet
    val viaDs = CdxPipeline.pairDataset(spark,
      graft.sources.WarcScan.warcRecords(spark, paths)).collect().toSet
    assert(fused == viaDs)
  }

  test("registered SQL functions work end-to-end") {
    import spark.implicits._
    val df = Seq("https://www.example.com/a?b=1&A=2").toDF("url")
    df.createOrReplaceTempView("urls")
    val out = spark.sql("SELECT surt(url) AS k, host_of(url) AS h FROM urls").as[(String, String)].head()
    assert(out == ("com,example)/a?a=2&b=1", "www.example.com"))
  }
}
