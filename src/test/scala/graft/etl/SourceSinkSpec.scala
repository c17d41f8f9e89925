package graft.etl

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Paginated source protocol (etl.py:115-158) + CSV sink layout
  * (etl.py:449-460). */
class SourceSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("pagination follows nextPageToken across all pages") {
    val df = StudiesSource.readPaged(spark, "/root/repo/fixtures/pages")
    assert(df.count() == 14) // 6 + 6 + 2
  }

  test("page without nextPageToken ends the chain; maxPages caps it") {
    val one = StudiesSource.readPaged(spark, "/root/repo/fixtures/pages", maxPages = 1)
    assert(one.count() == 6)
  }

  test("empty page yields zero rows without erroring") {
    val df = StudiesSource.readPaged(spark, "/root/repo/fixtures/pages", first = "page_empty.json")
    assert(df.count() == 0)
  }

  /** A temp-dir page chain: each (name, body) becomes a page file. */
  private def chain(pages: (String, String)*): String = {
    val dir = Files.createTempDirectory("pagechain")
    pages.foreach { case (name, body) => Files.writeString(dir.resolve(name), body) }
    dir.toString
  }

  private def page(id: String, next: Option[String]): String =
    s"""{"studies": [{"id": "$id"}]${next.fold("")(t => s""", "nextPageToken": "$t"""")}}"""

  test("a repeated nextPageToken aborts the extract at the page already read") {
    val dir = chain(
      "page_1.json" -> page("S1", Some("page_2.json")),
      "page_2.json" -> page("S2", Some("page_1.json")))
    val e = intercept[IllegalStateException](StudiesSource.readPaged(spark, dir))
    assert(e.getMessage.contains("page 'page_1.json' was already read"), e.getMessage)
  }

  test("a malformed page aborts the extract and names the page") {
    val dir = chain(
      "page_1.json" -> page("S1", Some("page_2.json")),
      "page_2.json" -> "<html>502 Bad Gateway</html>")
    val e = intercept[IllegalStateException](StudiesSource.readPaged(spark, dir))
    assert(e.getMessage.contains("page 'page_2.json' is not a JSON document"), e.getMessage)
  }

  test("a token naming a missing page file aborts the extract") {
    val dir = chain("page_1.json" -> page("S1", Some("page_2.json")))
    val e = intercept[IllegalStateException](StudiesSource.readPaged(spark, dir))
    assert(e.getMessage.contains("page 'page_2.json' could not be fetched"), e.getMessage)
  }

  test("the token walk submits no Spark job: at most the final scan's one") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "readPaged-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenceDone = new java.util.concurrent.CountDownLatch(1)
    var fenceId = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == s"$group-fence") fenceId = e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId) fenceDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "readPaged over the fixture chain")
      val df = StudiesSource.readPaged(spark, "fixtures/pages")
      // the listener bus delivers in order: once a fence job's end event
      // arrives, every job readPaged started has been counted
      sc.setJobGroup(s"$group-fence", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenceDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get <= 1, s"readPaged submitted ${jobs.get} jobs")
      assert(df.count() == 14)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("csv sink: fixed header order incl. phantom empty min/max age, optional AI column") {
    val flat = Flatten(StudiesSource.readStudies(spark, "/root/repo/fixtures/studies.json"))
    val enriched = Enrich.enrichAll(flat)
    val dir = Files.createTempDirectory("csvsink").toString
    CsvSink.write(enriched, dir, aiColumn = Some("ai_determined_value"))
    val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".csv")).findFirst().get
    val lines = Files.readAllLines(part)
    assert(lines.get(0) ==
      "nct_id,brief_title,official_title,overall_status,minimum_age,maximum_age," +
        "study_type,start_date,gender,brief_summary,detailed_description,criteria," +
        "start_year,ai_determined_value")
    // phantom columns are empty on every row (etl.py:451 + DictWriter restval)
    val body = lines.subList(1, lines.size())
    body.forEach { l =>
      val cols = l.split(",", -1)
      // row may span lines if quoted newlines existed — fixture has none
      if (cols.length >= 6) assert(cols(4) == "" && cols(5) == "")
    }
  }

  test("csv sink without AI column omits it") {
    val flat = Flatten(StudiesSource.readStudies(spark, "/root/repo/fixtures/studies.json"))
    val dir = Files.createTempDirectory("csvsink2").toString
    CsvSink.write(flat, dir, aiColumn = None)
    val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".csv")).findFirst().get
    val header = Files.readAllLines(part).get(0)
    assert(header.endsWith(",start_year"))
  }

  test("writeExact is byte-identical to Python csv: CRLF, QUOTE_MINIMAL, restval") {
    import spark.implicits._
    val df = Seq(
      ("NCT1", "has,comma", "has\"quote", "DONE", "T", "2020-01-01", "ALL",
        "line\nbreak", "cr\rhere", "plain", "2020"),
      ("NCT2", "plain", "", "DONE", "T", "2020-01-01", "ALL",
        "s", "d", "c", "2020"))
      .toDF("nct_id", "brief_title", "official_title", "overall_status",
        "study_type", "start_date", "gender", "brief_summary",
        "detailed_description", "criteria", "start_year")
    val dir = Files.createTempDirectory("csvexact").toString
    CsvSink.writeExact(df, dir)
    val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".txt")).findFirst().get
    val bytes = new String(Files.readAllBytes(part), java.nio.charset.StandardCharsets.UTF_8)
    // hand-assembled per Python csv.DictWriter semantics: \r\n after
    // EVERY row (header and last row included); a field quotes iff it
    // contains delimiter/quote/\r/\n; embedded quotes double; absent
    // keys (the phantom min/max age) write restval ''
    val expected =
      "nct_id,brief_title,official_title,overall_status,minimum_age,maximum_age," +
        "study_type,start_date,gender,brief_summary,detailed_description,criteria,start_year\r\n" +
        "NCT1,\"has,comma\",\"has\"\"quote\",DONE,,,T,2020-01-01,ALL," +
        "\"line\nbreak\",\"cr\rhere\",plain,2020\r\n" +
        "NCT2,plain,,DONE,,,T,2020-01-01,ALL,s,d,c,2020\r\n"
    assert(bytes == expected,
      s"byte diff:\n got=${bytes.replace("\r", "\\r").replace("\n", "\\n")}\nwant=${expected.replace("\r", "\\r").replace("\n", "\\n")}")
  }
}
