package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.etl.{Enrich, Essie, Pipeline, StudiesSource}

/** End-to-end pipeline composition + SQL extension registration. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("full pipeline: paged extract -> essie -> flatten -> gated enrich -> csv") {
    val out = Files.createTempDirectory("pipeline").toString
    val df = Pipeline.run(spark, Pipeline.Config(
      pagesDir = "/root/repo/fixtures/pages",
      essieTerms = Essie.referenceConfigTerms,
      gate = Enrich.GateConfig(maxRows = Some(100L), tuningSet = None),
      outputPath = Some(out + "/result")))
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("nct_id")).toSet ==
      Set("NCT00000001", "NCT00000010", "NCT00000012"))
    assert(rows.forall(_.getAs[String]("ai_determined_value") != "N/A"))
    val files = Files.list(java.nio.file.Paths.get(out + "/result"))
      .filter(_.toString.endsWith(".csv")).toArray
    assert(files.nonEmpty)
  }

  test("empty extract fails fast like the reference") {
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, Pipeline.Config(
        pagesDir = "/root/repo/fixtures/pages", firstPage = "page_empty.json"))
    }
  }

  /** A one-page chain in a temp dir; returns the dir. */
  private def onePage(body: String): String = {
    val dir = Files.createTempDirectory("pipeline_page")
    Files.writeString(dir.resolve("page_1.json"), body)
    dir.toString
  }

  /** `{"protocolSection": ...}` with the given modules. */
  private def study(modules: String): String = s"""{"protocolSection": {$modules}}"""

  private def ident(id: String): String =
    s""""identificationModule": {"nctId": "$id", "briefTitle": "T $id"}"""

  /** Runs `body` and returns, for each Spark job it submitted, in
    * submission order, whether the job belongs to a file write (an
    * `InsertIntoHadoopFsRelationCommand` SQL execution). */
  private def jobsOf(body: => Unit): Seq[Boolean] = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = "pipeline-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val writes = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val fenceDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var fenceId = -1
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(s.executionId)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val g = props.map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group)
          jobs.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
        else if (g == s"$group-fence") fenceId = e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId) fenceDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "pipeline under a job count")
      try body
      finally {
        // the listener bus delivers in order: once a fence job's end
        // event arrives, every job `body` started has been counted
        sc.setJobGroup(s"$group-fence", "listener fence")
        sc.parallelize(Seq(1), 1).count()
        assert(fenceDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      }
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.map(_.exists(writes.contains))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("with an output path, the CSV write's jobs are the only jobs the run submits") {
    val out = Files.createTempDirectory("pipeline_jobs").toString + "/result"
    var counters = Map.empty[String, Any]
    val jobs = jobsOf {
      val (_, metrics) = Pipeline.runObserved(spark, Pipeline.Config(
        pagesDir = "fixtures/pages",
        essieTerms = Essie.referenceConfigTerms,
        gate = Enrich.GateConfig(maxRows = Some(100L), tuningSet = None),
        outputPath = Some(out)))
      counters = metrics.get // fulfilled by the write: no recount
    }
    // no job before the sink's first job, none after the write
    assert(jobs.nonEmpty && jobs.forall(identity),
      s"jobs in submission order (true = the CSV write's): ${jobs.mkString(", ")}")
    assert(counters == Map("processed" -> 3L, "bypassed" -> 0L))
  }

  test("a leaf no study in the chain carries is written as N/A, not an analysis error") {
    val dir = onePage(s"""{"studies": [${study(ident("NCT1") + """,
      "eligibilityModule": {"eligibilityCriteria": "Inclusion Criteria: adults."}""")}]}""")
    val rows = Pipeline.run(spark, Pipeline.Config(pagesDir = dir)).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("nct_id") == "NCT1")
    Seq("brief_summary", "detailed_description", "start_date", "start_year", "gender",
      "study_type", "overall_status", "official_title").foreach { c =>
      assert(r.getAs[String](c) == "N/A", c)
    }
  }

  test("pages with no studies fail the guard before any Spark job is submitted") {
    Seq("""{"studies": []}""", """{"nextPageToken": null}""").foreach { body =>
      val dir = onePage(body)
      var err: IllegalArgumentException = null
      val jobs = jobsOf {
        err = intercept[IllegalArgumentException](Pipeline.run(spark, Pipeline.Config(pagesDir = dir)))
      }
      assert(err.getMessage == "extract produced no studies", body)
      assert(jobs.isEmpty, s"$body: ${jobs.size} jobs before the guard")
    }
  }

  test("an Essie term the compiler refuses fails the run before any Spark job") {
    var err: IllegalArgumentException = null
    val jobs = jobsOf {
      err = intercept[IllegalArgumentException](Pipeline.run(spark, Pipeline.Config(
        pagesDir = "fixtures/pages", essieTerms = Seq("AREA[conditionsModule]MISSING"))))
    }
    assert(err.getMessage.startsWith("unsupported Essie term: AREA[conditionsModule]MISSING"))
    assert(jobs.isEmpty, s"${jobs.size} jobs before the refusal")
  }

  test("a study that is an empty object goes on as one all-N/A row") {
    val rows = Pipeline.run(spark, Pipeline.Config(pagesDir = onePage("""{"studies": [{}]}""")))
      .drop("processed").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.schema.fieldNames.filter(_ != "ai_determined_value").forall(r.getAs[String](_) == "N/A"))
    assert(r.getAs[String]("ai_determined_value") == "NOT MENTIONED")
  }

  test("a study whose phases is a string keeps the other studies on its page") {
    val dir = onePage(s"""{"studies": [
      ${study(ident("NCT1") + """, "designModule": {"studyType": "INTERVENTIONAL", "phases": ["PHASE2"]}""")},
      ${study(ident("NCT2") + """, "designModule": {"studyType": "INTERVENTIONAL", "phases": "PHASE1"}""")}]}""")
    // Spark's JSON partial results null only the mistyped field
    val raw = StudiesSource.readPaged(spark, dir)
      .select(col("protocolSection.identificationModule.nctId"),
        col("protocolSection.designModule.studyType"), col("protocolSection.designModule.phases"))
      .orderBy("nctId").collect()
    assert(raw.map(_.getString(0)).toSeq == Seq("NCT1", "NCT2"))
    assert(raw.map(_.getString(1)).toSeq == Seq("INTERVENTIONAL", "INTERVENTIONAL"))
    assert(raw(0).getSeq[String](2) == Seq("PHASE2") && raw(1).isNullAt(2))
    val flat = Pipeline.run(spark, Pipeline.Config(pagesDir = dir)).collect()
    assert(flat.map(_.getAs[String]("nct_id")).sorted.toSeq == Seq("NCT1", "NCT2"))
  }

  test("cosine_similarity is usable from SQL via extensions") {
    val prev = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // builds a NEW session over the existing context, with extensions
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS sim").collect()
      assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
