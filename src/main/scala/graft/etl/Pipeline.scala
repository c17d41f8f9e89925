package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The reference's full E1 lifecycle (`/root/reference/etl.py:472-518`)
  * as one composition: paginated extract → Essie filter (in-engine
  * analog of the server-side pushdown) → flatten → gated enrichment →
  * fixed-layout CSV sink. Each stage is the operator documented in its
  * own module; this is the one-call driver program.
  *
  * The page walk and the empty-extract guard run on the driver with no
  * Spark job; the executors read the page bodies and parse them against
  * [[StudySchema.page]], so there is no listing or inference job; the
  * success/bypass counters ride on the CSV write. With an output path,
  * the write's jobs are the only jobs the run submits.
  */
object Pipeline {

  final case class Config(
      pagesDir: String,
      firstPage: String = "page_1.json",
      maxPages: Int = 100,
      essieTerms: Seq[String] = Nil,
      gate: Enrich.GateConfig = Enrich.GateConfig(None, None),
      outputPath: Option[String] = None)

  /** Run extract→transform→enrich and write CSV if configured. Returns
    * the enriched frame and its `processed` / `bypassed` counters
    * ([[Enrich.withMetrics]]), which the frame's first action fulfils:
    * the CSV write when `outputPath` is set, else the caller's action.
    * Fails fast with an `IllegalArgumentException` before any Spark job
    * when the pages hold no studies (etl.py:493-495), and before any page
    * is read when an Essie term is one [[Essie.parse]] refuses. */
  def runObserved(spark: SparkSession, cfg: Config): (DataFrame, Observation) = {
    val filter = Option(cfg.essieTerms).filter(_.nonEmpty).map(Essie.compileAll)
    val walked = StudiesSource.walkPaged(spark, cfg.pagesDir, cfg.firstPage, cfg.maxPages)
    if (walked.studies == 0) // etl.py:493-495
      throw new IllegalArgumentException("extract produced no studies")
    val raw = StudiesSource.parsePages(
      StudiesSource.pageBodies(spark, walked.pages), Some(StudySchema.page))
    val filtered = filter.fold(raw)(raw.filter)
    val (enriched, metrics) = Enrich.withMetrics(Enrich.gated(Flatten(filtered), cfg.gate))
    cfg.outputPath.foreach(p =>
      CsvSink.write(enriched.drop("processed"), p, aiColumn = Some(cfg.gate.aiColumn)))
    (enriched, metrics)
  }

  /** [[runObserved]] without the counters. */
  def run(spark: SparkSession, cfg: Config): DataFrame = runObserved(spark, cfg)._1
}
