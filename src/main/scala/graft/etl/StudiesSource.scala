package graft.etl

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Sources for raw ClinicalTrials.gov-shaped study documents.
  *
  * The reference extracts studies from a paginated REST API
  * (`/root/reference/etl.py:86-171`): GET a page, accumulate
  * `studies`, follow `nextPageToken` until absent, hard-stop at 100
  * pages. Page fetch is inherently serial (each request needs the
  * previous page's token), so — as in the reference — pagination is a
  * driver-side loop that costs no Spark job: [[PageFetcher.walk]] reads
  * each page once, parses its token and counts its studies, and keeps
  * only the page's path, so the driver holds one body at a time. Spark
  * parallelism starts when the bodies are parsed: the executors read
  * the pages again ([[pageBodies]]), and [[parsePages]], the one body
  * parse of the file and HTTP paths, turns them into one row per study
  * (the "page union" of `etl.py:130-131`). The paths come from the
  * walk, so there is no file-listing job; against [[StudySchema.page]]
  * there is no schema-inference job either. The HTTP path
  * ([[PageFetcher.readFetched]]) cannot fetch a page twice and keeps
  * its bodies on the driver, at most `maxPages` of them.
  *
  * Offline stand-in: a page document is a file and `nextPageToken`
  * holds the *name of the next page file*. The HTTP protocol runs the
  * same walk through [[PageFetcher.readFetched]] with an
  * [[HttpPageFetcher]].
  */
object StudiesSource {

  /** Memoized per (session, path): a multiLine JSON read pays schema
    * inference (a full file pass) EAGERLY at plan time, on every
    * `spark.read.json` call — with four registered etl queries over the
    * same fixture that fixed cost dominates their benchmark time. Same
    * immutable-once-loaded contract as [[graft.Tables]]: there is NO
    * content invalidation, so a path whose file is rewritten within one
    * session would serve the stale schema/plan. Callers (EtlQueries,
    * Bench warm-up, TypedStudies, all through [[readStudies]]) read
    * fixed fixture paths; a test that mutates a studies file must use a
    * fresh path or session. [[readPaged]] does not use this cache. */
  private val pageCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Read one studies-document file (`{"studies": [...], "nextPageToken"?}`)
    * as a single-row DataFrame. */
  def readPageDoc(spark: SparkSession, path: String): DataFrame = {
    pageCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    pageCache.computeIfAbsent((spark, path),
      _ => spark.read.option("multiLine", true).json(path))
  }

  /** Explode a studies-document frame into one row per raw study. An
    * all-empty `studies` array infers as array<string>, not
    * array<struct> — treat that as zero rows rather than erroring. */
  def explodeStudies(doc: DataFrame): DataFrame = {
    val isStruct = doc.schema.fields.find(_.name == "studies").exists {
      _.dataType match {
        case ArrayType(_: StructType, _) => true
        case _ => false
      }
    }
    if (isStruct) doc.select(explode(col("studies")).as("study")).select("study.*")
    else doc.sparkSession.emptyDataFrame
  }

  /** One row per study from page bodies, parsed distributed
    * (`spark.read.json` over a Dataset of bodies: one record per body, so
    * multiline page docs are fine). With `schema` (a page schema such as
    * [[StudySchema.page]]) building the frame runs no Spark job, a leaf
    * no study carries reads as null, and a study whose field has the
    * wrong JSON type keeps its other fields (Spark's JSON partial results
    * null only that field). Without it Spark infers the schema from the
    * bodies, one job ([[PageFetcher.readFetched]]: the seam keeps
    * whatever fields an ad-hoc page shape has). */
  def parsePages(bodies: Dataset[String], schema: Option[StructType]): DataFrame = {
    val read = bodies.sparkSession.read
    explodeStudies(schema.fold(read)(read.schema(_)).json(bodies))
  }

  /** A page file's body, through the Hadoop `FileSystem` API (any scheme
    * `spark.read.json` accepts). */
  private def readBody(path: Path, conf: Configuration): String = {
    val in = path.getFileSystem(conf).open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Follow the pagination chain starting at `first`, honoring the
    * reference's 100-page safety cap (`etl.py:155-158`), through
    * [[PageFetcher.walk]]: each page body is read and parsed once on the
    * driver, for its token and its study count, and dropped; the walk
    * keeps the page paths. No Spark job runs. A missing page, a page
    * that is not JSON, or a token naming a page already read aborts the
    * extract with an `IllegalStateException` that names the page. */
  def walkPaged(spark: SparkSession, dir: String, first: String = "page_1.json",
                maxPages: Int = 100): PageFetcher.Walked[String] = {
    val conf = spark.sessionState.newHadoopConf()
    PageFetcher.walk(Some(first), maxPages) { token =>
      val path = new Path(dir, token.get)
      try Some(path.toString -> readBody(path, conf))
      catch { case _: FileNotFoundException => None }
    }.fold(a => throw new IllegalStateException(s"paged extract from $dir aborted: ${a.message}"),
      identity)
  }

  /** The bodies of the page files at `paths`, read on the executors when
    * a job runs: building the Dataset runs no Spark job, and the driver
    * holds only the paths. */
  def pageBodies(spark: SparkSession, paths: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    spark.createDataset(paths).map(p => readBody(new Path(p), conf.value))
  }

  /** The studies of the page chain at `dir`: [[walkPaged]], then
    * [[parsePages]] of the [[pageBodies]] against [[StudySchema.page]],
    * what [[Flatten]] and [[Essie]] read. Building the frame runs no
    * Spark job. */
  def readPaged(spark: SparkSession, dir: String, first: String = "page_1.json",
                maxPages: Int = 100): DataFrame =
    parsePages(pageBodies(spark, walkPaged(spark, dir, first, maxPages).pages),
      Some(StudySchema.page))

  /** Read the single-file studies fixture (`fixtures/studies.json`). */
  def readStudies(spark: SparkSession, path: String): DataFrame =
    explodeStudies(readPageDoc(spark, path))
}
