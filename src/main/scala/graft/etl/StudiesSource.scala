package graft.etl

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources for raw ClinicalTrials.gov-shaped study documents.
  *
  * The reference extracts studies from a paginated REST API
  * (`/root/reference/etl.py:86-171`): GET a page, accumulate
  * `studies`, follow `nextPageToken` until absent, hard-stop at 100
  * pages. Page fetch is inherently serial (each request needs the
  * previous page's token), so — as in the reference — pagination is a
  * driver-side loop that costs no Spark job: it reads each page once
  * and parses only its token. Spark parallelism starts once the page
  * set is known: all discovered pages are read by a single distributed
  * `spark.read.json` over the file list (the "page union" of
  * `etl.py:130-131` becomes one multi-file scan instead of N unions).
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
        case org.apache.spark.sql.types.ArrayType(_: org.apache.spark.sql.types.StructType, _) => true
        case _ => false
      }
    }
    if (isStruct) doc.select(explode(col("studies")).as("study")).select("study.*")
    else doc.sparkSession.emptyDataFrame
  }

  /** Follow the pagination chain starting at `first`, honoring the
    * reference's 100-page safety cap (`etl.py:155-158`), then scan all
    * pages in one distributed read. The walk is [[PageFetcher.walk]]:
    * each page body is read once through the Hadoop `FileSystem` API
    * (any scheme `spark.read.json` accepts) and its token parsed on the
    * driver, so the walk itself submits no Spark job; only the page
    * paths are kept. A missing page, a page that is not JSON, or a
    * token naming a page already read aborts the extract with an
    * `IllegalStateException` that names the page. */
  def readPaged(spark: SparkSession, dir: String, first: String = "page_1.json",
                maxPages: Int = 100): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = PageFetcher.walk(Some(first), maxPages) { token =>
      val path = new Path(dir, token.get)
      try {
        val in = path.getFileSystem(conf).open(path)
        try Some(path.toString -> new String(in.readAllBytes(), StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: FileNotFoundException => None }
    }.fold(a => throw new IllegalStateException(s"paged extract from $dir aborted: ${a.message}"),
      identity)
    val all = spark.read.option("multiLine", true).json(files: _*)
    if (all.columns.contains("studies")) explodeStudies(all)
    else spark.emptyDataFrame
  }

  /** Read the single-file studies fixture (`fixtures/studies.json`). */
  def readStudies(spark: SparkSession, path: String): DataFrame =
    explodeStudies(readPageDoc(spark, path))
}
