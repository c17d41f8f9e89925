package graft.etl

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper

/** Injectable page-fetch seam for the paginated studies extract.
  *
  * The reference walks a REST token chain on the driver
  * (`/root/reference/etl.py:115-158`): GET a page with a 60 s timeout,
  * abort the WHOLE extract (return None) on any non-200 / network /
  * parse failure, follow `nextPageToken` until absent, and stop at a
  * 100-page safety cap. The fetch is inherently serial — each request
  * needs the previous page's token — so it stays a driver-side loop
  * here too: [[PageFetcher.walk]], shared with
  * [[StudiesSource.readPaged]], parses each body once with Jackson for
  * its token and its study count and runs no Spark job. Spark
  * parallelism starts when the page bodies are parsed
  * ([[StudiesSource.parsePages]]). Beyond the reference, the walk also
  * aborts on a token it has already followed ([[WalkAbort.Cycle]])
  * instead of re-reading pages until the cap.
  */
trait PageFetcher {

  /** Fetch one page document. `token` is None for the first page,
    * Some(nextPageToken) afterwards. Returns the raw JSON body, or None
    * on any protocol failure (non-200 status, timeout, network error) —
    * the reference's abort-the-extract contract. */
  def fetch(token: Option[String]): Option[String]
}

/** Real HTTP implementation of the reference protocol on the JDK's
  * built-in client (no extra dependencies): GET `apiUrl` with
  * `pageSize`, `filter.advanced`, and (after page 1) `pageToken` query
  * params, 60 s connect/request timeout, non-200 → None, network error
  * → None (`etl.py:121-127,163-165`). */
final class HttpPageFetcher(
    apiUrl: String,
    pageSize: Int = 1000,
    filterAdvanced: String = "",
    timeoutSec: Long = 60) extends PageFetcher {

  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()

  def fetch(token: Option[String]): Option[String] = {
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val params = Seq("pageSize" -> pageSize.toString, "filter.advanced" -> filterAdvanced) ++
      token.map("pageToken" -> _)
    val uri = java.net.URI.create(
      apiUrl + "?" + params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&"))
    try {
      val req = java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() == 200) Some(resp.body()) else None
    } catch {
      case _: java.io.IOException | _: InterruptedException => None
    }
  }
}

/** Offline stand-in with the same seam: a page document is a local JSON
  * file and the token is the NAME of the next page file. */
final class FilePageFetcher(dir: String, first: String = "page_1.json") extends PageFetcher {
  def fetch(token: Option[String]): Option[String] =
    try Some(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/${token.getOrElse(first)}")))
    catch { case _: java.io.IOException => None }
}

/** Why a token walk stopped before a final page. Every outcome aborts
  * the whole extract: partial results are discarded (`etl.py:124-127`).
  * `page` is the token that named the page (None = the first page). */
sealed abstract class WalkAbort(what: String) {
  def page: Option[String]
  def message: String = s"${page.fold("first page")(p => s"page '$p'")} $what"
}

object WalkAbort {
  /** The fetch failed: non-200, network error, missing page file. */
  final case class FetchFailed(page: Option[String]) extends WalkAbort("could not be fetched")
  /** The body is not a JSON document (e.g. an HTML error page behind a 200). */
  final case class Malformed(page: Option[String]) extends WalkAbort("is not a JSON document")
  /** A `nextPageToken` named a page the walk had already read. */
  final case class Cycle(page: Option[String])
      extends WalkAbort("was already read: the nextPageToken chain repeats")
}

object PageFetcher {

  // Jackson ships on the Spark classpath; driver-side, one tiny doc at a
  // time — not a per-row hot path.
  private val mapper = new ObjectMapper()

  /** What a completed walk kept: one `A` per page in chain order, and
    * how many elements the pages' `studies` arrays hold in total. */
  final case class Walked[A](pages: Seq[A], studies: Long)

  /** Token and study-count parse with failure distinguished from
    * absence: Left = the body is not JSON at all (protocol failure —
    * e.g. an HTML error page behind a 200), Right((None, n)) = a
    * well-formed final page, Right((token, n)) = more pages; a JSON
    * `null` or empty token ends the chain like an absent one. `n` is the
    * length of the page's `studies` array (0 if it is absent or not an
    * array). The distinction matters: a malformed body must abort the
    * whole extract (partial results are discarded, etl.py:124-127), not
    * silently terminate the chain with garbage kept. */
  private[etl] def parsePage(body: String): Either[Unit, (Option[String], Int)] =
    try {
      val node = mapper.readTree(body)
      if (node == null || !node.isContainerNode) Left(())
      else Right((
        Option(node.get("nextPageToken")).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty),
        Option(node.get("studies")).filter(_.isArray).fold(0)(_.size)))
    } catch { case _: java.io.IOException => Left(()) }

  /** `nextPageToken` of a page body, if present and non-empty. */
  def nextToken(body: String): Option[String] =
    parsePage(body).toOption.flatMap(_._1)

  /** The one token walk, shared by [[fetchPages]] and
    * [[StudiesSource.readPaged]]; plain driver code, no Spark job.
    * `fetch(token)` returns what the caller keeps for a page plus its
    * body, or None on a failed fetch; the body is parsed once, for the
    * next token and the page's study count. `first` names the first
    * page when it has a name, so a chain that links back to it is caught
    * as well. The walk follows tokens until a page has none, stops
    * quietly at `maxPages`, and aborts on a failed fetch, a malformed
    * body, or a token it has already followed. */
  private[etl] def walk[A](first: Option[String], maxPages: Int)(
      fetch: Option[String] => Option[(A, String)]): Either[WalkAbort, Walked[A]] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[A]
    val seen = scala.collection.mutable.HashSet(first)
    var studies = 0L
    var token = first
    var more = true
    while (more && kept.size < maxPages) {
      fetch(token) match {
        case None => return Left(WalkAbort.FetchFailed(token))
        case Some((a, body)) =>
          parsePage(body) match {
            case Left(_) => return Left(WalkAbort.Malformed(token))
            case Right((next, n)) =>
              kept += a
              studies += n
              more = next.isDefined
              if (more && kept.size < maxPages && !seen.add(next))
                return Left(WalkAbort.Cycle(next))
              token = next
          }
      }
    }
    Right(Walked(kept.toSeq, studies))
  }

  /** Walk the token chain through `fetcher`: the page bodies in chain
    * order, or None if the walk aborted (see [[walk]]). */
  def fetchPages(fetcher: PageFetcher, maxPages: Int = 100): Option[Seq[String]] =
    walk(None, maxPages)(t => fetcher.fetch(t).map(b => (b, b))).toOption.map(_.pages)

  /** Full extract through the seam: a page cannot be fetched twice, so
    * the walk keeps at most `maxPages` bodies on the driver, then
    * [[StudiesSource.parsePages]], the body parse of
    * [[StudiesSource.readPaged]] too, parses and explodes them
    * distributed. The schema is inferred from the bodies, so an ad-hoc
    * page shape keeps all its fields. None if the walk aborted. */
  def readFetched(spark: SparkSession, fetcher: PageFetcher,
                  maxPages: Int = 100): Option[DataFrame] =
    fetchPages(fetcher, maxPages).map(b =>
      StudiesSource.parsePages(spark.createDataset(b)(Encoders.STRING), schema = None))
}
