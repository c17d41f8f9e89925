package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Compiler from the reference's Essie filter terms to Catalyst `Column`
  * predicates (SURVEY.md §2.2).
  *
  * The reference delegates filtering to the CT.gov server by joining its
  * `filter_advanced` config terms into one query string
  * (`/root/reference/etl.py:98-104`; terms at
  * `/root/reference/config.example.yaml:4-12`). This module re-implements
  * those query semantics natively: each term becomes an ordinary Catalyst
  * expression over the raw nested study frame, so the existing optimizer
  * rules push them into the source scan — the in-engine analog of the
  * reference's server-side pushdown (O3). No custom `Rule` needed.
  *
  * Term grammar covered (everything the reference config uses):
  *   AREA[StudyType|Sex|Phase|LocationCountry]VALUE   equality
  *   AREA[StartDate|MinimumAge|MaximumAge]RANGE[a,b]   closed range
  *                               (dates or unit-bearing ages; MIN/MAX
  *                               open a side)
  *   AREA[MinimumAge|MaximumAge]MISSING   null check
  *   SEARCH[Location](AREA[LocationCountry]X)   EXISTS over nested locations
  *   SEARCH[Study]term           full-text containment over study text
  *   (t1 OR t2 OR ...)           disjunction
  * Top-level terms are AND-folded exactly like `etl.py:99-100`. Every
  * area above reads a leaf of the declared read schema ([[StudySchema]]);
  * [[parse]] refuses any other area rather than guess at it as a
  * `protocolSection` child.
  */
object Essie {

  sealed trait Term
  final case class Area(field: String, value: String) extends Term
  final case class AreaRange(field: String, lo: String, hi: String) extends Term
  final case class AreaMissing(field: String) extends Term
  final case class SearchLocation(inner: Term) extends Term
  final case class SearchStudy(needle: String) extends Term
  final case class Or(terms: Seq[Term]) extends Term

  // ------------------------------------------------------------- parsing

  private val AreaRangeRe = """AREA\[(\w+)\]RANGE\[([^,\]]+),([^\]]+)\]""".r
  private val AreaMissingRe = """AREA\[(\w+)\]MISSING""".r
  private val AreaRe = """AREA\[(\w+)\](.+)""".r
  private val SearchLocRe = """SEARCH\[Location\]\((.+)\)""".r
  private val SearchStudyRe = """SEARCH\[Study\](.+)""".r

  /** The areas [[compile]] reads, per term shape. Each maps to a leaf
    * of [[StudySchema]]; any other area is rejected when parsed. */
  private val ValueAreas = Seq("StudyType", "Sex", "Phase", "LocationCountry")
  private val RangeAreas = Seq("StartDate", "MinimumAge", "MaximumAge")
  private val MissingAreas = Seq("MinimumAge", "MaximumAge")

  def parse(s: String): Term = {
    val t = s.trim
    def area(f: String, known: Seq[String]): String =
      if (known.contains(f)) f
      else throw new IllegalArgumentException(
        s"unsupported Essie term: $t (this form reads AREA[${known.mkString("|")}])")
    if (t.startsWith("(") && t.endsWith(")"))
      Or(splitTopLevelOr(t.substring(1, t.length - 1)).map(parse))
    else t match {
      case SearchLocRe(inner)      => SearchLocation(parse(inner))
      case SearchStudyRe(needle)   => SearchStudy(needle.trim)
      case AreaRangeRe(f, lo, hi)  => AreaRange(area(f, RangeAreas), lo.trim, hi.trim)
      case AreaMissingRe(f)        => AreaMissing(area(f, MissingAreas))
      case AreaRe(f, v)            => Area(area(f, ValueAreas), v.trim)
      case other => throw new IllegalArgumentException(s"unparseable Essie term: $other")
    }
  }

  /** Split on " OR " at paren depth 0 only. */
  private def splitTopLevelOr(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'O' if depth == 0 && i + 2 <= s.length - 1 && s.startsWith("OR ", i) &&
          i > 0 && s.charAt(i - 1) == ' ' =>
          parts += s.substring(start, i - 1); start = i + 3; i += 2
        case _ =>
      }
      i += 1
    }
    parts += s.substring(start)
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // ----------------------------------------------------------- compiling

  private val studyType = col("protocolSection.designModule.studyType")
  private val startDate = col("protocolSection.statusModule.startDateStruct.date")
  private val sex       = col("protocolSection.eligibilityModule.sex")
  private val minAge    = col("protocolSection.eligibilityModule.minimumAge")
  private val maxAge    = col("protocolSection.eligibilityModule.maximumAge")
  private val phases    = col("protocolSection.designModule.phases")
  private val locations = col("protocolSection.contactsLocationsModule.locations")

  private def ageCol(field: String): Column = field match {
    case "MinimumAge" => minAge
    case "MaximumAge" => maxAge
  }

  /** "18 Years" / "6 Months" → months; null-safe (null in, null out). */
  def ageMonths(c: Column): Column =
    split_part(c, lit(" "), lit(1)).try_cast(IntegerType) *
      when(c.contains("Year"), lit(12)).otherwise(lit(1))

  /** Driver-side bound parse: "18 Years"→216, "6 Months"→6; MIN/MAX → None. */
  private def boundMonths(s: String): Option[Int] = s match {
    case "MIN" | "MAX" => None
    case v =>
      val parts = v.split(" ")
      Some(parts(0).toInt * (if (v.contains("Year")) 12 else 1))
  }

  /** Partial dates ("2013", "2013-05") padded to a full YYYY-MM-DD so a
    * lexical compare is a correct date compare in any engine. */
  def padDate(c: Column): Column =
    when(length(c) === 10, c)
      .when(length(c) === 7, concat(c, lit("-01")))
      .when(length(c) === 4, concat(c, lit("-01-01")))

  /** Full-text haystack: the study's human-readable text fields
    * (title/summary/description/criteria), lowercased. */
  private val fulltext: Column = lower(concat_ws(" ",
    coalesce(col("protocolSection.identificationModule.briefTitle"), lit("")),
    coalesce(col("protocolSection.identificationModule.officialTitle"), lit("")),
    coalesce(col("protocolSection.descriptionModule.briefSummary"), lit("")),
    coalesce(col("protocolSection.descriptionModule.detailedDescription"), lit("")),
    coalesce(col("protocolSection.eligibilityModule.eligibilityCriteria"), lit(""))))

  def compile(t: Term): Column = t match {
    case Area("StudyType", v) => studyType === v
    case Area("Sex", v)       => sex === v
    case Area("Phase", v)     => coalesce(array_contains(phases, v), lit(false))
    case Area("LocationCountry", v) =>
      coalesce(array_contains(transform(locations, l => l.getField("country")), v), lit(false))

    case AreaRange("StartDate", lo, hi) => padDate(startDate).between(lo, hi)
    case AreaRange(f @ ("MinimumAge" | "MaximumAge"), lo, hi) =>
      val m = ageMonths(ageCol(f))
      val loP = boundMonths(lo).map(b => m >= b)
      val hiP = boundMonths(hi).map(b => m <= b)
      (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))

    case AreaMissing(f @ ("MinimumAge" | "MaximumAge")) => ageCol(f).isNull

    case SearchLocation(inner) => compile(inner)
    case SearchStudy(needle)   => fulltext.contains(needle.toLowerCase)
    case Or(ts)                => ts.map(compile).reduce(_ || _)
    case other => throw new IllegalArgumentException(s"unsupported Essie term: $other")
  }

  /** AND-fold of config terms — the reference's joiner (`etl.py:99-100`). */
  def compileAll(terms: Seq[String]): Column =
    terms.map(t => compile(parse(t))).reduce(_ && _)

  /** The exact filter set shipped in the reference example config
    * (`config.example.yaml:4-12`). */
  val referenceConfigTerms: Seq[String] = Seq(
    "AREA[StudyType]INTERVENTIONAL",
    "AREA[StartDate]RANGE[2013-05-01,2024-12-31]",
    "SEARCH[Location](AREA[LocationCountry]Canada)",
    "(AREA[Sex]FEMALE OR AREA[Sex]ALL)",
    "(AREA[MaximumAge]RANGE[18 Years,MAX] OR AREA[MaximumAge]MISSING)",
    "(AREA[MinimumAge]RANGE[MIN,64 Years] OR AREA[MinimumAge]MISSING)",
    "(AREA[Phase]EARLY_PHASE1 OR AREA[Phase]PHASE1 OR AREA[Phase]PHASE2 OR AREA[Phase]PHASE3 OR AREA[Phase]PHASE4)",
    "(SEARCH[Study]pregnant OR SEARCH[Study]pregnancy)")
}
