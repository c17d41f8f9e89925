package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Essie term shapes (SURVEY.md §2.2) against the studies fixture. */
class EssieSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def raw = StudiesSource.readStudies(spark, "/root/repo/fixtures/studies.json")

  private def ids(terms: String*): Set[String] = {
    import org.apache.spark.sql.functions.col
    raw.filter(Essie.compileAll(terms))
      .select(col("protocolSection.identificationModule.nctId"))
      .collect().map(r => Option(r.getString(0)).getOrElse("null")).toSet
  }

  test("full reference config conjunction selects exactly the designed rows") {
    assert(ids(Essie.referenceConfigTerms: _*) == Set("NCT00000001", "NCT00000010", "NCT00000012"))
  }

  test("equality term") {
    assert(ids("AREA[StudyType]OBSERVATIONAL") == Set("NCT00000002"))
  }

  test("date range applies to padded partial dates (YYYY-MM inside range)") {
    assert(ids("AREA[StartDate]RANGE[2013-05-01,2013-12-31]") == Set("NCT00000003"))
  }

  test("nested-location EXISTS") {
    val canada = ids("SEARCH[Location](AREA[LocationCountry]Canada)")
    assert(canada.contains("NCT00000001") && canada.contains("NCT00000004"))
    assert(!canada.contains("NCT00000003")) // US only
  }

  test("disjunction") {
    assert(ids("(AREA[Sex]MALE OR AREA[Sex]ALL)")
      .intersect(Set("NCT00000002", "NCT00000013")).size == 2)
  }

  test("MISSING branch matches every row with an absent age (incl. missing module)") {
    // NCT00000010 omits maximumAge; NCT00000009 has no eligibilityModule at
    // all; the no-id study has no ages — all are MISSING per .get() semantics
    assert(ids("AREA[MaximumAge]MISSING") == Set("null", "NCT00000009", "NCT00000010"))
  }

  test("unit-bearing age range: 17 Years fails RANGE[18 Years,MAX]") {
    assert(!ids("AREA[MaximumAge]RANGE[18 Years,MAX]").contains("NCT00000014"))
  }

  test("phase IN-list via array membership") {
    assert(ids("AREA[Phase]EARLY_PHASE1") == Set("NCT00000010"))
    assert(ids("(AREA[Phase]PHASE3 OR AREA[Phase]PHASE4)")
      == Set("NCT00000003", "NCT00000004", "NCT00000007"))
  }

  test("full-text search spans title/summary/criteria") {
    assert(ids("SEARCH[Study]insomnia") == Set("NCT00000002"))
  }

  test("unparseable term throws") {
    intercept[IllegalArgumentException] { Essie.parse("GIBBERISH") }
  }

  test("an area with no leaf in the declared read schema is refused when parsed") {
    Seq("AREA[conditionsModule]MISSING", "AREA[OverallStatus]RECRUITING",
      "AREA[StudyType]RANGE[A,B]", "AREA[Sex]MISSING",
      "(AREA[Sex]ALL OR AREA[conditionsModule]MISSING)").foreach { t =>
      val e = intercept[IllegalArgumentException](Essie.parse(t))
      assert(e.getMessage.startsWith("unsupported Essie term: "), t)
    }
  }
}
