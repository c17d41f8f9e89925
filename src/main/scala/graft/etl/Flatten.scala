package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** The reference's core transform: nested study JSON → flat 11-column row
  * with the `'N/A'` sentinel on every missing leaf
  * (`/root/reference/etl.py:178-229`, SURVEY.md O6-O9).
  *
  * The reference walks the dict row-at-a-time with `.get(k, default)`
  * chains; here the whole flatten is a single `select` of 11 aliased
  * `coalesce` expressions — Catalyst prunes the nested read to exactly
  * the 10 leaves used and the projection stays in whole-stage codegen,
  * so this runs columnar at any scale with no custom operator.
  */
object Flatten {

  /** `'N/A'` null-sentinel coalesce (etl.py uses it on every leaf). */
  private def na(path: String): Column =
    coalesce(col(s"protocolSection.$path"), lit("N/A"))

  /** `start_year = start_date.split('-')[0]` iff the date is present and
    * contains '-', else 'N/A' (`etl.py:201` — a bare `YYYY` date yields
    * 'N/A', a quirk the engine reproduces on purpose). */
  def startYear(startDate: Column): Column =
    when(startDate =!= "N/A" && startDate.contains("-"),
      split_part(startDate, lit("-"), lit(1)))
      .otherwise(lit("N/A"))

  /** Output column order mirrors the reference dict (`etl.py:217-229`). */
  def apply(rawStudies: DataFrame): DataFrame = {
    val sd = na("statusModule.startDateStruct.date")
    rawStudies.select(
      na("identificationModule.nctId").as("nct_id"),
      na("identificationModule.briefTitle").as("brief_title"),
      na("identificationModule.officialTitle").as("official_title"),
      na("statusModule.overallStatus").as("overall_status"),
      na("designModule.studyType").as("study_type"),
      sd.as("start_date"),
      na("eligibilityModule.sex").as("gender"),
      na("descriptionModule.briefSummary").as("brief_summary"),
      na("descriptionModule.detailedDescription").as("detailed_description"),
      na("eligibilityModule.eligibilityCriteria").as("criteria"),
      startYear(sd).as("start_year"))
  }
}

/** The declared read schema of a study: exactly the leaves [[Flatten]]
  * and [[Essie]] read (Essie refuses an area it has no leaf for). Page
  * bodies parsed against it need no schema-inference pass, and a leaf
  * that no study in the chain carries reads as null, so Flatten writes
  * the reference's `'N/A'` (`etl.py`'s `.get(k, 'N/A')`) instead of
  * failing analysis. A leaf added to Flatten or Essie must be added here
  * too (FlattenSpec analyzes both readers over an empty frame of this
  * schema). */
object StudySchema {

  val study: StructType = StructType.fromDDL(
    """protocolSection STRUCT<
      |  identificationModule: STRUCT<nctId: STRING, briefTitle: STRING, officialTitle: STRING>,
      |  statusModule: STRUCT<overallStatus: STRING, startDateStruct: STRUCT<date: STRING>>,
      |  designModule: STRUCT<studyType: STRING, phases: ARRAY<STRING>>,
      |  eligibilityModule: STRUCT<sex: STRING, eligibilityCriteria: STRING,
      |    minimumAge: STRING, maximumAge: STRING>,
      |  descriptionModule: STRUCT<briefSummary: STRING, detailedDescription: STRING>,
      |  contactsLocationsModule: STRUCT<locations: ARRAY<STRUCT<country: STRING>>>>""".stripMargin)

  /** A page document (`{"studies": [...], "nextPageToken"?}`); the token
    * is read on the driver by [[PageFetcher.walk]], not here. */
  val page: StructType = StructType(Seq(StructField("studies", ArrayType(study))))
}
