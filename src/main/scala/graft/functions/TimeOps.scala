package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Timestamp handling mirroring the reference's util surface:
  * whole-table timezone localization (F4, `localize_timestamps`,
  * util.py:63-83), tz-from-longitude (F5, seamf.py:38-46), and calendar
  * blocks for export partitioning (S12). Canonical storage is UTC
  * TimestampType; localization is a display-layer projection
  * (`from_utc_timestamp`), not a storage rewrite.
  */
object TimeOps {

  /** Localize every TimestampType column of `df` to `tz` (reference
    * `localize_timestamps`). Column set preserved; localized columns get
    * wall-clock values in `tz`.
    */
  def localizeTimestamps(df: DataFrame, tz: String): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        from_utc_timestamp(col(f.name), tz).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Column form of the longitude->US-timezone banding (F5; the reference
    * hard-codes continental-US meridian bands, seamf.py:38-46).
    */
  def timezoneFromLongitude(lng: Column): Column =
    when(lng >= -125.0 && lng < -114.0, "America/Los_Angeles")
      .when(lng >= -114.0 && lng < -102.0, "America/Denver")
      .when(lng >= -102.0 && lng < -87.0, "America/Chicago")
      .when(lng >= -87.0 && lng < -65.0, "America/New_York")
      .otherwise(lit(null).cast("string"))

  /** Calendar-block label for export partitioning (reference monthly/weekly
    * repartition, S12): "month" -> yyyy-MM, "week" -> ISO year-week.
    */
  def calendarBlock(ts: Column, freq: String): Column = freq match {
    case "day" => date_format(ts, "yyyy-MM-dd")
    case "month" => date_format(ts, "yyyy-MM")
    case "week" => concat(year(ts), lit("-W"), lpad(weekofyear(ts), 2, "0"))
    case other => throw new IllegalArgumentException(s"unknown freq $other")
  }
}
