package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}

/** Typed `Dataset[T]` edge for the six pipeline outputs (SURVEY §1.4): the
  * engine core stays `DataFrame` (wide, column-list driven), and these case
  * classes give compile-time field checks at the public API boundary.
  */
object Models {

  final case class DimScenario(
      scenario_id: String, scenario_name: Option[String],
      scenario_status: Option[String], is_starter: Option[Boolean],
      model_id: Option[String], model_name: Option[String],
      scenario_start_year: Option[Int], forecast_cycle_id: Option[String],
      forecast_cycle_name: Option[String],
      created_at: Option[Timestamp], updated_at: Option[Timestamp],
      submitted_at: Option[Timestamp], locked_at: Option[Timestamp],
      withdraw_at: Option[Timestamp],
      etl_created_at: Option[Timestamp], etl_updated_at: Option[Timestamp])

  final case class TimelineEvent(
      source_key: String, event_type: Option[String],
      event_category: Option[String], event_time: Option[Timestamp],
      actor: Option[String], description: Option[String],
      run_id: Option[String], node_name: Option[String],
      event_type_name: Option[String], scenario_id: Option[String],
      etl_created_at: Option[Timestamp])

  final case class WatermarkRow(
      table_name: String, last_fetched_at: Timestamp, rows_last_run: Long,
      last_run_at: Timestamp, total_rows_ever: Long)

  def dimScenario(df: DataFrame): Dataset[DimScenario] = {
    import df.sparkSession.implicits._
    df.as[DimScenario]
  }
  def timeline(df: DataFrame): Dataset[TimelineEvent] = {
    import df.sparkSession.implicits._
    df.as[TimelineEvent]
  }
  def watermarks(df: DataFrame): Dataset[WatermarkRow] = {
    import df.sparkSession.implicits._
    df.as[WatermarkRow]
  }
}
