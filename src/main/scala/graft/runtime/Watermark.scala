package graft.runtime

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.merge.MergeSink

/** The per-stream offset store — the reference's `etl_watermark` table
  * (setup_target.py:15-21; read extract.py:10-31, advance extract.py:33-49;
  * SURVEY §2.1 S4/S5, §2.11 T2).
  *
  * Kept as a real queryable table (observability parity: rows_last_run,
  * total_rows_ever) rather than an opaque checkpoint. It is tiny — one row
  * per stream — so the driver holds all of it.
  */
final case class WatermarkState(table: String, lastFetchedAt: Timestamp,
                                rowsLastRun: Long, lastRunAt: Timestamp,
                                totalRowsEver: Long)

/** A driver-side snapshot of the table, loaded once on first use through
  * [[MergeSink.readTarget]] (so recovery runs). Reads come from memory and
  * launch no Spark job. Each `advance` is one serialized write of the whole
  * table via [[MergeSink.writeReplace]]; the snapshot is published after the
  * write returns and dropped if it throws (the next call reloads from disk).
  * Single writer per table: the contract [[MergeSink.recover]] states. */
class WatermarkStore(spark: SparkSession, dir: String) {
  import WatermarkStore._

  @volatile private var snapshot: Option[Map[String, WatermarkState]] = None

  def all(): Map[String, WatermarkState] = snapshot.getOrElse(this.synchronized {
    if (snapshot.isEmpty) snapshot = Some(MergeSink.readTarget(spark, dir).map { df =>
      df.collect().map { r =>
        val s = WatermarkState(r.getAs[String]("table_name"),
          tsOf(r.getAs[Any]("last_fetched_at")), r.getAs[Long]("rows_last_run"),
          tsOf(r.getAs[Any]("last_run_at")), r.getAs[Long]("total_rows_ever"))
        s.table -> s
      }.toMap
    }.getOrElse(Map.empty))
    snapshot.get
  })

  def get(table: String): Option[WatermarkState] = all().get(table)

  /** Extraction lower bound: watermark minus the late-data overlap, or the
    * epoch default for a never-seen stream (extract.py:27-31). */
  def since(table: String, overlapSec: Long): Timestamp =
    get(table).map(s => new Timestamp(s.lastFetchedAt.getTime - overlapSec * 1000L))
      .getOrElse(defaultSince)

  /** Advance the stream's offset (extract.py:33-49): set last_fetched_at to
    * `to`, bump counters. Runs even for empty batches (T8) so the overlap
    * window never grows unboundedly. */
  def advance(table: String, rows: Long, to: Timestamp, now: Timestamp): Unit =
    this.synchronized {
      val cur = all()
      val next = cur + (table -> WatermarkState(table, to, rows, now,
        cur.get(table).map(_.totalRowsEver).getOrElse(0L) + rows))
      try MergeSink.writeReplace(spark, dir, spark.createDataFrame(java.util.Arrays.asList(
        next.values.toSeq.sortBy(_.table).map(Row.fromTuple): _*), schema).coalesce(1))
      catch { case e: Throwable => snapshot = None; throw e }
      snapshot = Some(next)
    }
}

object WatermarkStore {
  /** Coerce a row value to `java.sql.Timestamp` regardless of whether the
    * plan produced a zoned timestamp (`Timestamp`), an NTZ one
    * (`LocalDateTime` — interpreted as UTC wall-clock, matching the engine's
    * fixed `spark.sql.session.timeZone=UTC`), or an `Instant` (when
    * `spark.sql.datetime.java8API.enabled` is on). Keeps the runtime cursor
    * alive whatever parquet encoding the source tables carry. */
  def tsOf(v: Any): Timestamp = v match {
    case t: Timestamp               => t
    case l: java.time.LocalDateTime => Timestamp.from(l.atOffset(java.time.ZoneOffset.UTC).toInstant)
    case i: java.time.Instant       => Timestamp.from(i)
    case other =>
      throw new IllegalArgumentException(s"not a timestamp value: $other (${other.getClass})")
  }

  val schema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("last_fetched_at", TimestampType, nullable = false),
    StructField("rows_last_run", LongType, nullable = false),
    StructField("last_run_at", TimestampType, nullable = false),
    StructField("total_rows_ever", LongType, nullable = false)))

  /** extract.py:31 — default watermark for a brand-new stream. */
  val defaultSince: Timestamp = Timestamp.valueOf("2020-01-01 00:00:00")
}
