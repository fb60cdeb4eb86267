package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure `DataFrame => DataFrame` transforms producing the star schema.
  *
  * Each transform mirrors the behavior of the reference ETL
  * (`spark-jobs/sparkify_etl.py`) but is expressed as idiomatic Scala
  * Spark; in particular the Python timestamp UDF is replaced by a native
  * codegen'd expression chain (see [[TimeTable.withStartTime]]).
  *
  * Semantic corners deliberately preserved (SURVEY §7.4):
  *   - Users argmax keeps ties: `max(ts) over (partition by userId)` then
  *     `ts == max_ts` retains multiple rows when a user's max ts repeats.
  *   - `userID` vs `userId` works because Spark's analyzer is
  *     case-insensitive by default; we just use the declared casing.
  *   - J2 joins on exact Double equality (`length == duration`).
  *   - J1 is a full-outer USING join: key column coalesced, no duplicate.
  */
object Transforms {

  /** Songs dimension: 5 of 9 catalog columns (reference `sparkify_etl.py:47`). */
  def songsTable(songData: DataFrame): DataFrame =
    songData.select("song_id", "title", "artist_id", "year", "duration")

  /** Artists dimension: rename + distinct (reference `sparkify_etl.py:58-66`). */
  def artistsTable(songData: DataFrame): DataFrame =
    songData
      .select(
        col("artist_id"),
        col("artist_name").as("name"),
        col("artist_location").as("location"),
        col("artist_latitude").as("latitude"),
        col("artist_longitude").as("longitude")
      )
      .distinct()

  /** NextSong event filter applied before every log-derived table
    * (reference `sparkify_etl.py:120`).
    */
  def nextSongEvents(logData: DataFrame): DataFrame =
    logData.filter(col("page") === "NextSong")

  /** Users dimension: latest-event-wins per user, ties kept
    * (reference `sparkify_etl.py:123-137`). Input must already be
    * NextSong-filtered.
    *
    * At 100 TB this is a single shuffle on userId; the window aggregate
    * has no ordering requirement so Spark computes it with a hash-style
    * window over the whole partition frame.
    */
  def usersTable(events: DataFrame): DataFrame =
    events
      .select(col("*"), max("ts").over(Window.partitionBy("userId")).as("max_ts_user"))
      .filter(
        col("ts") === col("max_ts_user") &&
          col("userId") =!= "" &&
          col("userId").isNotNull
      )
      .select(
        col("userId").as("user_id"),
        col("firstName").as("first_name"),
        col("lastName").as("last_name"),
        col("gender"),
        col("level")
      )

  /** Adds `start_time`: epoch-millis-double → second-truncated UTC
    * timestamp. Native replacement for the reference's Python UDF
    * (`sparkify_etl.py:146-150`): `datetime.fromtimestamp(x/1000)
    * .replace(microsecond=0)` on a UTC cluster ==
    * `timestamp_seconds(floor(ts / 1000))`.
    *
    * Python floor-divides toward -inf only via `//`; the reference uses
    * `/` then `fromtimestamp`, which truncates sub-second precision after
    * `.replace(microsecond=0)` — i.e. floor for positive epochs. We use
    * `floor`, identical for all real (positive) timestamps.
    */
  def withStartTime(events: DataFrame): DataFrame =
    events.select(col("*"), startTime)

  /** The `start_time` column of [[withStartTime]], for a projection
    * that names its other columns itself.
    */
  val startTime: Column = timestamp_seconds(floor(col("ts") / 1000).cast("long")).as("start_time")

  /** Time dimension: distinct second-truncated timestamps with derived
    * calendar parts (reference `sparkify_etl.py:153-162`). Input must
    * already carry `start_time`.
    */
  def timeTable(eventsWithStartTime: DataFrame): DataFrame =
    eventsWithStartTime
      .select(
        col("start_time"),
        hour(col("start_time")).as("hour"),
        dayofmonth(col("start_time")).as("day"),
        weekofyear(col("start_time")).as("week"),
        month(col("start_time")).as("month"),
        year(col("start_time")).as("year"),
        dayofweek(col("start_time")).as("weekday")
      )
      .distinct()

  /** Songplays fact table (reference `sparkify_etl.py:172-206`).
    *
    * @param events    NextSong-filtered log events WITH `start_time`
    * @param songs     songs dimension (typically re-read from Parquet — the
    *                  reference's deliberate materialization barrier)
    * @param artists   artists dimension (ditto)
    * @param time      time dimension (in-memory DF, as in the reference)
    *
    * Join chain: songs ⟗ artists USING artist_id (J1, coalesced key) →
    * events ⟕ joined on (song==title && artist==name && length==duration)
    * (J2 — exact Double equality on length) → ⟕ time USING start_time (J3).
    *
    * Scale note: the songs⟗artists side is a dimension table — Catalyst
    * broadcasts it when under the threshold; at 100 TB the events side
    * never shuffles for J2 (broadcast hash join), and J3 keys on
    * start_time which AQE handles. `songplay_id` keeps the reference's
    * `monotonically_increasing_id` (nondeterministic across runs —
    * excluded from golden comparisons).
    */
  def songplaysTable(
      events: DataFrame,
      songs: DataFrame,
      artists: DataFrame,
      time: DataFrame
  ): DataFrame = {
    val songDim = songs
      .join(artists, Seq("artist_id"), "full")
      .select("song_id", "title", "artist_id", "name", "duration")

    events
      .join(
        songDim,
        events("song") === songDim("title") &&
          events("artist") === songDim("name") &&
          events("length") === songDim("duration"),
        "left"
      )
      .join(time, Seq("start_time"), "left")
      .select(
        col("start_time"),
        col("userId").as("user_id"),
        col("level"),
        col("song_id"),
        col("artist_id"),
        col("sessionId").as("session_id"),
        col("location"),
        col("userAgent").as("user_agent"),
        col("year"),
        col("month"),
        monotonically_increasing_id().as("songplay_id")
      )
  }
}
