package graft.signal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Channel catalog / ingestion — the Spark analog of the reference's
  * DAQ layer (`io.py`): a "file" is a parquet table, a "channel" is a
  * key value, and `to_pandas`'s datetime→relative-seconds conversion
  * (`io.py:68-82`, `extension.py:315-325`) is a projection.
  */
object Channels {

  /** The events fixture as a multi-channel signal: event_type is the
    * channel key, t is seconds relative to each channel's first sample
    * (µs-exact: integer micros differenced before the single float
    * division), value is the sample.
    */
  /** events.ts has shipped as three parquet encodings across fixture
    * generations: TIMESTAMP(NANOS) (readable only when the session
    * sets the `spark.sql.legacy.parquet.nanosAsLong` flag, as int64
    * nanoseconds), timestamp[us] with isAdjustedToUTC=true (Spark
    * TIMESTAMP), and timestamp[us] with isAdjustedToUTC=false (Spark
    * TIMESTAMP_NTZ). Accept all three and reduce to exact integer
    * microseconds. The nanos division must stay integral (int64 nanos
    * exceed double precision). The NTZ branch reads the wall-clock AS
    * UTC via pure field arithmetic (`ntzMicros`) — NOT a cast to
    * TIMESTAMP, whose result shifts with spark.sql.session.timeZone.
    *
    * The loader is PURE: it never mutates session config. The engine's
    * own mains and test sessions enable the nanos legacy flag at
    * session build (`GraftSession.local`); an
    * external session reading a nanos fixture without it gets Spark's
    * loud legacy-flag error instead of a silently flipped global.
    */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.withColumn("us", usOf(df.schema("ts").dataType))
  }

  /** Exact epoch-microseconds projection for a `ts` column in any of
    * the three fixture encodings, timezone-independent in all three.
    */
  private def usOf(tsType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    tsType match {
      case org.apache.spark.sql.types.LongType         => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType => ntzMicros(col("ts"))
      case _                                           => unix_micros(col("ts"))
    }

  /** Epoch micros of a TIMESTAMP_NTZ column with the wall-clock read
    * as UTC, independent of spark.sql.session.timeZone: date days plus
    * time-of-day fields, all timezone-free on NTZ inputs (a
    * cast("timestamp") would silently shift any non-UTC caller's
    * epoch). date_part('SECOND') is DECIMAL(8,6) seconds, so the
    * micro-of-second term is exact integer arithmetic.
    */
  private def ntzMicros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_date(c.cast("date")).cast("long") * lit(86400000000L) +
      hour(c).cast("long") * lit(3600000000L) +
      minute(c).cast("long") * lit(60000000L) +
      (date_part(lit("SECOND"), c) * lit(1000000)).cast("long")

  /** A TIMESTAMP_NTZ literal holding the UTC wall-clock of the given
    * epoch micros — built driver-side from LocalDateTime, so no
    * session-timezone cast ever touches it (timestamp_micros(...)
    * .cast("timestamp_ntz") would constant-fold THROUGH the session
    * zone and shift non-UTC callers' filter bounds).
    */
  private def ntzLit(usv: Long): org.apache.spark.sql.Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(usv, 1000000L), (Math.floorMod(usv, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
      .select(col("event_type").as("channel"), col("us"), col("value").as("v"))
    // channel origins as a partial-aggregate + broadcast join: a
    // whole-partition window would shuffle the entire fact table just
    // to learn one min per channel — the aggregate ships only the
    // tiny (channel, us0) dim back to every task
    val origins = raw.groupBy("channel").agg(min("us").as("us0"))
    raw.join(broadcast(origins), "channel")
      .withColumn("t", (col("us") - col("us0")) / lit(1000000.0))
      .select("channel", "t", "v")
  }

  /** Scan-pruned ingestion for absolute-time windows: the predicate is
    * applied to the raw microsecond column BEFORE the relative-time
    * projection, so it reaches the parquet scan (row-group pruning /
    * PushedFilters) — the 100 TB path for "give me last week". The
    * relative axis still uses each channel's TRUE origin (precomputed
    * over the unfiltered table, tiny aggregate, broadcast back), so
    * semantics match events().between(...) on absolute bounds.
    */
  def eventsAbsolute(spark: SparkSession, sfDir: String,
                     startUs: Long, endUs: Long): DataFrame = {
    val df0 = spark.read.parquet(s"$sfDir/events.parquet")
    val tsType = df0.schema("ts").dataType
    val nanos = tsType == org.apache.spark.sql.types.LongType
    // the range predicate must hit the RAW ts column (nanos / native
    // timestamp / NTZ timestamp) — a filter on the derived microsecond
    // expression cannot reach PushedFilters. For the NTZ encoding the
    // bound is an NTZ LITERAL built from LocalDateTime (`ntzLit`): a
    // TIMESTAMP literal would force a cast onto the column and kill
    // pushdown, and a cast-folded literal would shift with the session
    // timezone. bounds are µs-truncation semantics (epoch_us(ts) in
    // [startUs, endUs]); nanos fixtures carry sub-µs precision, so the
    // raw-nanos upper bound must be < (endUs+1)*1000, not <= endUs*1000
    def bound(usv: Long) =
      if (tsType == org.apache.spark.sql.types.TimestampNTZType) ntzLit(usv)
      else timestamp_micros(lit(usv))
    val filtered =
      if (nanos) df0.filter(col("ts") >= startUs * 1000L && col("ts") < (endUs + 1) * 1000L)
      else df0.filter(col("ts") >= bound(startUs) && col("ts") <= bound(endUs))
    val raw = filtered.select(col("event_type").as("channel"), usOf(tsType).as("us"),
      col("value").as("v"))
    val origins = rawEvents(spark, sfDir)
      .groupBy(col("event_type").as("channel")).agg(min("us").as("us0"))
    raw.join(broadcast(origins), "channel")
      .withColumn("t", (col("us") - col("us0")) / lit(1000000.0))
      .select("channel", "t", "v")
  }

  /** Write a signal table partitioned by channel — the storage layout
    * that turns every per-channel operator's scan into partition
    * pruning at scale (and makes channel-grain joins co-located).
    */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("channel").parquet(path)

  /** Save a signal table BUCKETED by channel (sorted by t within each
    * bucket): every downstream per-channel window/groupBy/join reads
    * the bucket layout as a satisfied hash distribution, so the
    * per-channel shuffle disappears entirely — the right persisted
    * layout when many analyses hit the same channels (see the
    * no-Exchange assertion in SparkOpsSpec).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, "channel").sortBy("channel", "t")
      .format("parquet").saveAsTable(table)

  /** Channel names present in a signal table
    * (`Endaq.channel_list`, `io.py:175-184`).
    */
  def channelList(df: DataFrame): Seq[String] =
    df.select("channel").distinct().collect().map(_.getString(0)).sorted.toSeq

  /** One channel by name; errors if absent (`Endaq.get_channel`,
    * `io.py:208-239`).
    */
  def getChannel(df: DataFrame, name: String): Signal = {
    val one = df.filter(col("channel") === name)
    if (one.isEmpty) throw new NoSuchElementException(s"Channel does not exist: $name")
    Signal(one, name = name)
  }

  /** Per-channel start times as wall-clock epochs — the `origin`
    * metadata (`io.py:251-255`).
    */
  def startTimes(spark: SparkSession, sfDir: String): DataFrame =
    rawEvents(spark, sfDir)
      .groupBy(col("event_type").as("channel"))
      .agg(timestamp_micros(min("us")).as("start_time"))

  /** In-memory channel from arrays — the generic `Channel` 5-tuple
    * (`io.py:85-158`).
    */
  def fromArrays(spark: SparkSession, name: String, time: Array[Double],
                 data: Array[Double], unit: String = "none",
                 startTime: Option[java.time.Instant] = None): Signal = {
    import spark.implicits._
    val df = time.zip(data).toSeq.toDF("t", "v")
      .select(lit(name).as("channel"), col("t"), col("v"))
    Signal(df, name, unit, startTime)
  }
}
