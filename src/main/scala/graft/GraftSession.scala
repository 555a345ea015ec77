package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and spec runs in. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core:
    *  - parquet TIMESTAMP(NANOS) columns read as int64 nanos and the
    *    session time zone pinned to UTC (`Channels.rawEvents` decodes
    *    every events.ts encoding exactly only under both);
    *  - 16 MB scan splits and a 64 MB broadcast threshold;
    *  - no UI, and WARN logging.
    *
    * 16 MB byte-range splits are fixture-shape, not engine tuning. The
    * v5 fixtures are 32-file tables, but Spark PACKS small files into
    * shared scan partitions by (size + 4 MB open cost), so at the
    * default 128 MB a well-compressed 32-file table still lands in 1-2
    * partitions, single-threading every scan-side filter; 16 MB keeps
    * those scans ~16-way. The r16 4 MB setting over-split EVERY scan
    * (32x scheduling overhead on the tiny sf0.1 tables) and was part
    * of the r16 bench regression. Production tables are many 128 MB+
    * files and split naturally at defaults.
    *
    * An existing session is returned with these settings applied again.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
