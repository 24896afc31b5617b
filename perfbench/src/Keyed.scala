package graft.entry.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.EventOps
import graft.streaming.StatefulOps

/** The per-key state path: the events log, cut into chunks in ascending
  * event time, fed in a closed loop into three `StatefulOps` queries —
  * daily UV dedup (reads of known users), CEP jump detection (event-time
  * timers) and 1-day retention ingest dedup keyed on each event's content
  * (user, type, value, props), which is unique per event in this log, so
  * nearly every row inserts a new key and the 1-day timers evict it again.
  * No warehouse query runs. */
final class Keyed(spark: SparkSession, a: Main.Args) extends Workload {
  val topics: Seq[String] = Seq("events")
  val warmChunks: Int = if (a.size == "tiny") 1 else 3
  private val chunks = if (a.size == "tiny") 3 else Keyed.Chunks

  private def fmt(c: Column) = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  def stage(root: String): IndexedSeq[Long] = {
    val ev = Tables.events(spark, a.data)
    val us = unix_micros(col("ts"))
    val mm = ev.agg(min(us), max(us)).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    ev.withColumn("__chunk",
        least(lit(chunks - 1), floor(((us - lit(lo)).cast("double") * chunks) / lit(hi - lo + 1))).cast("int"))
      .repartition(col("__chunk"))
      // the seed salts the order of events within one timestamp
      .sortWithinPartitions(col("__chunk"), col("ts"), hash(col("event_id"), lit(a.seed)))
      .write.partitionBy("__chunk").parquet(s"$root/events")
    // one far-future event (user -1) advances the watermark past every
    // pending jump timer; the checks strip it
    import spark.implicits._
    Seq(StatefulOps.Event(-1L, new Timestamp(hi / 1000L + 2L * 86400000L), -1L, "flush", 0.0, "{}"))
      .toDS().coalesce(1).write.parquet(s"$root/events/__chunk=${Feed.Flush}")
    val counts = spark.read.parquet(s"$root/events").groupBy("__chunk").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until chunks).map(counts.getOrElse(_, 0L))
  }

  def start(s: SparkSession, in: String, wh: String): Seq[Tagged] = {
    import s.implicits._
    def events = s.readStream.schema(Keyed.Schema).parquet(s"$in/events").as[StatefulOps.Event]
    def sink(name: String, df: DataFrame) = Tagged(df.writeStream.outputMode("append")
      .option("checkpointLocation", s"$wh/ckpt/$name").format("parquet")
      .option("path", s"$wh/$name").start(), name, "stateful", Set("events"))
    Seq(
      sink("uv_dedup", StatefulOps.dedupDaily(events).toDF()),
      sink("jump_detect", StatefulOps.jumpDetect(events.withWatermark("ts", "2 seconds"),
        _.event_type == "view", 30L).toDF()),
      sink("retention_dedup", StatefulOps.firstPerKeyRetention(
        events.select(Keyed.contentKey, col("event_id"), col("ts"))
          .as[(String, Long, Timestamp)], java.time.Duration.ofDays(1)).toDF("key", "id")))
  }

  def checks(s: SparkSession, in: String, wh: String): Seq[(String, DataFrame, DataFrame)] = {
    val ev = s.read.schema(Keyed.Schema).parquet(s"$in/events").where(col("event_id") =!= -1L)
    def out(n: String) = s.read.parquet(s"$wh/$n")
    val tUs = unix_micros(col("ts"))
    val prev = lag(tUs, 1).over(Window.partitionBy(col("key")).orderBy(tUs, col("id")))
    Seq(
      ("stateful.uv_dedup",
        out("uv_dedup").where(col("user_id") =!= -1L)
          .select(col("user_id"), to_date(col("ts")).cast("string").as("visit_date"),
            fmt(col("ts")).as("first_ts")),
        EventOps.dedupDaily(ev).select(col("user_id"),
          col("visit_date").cast("string").as("visit_date"), fmt(col("first_ts")).as("first_ts"))),
      ("stateful.jump_detect",
        out("jump_detect").where(col("user_id") =!= -1L)
          .select(col("event_id"), col("user_id"), fmt(col("ts")).as("ts_str")),
        EventOps.jumpDetect(ev, col("event_type") === "view", 30L)
          .select(col("event_id"), col("user_id"), fmt(col("ts")).as("ts_str"))),
      // the retention contract as a LAG: admit on a key's first sighting or
      // after a gap of more than one day since its previous sighting
      ("stateful.retention_dedup",
        out("retention_dedup").where(col("id") =!= -1L).select(col("id"), col("key")),
        ev.select(Keyed.contentKey.as("key"), col("event_id").as("id"), col("ts"))
          .withColumn("prev", prev)
          .where(col("prev").isNull || tUs - col("prev") > 86400000000L)
          .select(col("id"), col("key"))))
  }
}

object Keyed {
  /** Chunks the event log is cut into (closed loop: dropped until the
    * time is up); the first [[warmChunks]] are the warm-up. */
  val Chunks = 40

  /** The ingest-dedup key: a redelivered event repeats all of these. */
  def contentKey: Column =
    concat_ws(":", col("user_id"), col("event_type"), col("value").cast("string"), col("props"))

  val Sinks: Map[String, String] =
    Seq("uv_dedup", "jump_detect", "retention_dedup").map(n => n -> s"/$n]").toMap

  val Schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[StatefulOps.Event].schema
}
