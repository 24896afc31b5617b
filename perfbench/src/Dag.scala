package graft.entry.perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.apps.{GmallApp, GmallPipelines}
import graft.core.{Envelopes, Tables, TopicDb}
import graft.entry.GateSupport._
import graft.operators.{Dedup, Similarity}
import graft.streaming.{DimSink, FuzzyIngest, SemIngest, Windows}

/** The warehouse DAG (`GmallApp.startFromFiles`, 12 queries) catching up
  * on a backlog from a cold start: every topic, curation included, lands
  * as one drop; the far-future flush rows ride it, so every watermarked
  * tail is emitted by the following batches. The 10⁷ s join TTL keeps all
  * join state live. */
final class Dag(spark: SparkSession, a: Main.Args) extends Workload {
  import Dag._

  val topics: Seq[String] =
    Seq("topic_db", "topic_log", "table_process_config", "doc_paras", "embeddings")
  val warmChunks = 0
  private lazy val semCells = semDedupCells(Tables.embeddings(spark, a.data).count())

  /** A few files per topic: the seed salts which file each row lands in
    * (a hash split) and the order of rows within one timestamp. */
  private def write(root: String, topic: String, df: DataFrame, order: Column*): Unit =
    df.repartition(spark.sparkContext.defaultParallelism, hash(df.columns.map(col) :+ lit(a.seed): _*))
      .sortWithinPartitions(order: _*)
      .write.parquet(s"$root/$topic/__chunk=0")

  private def special(root: String, topic: String, chunk: Int, rows: Seq[String]): Unit = {
    import spark.implicits._
    rows.toDF("value").coalesce(1).write.parquet(s"$root/$topic/__chunk=$chunk")
  }

  def stage(root: String): IndexedSeq[Long] = {
    val salt = hash(col("value"), lit(a.seed))
    val ts = get_json_object(col("value"), "$.ts").cast("long")
    val docs = Tables.documents(spark, a.data)
    val paras = Dedup.explodeParagraphs(docs, 10)
      .select(Dedup.encodePos(col("doc_id"), col("pos")).as("enc"), col("para"))
    val feeds = Seq(
      "topic_db" -> (TopicDb.raw(spark, a.data), Seq(ts, salt)),
      "topic_log" -> (Tables.events(spark, a.data).select(trafficLogValue.as("value"))
        .unionByName(docs.select(keywordLogValue.as("value"))), Seq(ts, salt)),
      "doc_paras" -> (paras, Seq(col("enc"))),
      "embeddings" -> (Tables.embeddings(spark, a.data)
        .select(col("vec_id"), col("embedding"), col("label")), Seq(col("vec_id"))))
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(feeds) { case (t, (df, order)) =>
      Future(write(root, t, df, order: _*)) }, 150.seconds)
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0)
    special(root, "table_process_config", Feed.Prime, Seq(ConfigRoute))
    special(root, "topic_db", Feed.Flush, DagRun.flushSentinels)
    special(root, "topic_log", Feed.Flush, Seq(keywordSentinelJson(maxDoc), TrafficLogSentinel))
    special(root, "topic_db", Feed.Tail, Seq(InertEnvelope))
    IndexedSeq(feeds.map(f => spark.read.parquet(s"$root/${f._1}/__chunk=0").count()).sum)
  }

  def start(s: SparkSession, in: String, wh: String): Seq[Tagged] =
    Layers.tagDag(GmallApp.startFromFiles(s, in, wh, joinTtlSec = 10000000L, semCells = semCells))

  def checks(s: SparkSession, in: String, wh: String): Seq[(String, DataFrame, DataFrame)] = {
    // parsed once and shared by every twin below (they run concurrently)
    def cached(df: DataFrame) = { df.persist(); df.count(); df }
    val db = cached(Envelopes.cleanDirty(Envelopes.parseMaxwell(s.read.parquet(s"$in/topic_db")))._1)
    val log = cached(Envelopes.cleanDirty(Envelopes.parseLog(s.read.parquet(s"$in/topic_log")))._1)
    val dic = TopicDb.baseDic(s)
    val pre = cached(GmallPipelines.tradeOrderPreProcess(db, dic))
    def dwd(n: String) = s.read.parquet(s"$wh/dwd/$n")
    def dimStore(table: String, cols: Seq[String]): (String, DataFrame, DataFrame) = {
      val stream = DimSink.readDelta(s, s"$wh/dim", DimSink.TableConfig(table, cols, "id"))
      val batch = db.where(col("table") === table.stripPrefix("dim_"))
        .select((cols.map(c => col("data").getItem(c).as(c)) :+ col("ts")): _*)
      def norm(df: DataFrame) = df.where(col("ts") < SentinelTs)
        .select((cols :+ "ts").map(c => col(c).cast("string").as(c)): _*)
      (s"dim.${table.stripPrefix("dim_")}", norm(stream), norm(batch))
    }
    Seq(
      ("dwd.cart_add", cartAddAgg(dwd("cart_add")),
        cartAddAgg(GmallPipelines.tradeCartAdd(db, dic))),
      ("dwd.order_pre", orderPreAgg(dwd("order_pre")), orderPreAgg(pre)),
      ("dwd.cancel", cancelAgg(dwd("cancel")),
        cancelAgg(GmallPipelines.tradeCancel(pre))),
      ("dwd.pay_success", paySuccessAgg(dwd("pay_success")),
        paySuccessAgg(GmallPipelines.tradePaySuccess(db, pre, dic))),
      ("dwd.order_refund", orderRefundAgg(dwd("order_refund")),
        orderRefundAgg(GmallPipelines.tradeOrderRefund(db, dic))),
      ("dwd.refund_pay_suc", refundPayAgg(dwd("refund_pay_suc")),
        refundPayAgg(GmallPipelines.tradeRefundPaySuccess(db, dic))),
      ("dws.traffic", trafficWindowSelect(s.read.parquet(s"$wh/dws/traffic")),
        trafficWindowSelect(Windows.tumblingAgg(
          GmallPipelines.trafficCounters(GmallPipelines.baseLogSplit(log)("page")),
          "rt", "1 hour", "14 seconds",
          Seq(col("vc"), col("ch"), col("ar"), col("is_new")),
          Seq(sum(col("pv")).as("pv_ct"), sum(col("sv")).as("sv_ct"),
            sum(col("dur")).as("dur_sum"))))),
      ("dws.keyword", keywordWindowSelect(s.read.parquet(s"$wh/dws/keyword")),
        keywordWindowSelect(Windows.keywordCount(GmallPipelines.keywordHits(log)))),
      dimStore("dim_user_info", Seq("id", "name")),
      dimStore("dim_payment_info", Seq("id", "payment_type"))) ++ {
      val paras = s.read.parquet(s"$in/doc_paras")
        .select(expr(s"enc div ${Dedup.ParaPosEncode}").as("doc_id"),
          pmod(col("enc"), lit(Dedup.ParaPosEncode)).as("pos"), col("para"))
      val kept = FuzzyIngest.survivors(s, s"$wh/curation/fuzzy").join(paras, Seq("doc_id", "pos"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")), " ").as("kept_text"))
      Seq(
        ("curation.fuzzy", kept,
          Dedup.paragraphDedupFuzzy(Tables.documents(s, a.data), 10, 0.4).where(col("n_kept") > 0)),
        ("curation.sem", SemIngest.survivors(s, s"$wh/curation/sem"),
          Similarity.semDedup(s.read.parquet(s"$in/embeddings"), semCells, 0, 0.35)))
    }
  }

  /** The parse layer, timed by direct calls over the whole dropped feed:
    * each of the six topic_db consumers pays `parse_db_s` once. */
  override def core(s: SparkSession, in: String): Seq[(String, Double, String)] = {
    def timed(df: DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    val rawDb = s.read.parquet(s"$in/topic_db")
    val rawLog = s.read.parquet(s"$in/topic_log")
    val (db, dirtyDb) = Envelopes.cleanDirty(Envelopes.parseMaxwell(rawDb))
    val (log, dirtyLog) = Envelopes.cleanDirty(Envelopes.parseLog(rawLog))
    timed(db) // warm the parse path once before timing it
    Seq(
      ("core.parse_db_s", timed(db), "s"),
      ("core.parse_log_s", timed(log), "s"),
      ("core.rows", (rawDb.count() + rawLog.count()).toDouble, "rows"),
      ("core.dirty_rows", (dirtyDb.count() + dirtyLog.count()).toDouble, "rows"))
  }
}

object Dag {
  /** Far-future ts: the flush sentinels ride it, the checks strip it. */
  val SentinelTs = 4000000000L

  /** Routes payment_info into a dynamic DIM store (dropped, and consumed,
    * before any data, so every data batch sees the route). */
  val ConfigRoute: String =
    """{"op":"c","ts_ms":10,"after":{"source_table":"payment_info","sink_table":"dim_payment_info","sink_columns":"id,payment_type"}}"""

  /** An envelope no pipeline routes; its batch runs after the sentinels'. */
  val InertEnvelope: String =
    """{"database":"gmall","table":"zz_inert","type":"insert","ts":4000000001,"data":{},"old":null}"""
}
