package graft.entry.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload plugs into the common run: how it stages its feed,
  * which queries it starts, and which stream outputs it checks against
  * which batch twins. */
trait Workload {
  /** Watched input dirs (one per topic) the generator drops chunks into. */
  def topics: Seq[String]
  /** Synthesizes every chunk under `stageRoot/<topic>/__chunk=<c>`: data
    * chunks 0..n-1 (the first [[warmChunks]] of them consumed before
    * timing starts), plus the [[Feed]] special chunks. Returns the rows of
    * each data chunk. */
  def stage(stageRoot: String): IndexedSeq[Long]
  def warmChunks: Int
  def start(s: SparkSession, in: String, wh: String): Seq[Tagged]
  /** (name, stream output, batch twin) — equal as multisets when correct. */
  def checks(s: SparkSession, in: String, wh: String): Seq[(String, DataFrame, DataFrame)]
  /** Direct-call timings of the parse layer over the dropped feed (traced
    * runs only). */
  def core(s: SparkSession, in: String): Seq[(String, Double, String)] = Nil
}

/** Ids of the staged chunks that are not data. */
object Feed {
  /** Consumed before any data (the DAG's routing config). */
  val Prime = -1
  /** Far-future rows that advance every watermark; they ride the last
    * data chunk. */
  val Flush = 1000
  /** Rows for the batch after the flush, so tails that emit one batch late
    * are written. */
  val Tail = 1001
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, out: String, size: String)

  /** Set-ups per run; `setup_s` is their median. The first also pays the
    * JVM-cold session creation. */
  val Setups = 7

  /** Chunks the end-of-run backlog drop carries at most. */
  val DrainChunks = 12

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"),
      m.getOrElse("size", "full"))
  }

  /** Shuffle partitions per workload. `keyed_state` runs with DagRun's 4.
    * `dag_replay` runs with 1: at 4, its 12 queries open ~170 RocksDB
    * instances, and a run took ~2 min on a 4-core host whose disk discards
    * freed blocks (~70 s of it deleting the instances' files), more than
    * the benchmark's run budget holds. At 1 the DAG's stateful operators
    * and the curation leg each run as one task with one state store. */
  val ShufflePartitions: Map[String, Int] = Map("dag_replay" -> 1, "keyed_state" -> 4)

  /** The deployment confs: those `GmallApp.main` sets, plus master, the
    * scratch roots inside the run dir, the shuffle partitions, the
    * scheduler, the state-store checkpoint mode and the local file system. */
  def confs(a: Args): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${Runtime.getRuntime.availableProcessors}]",
    "spark.app.name" -> "gmall-graft",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.shuffle.partitions" -> ShufflePartitions(a.workload).toString,
    "spark.ui.enabled" -> "false",
    // FAIR task slots across the concurrent queries' jobs (as the repo's
    // Bench runs the DAG): under FIFO, which query's job lands first
    // decides who waits, and the percentiles swung ~15% from run to run
    "spark.scheduler.mode" -> "FAIR",
    "spark.scheduler.allocation.file" -> s"${a.work}/fair-pools.xml",
    "spark.local.dir" -> s"${a.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${a.work}/spark-warehouse",
    // state-store checkpointing for a disk that pays real fsync latency: a
    // changelog file per commit instead of a RocksDB snapshot upload
    // (2-3x faster DAG rounds on that host), and no snapshot maintenance
    // firing inside a one-minute run
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    // no preallocated RocksDB manifest and log files: each instance would
    // hold 4 MB of fallocated blocks, and on a disk that discards freed
    // blocks deleting the ~170 instances of a 4-partition DAG run took ~65 s
    "spark.sql.streaming.stateStore.rocksdb.allowFAllocate" -> "false",
    // plain local files, without a .crc sidecar per checkpoint and output
    // file
    "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.RawLocalFs")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // FAIR mode alone still runs FIFO inside the default pool
    Files.write(Paths.get(s"${a.work}/fair-pools.xml"), ("<?xml version=\"1.0\"?><allocations>" +
      "<pool name=\"default\"><schedulingMode>FAIR</schedulingMode></pool></allocations>")
      .getBytes("UTF-8"))
    val rec = new Recorder
    val runStart = rec.nowMs
    val spark = rec.span("session") {
      confs(a).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = a.workload match {
      case "dag_replay"  => new Dag(spark, a)
      case "keyed_state" => new Keyed(spark, a)
      case w => sys.error(s"unknown workload $w")
    }
    val exit = try { new Run(spark, rec, a, wl, runStart).apply(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally rec.span("shutdown")(spark.stop())
    // halt, not exit: the shutdown hooks would only delete the run's
    // scratch files, which the caller removes with the rest of the run dir
    Runtime.getRuntime.halt(exit)
  }
}

/** One run of one workload: stage, set up (several times), measure,
  * flush, stop, check, report. */
final class Run(spark: SparkSession, rec: Recorder, a: Main.Args, wl: Workload,
    runStart: Double) {
  private val in = s"${a.work}/in"
  private val stageRoot = s"${a.work}/stage"
  private var failures = Seq.empty[String]
  private var attempted = 0

  private def mkdirs(dir: String): Unit = Files.createDirectories(Paths.get(dir))

  /** Moves one staged chunk's files into the watched dirs; a rename is
    * atomic, so the file source never sees a half-written file. Returns
    * the topics it touched. */
  private def move(c: Int): Set[String] = wl.topics.flatMap { t =>
    val src = Paths.get(s"$stageRoot/$t/__chunk=$c")
    if (!Files.isDirectory(src)) None
    else {
      val files = Files.list(src)
      try files.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).foreach(f =>
        Files.move(f, Paths.get(s"$in/$t").resolve(s"c$c-${f.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE))
      finally files.close()
      Some(t)
    }
  }.toSet

  /** Waits until every live query has consumed everything visible. A query
    * that fails is counted and left out of later waits. */
  private def sync(qs: Seq[Tagged], what: String): Unit = rec.span("settle", Map("after" -> what)) {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val live = qs.filter(_.q.isActive)
    val waits = live.map(t => Future(blocking(t.q.processAllAvailable())).transform(r =>
      scala.util.Success(r.failed.toOption.map(e => s"${t.name}: ${e.getMessage.take(300)}"))))
    val errs = Await.result(Future.sequence(waits), 120.seconds).flatten
    errs.foreach(System.err.println)
    failures ++= errs
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally all.close()
    }
  }

  private def awaitFirstTrigger(qs: Seq[Tagged]): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (qs.exists(t => t.q.lastProgress == null)) {
      qs.foreach(t => t.q.exception.foreach(e => throw e))
      require(System.nanoTime() < deadline, "queries did not finish their first trigger")
      Thread.sleep(5)
    }
  }

  def apply(): Unit = {
    val sessionS = rec.harnessSpans.map(s => s.endMs - s.startMs).sum / 1e3
    val chunkRows = rec.span("stage")(wl.stage(stageRoot))
    // set-up, several times over: each sample builds a fresh session and
    // starts the queries over the empty input dirs; the last one is kept
    // for the measurement. The first sample also pays the JVM-cold session
    // creation and creates the checkpoint dirs; the others restart on them
    // (no batch has run yet), so no sample leaves files to delete: on a
    // disk that discards freed blocks each file or dir costs ~40-60 ms
    wl.topics.foreach(t => mkdirs(s"$in/$t"))
    val samples = (0 until Main.Setups).map { i =>
      val last = i == Main.Setups - 1
      val t0 = rec.nowMs
      val qs = rec.span("setup", Map("sample" -> i)) {
        val s = spark.newSession()
        s.streams.addListener(rec.listener)
        val qs = wl.start(s, in, s"${a.work}/wh")
        awaitFirstTrigger(qs)
        qs
      }
      val took = (rec.nowMs - t0) / 1e3 + (if (i == 0) sessionS else 0.0)
      if (!last) rec.span("stop")(qs.foreach(_.q.stop()))
      (qs, took)
    }
    val qs = samples.last._1
    Layers.verify(qs, s"${a.work}/wh")
    // prime and warm-up: the routing config, then the cold costs a
    // long-running deployment pays once (code generation, state-store
    // creation), all before timing
    rec.span("warmup") {
      if (move(Feed.Prime).nonEmpty) sync(qs, "prime")
      (0 until wl.warmChunks).foreach { c => move(c); sync(qs, s"warm-up $c") }
    }

    // ---- measured window: closed loop, the next chunk drops once every
    // ---- query settled, until the chunks run out or the time is up ------
    val t0 = rec.nowMs
    val deadline = t0 + a.seconds * 1000.0
    val drops = Seq.newBuilder[Drop]
    var c = wl.warmChunks
    var flushed = false
    while (c < chunkRows.size && (c == wl.warmChunks || rec.nowMs < deadline)) {
      val d0 = rec.nowMs
      val touched = move(c)
      val vis = rec.nowMs
      drops += Drop(c, touched, chunkRows(c), d0, vis,
        rec.add("drop", d0, vis, attrs = Map("chunk" -> c)))
      if (c == chunkRows.size - 1) { move(Feed.Flush); flushed = true }
      c += 1
      sync(qs, s"chunk $c")
    }
    // the backlog: once the time is up, up to DrainChunks of the chunks
    // left drop at once, with the flush; drain_s times their catch-up, a
    // fixed amount of work and so steadier than one closed-loop round
    val rest = c until math.min(chunkRows.size, c + Main.DrainChunks)
    if (rest.nonEmpty) {
      val d0 = rec.nowMs
      val touched = rest.flatMap(move).toSet
      move(Feed.Flush); flushed = true
      val vis = rec.nowMs
      drops += Drop(rest.head, touched, rest.map(chunkRows).sum, d0, vis,
        rec.add("drop", d0, vis, attrs = Map("chunk" -> rest.head, "backlog" -> rest.size)),
        backlog = true)
      sync(qs, "backlog")
    }
    val lastDue = drops.result().map(_.dueMs).max
    rec.span("flush") {
      if (!flushed) { move(Feed.Flush); sync(qs, "flush") }
      if (move(Feed.Tail).nonEmpty) sync(qs, "tail")
      sync(qs, "tail")
    }
    val tEnd = rec.nowMs
    attempted += qs.size + drops.result().size
    failures ++= qs.filter(_.q.exception.isDefined).map(t => s"${t.name} terminated")
    val triggers = rec.triggers
    rec.span("stop")(qs.foreach(_.q.stop()))
    // scratch no query reads any more is deleted beside the checks, after
    // the measured window, so its disk traffic stays out of the timings
    implicit val ec: ExecutionContext = ExecutionContext.global
    val scratch = Future(blocking(Seq(s"${a.work}/wh/ckpt", stageRoot).foreach(deleteTree)))

    // ---- correctness: the checks are independent, run them side by side
    val checks = rec.span("check") {
      Await.result(Future.sequence(wl.checks(spark, in, s"${a.work}/wh").map {
        case (n, stream, batch) => Future(blocking(rec.span("check_one", Map("check" -> n))(
          n -> Checks.same(n, stream, batch))))
      }), 150.seconds)
    }
    rec.span("cleanup")(Await.result(scratch, 150.seconds))
    attempted += checks.size
    failures ++= checks.collect { case (n, false) => s"mismatch: $n" }
    val unconsumed = drops.result().filter(d =>
      qs.filter(q => (q.topics & d.topics).nonEmpty).exists(q =>
        Stats.consumer(triggers.filter(_.runId == q.q.runId.toString), d).isEmpty))
    failures ++= unconsumed.map(d => s"chunk ${d.chunk} not consumed")
    val coreLayer = if (a.trace) rec.span("core")(wl.core(spark, in)) else Nil
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    new Report(rec, a, qs, triggers, drops.result(), samples.map(_._2),
      t0, tEnd, lastDue, runStart, coreLayer, attempted, failures.size).write()
  }
}

/** Layer tags for the queries `GmallApp.startFromFiles` returns, by position
  * in `GmallApp.wire`'s order, each cross-checked against the source and
  * sink descriptions Spark reports. */
object Layers {
  /** (name, layer, source dir, sink description suffix or ForeachBatchSink) */
  val Dag: Seq[(String, String, String, String)] = Seq(
    ("dim", "dim", "topic_db", "ForeachBatchSink"),
    ("base_log", "dwd_log", "topic_log", "ForeachBatchSink"),
    ("dwd_db", "dwd_db", "topic_db", "ForeachBatchSink"),
    ("order_pre", "dwd_trade", "topic_db", "ForeachBatchSink"),
    ("pay_success", "dwd_trade", "topic_db", "/dwd/pay_success]"),
    ("order_refund", "dwd_trade", "topic_db", "/dwd/order_refund]"),
    ("refund_pay_suc", "dwd_trade", "topic_db", "/dwd/refund_pay_suc]"),
    ("dws_keyword", "dws", "topic_log", "/dws/keyword]"),
    ("dws_traffic", "dws", "topic_log", "/dws/traffic]"),
    ("config", "dim", "table_process_config", "ForeachBatchSink"),
    ("curation_fuzzy", "curation", "doc_paras", "ForeachBatchSink"),
    ("curation_sem", "curation", "embeddings", "ForeachBatchSink"))

  def tagDag(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Seq[Tagged] = {
    require(qs.size == Dag.size,
      s"startFromFiles returned ${qs.size} queries, the layer map knows ${Dag.size}")
    qs.zip(Dag).map { case (q, (n, l, src, _)) => Tagged(q, n, l, Set(src)) }
  }

  /** Aborts the run when a query is not the one its tag names: its id must
    * be the one recorded in the checkpoint dir of that name under `wh`
    * (this tells apart queries that read and write alike, such as dim,
    * dwd_db and order_pre), and its reported source and sink must match. */
  def verify(qs: Seq[Tagged], wh: String): Unit = qs.foreach { t =>
    val meta = new String(Files.readAllBytes(Paths.get(s"$wh/ckpt/${t.name}/metadata")), "UTF-8")
    require(meta.contains(s"\"${t.q.id}\""),
      s"query ${t.q.id} tagged ${t.name} (${t.layer}) does not own checkpoint $wh/ckpt/${t.name}: $meta")
    val p = t.q.lastProgress
    val srcs = p.sources.map(_.description).toSeq
    require(srcs.nonEmpty && srcs.forall(d => t.topics.exists(tp => d.contains(s"/$tp]"))),
      s"query ${t.name} (${t.layer}) reads ${srcs.mkString(", ")}, expected ${t.topics}")
    val expect = Dag.find(_._1 == t.name).map(_._4).orElse(Keyed.Sinks.get(t.name))
      .getOrElse(sys.error(s"no sink expectation for ${t.name}"))
    require(p.sink.description.endsWith(expect) || p.sink.description.startsWith(expect),
      s"query ${t.name} (${t.layer}) writes ${p.sink.description}, expected $expect")
  }
}

object Checks {
  /** Same rows, as multisets, over the same column list. */
  def same(name: String, stream: DataFrame, batch: DataFrame): Boolean = {
    val cols = stream.columns.toSeq
    val b = batch.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val ok = stream.count() == b.count() && stream.exceptAll(b).isEmpty && b.exceptAll(stream).isEmpty
    if (!ok) System.err.println(s"[perfbench] $name differs; stream side:\n" +
      stream.limit(10).collect().mkString("\n") + "\nbatch side:\n" +
      b.limit(10).collect().mkString("\n"))
    ok
  }
}
