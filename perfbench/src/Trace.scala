package graft.entry.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** One recorded interval. Times are wall-clock epoch milliseconds with
  * sub-millisecond digits (the same clock Spark stamps progress with). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** A query the benchmark started, with the layer its time is charged to
  * and the input topics (watched dirs) it reads. */
final case class Tagged(q: StreamingQuery, name: String, layer: String, topics: Set[String])

/** A chunk drop: `dueMs` is when the schedule wanted it, `visibleMs` when
  * its last file was renamed into the watched dir. A `backlog` drop is the
  * end-of-run catch-up (several chunks at once), timed by `drain_s` only. */
final case class Drop(chunk: Int, topics: Set[String], rows: Long,
    dueMs: Double, visibleMs: Double, spanId: Long, backlog: Boolean = false)

/** One micro-batch as Spark reported it. */
final case class Trigger(runId: String, batchId: Long, startMs: Double, p: StreamingQueryProgress) {
  def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def execMs: Double = dur("triggerExecution")
  def endMs: Double = startMs + execMs
  def rows: Long = p.numInputRows
}

/** Span store plus the progress listener. Every run records progress (the
  * end-to-end timings come from it); only a traced run also turns triggers
  * into spans and writes everything out as JSON lines. */
final class Recorder {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  @volatile var overheadNs = 0L
  val progress = new ConcurrentLinkedQueue[Trigger]()

  def add(name: String, startMs: Double, endMs: Double, parent: Long = 0L,
      layer: String = "harness", attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, layer, startMs, endMs, attrs)
    id
  }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = nowMs
    try body finally {
      val t1 = nowMs
      add(name, t0, t1, attrs = attrs)
      System.err.println(f"[perfbench] $name%-8s ${(t1 - t0) / 1e3}%8.3f s ${attrs.mkString(" ")}")
    }
  }

  def harnessSpans: Seq[Span] = synchronized(spans.toList)

  val listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = System.nanoTime()
      val p = e.progress
      progress.add(Trigger(p.runId.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli.toDouble, p))
      overheadNs += System.nanoTime() - t
    }
  }

  def triggers: Seq[Trigger] = progress.asScala.toList.sortBy(_.startMs)
}

/** Percentiles and per-layer roll-ups over a finished run. */
object Stats {
  /** Linear-interpolated quantile (Python's `statistics.quantiles`
    * 'inclusive' method), 0 on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Phase split of one trigger, laid out in the order a micro-batch runs
    * them; whatever `triggerExecution` holds beyond the named phases is
    * reported as `other`, so the children always sum to the trigger. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def phaseSplit(t: Trigger): Seq[(String, Double)] = {
    val named = Phases.map(k => k -> t.dur(k)).filter(_._2 > 0)
    named :+ ("other" -> math.max(0.0, t.execMs - named.map(_._2).sum))
  }

  /** The trigger that consumed a drop: the first non-empty one to end after
    * the drop's files were visible. Drops come in a closed loop, after every
    * query settled, so any later non-empty trigger holds the drop; it may
    * have started just before the files landed, since a trigger lists its
    * source after it starts. */
  def consumer(ts: Seq[Trigger], d: Drop): Option[Trigger] =
    ts.find(t => t.rows > 0 && t.endMs >= d.visibleMs)

  /** The per-layer metrics of one query layer. */
  def layerMetrics(layer: String, qs: Seq[Tagged], byRun: Map[String, Seq[Trigger]],
      drops: Seq[Drop], stateful: Boolean): Seq[(String, Double, String)] = {
    val mine = qs.filter(_.layer == layer)
    val ts = mine.flatMap(q => byRun.getOrElse(q.q.runId.toString, Nil))
    val waits = for {
      q <- mine; d <- drops if (d.topics & q.topics).nonEmpty
      t <- consumer(byRun.getOrElse(q.q.runId.toString, Nil), d)
    } yield math.max(0.0, t.startMs - d.visibleMs) / 1e3
    def sumS(k: String) = ts.map(_.dur(k)).sum / 1e3
    val base = Seq(
      ("batches", ts.size.toDouble, "count"),
      ("useful_share", if (ts.isEmpty) 0.0 else ts.count(_.rows > 0).toDouble / ts.size, "ratio"),
      ("input_rows", ts.map(_.rows).sum.toDouble, "rows"),
      ("busy_s", sumS("triggerExecution"), "s"),
      ("wait_s", waits.sum, "s"),
      ("plan_s", sumS("queryPlanning"), "s"),
      ("offsets_s", sumS("latestOffset") + sumS("getBatch"), "s"),
      ("add_batch_s", sumS("addBatch"), "s"),
      ("commit_s", sumS("walCommit") + sumS("commitOffsets"), "s"))
    val state = if (!stateful) Nil else {
      val ops = ts.flatMap(_.p.stateOperators)
      // state size is a level, not a flow: each query's peak, summed
      def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        mine.map(q => byRun.getOrElse(q.q.runId.toString, Nil)
          .map(_.p.stateOperators.map(f).sum).maxOption.getOrElse(0L)).sum.toDouble
      Seq(
        ("state_commit_s", ops.map(_.commitTimeMs).sum / 1e3, "s"),
        ("state_rows", peak(_.numRowsTotal), "rows"),
        ("state_mb", peak(_.memoryUsedBytes) / 1048576.0, "MB"),
        ("late_rows", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows"))
    }
    (base ++ state).map { case (k, v, u) => (s"$layer.$k", v, u) }
  }
}
