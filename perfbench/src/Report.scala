package graft.entry.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Rolls a finished run up into its end-to-end and per-layer metrics and
  * writes them (and, when traced, every span) to the run's output files. */
final class Report(rec: Recorder, a: Main.Args, qs: Seq[Tagged],
    triggers: Seq[Trigger], drops: Seq[Drop], setupSamples: Seq[Double],
    t0: Double, tEnd: Double, lastDue: Double, runStart: Double,
    coreLayer: Seq[(String, Double, String)], attempted: Int, failed: Int) {

  private val byRun: Map[String, Seq[Trigger]] =
    triggers.groupBy(_.runId).view.mapValues(_.sortBy(_.startMs)).toMap
  private def trigOf(t: Tagged) = byRun.getOrElse(t.q.runId.toString, Nil)
  /** The measured window's triggers. A trigger lists its source a moment
    * after it starts, so the one that takes the first drop may have started
    * just before it: membership is by end time. */
  private val window = triggers.filter(t => t.endMs >= t0 && t.startMs <= tEnd)

  /** The driver JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def endToEnd: Seq[(String, Double, String)] = {
    val consumed = for {
      d <- drops if !d.backlog; q <- qs if (q.topics & d.topics).nonEmpty
      t <- Stats.consumer(trigOf(q), d)
    } yield (d, t)
    val fresh = consumed.map { case (d, t) => (t.endMs - d.dueMs) / 1e3 }
    // the batches that carried a timed drop, each once; the flush and
    // tail batches that follow them carry only the harness's sentinels
    val batches = consumed.map(_._2).distinct.map(_.execMs / 1e3)
    Seq(
      ("setup_s", Stats.quantile(setupSamples, 0.5), "s"),
      ("throughput_eps", drops.map(_.rows).sum / ((tEnd - t0) / 1e3), "1/s"),
      ("freshness_p50_s", Stats.quantile(fresh, 0.5), "s"),
      ("freshness_p90_s", Stats.quantile(fresh, 0.9), "s"),
      ("batch_p50_s", Stats.quantile(batches, 0.5), "s"),
      ("batch_p90_s", Stats.quantile(batches, 0.9), "s"),
      ("drain_s", (tEnd - lastDue) / 1e3, "s"),
      ("peak_rss_mb", peakRssMb, "MB"))
  }

  def perLayer(runEnd: Double): Seq[(String, Double, String)] = {
    val spans = rec.harnessSpans
    def spanS(n: String) = spans.filter(_.name == n).map(s => s.endMs - s.startMs).sum / 1e3
    val measured = (tEnd - t0) / 1e3
    // the same window as the end-to-end metrics: set-up and warm-up
    // triggers are not attributed
    val windowByRun = window.groupBy(_.runId)
    val query = Report.QueryLayers.flatMap { case (l, st) =>
      Stats.layerMetrics(l, qs, windowByRun, drops, st) }
    val harness = Seq(
      ("stage_s", spanS("stage"), "s"),
      ("start_s", spanS("setup"), "s"),
      ("settle_s", spanS("settle"), "s"),
      ("stop_s", spanS("stop"), "s"),
      ("check_s", spanS("check"), "s"),
      ("gen_late_max_s", drops.map(d => d.visibleMs - d.dueMs).max / 1e3, "s"),
      ("concurrency", window.map(_.execMs).sum / 1e3 / measured, "ratio"),
      ("trace_overhead_share", rec.overheadNs / 1e6 / (runEnd - runStart), "ratio"),
      ("failed_share", failed.toDouble / attempted, "ratio"))
      .map { case (k, v, u) => (s"harness.$k", v, u) }
    val core = if (coreLayer.nonEmpty) coreLayer
      else Report.CoreMetrics.map { case (k, u) => (k, 0.0, u) }
    query ++ core ++ harness
  }

  def write(): Unit = {
    val runEnd = rec.nowMs
    val w0 = System.nanoTime()
    val e2e = endToEnd
    def obj(ms: Seq[(String, Double, String)]) =
      ms.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    if (a.trace) writeSpans(runEnd)
    rec.overheadNs += System.nanoTime() - w0
    val layers = perLayer(runEnd)
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> obj(if (a.trace) layers else e2e),
      "end_to_end" -> obj(e2e),
      "samples" -> Map(
        "setup_s" -> setupSamples,
        "chunks" -> drops.size,
        "triggers" -> window.size,
        "nonempty_triggers" -> window.count(_.rows > 0),
        "freshness" -> drops.filterNot(_.backlog).map(d => qs.count(q => (q.topics & d.topics).nonEmpty)).sum),
      "wall_s" -> (runEnd - runStart) / 1e3,
      "measured_s" -> (tEnd - t0) / 1e3,
      "span_coverage" -> Report.coverage(rec.harnessSpans, runStart, runEnd),
      "confs" -> Main.confs(a).toMap)
    Files.write(Paths.get(a.out), Json(result).getBytes(UTF_8))
  }

  /** Harness spans, one span per trigger (linked to the drops it consumed)
    * and the trigger's phase split as its children. */
  private def writeSpans(runEnd: Double): Unit = {
    val lines = Seq.newBuilder[String]
    rec.harnessSpans.foreach(s => lines += Json(spanMap(s)))
    var id = 1000000L
    qs.foreach { q =>
      val consumed = drops.filter(d => (q.topics & d.topics).nonEmpty)
        .flatMap(d => Stats.consumer(trigOf(q), d).map(_ -> d.spanId)).groupMap(_._1)(_._2)
      trigOf(q).foreach { t =>
        id += 1
        val tid = id
        lines += Json(spanMap(Span(tid, 0, "trigger", q.layer, t.startMs, t.endMs, Map(
          "query" -> q.name, "query_id" -> t.p.id.toString, "batch_id" -> t.batchId,
          "rows" -> t.rows, "links" -> consumed.getOrElse(t, Nil),
          "state_rows" -> t.p.stateOperators.map(_.numRowsTotal).sum))))
        var at = t.startMs
        Stats.phaseSplit(t).foreach { case (ph, ms) =>
          id += 1
          lines += Json(spanMap(Span(id, tid, ph, q.layer, at, at + ms)))
          at += ms
        }
      }
    }
    Files.write(Paths.get(a.out + ".spans.jsonl"),
      lines.result().mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def spanMap(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs
}

object Report {
  /** Query layers, and whether their operators keep state. */
  val QueryLayers: Seq[(String, Boolean)] = Seq(
    "dim" -> false, "dwd_log" -> false, "dwd_db" -> false, "dwd_trade" -> true,
    "dws" -> true, "curation" -> false, "stateful" -> true)

  val CoreMetrics: Seq[(String, String)] = Seq(
    "core.parse_db_s" -> "s", "core.parse_log_s" -> "s",
    "core.rows" -> "rows", "core.dirty_rows" -> "rows")

  /** Share of [runStart, runEnd] covered by the union of harness spans. */
  def coverage(spans: Seq[Span], runStart: Double, runEnd: Double): Double = {
    val iv = spans.map(s => (math.max(s.startMs, runStart), math.min(s.endMs, runEnd)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (s, e) =>
      if (cs.isNaN) { cs = s; ce = e }
      else if (s <= ce) ce = math.max(ce, e)
      else { covered += ce - cs; cs = s; ce = e }
    }
    if (!cs.isNaN) covered += ce - cs
    covered / (runEnd - runStart)
  }
}

/** Minimal JSON encoder for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
