package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import perfbench.Main.{Cores, PassResult, median}

/** Turns traced passes and spans into the per-layer metrics, the trace
  * file and the result line.
  */
object Report {
  val GridSpans = Seq("operators.temporal_resample", "operators.spatial_resample",
    "operators.point_extract", "operators.gssha", "sinks.parquet")

  private val units = Map("driver.actions" -> "count", "scheduler.jobs" -> "count",
    "scheduler.stages" -> "count", "scheduler.tasks" -> "count", "executor.task_ms" -> "ms",
    "executor.gc_ms" -> "ms", "sources.scan_rows" -> "count", "sinks.write_rows" -> "count")

  def perLayer(tracer: Tracer, passes: Seq[PassResult], inputBytes: Long)
      : Seq[(String, Double, String)] = {
    def med(f: PassResult => Double) = median(passes.map(f))
    val counters = tracer.counterNames.map {
      case "driver.plan_ns" => ("driver.plan_ms", med(_.counts("driver.plan_ns") / 1e6), "ms")
      case "executor.cpu_ns" => ("executor.cpu_ms", med(_.counts("executor.cpu_ns") / 1e6), "ms")
      case n => (n, med(_.counts(n).toDouble), units.getOrElse(n, "B"))
    }
    val last = passes.last
    val derived = Seq(
      ("executor.busy_share", med(p => p.counts("executor.task_ms") / (p.seconds * 1000 * Cores)),
        "ratio"),
      ("sinks.files", med(_.files.toDouble), "count"),
      ("sinks.stored_bytes_per_input_byte", med(_.storedBytes.toDouble) / inputBytes, "ratio"),
      ("storage.persisted_rdds_after", last.persistedRdds.toDouble, "count"),
      ("storage.block_mem_mb_after", last.blockMemMb, "MB"))
    val passIds = tracer.spans.filter(s => s.name == "pass" && s.counts.nonEmpty).map(_.pass).toSet
    def spanMetric(name: String, f: Span => Double): Double = {
      val perPass = passIds.toSeq.map(p =>
        tracer.spans.filter(s => s.pass == p && s.name == name).map(f).sum)
      if (perPass.isEmpty) 0.0 else median(perPass)
    }
    val grid = GridSpans.flatMap { n => Seq(
      (s"${n}_s", spanMetric(n, _.seconds), "s"),
      (s"${n}_jobs", spanMetric(n, _.counts.getOrElse("scheduler.jobs", 0L).toDouble), "count"),
      (s"${n}_task_ms", spanMetric(n, _.counts.getOrElse("executor.task_ms", 0L).toDouble), "ms"),
      (s"${n}_shuffle_bytes",
        spanMetric(n, _.counts.getOrElse("shuffle.write_bytes", 0L).toDouble), "B"))
    }
    val panel = QueryPanel.Queries.flatMap { q => Seq(
      (s"panel.${q}_s", spanMetric(s"panel.$q", _.seconds), "s"),
      (s"panel.${q}_jobs", spanMetric(s"panel.$q",
        _.counts.getOrElse("scheduler.jobs", 0L).toDouble), "count"))
    }
    counters ++ derived ++ grid ++ panel
  }

  def writeTrace(path: String, workload: String, seed: Long, tracer: Tracer,
                 warm: Seq[Double], timed: Seq[PassResult],
                 layer: Seq[(String, Double, String)], setupS: Double): Unit = {
    val traced = timed.filter(_.traced)
    val repeat = tracer.counterNames.map { n =>
      val vs = traced.map(_.counts(n))
      n -> Map("exact" -> (vs.distinct.size == 1), "min" -> vs.min, "max" -> vs.max)
    }.toMap
    val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val doc = Map(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupS,
      "warmup_pass_s" -> warm,
      "passes" -> timed.zipWithIndex.map { case (p, i) => Map(
        "index" -> i, "traced" -> p.traced, "seconds" -> p.seconds, "counts" -> p.counts,
        "stored_bytes" -> p.storedBytes, "files" -> p.files,
        "persisted_rdds_after" -> p.persistedRdds, "block_mem_mb_after" -> p.blockMemMb) },
      "counter_repeatability" -> repeat,
      "per_layer" -> layer.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "call_sites" -> tracer.siteStats.asScala.toSeq.sortBy(-_._2(0)).map { case (site, a) =>
        Map("site" -> site, "jobs" -> a(0), "stages" -> a(1), "tasks" -> a(2), "task_ms" -> a(3))
      },
      "spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> tracer.selfSeconds(s), "counts" -> s.counts)))
    Files.writeString(Paths.get(path), json(doc) + "\n")
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .to(scala.collection.immutable.ListMap)))

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
