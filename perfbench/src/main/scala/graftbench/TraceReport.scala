package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** The per-layer figures of one traced run, and the span file behind
  * them. Each per-layer metric is the median over the calls of one
  * function; a function the workload never calls reads 0.
  */
final case class TraceReport(workload: String, seed: Long, calls: Seq[CallStats],
                             tracedWallS: Double, overheadRatio: Double) {
  import TraceReport._

  private val root: Option[CallStats] = calls.find(_.span.layer == "bench")

  /** Spans inside the timed section: the root and everything under it. */
  private val section: Seq[CallStats] = root match {
    case None => Seq.empty
    case Some(r) =>
      val byParent = calls.groupBy(_.span.parent)
      def walk(c: CallStats): Seq[CallStats] =
        c +: byParent.getOrElse(c.span.id, Seq.empty).flatMap(walk)
      walk(r)
  }

  /** Self time per layer; the root's own self time is the driver gap
    * spent in the benchmark between calls. */
  val layerSelf: Map[String, Double] =
    section.groupBy(_.span.layer).map { case (l, cs) => l -> cs.map(_.selfS).sum }

  /** Summed self time of every layer plus the driver gap, over the wall
    * of the timed section as the workload clocked it. */
  val coverage: Double = layerSelf.values.sum / tracedWallS

  private def perCall(function: String, q: String): Double = {
    val xs = calls.filter(_.span.name == function).map(_.quantity(q))
    if (xs.isEmpty) 0.0 else Main.median(xs)
  }

  val metrics: Seq[(String, (Double, String))] =
    PerLayer.map { case (name, unit) =>
      val value = name match {
        case "trace.overhead_ratio" => overheadRatio
        case "trace.coverage_ratio" => coverage
        case n if n.endsWith(".self_share") =>
          layerSelf.getOrElse(n.stripSuffix(".self_share"), 0.0) / tracedWallS
        case n =>
          val (function, q) = Counters.getOrElse(n, {
            val i = n.lastIndexOf('.')
            (n.substring(0, i), n.substring(i + 1))
          })
          perCall(function, q)
      }
      name -> (value, unit)
    }

  def write(path: String): Unit = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.put("workload", workload)
    o.put("seed", seed)
    o.put("traced_wall_s", tracedWallS)
    o.put("coverage", coverage)
    o.put("overhead_ratio", overheadRatio)
    val layers = o.putObject("layers")
    section.groupBy(_.span.layer).toSeq.sortBy(_._1).foreach { case (l, cs) =>
      val n = layers.putObject(l)
      n.put("self_s", cs.map(_.selfS).sum)
      n.put("job_s", cs.map(_.jobS).sum)
      n.put("driver_s", cs.map(_.driverS).sum)
      n.put("calls", cs.size)
    }
    val ms = o.putObject("metrics")
    metrics.foreach { case (n, (v, _)) => ms.put(n, v) }
    val arr = o.putArray("spans")
    calls.foreach { c =>
      val s = arr.addObject()
      s.put("id", c.span.id)
      s.put("parent", c.span.parent)
      s.put("name", c.span.name)
      s.put("layer", c.span.layer)
      s.put("req", c.span.req)
      s.put("start_ns", c.span.startNs)
      s.put("end_ns", c.span.endNs)
      Quantities.foreach(q => s.put(q, c.quantity(q)))
      c.span.counters.foreach { case (k, v) => s.put(k, v) }
    }
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    m.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, o)
  }
}

object TraceReport {
  val Quantities: Seq[String] = Seq("wall_s", "self_s", "jobs", "job_s", "driver_s",
    "task_s", "shuffle_write_mb", "spill_mb", "gc_s", "input_mb", "output_mb")

  /** Metrics read from a count the benchmark attached to another
    * function's span: metric name -> (function, counter). */
  private val Counters: Map[String, (String, String)] = Map(
    "lake.upsert.files_added" -> ("stream.applyBatch", "lake.upsert.files_added"),
    "lake.upsert.bytes_added" -> ("stream.applyBatch", "lake.upsert.bytes_added"))

  private val Layers = Seq("feed", "cdc", "stream", "lake.table", "lake.view", "operators", "bench")

  private def fn(function: String, qs: (String, String)*): Seq[(String, String)] =
    qs.map { case (q, u) => s"$function.$q" -> u }

  private val S = "s"
  private val Count = "count"
  private val Mb = "MB"

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    fn("feed.gen", "wall_s" -> S) ++
      fn("cdc.reduceBucketed", "wall_s" -> S) ++
      fn("stream.applyBatch", "wall_s" -> S, "jobs" -> Count, "job_s" -> S,
        "driver_s" -> S, "task_s" -> S, "shuffle_write_mb" -> Mb,
        "output_mb" -> Mb, "gc_s" -> S) ++
      fn("lake.upsert", "files_added" -> Count, "bytes_added" -> "B") ++
      fn("lake.liveFiles", "count" -> Count) ++
      fn("lake.compactBuckets", "wall_s" -> S, "jobs" -> Count, "files_removed" -> Count) ++
      fn("lake.lookup", "wall_s" -> S, "jobs" -> Count, "driver_s" -> S,
        "input_mb" -> Mb, "files_kept" -> Count) ++
      fn("lake.lookupAll", "wall_s" -> S, "driver_s" -> S, "files_kept" -> Count) ++
      fn("lake.changesBetween", "wall_s" -> S, "driver_s" -> S) ++
      fn("lake.read", "wall_s" -> S, "task_s" -> S) ++
      fn("view.matview_sum.catchUp", "wall_s" -> S, "jobs" -> Count, "driver_s" -> S) ++
      fn("view.matview_minmax.catchUp", "wall_s" -> S, "jobs" -> Count, "driver_s" -> S) ++
      fn("view.joinview.catchUp", "wall_s" -> S, "jobs" -> Count, "driver_s" -> S,
        "input_mb" -> Mb) ++
      fn("operators.simhashNearDups", "wall_s" -> S) ++
      fn("operators.connectedComponents", "wall_s" -> S, "jobs" -> Count) ++
      fn("operators.topTerms", "wall_s" -> S, "spill_mb" -> Mb) ++
      fn("operators.assignSplits", "wall_s" -> S) ++
      Layers.map(l => s"$l.self_share" -> "ratio") ++
      Seq("trace.overhead_ratio" -> "ratio", "trace.coverage_ratio" -> "ratio")
}
