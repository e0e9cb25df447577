package geobench

import scala.collection.mutable

/** Closed-open millisecond intervals. */
object Intervals {
  type Iv = (Long, Long)

  def union(xs: Iterable[Iv]): List[Iv] =
    xs.filter(x => x._2 > x._1).toList.sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def minus(xs: List[Iv], ys: List[Iv]): List[Iv] = xs.flatMap { case (a, b) =>
    ys.filter(y => y._2 > a && y._1 < b).foldLeft(List((a, b))) { (parts, y) =>
      parts.flatMap { case (s, e) =>
        List((s, math.min(e, y._1)), (math.max(s, y._2), e)).filter(p => p._2 > p._1)
      }
    }
  }

  def length(xs: Iterable[Iv]): Long = xs.map(x => x._2 - x._1).sum
}

/** Per-layer metrics of a traced run: for each steady pass, each module's
  * wall, self and driver time, jobs, tasks, shuffle, spill, pinned bytes
  * and rows; the reported value is the mean over steady passes (the cold
  * pass and any warm-up passes are excluded).
  *
  * A module's wall is the union of its spans and of the jobs charged to
  * it by call site inside another module's span (the facade's
  * children). Its self time is that wall minus the intervals of its
  * children; driver time is the self time during which no task of the
  * application was running. Per pass, wall minus the sum of self times
  * is the harness time between calls, reported as the remainder. */
final case class LayerReport(metrics: Seq[(String, (Double, String))],
                             report: Seq[(String, String)])

object LayerReport {
  import Intervals._

  def apply(ctx: Ctx): LayerReport = {
    val c = ctx.tracer.collector
    val spans = ctx.tracer.spans.toSeq
    val tasks = c.synchronized(union(c.taskIntervals))
    val jobs = c.synchronized(c.jobs.toList)
    val spanById = spans.map(s => s.id -> s).toMap
    // a job without an engine frame in its call site goes to the span that
    // submitted it; a stream-thread job (Spark gives it the call site of
    // the query's start) to the innermost span it ran in
    def jobModule(j: c.Job): String =
      if (j.module.nonEmpty) j.module
      else spanById.get(j.span).orElse(spans.filter(s => s.startMs <= j.startMs &&
        j.endMs <= s.endMs).sortBy(s => s.endMs - s.startMs).headOption)
        .map(_.module).getOrElse("harness")

    val steady = ctx.passes.filter(_._1 >= ctx.firstSteady).toSeq
    val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val remainders = mutable.ArrayBuffer[Double]()
    steady.foreach { case (pid, p0, p1) =>
      val ps = spans.filter(_.pass == pid)
      val pj = jobs.filter(j => j.startMs >= p0 && j.startMs <= p1)
      // jobs inside a span of another module are that span's children
      def inSpan(j: c.Job, s: Span) =
        j.span == s.id || (j.startMs >= s.startMs && j.endMs <= s.endMs)
      var selfTotal = 0.0
      Layers.Modules.foreach { m =>
        val own = ps.filter(_.module == m)
        val childJobs = pj.filter(j => jobModule(j) == m && !own.exists(s => inSpan(j, s)))
        val wallIv = union(own.map(s => (s.startMs, s.endMs)) ++
          childJobs.map(j => (j.startMs, j.endMs)))
        val children = union(
          pj.filter(j => jobModule(j) != m && own.exists(s => inSpan(j, s)))
            .map(j => (j.startMs, j.endMs)) ++
            ps.filter(s => own.exists(_.id == s.parent)).map(s => (s.startMs, s.endMs)))
        val selfIv = minus(wallIv, children)
        val mj = pj.filter(j => jobModule(j) == m)
        val self = length(selfIv) / 1e3
        selfTotal += self
        sums(s"$m.wall_s") += length(wallIv) / 1e3
        sums(s"$m.self_s") += self
        sums(s"$m.driver_s") += length(minus(selfIv, tasks)) / 1e3
        sums(s"$m.jobs") += mj.size
        sums(s"$m.tasks") += mj.map(_.tasks).sum
        sums(s"$m.shuffle_mb") += mj.map(_.shuffleBytes).sum / 1e6
        sums(s"$m.spill_mb") += mj.map(_.spillBytes).sum / 1e6
        sums(s"$m.pinned_mb") += ctx.tracer.pinnedAtEnd
          .filter { case (sid, mod, _) => mod == m && spanById.get(sid).exists(_.pass == pid) }
          .map(_._3).sum / 1e6
        sums(s"$m.rows_out") += own.map(_.rows).filter(_ >= 0).sum.toDouble
      }
      sums("bytes_written") += pj.map(_.bytesWritten).sum.toDouble
      remainders += (p1 - p0) / 1e3 - selfTotal
    }
    val n = steady.size.max(1).toDouble
    val steadySpanIds = spans.filter(_.pass >= ctx.firstSteady).map(_.id).toSet
    val pip = c.synchronized(c.pipFilter.toList).filter(x => steadySpanIds.contains(x._1))
    val pipIn = pip.map(_._2).sum
    val floor = c.synchronized(c.floorMs.toList).drop(ctx.firstSteady)
    val captureBytes = ctx.layerExtras.getOrElse("meta.capture_bytes", 0.0)
    val extras = Map(
      "streaming.floor_ms" -> (if (floor.isEmpty) 0.0 else Harness.median(floor)),
      "meta.write_amp" ->
        (if (captureBytes > 0) sums("bytes_written") / captureBytes else 0.0),
      "meta.files_live" -> ctx.layerExtras.getOrElse("meta.files_live", 0.0),
      "meta.prune_ratio" -> ctx.layerExtras.getOrElse("meta.prune_ratio", 0.0),
      "join.pip_hit_ratio" -> (if (pipIn > 0) pip.map(_._3).sum.toDouble / pipIn else 0.0))
    val metrics = Layers.Names.map { case (k, unit) =>
      k -> (extras.getOrElse(k, sums(k) / n), unit)
    }
    val passWall = steady.map { case (_, a, b) => (b - a) / 1e3 }
    val report = Seq(
      "trace_steady_passes" -> steady.size.toString,
      "trace_pass_wall_s" -> passWall.map(x => f"$x%.3f").mkString(","),
      "trace_remainder_s" -> remainders.map(x => f"$x%.3f").mkString(","),
      "trace_spans" -> spans.size.toString,
      "trace_jobs" -> jobs.size.toString)
    LayerReport(metrics, report)
  }

  /** One JSON object per span, for the spans file written at run end. */
  def spanLines(ctx: Ctx): Seq[String] = ctx.tracer.spans.toSeq.map { s =>
    Harness.json(mutable.LinkedHashMap[String, Any]("span" -> s.id,
      "parent" -> s.parent, "pass" -> s.pass, "module" -> s.module,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.seconds,
      "rows" -> s.rows))
  }
}
