package perfbench

/** One traced interval. Times are milliseconds on the run's clock. */
final case class Span(
    id: Int,
    parent: Int,          // -1 for a root
    name: String,
    layer: String,
    start: Double,
    end: Double,
    attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

object Spans {
  /** A span's self time: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - Stats.covered(kids, s.start, s.end))
    }.toMap
  }

  /** Self time summed per layer, in milliseconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
