package perfbench

import java.io.File

/** Maps a Spark job of the Gibbs sampler to the sweep phase that issued
  * it. Gibbs.scala and GibbsDistributed.scala mark each phase of a sweep
  * with a comment `// -- (a) ...` to `// -- (e) ...`; a job belongs to
  * the phase whose marker precedes the line of its call site in the
  * sampler's `train` loop. The markers are read from the program's
  * sources, so the mapping follows the code as it moves. */
final class SamplerPhases(val markers: Map[String, Seq[(Int, String)]]) {
  private val Frame = """\((Gibbs|GibbsDistributed)\.scala:(\d+)\)""".r

  /** The phase of a job, from its long call site (one stack frame per
    * line, innermost first); None when no sampler frame is on it. */
  def phaseOf(longSite: String): Option[String] = {
    val frames = Frame.findAllMatchIn(longSite).map(m => (m.group(1), m.group(2).toInt)).toSeq
    frames.headOption.map { case (file, _) =>
      val marks = markers.getOrElse(file, Nil)
      // the outermost frame of that file inside the sweep loop: inner
      // frames may sit in helpers defined after the loop
      val first = marks.headOption.map(_._1).getOrElse(Int.MaxValue)
      frames.filter(f => f._1 == file && f._2 >= first).lastOption
        .flatMap { case (_, line) => marks.takeWhile(_._1 <= line).lastOption.map(_._2) }
        .getOrElse("init")
    }
  }
}

object SamplerPhases {
  private val Marker = """^\s*// -- \(([a-e])\)""".r
  val names: Map[String, String] =
    Map("a" -> "hyper", "b" -> "link", "c" -> "draw", "d" -> "noise", "e" -> "fold")

  /** Phase markers (line, phase) of a sampler source file. */
  def markers(lines: Seq[String]): Seq[(Int, String)] =
    lines.zipWithIndex.flatMap { case (l, i) =>
      Marker.findFirstMatchIn(l).map(m => (i + 1, names(m.group(1))))
    }

  def load(srcRoot: String): SamplerPhases = new SamplerPhases(
    Seq("Gibbs", "GibbsDistributed").flatMap { f =>
      val file = new File(s"$srcRoot/graft/bdf/$f.scala")
      if (!file.exists()) None
      else {
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try Some(f -> markers(src.getLines().toSeq)) finally src.close()
      }
    }.toMap)
}
