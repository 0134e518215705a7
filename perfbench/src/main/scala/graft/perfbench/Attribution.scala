package graft.perfbench

import java.io.File

/** Rules that assign measured work to a layer, a request or a drop.
  * Pure functions. */
object Attribution {

  private val CallSiteFile = """\bat ([A-Za-z0-9_$]+\.scala):\d+""".r

  /** The source file a Spark call site names: `"save at Curate.scala:290"`
    * gives `Curate.scala`. The line number is ignored on purpose: it moves
    * with every edit, the file does not. */
  def callSiteFile(callSite: String): Option[String] =
    Option(callSite).flatMap(cs => CallSiteFile.findFirstMatchIn(cs).map(_.group(1)))

  /** The module (first package directory under `graft/`) whose file a
    * call site names, per `fileToModule`. */
  def moduleOf(callSite: String, fileToModule: Map[String, String]): Option[String] =
    callSiteFile(callSite).flatMap(fileToModule.get)

  /** File name → module, read from the engine's source tree
    * (`src/main/scala/graft/<module>/.../<File>.scala`). Files directly
    * under `graft/` belong to no module and are left out. */
  def moduleMap(engineSrc: File): Map[String, String] = {
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    Option(engineSrc.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { m =>
      files(m).filter(_.getName.endsWith(".scala")).map(_.getName -> m.getName)
    }.toMap
  }
}
