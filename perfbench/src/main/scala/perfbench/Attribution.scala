package perfbench

import java.io.File

/** Maps a Spark call site ("collect at IdaMart.scala:175") to the repo
  * module whose file issued it. Modules are the engine's packages under
  * `graft/`, with the sinks split out of `sources` and the root files named
  * by role; the benchmark's own files are `bench`. */
object Attribution {

  private val sinkFiles = Set("Sinks.scala", "JdbcSink.scala")
  private val sessionFiles = Set("Session.scala", "GraftExtensions.scala")
  private val fileRef = """([A-Za-z0-9_$]+\.scala):\d+""".r

  /** File name -> module for every `.scala` file under the engine's source
    * root (`src/main/scala/graft`) and the benchmark's own sources. */
  def moduleMap(engineRoot: File, benchRoot: File): Map[String, String] = {
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val engine = walk(engineRoot).map { f =>
      val dir = f.getParentFile.getName
      val module =
        if (sinkFiles(f.getName)) "sinks"
        else if (f.getParentFile == engineRoot)
          if (sessionFiles(f.getName)) "session"
          else if (f.getName == "SparkEntry.scala") "entry"
          else "tools"
        else dir
      f.getName -> module
    }
    (engine ++ walk(benchRoot).map(_.getName -> "bench")).toMap
  }

  /** The source file a call site names, if any. */
  def fileOf(callSite: String): Option[String] =
    fileRef.findFirstMatchIn(Option(callSite).getOrElse("")).map(_.group(1))

  def module(callSite: String, modules: Map[String, String]): String =
    fileOf(callSite).map(f => modules.getOrElse(f, "other")).getOrElse("other")

  /** The first frame of a long-form call site (one frame per line,
    * innermost first) that is in a repo file, as "File.scala:line". */
  def innermostRepoFrame(stack: String, modules: Map[String, String]): String =
    Option(stack).getOrElse("").linesIterator
      .flatMap(l => fileRef.findFirstMatchIn(l))
      .find(m => modules.contains(m.group(1))).map(_.matched).getOrElse("")
}
