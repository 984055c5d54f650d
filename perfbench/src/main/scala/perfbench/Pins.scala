package perfbench

import scala.io.Source

/** Pinned expected outputs, tab-separated, `#` comments. */
object Pins {
  def read(resource: String): Seq[Seq[String]] = {
    val in = Option(getClass.getResourceAsStream(resource))
      .getOrElse(sys.error(s"missing pin file $resource"))
    try Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t").toSeq).toList
    finally in.close()
  }

  def write(file: java.io.File, header: String, rows: Seq[Seq[Any]]): Unit = {
    file.getParentFile.mkdirs()
    val text = (header.split("\n").map("# " + _) ++ rows.map(_.mkString("\t")))
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(file.toPath, text.getBytes("UTF-8"))
  }
}
