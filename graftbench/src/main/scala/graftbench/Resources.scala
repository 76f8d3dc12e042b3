package graftbench

/** Text files the benchmark ships on its classpath (src/main/resources/graftbench). */
object Resources {
  def text(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graftbench/$name")
    require(in != null, s"missing benchmark resource graftbench/$name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Non-empty lines, without `#` comments. */
  def lines(name: String): Seq[String] =
    text(name).linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
}
