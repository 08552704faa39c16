package perfbench

import java.io.File

/** Filesystem helpers for the benchmark's work directory. */
object Files {
  def rmTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  /** Bytes of everything under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length

  /** Published store dirs under a store root: the dirs that hold a
    * `_SUCCESS` marker, at any depth. */
  def publishedStores(root: File): Set[String] = {
    def walk(d: File): Seq[String] = {
      val kids = Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory)
      val here = if (new File(d, "_SUCCESS").exists()) Seq(d.getPath) else Nil
      here ++ kids.flatMap(walk)
    }
    if (root.isDirectory) walk(root).toSet else Set.empty
  }

  def write(path: File, text: String): Unit =
    java.nio.file.Files.write(path.toPath, text.getBytes("UTF-8"))
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
