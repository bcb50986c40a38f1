package graft

import java.io.File

import scala.util.matching.Regex

/** The `src/main` Scala files, as the source guards read them. */
object MainSources {

  /** Every `.scala` file under `src/main/scala`; run from the project root. */
  def files: Seq[File] = {
    val root = new File("src/main/scala")
    require(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def walk(d: File): Seq[File] = d.listFiles.toSeq.flatMap(f =>
      if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    walk(root)
  }

  /** Source text with comments blanked out, line breaks kept. */
  def code(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try "(?s)/\\*.*?\\*/".r.replaceAllIn(src.mkString,
        m => Regex.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
      .replaceAll("//[^\n]*", "")
    finally src.close()
  }

  /** Index of the `)` that closes the `(` at `open` in `s`, or -1. */
  def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** `path:line` of offset `at` in `f`'s text `s`. */
  def where(f: File, s: String, at: Int): String =
    s"${f.getPath}:${s.substring(0, at).count(_ == '\n') + 1}"
}
