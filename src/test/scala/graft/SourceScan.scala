package graft

import scala.util.matching.Regex

/** Source-scan pins over `src/main/scala/graft`: every `.scala` file's
  * text, with comments stripped (block then line, over the whole
  * content, so a line-wrapped construct cannot escape a pattern).
  */
object SourceScan {
  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val blockComment = """(?s)/\*.*?\*/""".r
  private val lineComment = """//[^\n]*""".r

  /** (path relative to `src/main/scala/graft`, raw text, code without
    * comments) for every main source file.
    */
  lazy val mainSources: Seq[(String, String, String)] = {
    val walk = java.nio.file.Files.walk(root)
    try {
      val files = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      walk.forEach { p =>
        if (p.toString.endsWith(".scala")) {
          // String's UTF-8 constructor replaces malformed bytes instead
          // of throwing (Source.fromFile dies on the first odd byte)
          val raw = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          val code = lineComment.replaceAllIn(
            blockComment.replaceAllIn(raw, ""), "")
          files += ((root.relativize(p).toString, raw, code))
        }
      }
      files.sortBy(_._1).toSeq
    } finally walk.close()
  }

  /** Per-file match counts of `re` in the comment-stripped code; files
    * without a match are omitted.
    */
  def codeMatches(re: Regex): Map[String, Int] =
    mainSources.map { case (rel, _, code) => rel -> re.findAllIn(code).size }
      .filter(_._2 > 0).toMap
}
