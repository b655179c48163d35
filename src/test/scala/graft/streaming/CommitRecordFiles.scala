package graft.streaming

import java.nio.file.{Files, Path => JPath, Paths}

/** Test-side access to a version's `_COMMIT` record: read one section's
  * body lines, or rewrite or drop one section in place — how specs model
  * a version without a zonemap, a corrupt section, or a damaged record. */
object CommitRecordFiles {
  def recordPath(base: String, v: Long): JPath =
    Paths.get(base, f"v$v%05d", "_COMMIT")

  /** The body lines of section `name` (e.g. "buckets"); None when the
    * section or the whole record is absent. */
  def section(base: String, v: Long, name: String): Option[Seq[String]] = {
    val p = recordPath(base, v)
    if (!Files.exists(p)) None
    else {
      val lines = Files.readString(p).split('\n').toSeq
      val i = lines.indexOf(s"@@$name")
      if (i < 0) None else Some(lines.drop(i + 1).takeWhile(!_.startsWith("@@")))
    }
  }

  /** Replace section `name`'s body with `body`; None drops the section. */
  def rewriteSection(base: String, v: Long, name: String,
      body: Option[Seq[String]]): Unit = {
    val p = recordPath(base, v)
    val lines = Files.readString(p).split('\n').toSeq
    val i = lines.indexOf(s"@@$name")
    val (before, after) =
      if (i < 0) (lines.init, Seq(lines.last)) // new section goes before @@end
      else (lines.take(i), lines.drop(i + 1).dropWhile(!_.startsWith("@@")))
    val replaced = body.toSeq.flatMap(s"@@$name" +: _)
    Files.writeString(p, (before ++ replaced ++ after).mkString("\n"))
    ()
  }
}
