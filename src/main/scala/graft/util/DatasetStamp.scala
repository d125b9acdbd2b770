package graft.util

/** Cheap snapshot token of one parquet table, taken by every
  * [[Memo.Key]] for each input: sorted file names + mtimes + sizes.
  * Rewriting a path in place changes the stamp, so a memo keyed on it
  * fails safe to recompute instead of silently serving stale state. A
  * path this node can't stat (e.g. a remote filesystem URI) degrades to
  * a constant — per-directory memo behavior — rather than failing.
  */
object DatasetStamp {

  def stamp(sfDir: String, table: String): String =
    try {
      val p = java.nio.file.Paths.get(sfDir, s"$table.parquet")
      if (!java.nio.file.Files.exists(p)) "absent"
      else {
        val files =
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.toList.sortBy(_.toString)
            } finally s.close()
          } else List(p)
        files
          .map(f =>
            s"${f.getFileName}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}:${java.nio.file.Files.size(f)}")
          .mkString("|")
      }
    } catch { case scala.util.control.NonFatal(_) => "unstat" }
}
