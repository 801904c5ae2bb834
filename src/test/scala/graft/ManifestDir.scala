package graft

import java.io.File

/** What a manifest directory holds on disk (local file system). */
object ManifestDir {
  private def names(manifest: String): Seq[String] =
    Option(new File(manifest).list()).map(_.toSeq).getOrElse(Nil)

  /** Published part files. */
  def parts(manifest: String): Seq[String] =
    names(manifest).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  /** Everything else, except the local file system's checksum of a live
    * file: staging files and directories a writer left behind. */
  def residue(manifest: String): Seq[String] = {
    val all = names(manifest).toSet
    val live = parts(manifest).toSet
    all.toSeq.filterNot(n => live(n) ||
      (n.startsWith(".") && n.endsWith(".crc") && live(n.drop(1).dropRight(4))))
  }
}
