package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One walk of a warehouse directory. Table versions hard-link the files
  * they keep, so every file is keyed by its inode and counted once.
  */
final case class Storage(files: Map[Long, Storage.FileInfo]) {
  import Storage.FileInfo

  /** Files (inodes) present now and absent from `before`. */
  def writtenSince(before: Storage): Iterable[FileInfo] =
    files.collect { case (ino, f) if !before.files.contains(ino) => f }

  /** Files reachable from each table's live version (`_current`). */
  def live: Iterable[FileInfo] = files.values.filter(_.live)

  /** Commit records (`_log/r_*.txt`) among `fs`. */
  def commits(fs: Iterable[FileInfo]): Int =
    fs.count(f => f.rel.contains("/_log/r_"))
}

object Storage {

  final case class FileInfo(table: String, rel: String, bytes: Long, live: Boolean)

  def walk(root: Path): Storage = {
    if (!Files.isDirectory(root)) return Storage(Map.empty)
    val out = scala.collection.mutable.Map[Long, FileInfo]()
    Files.list(root).iterator().asScala.filter(Files.isDirectory(_)).foreach { t =>
      val table = t.getFileName.toString
      val pointer = t.resolve("_current")
      val liveDir = if (Files.exists(pointer))
        Some(t.resolve(Files.readString(pointer).trim)) else None
      val stream = Files.walk(t)
      try stream.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val ino = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
        val rel = s"$table/${t.relativize(p)}"
        val isLive = liveDir.exists(d => p.startsWith(d)) &&
          !p.getFileName.toString.startsWith(".")
        // one inode under several versions is live if any link is live
        val prior = out.get(ino)
        out(ino) = FileInfo(table, prior.fold(rel)(_.rel), Files.size(p),
          isLive || prior.exists(_.live))
      } finally stream.close()
    }
    Storage(out.toMap)
  }

  def walk(root: String): Storage = walk(Paths.get(root))

  /** `table files_written bytes_written files_live bytes_live` per table. */
  def perTable(before: Storage, after: Storage): Seq[(String, Int, Long, Int, Long)] = {
    val written = after.writtenSince(before).groupBy(_.table)
    val live = after.live.groupBy(_.table)
    (written.keySet ++ live.keySet).toSeq.sorted.map { t =>
      val w = written.getOrElse(t, Nil); val l = live.getOrElse(t, Nil)
      (t, w.size, w.map(_.bytes).sum, l.size, l.map(_.bytes).sum)
    }
  }
}
