package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Model-sidecar IO of the two frozen persisted ANN indexes
  * ([[graft.northstar.IvfIndex]], [[graft.northstar.IvfPqIndex]]) — its
  * only users: small text files (centroids, codebooks) written INTO a
  * [[ParquetTable]]'s live version dir after its commit, underscore-
  * prefixed so Spark's file index ignores them. New state about a
  * commit's data belongs in its log record ([[ParquetTable.applied]]),
  * published with the data, not here. Writes go tmp-then-atomic-rename
  * (a torn write is never visible under the real name); reads treat ANY
  * failure as no-sidecar, and the indexes then rebuild from the corpus.
  */
object Sidecar {

  /** Write `lines` to `versionDir/fileName` via tmp + ATOMIC_MOVE. */
  def write(versionDir: Path, fileName: String, lines: Seq[String]): Unit = {
    val target = versionDir.resolve(fileName)
    val tmp = versionDir.resolve(fileName + ".tmp")
    Files.write(tmp,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Non-empty lines of `fileName` under `tablePath`'s live version dir,
    * or None when the version pointer, the file, or the read itself is
    * missing/broken.
    */
  def read(tablePath: String, partitionColumns: Seq[String],
      fileName: String): Option[Vector[String]] =
    try {
      val p = Paths.get(
        new ParquetTable(tablePath, partitionColumns).currentPath, fileName)
      if (!Files.exists(p)) None
      else {
        import scala.jdk.CollectionConverters._
        Some(Files.readAllLines(p).asScala.filter(_.nonEmpty).toVector)
      }
    } catch { case _: Exception => None }
}
