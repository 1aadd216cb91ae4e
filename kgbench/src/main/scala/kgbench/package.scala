import java.nio.file.{Files, Path}

package object kgbench {
  /** Deletes a file or directory tree; a missing path is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}
