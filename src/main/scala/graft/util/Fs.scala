package graft.util

/** Filesystem helpers shared by fixtures/tests. */
object Fs {
  /** Recursively delete a file tree — deleteOnExit can't remove non-empty
    * directories, so staged/temp parquet trees must be removed explicitly. */
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
}
