package graft.matview

import java.nio.file.{Files, Path, Paths}

/** The two directory protocols every persisted artifact shares: a
  * recursive delete, and the crash-safe staged swap that replaces a live
  * directory (an MV, a stream sink's state) without a window in which a
  * crash loses it. java.nio, so local-filesystem scope; a cluster
  * deployment would stage through the Hadoop FileSystem API with the same
  * old-aside-first shape. */
private[graft] object Dirs {

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }

  /** The crash siblings of `live`: where its replacement is written, and
    * where the old copy waits while the replacement moves in. */
  def stageOf(live: Path): Path = Paths.get(live.toString + "__stage")
  def oldOf(live: Path): Path = Paths.get(live.toString + "__old")

  /** Replace `live` with what `write` puts in the stage dir.
    *  1. A crash between old-aside and stage-in leaves `__old` holding the
    *     ONLY copy: restore it before `write` runs (it may read `live`);
    *     otherwise a leftover `__old` is garbage and goes.
    *  1. `write` fills the stage dir and returns true, or returns false
    *     to decline (nothing is swapped).
    *  1. The live dir moves to `__old`, then the stage moves in.
    *  1. `__old` is dropped.
    *  1. The stage dir is deleted whatever happened.
    * A crash at any point leaves either `live` or `__old` complete. */
  def swap(live: Path)(write: Path => Boolean): Unit = {
    val stage = stageOf(live)
    val old = oldOf(live)
    if (!Files.exists(live) && Files.exists(old)) Files.move(old, live)
    else delete(old)
    try {
      if (write(stage)) {
        if (Files.exists(live)) Files.move(live, old)
        Files.move(stage, live)
        delete(old)
      }
    } finally delete(stage)
  }
}
