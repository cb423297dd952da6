package graft.util

import java.nio.file.{Files, Path}

/** Small local-filesystem helpers shared by the mains and the q19 staging
  * query. Store content never goes through here: store copies run through
  * Hadoop FileSystem ([[DeltaStore.copyInto]]). */
object Fs {

  /** Recursive delete, deepest-first; the walk stream is closed (it holds a
    * directory fd until GC otherwise). No-op for a missing path. */
  def deleteRecursively(root: Path): Unit = {
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }
  }
}
