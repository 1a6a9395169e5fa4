package graft.core

/** Tiny filesystem helpers shared by the operators that manage per-run
  * directories (resumable CC fixpoint rounds, streaming staging dirs). */
object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }
}
