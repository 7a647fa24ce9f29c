package graft

/** Temp-dir registry with one JVM shutdown hook: the graded store
  * queries each materialize full table copies under `java.io.tmpdir`,
  * and repeated Verify/Bench runs would otherwise accumulate them
  * until a tmpfs /tmp runs the machine out of memory.
  */
object TempDirs {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach { p =>
        try deleteRecursively(p.toFile)
        catch { case _: Exception => () }
      }
    }))
    true
  }

  /** Create a temp directory that is deleted on JVM exit. */
  def create(prefix: String): String = {
    require(hookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Run `f`, then delete every directory [[create]]d while it ran, so a
    * main that runs one query at a time holds one query's stores.
    */
  def scoped[T](f: => T): T = {
    val before = new java.util.HashSet[java.nio.file.Path](dirs)
    try f
    finally dirs.removeIf(p => !before.contains(p) && { deleteRecursively(p.toFile); true })
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }
}
