package graft
package faces

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Where faces write. Each JVM gets one scratch root, created under
  * `java.io.tmpdir` with a unique name and removed at exit, so two
  * JVMs on one box never share a path and a run leaves nothing behind.
  */
private[graft] object Scratch {

  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_faces_")
    sys.addShutdownHook(delete(r))
    r
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally paths.close()
    }

  private def dir(d: String, tag: String): Path =
    root.resolve(s"${tag}_${d.replaceAll("[^A-Za-z0-9]", "_")}")

  /** A freshly wiped directory for (`tag`, scale-factor dir `d`): every
    * build, the repeated Bench reps included, starts from empty and so
    * replays the identical trajectory.
    */
  def scratch(d: String, tag: String): String = {
    val p = dir(d, tag)
    delete(p)
    Files.createDirectories(p).toString
  }

  /** A fixture for (`tag`, `d`) that `write` builds into the given
    * (absent) directory once per JVM, so repeated builds time the face
    * and not the fixture. A marker beside the directory records a
    * completed write; an interrupted one is wiped and redone.
    */
  def fixture(d: String, tag: String)(write: String => Unit): String = synchronized {
    val p = dir(d, tag)
    val done = p.resolveSibling(s"${p.getFileName}.done")
    if (!Files.exists(done)) {
      delete(p)
      write(p.toString)
      Files.createFile(done)
    }
    p.toString
  }
}
