package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

/** Benchmark-owned fixture cache. A fixture directory is named by
  * workload, seed, size and a key that hashes the generator and file-writer
  * sources, so a change to either invalidates it; `_READY` marks a
  * complete staging. Old fixtures are evicted least-recently-used first.
  */
final class Fixtures(root: String, key: String) {
  private val Keep = 32 // fixture directories kept, most recently used first

  def dir(workload: String, seed: Long, sizeTag: String): String =
    s"$root/$workload-s$seed-$sizeTag-$key"

  def ready(dir: String): Boolean = new File(s"$dir/_READY").exists()

  /** Stage `dir` with `write` unless it is already complete; returns the
    * seconds spent generating (0 on a cache hit).
    */
  def ensure(dir: String)(write: String => Unit): Double = {
    val d = new File(dir)
    val secs =
      if (ready(dir)) 0.0
      else {
        Fixtures.deleteRecursively(d)
        val t0 = System.nanoTime()
        write(dir)
        Files.write(Paths.get(dir, "_READY"), Array.emptyByteArray)
        (System.nanoTime() - t0) / 1e9
      }
    d.setLastModified(System.currentTimeMillis())
    evict()
    secs
  }

  private def evict(): Unit = {
    val all = Option(new File(root).listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    all.sortBy(-_.lastModified()).drop(Keep).foreach(Fixtures.deleteRecursively)
  }
}

object Fixtures {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Read every file under `dir` once so timed passes start from a warm
    * page cache; returns the bytes read.
    */
  def warmPageCache(dir: String): Long = {
    var total = 0L
    val buf = new Array[Byte](1 << 20)
    val it = Files.walk(Paths.get(dir)).iterator()
    while (it.hasNext) {
      val p: Path = it.next()
      if (Files.isRegularFile(p)) {
        val in = Files.newInputStream(p)
        try {
          var n = in.read(buf)
          while (n >= 0) { total += n; n = in.read(buf) }
        } finally in.close()
      }
    }
    total
  }
}
