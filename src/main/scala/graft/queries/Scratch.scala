package graft.queries

import graft.operators.Scoped
import org.apache.commons.io.FileUtils

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

/**
 * The one owner of on-disk scratch for the query builders.
 *
 * Per-run dirs ([[dir]]) — stream checkpoints, sinks, snapshot /
 * archive / bucketed bases — live under one per-JVM root,
 * `<java.io.tmpdir>/graft_scratch_<pid>`, so concurrent Verify and
 * Bench JVMs on the same dataset never share a path. Each dir is
 * deleted when the enclosing [[Scoped.withCached]] scope exits, i.e.
 * AFTER its action: returned frames read their scratch lazily
 * (PartitionedSink.read, Snapshots.read). A JVM-exit hook removes the
 * root for callers outside any scope.
 *
 * Fixtures ([[fixture]]) are inputs staged from a dataset (synthesized
 * log text, the 4-file document copy the file-stream rows read). They
 * are a pure function of the dataset, so they persist ACROSS runs under
 * `<java.io.tmpdir>/graft_fixtures_<escaped dataset path>/` — one dir
 * per dataset path — as `<name>-<stamp>`, where the stamp fingerprints
 * the dataset's files so regenerated data never reuses a stale copy.
 */
private[graft] object Scratch {
  private val tmp = new File(sys.props("java.io.tmpdir"))
  private val seq = new AtomicInteger(0)
  private def pid: Long = ProcessHandle.current().pid()

  private lazy val root: File = {
    val r = new File(tmp, s"graft_scratch_$pid")
    r.mkdirs()
    sys.addShutdownHook(FileUtils.deleteQuietly(r))
    r
  }

  /** A fresh empty dir under the per-JVM root, deleted when the
   * enclosing scope exits. */
  def dir(name: String): String = {
    val d = new File(root, s"$name-${seq.incrementAndGet()}")
    d.mkdirs()
    Scoped.onRelease(() => FileUtils.deleteQuietly(d))
    d.getAbsolutePath
  }

  /** The staged copy of fixture `name` for `dataset`. The first call
   * runs `write(path)` into a private staging sibling and renames it
   * into place atomically; every later call — this run or the next —
   * reuses it. A concurrent JVM that loses the rename keeps the
   * winner's copy (both wrote the same bytes). */
  def fixture(dataset: String, name: String)(write: String => Unit): String = {
    val cache = new File(tmp, "graft_fixtures_" + escape(dataset))
    val fin = new File(cache, s"$name-${stamp(dataset)}")
    if (!fin.exists()) {
      cache.mkdirs()
      val staging = new File(cache, s".$name.$pid.${seq.incrementAndGet()}.tmp")
      try {
        write(staging.getAbsolutePath)
        Files.move(staging.toPath, fin.toPath, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: IOException if fin.exists() => ()
      } finally FileUtils.deleteQuietly(staging)
    }
    fin.getAbsolutePath
  }

  /** Injective, glob- and URI-safe spelling of a dataset path. */
  private def escape(path: String): String =
    path.getBytes(UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '.' || c == '-') c.toString
      else f"_${b & 0xff}%02X"
    }.mkString

  /** Fingerprint of the dataset's top-level entries (name, size, mtime). */
  private def stamp(dataset: String): String = {
    val files = Option(new File(dataset).listFiles()).getOrElse(Array.empty[File])
    Integer.toHexString(scala.util.hashing.MurmurHash3.orderedHash(
      files.sortBy(_.getName).map(f => (f.getName, f.length(), f.lastModified()))))
  }
}
