package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

/** The one publish protocol of the rewritten stores (the IVF index and the
  * clustered store). A store root holds its live data in a version
  * directory `v<N>/`, named by the one-line pointer file `_current`, and
  * [[commit]] is the only way it changes:
  *   1. take the store's [[WriterLock]] with a fresh owner;
  *   2. sweep;
  *   3. run the caller's body, which builds the next version `v<N+1>`;
  *   4. publish it with ONE atomic move of `_current` (POSIX rename
  *      replaces atomically; on an object store substitute its atomic
  *      put/CAS primitive);
  *   5. sweep again.
  * A crash at any instant leaves the old version or the new one whole: the
  * next version is invisible until step 4, and step 4 is one rename. A
  * crash never leaves the lock behind in-process (the lock releases on
  * every exit path); a killed process does, on purpose (see WriterLock).
  *
  * Readers resolve `_current` ONCE per query ([[live]]) and never lock. A
  * root without a pointer is a flat layout and is read as itself: a
  * build-once write, or a store no commit has touched yet. The first
  * commit migrates it to `v1`. A body that rewrites only some units
  * hard-links the rest of the live version into the next one ([[link]]),
  * the same local-filesystem assumption the atomic move makes; untouched
  * files are never opened for data. A reader whose version is swept while
  * it runs fails on a missing file and re-runs against the published one.
  *
  * The sweep runs only under the lock. Once `_current` exists, every root
  * entry except `_current`, the live version and `_writer.lock` is debris:
  * orphan versions, `_current.tmp.*`, `_writer.lock.claimed.*`, and a
  * migrated flat layout's data. Before it exists, the debris is orphan
  * `v<N>` directories, those temp names, and [[ResumableWrite]]'s `_tmp_*`
  * roots (that store keeps its manifest as its commit record and shares
  * only this sweep and the crash points). The store root belongs to the
  * store: nothing else may live in it. */
private[graft] object StoreVersions {

  private val Pointer = "_current"

  private def pointed(dir: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(dir, Pointer)), StandardCharsets.UTF_8).trim)
    catch { case _: NoSuchFileException => None }

  /** The live directory of store `dir`: `dir/v<N>` as `_current` names it,
    * or `dir` itself for a flat layout. */
  def live(dir: String): String = pointed(dir).fold(dir)(v => s"$dir/$v")

  /** Runs `body(live, next)` under the store's writer lock (owner
    * `op:<fresh uuid>`) and publishes `next` iff the body built it, between
    * two sweeps; returns the body's value. A body that throws, or builds
    * nothing, publishes nothing. */
  def commit[T](dir: String, op: String)(body: (String, String) => T): T =
    WriterLock.withLock(dir, s"$op:${java.util.UUID.randomUUID()}") {
      sweep(dir)
      val cur = pointed(dir)
      val next = s"v${cur.fold(0L)(_.drop(1).toLong) + 1}"
      val out = body(cur.fold(dir)(v => s"$dir/$v"), s"$dir/$next")
      if (Files.isDirectory(Paths.get(dir, next))) {
        val tmp = Paths.get(dir, s"$Pointer.tmp.${java.util.UUID.randomUUID()}")
        Files.write(tmp, next.getBytes(StandardCharsets.UTF_8))
        crashPoint(dir, "pointer staged")
        Files.move(tmp, Paths.get(dir, Pointer),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        crashPoint(dir, "published")
        sweep(dir)
      }
      out
    }

  /** Deletes the debris of store `dir` (class doc). Caller holds the lock. */
  private[operators] def sweep(dir: String): Unit = {
    val cur = pointed(dir)
    val keep = Set(Pointer, "_writer.lock") ++ cur
    val entries = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    for (f <- entries.map(_.getName).sorted if !keep(f) && (cur.nonEmpty ||
        f.matches("v\\d+") || f.startsWith(s"$Pointer.tmp.") ||
        f.startsWith("_writer.lock.claimed.") || f.startsWith("_tmp_"))) {
      ResumableWrite.deleteRecursively(Paths.get(dir, f))
      crashPoint(dir, s"swept $f")
    }
  }

  /** Hard-links every file under `from` to the same relative path under
    * `to`, creating the directories; `to` itself is skipped when it lies
    * inside `from` (a flat layout migrating to `v1`). Names starting with
    * `_` or `._` (job markers such as `_SUCCESS` and its checksum, the
    * lock) are left out: a later write into `to` rewrites a marker in
    * place, which through a link would write into the live version. */
  def link(from: String, to: String): Unit = {
    val dst = root(to)
    def go(src: Path, out: Path): Unit = {
      Files.createDirectories(out)
      val s = Files.list(src)
      val kids = try s.iterator().asScala.toList finally s.close()
      for (p <- kids; name = p.getFileName.toString
           if !name.startsWith("_") && !name.startsWith("._") && root(p.toString) != dst)
        if (Files.isDirectory(p)) go(p, out.resolve(name))
        else Files.createLink(out.resolve(name), p)
    }
    go(Paths.get(from), Paths.get(to))
  }

  // --- crash points: one hook between the filesystem steps of a store write ---

  /** Thrown by an armed crash point. */
  private[graft] final class Crash(val point: String)
    extends RuntimeException(s"injected crash at: $point")

  private val armed = new AtomicReference[(Path, AtomicInteger)]()

  private def root(dir: String): Path = Paths.get(dir).toAbsolutePath.normalize

  /** Arms the crash hook for store `dir` only: its `n`-th crash point from
    * now throws [[Crash]]. `n <= 0` disarms. */
  private[graft] def armCrash(dir: String, n: Int): Unit =
    armed.set(if (n <= 0) null else (root(dir), new AtomicInteger(n)))

  /** A crash point of store `dir`: a no-op unless a spec armed the hook for
    * that store. */
  private[graft] def crashPoint(dir: String, point: String): Unit = {
    val a = armed.get
    if (a != null && a._1 == root(dir) && a._2.decrementAndGet() == 0) throw new Crash(point)
  }
}
