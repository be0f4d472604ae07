package graft

/** Per-JVM on-disk fixtures (persisted indexes, derived corpora, ingest
  * feeds, replayed streams). Three jobs:
  *
  *  1. `tempDir` hands out temp directories that are REGISTERED for a
  *     best-effort recursive delete at JVM exit — fixture dirs must never
  *     outlive the session that wrote them (previously each call site
  *     leaked its `Files.createTempDirectory` result).
  *  2. `dirKey` fingerprints a source-data directory (relative file names +
  *     sizes + mtimes, order-free fold) so once-per-JVM fixture caches
  *     can key on WHAT the data is, not just where it lives: if the parquet
  *     under a path is regenerated mid-JVM, the fingerprint changes and the
  *     fixture rebuilds instead of serving a stale index.
  *  3. `memo` is the one once-per-JVM fixture cache: keyed on the fixture's
  *     name plus `dirKey` of its source data, built into a fresh `tempDir`
  *     named after the fixture, built once even under concurrent first
  *     touches, and a build that throws leaves neither an entry nor its
  *     directory behind, so the next call rebuilds.
  *
  * At 100 TB the same pattern holds with a durable store in place of /tmp:
  * the fixture is an owned artifact keyed by a snapshot id, rebuilt when the
  * snapshot moves, deleted when its owner goes away.
  */
object Fixtures {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  // Registered once at class init; fixture dirs are small (sf-test scale)
  // so exit-time sweep cost is negligible.
  sys.addShutdownHook {
    registered.forEach(p => deleteRecursively(p))
  }

  /** One memoized build. `computeIfAbsent` only inserts the cell; the
    * build runs in the `lazy val`, outside the map's lock, so a build may
    * call [[memo]] for other fixtures (a mapping function that updated its
    * own map would throw "Recursive update") while concurrent callers of
    * the same key still wait for the one build. The build closure is
    * dropped once it has run, so the cell keeps only the value.
    */
  private[graft] final class Cell(name: String, private var build: Path => Any) {
    lazy val value: Any = {
      val dir = tempDir(name)
      val v = try build(dir)
        catch { case e: Throwable => deleteRecursively(dir); throw e }
      build = null
      v
    }
  }

  private[graft] val memos =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** The fixture `name` over the source data under `d`: built once per
    * (name, content of `d`) into a fresh `tempDir(name)` passed to `build`,
    * and rebuilt into a new directory when the data under `d` changes. A
    * build that throws records no entry and has its directory deleted.
    */
  def memo[T](name: String, d: String)(build: Path => T): T = {
    val key = name + "|" + dirKey(d)
    val cell = memos.computeIfAbsent(key, _ => new Cell(name, build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => memos.remove(key, cell); throw e }
  }

  /** A temp directory slated for deletion at JVM exit. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }

  /** Hard-link `src` at `dst` (parents created), falling back to a copy
    * when linking is impossible (cross-device, FS without link support).
    * An existing `dst` is left alone — every clone/retain fixture keys
    * files by content-identifying relative path, so a second link of the
    * same relpath is the SAME content by construction. The one shared
    * definition of the retain-by-link rule (GC clones, compaction
    * carry-overs, mutation retains) so the fallback semantics cannot
    * drift between them.
    */
  def linkOrCopy(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    if (!Files.exists(dst))
      try Files.createLink(dst, src)
      catch { case _: Exception =>
        Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    else
      // cheap invariant on the relpath-identifies-content assumption: an
      // aliased dst holding DIFFERENT content must fail loudly here, not
      // serve wrong bytes downstream (same-file passes trivially — size
      // equality is the cross-device-copy-safe stand-in for isSameFile)
      require(Files.size(dst) == Files.size(src),
        s"linkOrCopy aliasing violation: $dst exists with " +
          s"${Files.size(dst)} bytes but $src has ${Files.size(src)}")
  }

  /** Content fingerprint of a dataset directory: order-insensitive SUM of
    * avalanche-mixed 64-bit hashes of (relative path, size, mtime) over all
    * regular files, plus the file count and total byte size appended
    * verbatim. Sum-of-mixed beats the previous plain-XOR fold: XOR lets a
    * PAIR of offsetting changes cancel back to the same key (and sets the
    * key to 0 for any file appearing twice via symlinked walks); a full
    * 64-bit avalanche before a wrapping sum makes engineered cancellation
    * infeasible, and the explicit count/bytes catch gross shape changes
    * outright. Cheap (metadata only — no bytes read), which is the right
    * cost for a cache key consulted on every query construction.
    */
  def dirKey(dir: String): String = {
    val root = Paths.get(dir)
    val files =
      if (!Files.exists(root)) Vector.empty
      else {
        val it = Files.walk(root)
        try it.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
          (root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis)).toVector
        finally it.close()
      }
    dir + "#" + fingerprint(files)
  }

  /** The fold behind [[dirKey]] over (relative path, size, mtime) triples,
    * in any order: a wrapping sum of mixed hashes, then count and bytes.
    */
  private[graft] def fingerprint(files: Seq[(String, Long, Long)]): String = {
    val acc = files.iterator.map { case (rel, sz, mtime) =>
      mix64(scala.util.hashing.MurmurHash3.stringHash(s"$rel|$sz|$mtime").toLong)
    }.sum
    java.lang.Long.toHexString(acc) + "-" + files.size + "-" +
      java.lang.Long.toHexString(files.iterator.map(_._2).sum)
  }

  /** SplitMix64 finalizer — full-avalanche 64-bit mix. */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Best-effort recursive delete: async writers may still be flushing —
    * `q.stop()` does not join the state store's maintenance thread, which
    * can still be writing `.snapshot` files under a streaming replay's run
    * dir, so a single pass races (DirectoryNotEmptyException / files
    * reappearing). Retry a few times with a short pause, then give up;
    * cleanup must never throw.
    */
  def deleteRecursively(root: Path): Unit = {
    var attempt = 0
    while (attempt < 5 && Files.exists(root)) {
      try {
        val it = Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[Path]())
        try it.forEach(p => Files.deleteIfExists(p)) finally it.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => // retry
      }
      if (Files.exists(root)) Thread.sleep(200L)
      attempt += 1
    }
  }
}
