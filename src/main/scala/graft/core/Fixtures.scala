package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

/** The on-disk fixtures oracle entries write and then read (DuckDB reads
  * the same files through the entry's static SQL).
  *
  * Every fixture lives under one root per checkout, `<working dir>/
  * target/fixtures`, and checked-in inputs are read from `<working dir>/
  * src/test/resources`: sbt, Verify and the forked spec JVM all start in
  * the checkout, so two checkouts never share a fixture. A fixture that
  * is a pure function of its inputs is built through [[once]], keyed by
  * those inputs; deleting its dir forces a rebuild.
  */
object Fixtures {
  private val checkout = Paths.get("").toAbsolutePath

  /** `<working dir>/target/fixtures`. */
  val root: String = checkout.resolve("target/fixtures").toString

  /** `<working dir>/src/test/resources`. */
  val resources: String = checkout.resolve("src/test/resources").toString

  /** The absolute path of fixture `name` (a relative path) under [[root]]. */
  def path(name: String): String = s"$root/$name"

  /** The absolute path of checked-in input `name` under [[resources]]. */
  def resource(name: String): String = s"$resources/$name"

  /** A dataset dir as a file-name part, for fixtures kept per dataset. */
  def dirTag(dir: String): String = dir.replaceAll("[^a-zA-Z0-9.]", "_")

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Build fixture `name` once per `key`: when
    * `<root>/<name>/.fixture_key` holds `key` this returns at once;
    * otherwise it deletes the dir, runs `build` (which writes under
    * [[path]]`(name)`) and writes the marker last, so a `build` that
    * throws leaves no marker and the next call builds again. Callers of
    * one name in this JVM take turns on a per-name lock.
    */
  def once(name: String, key: String)(build: => Unit): Unit = {
    val dir = Paths.get(path(name))
    val marker = dir.resolve(".fixture_key")
    locks.computeIfAbsent(name, _ => new AnyRef).synchronized {
      val built = Files.isRegularFile(marker) &&
        new String(Files.readAllBytes(marker), UTF_8) == key
      if (!built) {
        deleteTree(dir)
        build
        writeAtomic(marker, key.getBytes(UTF_8))
      }
    }
  }

  /** Delete `p` and everything under it; no-op when it does not exist. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }

  /** Write `bytes` to `target` through a fresh sibling tmp file and an
    * atomic rename, so a concurrent reader sees the old file or the new
    * one, never a partial file. The tmp name starts with a dot, which
    * Spark's file listing skips.
    */
  def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent,
      s".${target.getFileName}.", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
