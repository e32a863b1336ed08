package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one fixture primitive: a fixture builds once per key, a new key
  * rebuilds from an empty dir, a failed build is retried, concurrent
  * callers of one name build once, and the root belongs to the checkout
  * the JVM runs in. No Spark session is needed.
  */
class FixturesSpec extends AnyFunSuite {

  /** A fresh fixture name under the root, deleted after `body`. */
  private def withName(body: String => Unit): Unit = {
    val name = s"fixtures-spec-${System.nanoTime()}"
    try body(name) finally Fixtures.deleteTree(Paths.get(Fixtures.path(name)))
  }

  private def files(dir: String): Set[String] = {
    val list = Files.list(Paths.get(dir))
    try list.iterator().asScala.map(_.getFileName.toString).toSet
    finally list.close()
  }

  private def put(dir: String, file: String): Path = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, file), file.getBytes)
  }

  test("the same key builds once") {
    withName { name =>
      val builds = new AtomicInteger
      Fixtures.once(name, "k1") { builds.incrementAndGet() }
      Fixtures.once(name, "k1") { builds.incrementAndGet() }
      assert(builds.get == 1)
    }
  }

  test("a new key removes the old build's files and builds again") {
    withName { name =>
      val dir = Fixtures.path(name)
      Fixtures.once(name, "k1") { put(dir, "old.parquet") }
      val builds = new AtomicInteger
      Fixtures.once(name, "k2") {
        builds.incrementAndGet()
        assert(!Files.exists(Paths.get(dir)), "build must start from no dir")
        put(dir, "new.parquet")
      }
      assert(builds.get == 1)
      assert(!files(dir).contains("old.parquet"))
      assert(files(dir).contains("new.parquet"))
      Fixtures.once(name, "k2") { builds.incrementAndGet() }
      assert(builds.get == 1, "the new key must be recorded")
    }
  }

  test("a build that throws leaves no marker and the next call builds") {
    withName { name =>
      val dir = Fixtures.path(name)
      val ex = intercept[IllegalStateException] {
        Fixtures.once(name, "k1") {
          put(dir, "partial.parquet")
          throw new IllegalStateException("build failed")
        }
      }
      assert(ex.getMessage == "build failed")
      assert(files(dir) == Set("partial.parquet"),
        s"only the partial output may remain: ${files(dir)}")
      val builds = new AtomicInteger
      Fixtures.once(name, "k1") {
        builds.incrementAndGet()
        put(dir, "full.parquet")
      }
      assert(builds.get == 1)
      assert(!files(dir).contains("partial.parquet"))
      Fixtures.once(name, "k1") { builds.incrementAndGet() }
      assert(builds.get == 1)
    }
  }

  test("two threads asking for one name build once") {
    withName { name =>
      val builds = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val call: Callable[Unit] = () => {
          start.await()
          Fixtures.once(name, "k1") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build while the other call waits
            put(Fixtures.path(name), "data.parquet")
          }
        }
        val calls = (1 to 2).map(_ => pool.submit(call))
        start.countDown()
        calls.foreach(_.get(60, TimeUnit.SECONDS))
        assert(builds.get == 1)
        assert(files(Fixtures.path(name)).contains("data.parquet"))
      } finally pool.shutdownNow()
    }
  }

  test("the root lies under the JVM's working dir") {
    val cwd = Paths.get("").toAbsolutePath
    assert(Paths.get(Fixtures.root) == cwd.resolve("target/fixtures"))
    assert(Paths.get(Fixtures.resources) == cwd.resolve("src/test/resources"))
    assert(Files.isRegularFile(Paths.get(Fixtures.resource("fbc/all.jsonl"))))
    assert(Fixtures.path("a/b") == s"${Fixtures.root}/a/b")
  }
}
