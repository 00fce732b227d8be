package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class StagedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** A one-file fixture dir, removed after `body`. */
  private def withFixture(body: (Path, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("staged-fixture")
    val file = dir.resolve("t.parquet")
    Files.write(file, "v1".getBytes(UTF_8))
    try body(dir, file)
    finally {
      Files.deleteIfExists(file)
      Files.deleteIfExists(dir)
    }
  }

  private def key(name: String) = Staged.Key(name, "/fixture", Nil)

  test("same key returns the same instance; another name builds fresh") {
    withFixture { (dir, _) =>
      val a1 = Staged(spark, "spec-same", dir.toString)(
        spark.range(3).localCheckpoint())
      val a2 = Staged[DataFrame](spark, "spec-same", dir.toString)(
        fail("a second lookup with the same key must not rebuild"))
      assert(a1 eq a2)
      val b = Staged(spark, "spec-other", dir.toString)(
        spark.range(3).localCheckpoint())
      assert(!(b eq a1))
    }
  }

  test("four threads racing a first lookup build once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = (1 to 4).map { _ =>
        Future {
          start.await()
          Staged.staged("app-race", key("spec-race")) {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }
      start.countDown()
      val values = Await.result(Future.sequence(got), 30.seconds)
      assert(builds.get === 1)
      assert(values.forall(_ eq values.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a changed length or mtime in the fixture dir rebuilds the value " +
    "and the on-disk artifact") {
    withFixture { (dir, file) =>
      val values = new AtomicInteger(0)
      def value() = Staged(spark, "spec-fp", dir.toString)(
        values.incrementAndGet())
      val dirs = new AtomicInteger(0)
      def artifact() = Staged.dir(spark, "spec-fp-dir", dir.toString) { p =>
        dirs.incrementAndGet()
        Files.copy(file, Paths.get(p, "copy"))
        ()
      }
      def copied(p: String) =
        new String(Files.readAllBytes(Paths.get(p, "copy")), UTF_8)

      assert(value() === 1 && value() === 1)
      val a1 = artifact()
      assert(artifact() === a1 && dirs.get === 1 && copied(a1) === "v1")

      // a rewrite with a new length
      Files.write(file, "v2-long".getBytes(UTF_8))
      assert(value() === 2)
      val a2 = artifact()
      assert(a2 != a1 && dirs.get === 2 && copied(a2) === "v2-long")

      // same length, new mtime
      val mtime = file.toFile.lastModified()
      Files.write(file, "v3-long".getBytes(UTF_8))
      assert(file.toFile.setLastModified(mtime + 10000L))
      assert(value() === 3)
      val a3 = artifact()
      assert(a3 != a2 && dirs.get === 3 && copied(a3) === "v3-long")
      assert(value() === 3 && artifact() === a3)
    }
  }

  test("a build that throws leaves no entry; the next lookup rebuilds") {
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException] {
      Staged.staged("app-throw", key("spec-throw")) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    val v = Staged.staged("app-throw", key("spec-throw")) {
      builds.incrementAndGet()
      "built"
    }
    assert(v === "built" && builds.get === 2)
    assert(Staged.staged("app-throw", key("spec-throw"))("again") === "built")
  }

  test("a new application id drops the previous application's entries") {
    val a = Staged.staged("app-A", key("spec-app"))(new Object)
    assert(Staged.staged("app-A", key("spec-app"))(new Object) eq a)
    val b = Staged.staged("app-B", key("spec-app"))(new Object)
    assert(!(b eq a))
    // app-A's entry went when app-B appeared
    assert(!(Staged.staged("app-A", key("spec-app"))(new Object) eq a))
  }

  test("scratch dirs are fresh per call and share the staged root") {
    val a = Paths.get(Staged.scratch("graft_spec"))
    val b = Paths.get(Staged.scratch("graft_spec"))
    assert(a !== b)
    assert(Files.isDirectory(a) && Files.isDirectory(b))
    assert(a.getParent === b.getParent)
  }

  test("SparkEntry and DedupArtifacts keep no cache or temp dir of " +
    "their own") {
    val banned = Seq("TrieMap", "ConcurrentHashMap", "createTempDirectory",
      "addShutdownHook")
    Seq("src/main/scala/graft/SparkEntry.scala",
      "src/main/scala/graft/pipeline/DedupArtifacts.scala").foreach { f =>
      val src = Files.readString(Paths.get(f))
      banned.foreach { w =>
        assert(!src.contains(w), s"$f contains $w")
      }
    }
  }

  test("test sources make temp dirs and files only through " +
    "Staged.scratch") {
    Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "StagedSpec.scala")
      .foreach { f =>
        val src = Files.readString(f)
        Seq("createTempDirectory", "createTempFile").foreach { w =>
          assert(!src.contains(w), s"$f contains $w")
        }
      }
  }
}
