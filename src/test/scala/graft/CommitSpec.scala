package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The crash matrix of [[Commit]], on the forms it publishes: a directory,
  * a file of given bytes and a file a writer creates. A crash before the
  * rename leaves no target and no staging, a crash after it leaves the
  * target committed, a replay never replaces the target, racing publishers
  * commit exactly once, and a publish clears what a killed attempt left
  * behind. */
class CommitSpec extends AnyFunSuite {

  private def fresh(): Path = Files.createTempDirectory("graft-commit")

  /** The two forms: how to plant content `s` at a path directly (another
    * writer), how to publish it through [[Commit]] with a seam, and how to
    * read the committed content back. */
  private case class Form(name: String,
                          plant: (Path, String) => Unit,
                          publish: (Path, String, String => Unit) => Boolean,
                          read: Path => String)

  private val forms = Seq(
    Form("directory",
      (p, s) => { Files.createDirectory(p); Files.write(p.resolve("part"), s.getBytes(UTF_8)); () },
      (t, s, seam) => Commit.publish(t, seam)(p =>
        Files.write(p.resolve("part"), s.getBytes(UTF_8))),
      p => Files.readString(p.resolve("part"))),
    Form("file",
      (p, s) => { Files.write(p, s.getBytes(UTF_8)); () },
      (t, s, seam) => Commit.publish(t, s.getBytes(UTF_8), seam),
      p => Files.readString(p)),
    // a writer that leaves a side file next to the one it commits, as
    // Hadoop's checksummed filesystem leaves a `.crc`
    Form("file writer",
      (p, s) => { Files.write(p, s.getBytes(UTF_8)); () },
      (t, s, seam) => Commit.publishFile(t, seam) { p =>
        Files.write(p.resolveSibling(s".${p.getFileName}.crc"), Array[Byte](0))
        Files.write(p, s.getBytes(UTF_8))
      },
      p => Files.readString(p)))

  private val noSeam: String => Unit = _ => ()

  /** Staging entries, or any other hidden entry (a writer's side file),
    * left in `parent`. */
  private def staged(parent: Path): Seq[String] = {
    val st = Files.list(parent)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".")).toSeq
    finally st.close()
  }

  private def crashAt(phase: String): String => Unit =
    p => if (p == phase) throw new RuntimeException(s"crash at $phase")

  test("NIO's rename facts the primitive is built around") {
    val d = fresh()
    // ATOMIC_MOVE silently replaces an existing file ...
    Files.writeString(d.resolve("a"), "new")
    Files.writeString(d.resolve("b"), "old")
    Files.move(d.resolve("a"), d.resolve("b"), StandardCopyOption.ATOMIC_MOVE)
    assert(Files.readString(d.resolve("b")) === "new")
    // ... and an empty directory, but fails on a non-empty one
    Files.createDirectories(d.resolve("src"))
    Files.createDirectories(d.resolve("empty"))
    Files.move(d.resolve("src"), d.resolve("empty"), StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(d.resolve("src2"))
    Files.writeString(d.resolve("empty/x"), "x")
    intercept[java.nio.file.FileSystemException] {
      Files.move(d.resolve("src2"), d.resolve("empty"), StandardCopyOption.ATOMIC_MOVE)
    }
    // a hard link never replaces an existing file
    Files.writeString(d.resolve("c"), "c")
    intercept[java.nio.file.FileAlreadyExistsException] {
      Files.createLink(d.resolve("b"), d.resolve("c"))
    }
    assert(Files.readString(d.resolve("b")) === "new")
  }

  for (Form(form, plant, publish, read) <- forms) {
    test(s"[$form] a crash at staged leaves no target and no staging; the retry commits once") {
      val d = fresh()
      val target = d.resolve("v=1")
      intercept[RuntimeException] { publish(target, "a", crashAt("staged")) }
      assert(!Files.exists(target))
      assert(staged(d).isEmpty, s"staging left: ${staged(d)}")
      assert(publish(target, "b", noSeam))
      assert(read(target) === "b")
      assert(!publish(target, "c", noSeam))
      assert(read(target) === "b")
      assert(staged(d).isEmpty)
    }

    test(s"[$form] a crash at installed leaves the target committed; the replay changes nothing") {
      val d = fresh()
      val target = d.resolve("v=1")
      intercept[RuntimeException] { publish(target, "a", crashAt("installed")) }
      assert(read(target) === "a")
      var wrote = false
      assert(!publish(target, "b", p => if (p == "staged") wrote = true))
      assert(!wrote, "a replay must not even stage")
      assert(read(target) === "a")
      assert(staged(d).isEmpty)
    }

    test(s"[$form] a target committed while staging is never replaced") {
      val d = fresh()
      val target = d.resolve("v=1")
      // another writer's target appears between this attempt's write and
      // its rename
      val won = publish(target, "late", p => if (p == "staged") plant(target, "racer"))
      assert(!won)
      assert(read(target) === "racer")
      assert(staged(d).isEmpty)
    }

    test(s"[$form] an interrupt is rethrown, not taken for a replay") {
      val d = fresh()
      val target = d.resolve("v=1")
      // the racer's target is committed when the interrupt lands
      intercept[InterruptedException] {
        publish(target, "late", p => if (p == "staged") {
          plant(target, "racer"); throw new InterruptedException("stop")
        })
      }
      assert(read(target) === "racer")
      assert(staged(d).isEmpty)
    }

    test(s"[$form] two threads publishing one target: exactly one wins") {
      (1 to 20).foreach { round =>
        val d = fresh()
        val target = d.resolve("v=1")
        val pool = Executors.newFixedThreadPool(2)
        val go = new CountDownLatch(1)
        try {
          val results = Seq("x", "y").map { tag =>
            pool.submit(new Callable[(String, Boolean)] {
              def call(): (String, Boolean) = {
                go.await()
                tag -> publish(target, tag, noSeam)
              }
            })
          }
          go.countDown()
          val got = results.map(_.get(30, TimeUnit.SECONDS))
          val winners = got.filter(_._2).map(_._1)
          assert(winners.size === 1, s"round $round: $got")
          assert(read(target) === winners.head)
          assert(staged(d).isEmpty, s"round $round: staging left ${staged(d)}")
        } finally pool.shutdownNow()
      }
    }

    test(s"[$form] the next publish removes what a killed attempt left behind") {
      val d = fresh()
      val target = d.resolve("v=1")
      // a killed attempt: its staged path half-written, never cleaned
      val debris = d.resolve(".staging-v=1/killed")
      Files.createDirectories(debris)
      Files.writeString(debris.resolve("part"), "trunc")
      assert(publish(target, "a", noSeam))
      assert(read(target) === "a")
      assert(staged(d).isEmpty, s"staging left: ${staged(d)}")
    }
  }

  test("replace overwrites atomically and leaves no staging") {
    val d = fresh()
    val f = d.resolve("_latest")
    Commit.replace(f, "1".getBytes(UTF_8))
    Commit.replace(f, "22".getBytes(UTF_8))
    assert(Files.readString(f) === "22")
    assert(staged(d).isEmpty)
  }

  test("concurrent replaces of one file never throw; the file holds one of them") {
    (1 to 20).foreach { round =>
      val d = fresh()
      val f = d.resolve("_latest")
      val pool = Executors.newFixedThreadPool(4)
      val go = new CountDownLatch(1)
      try {
        val tags = (1 to 4).map(_.toString)
        val results = tags.map { tag =>
          pool.submit(new Callable[Unit] {
            def call(): Unit = {
              go.await()
              (1 to 10).foreach(_ => Commit.replace(f, tag.getBytes(UTF_8)))
            }
          })
        }
        go.countDown()
        results.foreach(_.get(30, TimeUnit.SECONDS)) // rethrows a replace's failure
        assert(tags.contains(Files.readString(f)), s"round $round")
        assert(staged(d).isEmpty, s"round $round: staging left ${staged(d)}")
      } finally pool.shutdownNow()
    }
  }

  test("numbered lists canonical numbers only, sorted") {
    val d = fresh()
    Seq("v=10", "v=2", "v=0", "v=", "v=backup", "v=007", "v=-1", "v=+3",
        "v=99999999999999999999", ".staging", "w=4").foreach(n => Files.createDirectories(d.resolve(n)))
    Files.writeString(d.resolve("v=5"), "")
    assert(Commit.numbered(d, "v=") === Seq(0L, 2L, 5L, 10L))
    assert(Commit.numbered(d.resolve("absent"), "v=") === Nil)
  }

  test("delete removes a tree and tolerates an absent path") {
    val d = fresh()
    Files.createDirectories(d.resolve("a/b/c"))
    Files.writeString(d.resolve("a/b/c/f"), "x")
    Files.writeString(d.resolve("a/g"), "y")
    Commit.delete(d.resolve("a"))
    assert(!Files.exists(d.resolve("a")))
    Commit.delete(d.resolve("a"))
  }
}
