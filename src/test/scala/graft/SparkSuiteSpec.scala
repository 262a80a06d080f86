package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own contract: what a suite writes with `tempDir` is
  * gone once the suite has run. */
class SparkSuiteSpec extends AnyFunSuite {

  test("tempDir's suite root is deleted when the suite ends, subdirectories included") {
    var made: Option[Path] = None
    val inner = new AnyFunSuite with SparkSuite {
      test("writes scratch") {
        val dir = Paths.get(tempDir("graft_harness"))
        Files.createDirectories(dir.resolve("sub/deeper"))
        Files.writeString(dir.resolve("sub/deeper/part.txt"), "x")
        Files.writeString(dir.resolve("top.txt"), "y")
        made = Some(dir)
      }
    }
    val silent = new Reporter { def apply(e: Event): Unit = () }
    assert(inner.run(None, Args(silent)).succeeds())
    val dir = made.getOrElse(fail("the inner suite made no directory"))
    assert(!Files.exists(dir), s"$dir survived the suite")
    assert(!Files.exists(dir.getParent), s"suite root ${dir.getParent} survived the suite")
  }
}
