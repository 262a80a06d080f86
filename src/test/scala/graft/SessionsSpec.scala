package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the side tools' one session recipe to `Bench`'s settings, so a
  * tool's plans and timings stay the shapes the bench runs. Pure: no
  * session is built, so the suite's shared session is left alone. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.settings carries Bench's session settings at any core count") {
    for (cores <- Seq(1, 4, 32))
      assert(Sessions.settings(cores) == Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.sql.files.maxPartitionBytes" -> "16m",
        "spark.sql.files.openCostInBytes" -> "1m"))
  }
}
