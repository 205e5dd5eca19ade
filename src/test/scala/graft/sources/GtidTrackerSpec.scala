package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import BinlogSource.GtidTracker

/** The durable applied-GTID record a failover resumes from: each
  * `observe` unions into the persisted set, a new tracker over the same
  * path resumes it, and the temp-file rewrite leaves nothing behind. (A
  * crash between the write and the rename cannot be simulated here; the
  * record is forced to disk before the rename publishes it.) */
class GtidTrackerSpec extends AnyFunSuite {
  private val sid = "01020304-0506-0708-090a-0b0c0d0e0f10"

  test("observe unions into the persisted set; a fresh tracker resumes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gtid_tracker")
    val path = dir.resolve("gtid_executed")
    assert(GtidTracker.load(path) == GtidSet.Empty)
    val tracker = new GtidTracker(path)
    tracker.observe(Seq(s"$sid:1", s"$sid:2", s"$sid:3"))
    tracker.observe(Seq(s"$sid:4", null, s"$sid:7"))
    val expected = GtidSet.parse(s"$sid:1-4:7")
    assert(GtidTracker.load(path) == expected)
    assert(tracker.set == expected)
    // a restart picks the record up and keeps extending it
    val resumed = new GtidTracker(path)
    assert(resumed.set == expected)
    resumed.observe(Seq(s"$sid:5"))
    assert(GtidTracker.load(path) == GtidSet.parse(s"$sid:1-5:7"))
    // the temp file is renamed over the record every time
    val left = dir.toFile.list().toSet
    assert(left == Set("gtid_executed"), s"left behind: $left")
  }
}
