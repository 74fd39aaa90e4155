package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The profiler main's plan dump and its command-line rejection. */
class ProfSpec extends AnyFunSuite with SparkTest {

  test("plans mode writes the formatted physical plan of each named query") {
    val out = Files.createTempDirectory("graft-prof-plans")
    val file = out.resolve("q03_join_agg_t.txt")
    val txt = try {
      Prof.plans(spark, "/root/testdata/sf0.001", out.toString, "t", Seq("q03_join_agg"))
      Files.readString(file)
    } finally { Files.deleteIfExists(file); Files.deleteIfExists(out) }
    val at = txt.indexOf("== Physical Plan ==")
    assert(at >= 0, txt)
    assert(txt.substring(at).contains("BroadcastHashJoin"), txt)
  }

  test("an unknown target throws the usage message instead of exiting") {
    val e = intercept[IllegalArgumentException](Prof.main(Array("no_such_target")))
    assert(e.getMessage.contains("no_such_target"))
    assert(e.getMessage.contains(Prof.Usage))
  }
}
