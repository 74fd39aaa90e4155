package graft.core

import graft.SparkTest
import graft.core.SessionConf._
import org.scalatest.funsuite.AnyFunSuite

class SessionConfSpec extends AnyFunSuite with SparkTest {

  private val setKey = "graft.test.previouslySet"
  private val absentKey = "graft.test.previouslyAbsent"

  test("withConf restores a previously-set key and unsets a previously-absent one") {
    spark.conf.set(setKey, "old")
    spark.conf.unset(absentKey)
    val seen = withConf(spark, setKey -> "new", absentKey -> "x") {
      (spark.conf.get(setKey), spark.conf.get(absentKey))
    }
    assert(seen == (("new", "x")))
    assert(spark.conf.getOption(setKey).contains("old"))
    assert(spark.conf.getOption(absentKey).isEmpty)
    spark.conf.unset(setKey)
  }

  test("withConf restores every key when the body throws") {
    val prevP = spark.conf.get(ShufflePartitions)
    spark.conf.set(setKey, "old")
    spark.conf.unset(absentKey)
    intercept[IllegalStateException] {
      withConf(spark, ShufflePartitions -> "3", setKey -> "new", absentKey -> "x") {
        assert(spark.conf.get(ShufflePartitions) == "3")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(ShufflePartitions) == prevP)
    assert(spark.conf.getOption(setKey).contains("old"))
    assert(spark.conf.getOption(absentKey).isEmpty)
    spark.conf.unset(setKey)
  }
}
