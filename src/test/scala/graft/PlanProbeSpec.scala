package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanProbe

/** [[PlanProbe]]: the plan witnesses stay the shuffle-join count
  * whatever broadcast thresholds the session carries, and
  * `withConf` leaves the session's explicit settings exactly as it
  * found them on every exit path. */
class PlanProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val bcast = "spark.sql.autoBroadcastJoinThreshold"
  private val aqeBcast = "spark.sql.adaptive.autoBroadcastJoinThreshold"
  // a key no suite sets: a fresh probe for the "was unset" cases
  private val probeKey = "spark.sql.graft.planProbeSpec.k"

  test("exchanges counts the shuffle join even when both broadcast " +
      "thresholds would broadcast, and leaves them as it found them") {
    import spark.implicits._
    PlanProbe.withConf(spark, bcast -> "10MB", aqeBcast -> "10MB") {
      val a = (1 to 200).map(i => (i, s"a$i")).toDF("k", "va")
      val b = (1 to 50).map(i => (i, i * 2.0)).toDF("k", "vb")
      val df = a.join(b, "k")
      // the session on its own plans a broadcast: the probe must not
      // report that plan
      assert(df.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(PlanProbe.exchanges(df) === 2)
      assert(spark.conf.get(bcast) === "10MB")
      assert(spark.conf.get(aqeBcast) === "10MB")
      assert(df.count() === 50L)
    }
  }

  test("withConf restores a set key's value and unsets an unset key") {
    PlanProbe.withConf(spark, probeKey -> "outer") {
      val before = spark.conf.getAll
      PlanProbe.withConf(spark, probeKey -> "inner",
          probeKey + ".other" -> "x") {
        assert(spark.conf.get(probeKey) === "inner")
        assert(spark.conf.get(probeKey + ".other") === "x")
      }
      assert(spark.conf.getAll === before)
    }
    val before = spark.conf.getAll
    assert(!before.contains(probeKey))
    PlanProbe.withConf(spark, probeKey -> "v") {
      assert(spark.conf.get(probeKey) === "v")
    }
    assert(spark.conf.getAll === before)
  }

  test("withConf restores when the body throws") {
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      PlanProbe.withConf(spark, probeKey -> "v", bcast -> "-1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.getAll === before)
  }

  test("nested withConf on one key composes") {
    val before = spark.conf.getAll
    PlanProbe.withConf(spark, probeKey -> "1") {
      PlanProbe.withConf(spark, probeKey -> "2") {
        PlanProbe.withConf(spark, probeKey -> "3") {
          assert(spark.conf.get(probeKey) === "3")
        }
        assert(spark.conf.get(probeKey) === "2")
      }
      assert(spark.conf.get(probeKey) === "1")
    }
    assert(spark.conf.getAll === before)
  }
}
