package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LocalSessionSpec extends AnyFunSuite {
  import TestSpark._

  private val Micros = "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"

  test("a derived session is built once per (base, overrides)") {
    val a = LocalSession.derived(spark, Micros)
    assert(LocalSession.derived(spark, Micros) eq a)
    assert(!(a eq spark))
    assert(!(LocalSession.derived(spark, "spark.sql.shuffle.partitions" -> "3") eq a))
    assert(!(LocalSession.derived(spark.newSession(), Micros) eq a))
  }

  test("a derived session sets its overrides and leaves the base conf alone") {
    val base = spark.newSession()
    base.conf.set("spark.sql.shuffle.partitions", "7")
    val d = LocalSession.derived(base, Micros)
    assert(d.conf.get(Micros._1) === "TIMESTAMP_MICROS")
    assert(d.conf.get("spark.sql.shuffle.partitions") === "7")
    assert(d.conf.get("spark.sql.session.timeZone") === base.conf.get("spark.sql.session.timeZone"))
    assert(base.conf.get(Micros._1) !== "TIMESTAMP_MICROS")
    assert(base.conf.get("spark.sql.shuffle.partitions") === "7")
  }
}
