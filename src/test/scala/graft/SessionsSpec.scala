package graft

import org.apache.spark.sql.internal.SQLConf

import graft.core.{Sessions, Tables}

/** The library reads session config and never writes it: a query's
  * settings are the session's own, whatever ran before it.
  */
class SessionsSpec extends SparkSpec {

  test("loading a table leaves the session's conf unchanged") {
    val s = spark.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    s.conf.set("spark.sql.files.minPartitionNum", "1")
    val before = s.conf.getAll
    Tables(s, sfDir).documents
    assert(s.conf.getAll == before)
  }

  test("partsOf: an explicit count, else the session's shuffle width, else the conf's default") {
    assert(Sessions.partsOf(spark) == 4)
    assert(Sessions.partsOf(spark, parts0 = 7) == 7)
    val s = spark.newSession()
    s.conf.unset(SQLConf.SHUFFLE_PARTITIONS.key)
    assert(Sessions.partsOf(s) == SQLConf.SHUFFLE_PARTITIONS.defaultValue.get)
  }
}
