package graft

/** The specs judge the engine the bench and the oracle gate run: one
  * builder (`SparkEntry.session`), so these plan-affecting values hold for
  * every main too, at the main's own core and partition count.
  */
class SessionSpec extends SparkSpec {

  test("the test session runs Bench's engine settings at 4 cores / 4 partitions") {
    assert(spark.sparkContext.master == "local[4]")
    val got = SparkEntry.engineKeys.map(k => k -> spark.conf.get(k)).toMap
    assert(got == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (32L * 1024).toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> (32L * 1024).toString))
  }
}
