package graft.run

import graft.SparkSuite

class LocalSessionSpec extends SparkSuite {

  test("release frees cached relations, persistent RDDs and temp views") {
    val cached = spark.range(0, 100).selectExpr("id * 2 AS v").persist()
    LocalSession.force(cached)
    spark.range(0, 100).selectExpr("id + 1 AS v").localCheckpoint()
    cached.createOrReplaceTempView("graft_release_probe")
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(spark.catalog.listTables().collect().exists(_.isTemporary))

    LocalSession.release(spark)

    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!spark.catalog.listTables().collect().exists(_.isTemporary))
  }
}
