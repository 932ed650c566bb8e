package graft.run

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

class CheckpointsSpec extends SparkSuite {

  test("a rolling fold holds one accumulator: three folds leave exactly " +
    "one more persistent RDD, holding the union") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pieces = Seq(spark.range(0, 10), spark.range(10, 25),
      spark.range(25, 27)).map(_.toDF())
    val acc = pieces.foldLeft(null: DataFrame)(Checkpoints.fold)
    val after = sc.getPersistentRDDs.keySet
    assert((before -- after).isEmpty)
    assert((after -- before).size === 1, after -- before)
    assert(acc.collect().map(_.getLong(0)).sorted.toSeq === (0L until 27L))
  }

  test("free drops the checkpoint behind a projection of it") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = spark.range(5).toDF().localCheckpoint()
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    Checkpoints.free(cp.select((cp("id") + 1).as("id")))
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
