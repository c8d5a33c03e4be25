package graft

import graft.obs.Meter

/** The measurement module: a sample covers exactly the actions run inside
  * it, including the last task events of each, and none of an action that
  * finished just before it.
  */
class MeterSpec extends SparkSpec {

  private def shuffleJob(): Unit = {
    spark.sparkContext.parallelize(1 to 20000, 4).map(i => (i % 97, i.toLong)).reduceByKey(_ + _, 4)
      .collect()
    ()
  }

  test("a sample counts exactly its own action's jobs, tasks and shuffle, right after another action") {
    val sc = spark.sparkContext
    shuffleJob()
    val (_, one) = Meter.measure(sc)(shuffleJob())
    assert(one.jobs == 1, one)
    assert(one.tasks == 8, one) // 4 map + 4 reduce tasks
    assert(one.shuffleBytes > 0, one)
    assert(one.taskMillis >= 0 && one.cpuNanos > 0, one)
    val (_, two) = Meter.measure(sc) { shuffleJob(); shuffleJob() }
    assert(two.jobs == 2 && two.tasks == 16, two)
  }
}
