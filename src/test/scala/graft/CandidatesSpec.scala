package graft

import graft.dedup.Candidates
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The contract of the candidate-pair primitive every dedup / ANN family
  * runs on: pair shape, cap determinism, and the eager materialization.
  */
class CandidatesSpec extends SparkSpec {

  private def pairSet(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("pairs: no self pairs, a < b, no duplicates when ids share several keys") {
    val s = spark
    import s.implicits._
    // 1 and 2 share three (k1, k2) keys; 3 meets both in bucket (2, z);
    // 5 repeats inside its own bucket; 6 and 7 each match one key column
    // of 1's buckets but no full key; 4 is alone
    val keyed = Seq((0, "x", 2L), (0, "x", 1L), (1, "y", 1L), (1, "y", 2L),
      (2, "z", 2L), (2, "z", 3L), (2, "z", 1L), (3, "w", 4L), (4, "v", 5L),
      (4, "v", 5L), (0, "q", 6L), (9, "x", 7L)).toDF("k1", "k2", "id")
    val pairs = Candidates.pairs(keyed, Seq("k1", "k2"), "id")
    assert(pairs.columns.toSeq == Seq("a", "b"))
    assert(pairSet(pairs) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))

    val payload = Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("id", "p")
    val ends = Candidates.withEnds(pairs, payload, "id", "p")
      .select("a", "b", "p_a", "p_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(ends == Set((1L, 2L, "p1", "p2"), (1L, 3L, "p1", "p3"), (2L, 3L, "p2", "p3")))
  }

  test("a finite cap keeps the same lowest-id members whatever the row order") {
    val s = spark
    import s.implicits._
    // bucket 0 holds ids 1..10, bucket 1 holds {19, 14, 17, 12}; cap 3
    // keeps {1, 2, 3} and {12, 14, 17}
    val rows = (1L to 10L).map(i => (0, i)) ++ Seq(19L, 14L, 17L, 12L).map(i => (1, i))
    val expected = Seq((1L, 2L), (1L, 3L), (2L, 3L), (12L, 14L), (12L, 17L), (14L, 17L))
    val orders = Seq(rows, rows.reverse, new scala.util.Random(7).shuffle(rows))
    orders.foreach { order =>
      val keyed = order.toDF("k", "id").repartition(3)
      assert(pairSet(Candidates.pairs(keyed, Seq("k"), "id", maxBucket = 3)) == expected)
    }
    val uncapped = pairSet(Candidates.pairs(rows.toDF("k", "id"), Seq("k"), "id"))
    assert(uncapped.size == 45 + 6)
  }

  test("pairs runs exactly one Spark job when called and cuts the upstream lineage") {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val keyed = spark.range(0, 40).select((col("id") % 4).as("k"), col("id"))
      sc.setJobGroup("candidates-pairs", "Candidates.pairs")
      val pairs = Candidates.pairs(keyed, Seq("k"), "id")
      // a marker job: listener events arrive in order, so once the marker
      // is seen every job started by `pairs` has been counted
      sc.setJobGroup("candidates-marker", "marker")
      sc.parallelize(Seq(1)).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("candidates-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("candidates-marker"), "marker job never reached the listener")
      val jobs = groups.toArray.count(_ == "candidates-pairs")
      assert(jobs == 1, s"Candidates.pairs ran $jobs jobs when called")

      val plan = pairs.queryExecution.analyzed
      assert(plan.collect { case r: org.apache.spark.sql.catalyst.plans.logical.Range => r }
        .isEmpty, s"upstream still in the returned plan:\n$plan")
      assert(pairs.count() == 4 * (10 * 9 / 2))
    } finally sc.removeSparkListener(listener)
  }
}
