package graft.tools

import org.apache.spark.sql.CachedEntries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StorageBridge
import graft.SparkSpec
import graft.core.Pin

class TimingSpec extends SparkSpec {

  test("a timed run leaves no persistent RDD, stored block or cached entry behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    var created = Set.empty[Int]
    val run = Timing.run(spark) {
      val pinned = Pin(spark.range(1000).select(col("id").as("k")))
      val cached = spark.range(500).select(col("id").as("k"), (col("id") * 3).as("v"))
        .persist()
      cached.count()
      created = sc.getPersistentRDDs.keySet.toSet -- before
      pinned.join(cached, Seq("k"))
    }
    assert(run.ok && run.seconds > 0)
    // non-vacuous: the pin's checkpoint and the persisted frame's
    // in-memory relation both held blocks during the run
    assert(created.size >= 2, s"the run persisted only $created")
    assert(created.intersect(sc.getPersistentRDDs.keySet).isEmpty)
    assert(created.forall(id => StorageBridge.storedBytes(id) == 0))
    assert(CachedEntries(spark) == 0)
  }

  test("a failed run is reported with its error, and still reset") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val run = Timing.run(spark) {
      Pin(spark.range(10).toDF())
      throw new IllegalStateException("boom")
    }
    assert(!run.ok && run.failure.get.getMessage.contains("boom"))
    assert(intercept[IllegalStateException](run.get).getMessage == "boom")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("lookup fails naming every unknown query, and the tools' lists all resolve") {
    val e = intercept[IllegalArgumentException](
      Timing.lookup(Seq("q34_ngram_jaccard", "q34_ngram_jacard", "q999")))
    assert(e.getMessage.contains("q34_ngram_jacard, q999"))
    assert(Timing.lookup(graft.SparkEntry.headline).map(_._1) == graft.SparkEntry.headline)
    assert(Timing.lookup(ScaleBench.Family).map(_._1) == ScaleBench.Family)
  }

  test("p50 is the lower middle of the sorted runs, -1 with none") {
    assert(Timing.p50(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Timing.p50(Seq(4.0, 1.0)) == 1.0)
    assert(Timing.p50(Nil) == -1.0)
    assert(Timing.fmt(1234.5) == "1234.500")
  }
}
