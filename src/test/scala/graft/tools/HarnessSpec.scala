package graft.tools

import graft.SparkSpec

class HarnessSpec extends SparkSpec {

  test("clean drops cached and localCheckpointed DataFrames") {
    val cached = spark.range(100).toDF("id").cache()
    cached.count()
    val checkpointed = spark.range(100).toDF("id").localCheckpoint()
    checkpointed.count()
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    Harness.clean(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("SPARK_GRAFT_ONLY parse trims names and drops blanks") {
    assert(Harness.parseOnly("a, b,,c") == Set("a", "b", "c"))
  }

  // sleeps far apart in length, so their order survives a loaded host
  private def sampled(cap: Int, budgetS: Double, sleepsMs: Int*): Seq[Double] = {
    val it = sleepsMs.iterator
    Harness.samples(spark, cap, budgetS)(Thread.sleep(it.next().toLong))
  }

  test("samples: returns every sample, and the min is the fastest run") {
    val s = sampled(4, 60.0, 400, 50, 400, 400)
    assert(s.size == 4)
    assert(s.min == s(1) && s.min < 0.4)
  }

  test("samples: at least 2 samples even past the budget") {
    assert(sampled(5, 0.001, 50, 50, 50).size == 2)
  }

  test("samples: stop at the cap while unconverged") {
    assert(sampled(3, 60.0, 50, 400, 50, 400).size == 3)
  }

  test("samples: the first sample is left out of the convergence test") {
    // two equal samples would converge at 2 if the warm-up one counted
    assert(sampled(5, 60.0, 300, 300, 300).size == 3)
  }
}
