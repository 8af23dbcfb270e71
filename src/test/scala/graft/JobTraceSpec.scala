package graft

class JobTraceSpec extends SparkSpec {

  test("traces only the block's jobs, through job groups and child threads") {
    val sc = spark.sparkContext
    val small: Runnable = () => sc.parallelize(1 to 10, 2).count()
    // a thread that exists before the block does not inherit its tag, so
    // its jobs stay out even while the trace is listening
    val outside = java.util.concurrent.Executors.newSingleThreadExecutor()
    val (n, trace) = try {
      outside.submit(small).get()
      JobTrace.run(sc) {
        sc.setJobGroup("inside", "a job group set by the block")
        try {
          val child = new Thread(small)
          val groups = sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _).count()
          child.start(); child.join()
          outside.submit(small).get()
          groups
        } finally sc.clearJobGroup()
      }
    } finally outside.shutdown()
    assert(n === 3)
    assert(trace.stagesPerJob === Seq(2, 1))
    assert(trace.stagesSubmitted === 3)
    assert(trace.shuffleWriteBytes > 0 && trace.shuffleReadBytes > 0, trace)
    assert(sc.getLocalProperty(JobTrace.Key) === null, "the tag must be restored")
  }
}
