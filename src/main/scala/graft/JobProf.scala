package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-stage profiler (guide §1: measure first, attribute by
  * call site). Runs the named queries with a listener that attributes
  * wall time to each Spark stage's call site, so a multi-job operator
  * (z-store writes: bounds agg → write → bloom → stats → manifest) shows
  * WHERE its seconds go instead of one opaque total.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.JobProf q141_zorder_cdc_merge"
  *
  * Passes: 1 one-shot + 2 steady (the bench shape); stage attribution is
  * printed for the LAST pass only (steady plane — first-run codegen and
  * fixture builds otherwise dominate every line).
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    // quick A/B: SPARK_GRAFT_PROF_CONF="spark.sql.adaptive.enabled=false;k=v"
    sys.env.get("SPARK_GRAFT_PROF_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // the graft_* SQL temp functions (graft_bloom_agg, graft_dot, ...):
    // profiling a registry query that uses one without registering it
    // failed with unresolved-function
    graft.functions.ArrayExprs.register(spark)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSet
    val picked = SparkEntry.registry.filter(r => names.contains(r.name))

    // stage-name -> (count, total ms, total tasks); jobs -> count + gap time
    val stages = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobTime = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var record = false
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(0L)
          stages.merge(si.name, (1L, ms, si.numTasks.toLong),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) { jobCount.incrementAndGet(); jobStarts.put(e.jobId, e.time) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) Option(jobStarts.remove(e.jobId))
          .foreach(t0 => jobTime.addAndGet(e.time - t0))
    }
    spark.sparkContext.addSparkListener(listener)

    // SPARK_GRAFT_PROF_PASS=1 records the FIRST pass (fixture builds /
    // one-shot shape) instead of the third (steady shape)
    val recordFirst = sys.env.get("SPARK_GRAFT_PROF_PASS").contains("1")
    picked.foreach { r =>
      if (!recordFirst)
        Seq("one-shot", "steady1").foreach { tag =>
          val t0 = System.nanoTime()
          r.fn(spark, d).count()
          println(f"[prof] ${r.name} $tag%-8s total=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      // recorded pass
      stages.clear(); jobCount.set(0); jobTime.set(0); record = true
      val t0 = System.nanoTime()
      r.fn(spark, d).count()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(800) // let the async listener bus drain
      println(f"[prof] ${r.name} steady2  total=$wall%.2f s  jobs=${jobCount.get} jobTime=${jobTime.get / 1e3}%.2f s")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._2._2)
      rows.take(40).foreach { case (name, (n, ms, tasks)) =>
        println(f"[stage] ${ms / 1e3}%7.2f s  n=$n%-4d tasks=$tasks%-5d $name")
      }
      val accounted = rows.map(_._2._2).sum / 1e3
      println(f"[prof] ${r.name} stage-accounted=$accounted%.2f s of $wall%.2f s wall (rest = driver/planning/gaps)")
    }
    spark.stop()
  }
}
