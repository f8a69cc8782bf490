package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

import graft.tools.QueryProbe

class QueryProbeSpec extends SparkTestBase {

  test("measure credits each pass exactly its own jobs") {
    // a slow listener ahead of the probe's on the shared queue holds job-end
    // events back, so they are still queued when each pass's body returns
    val slow = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(slow)
    // two jobs per pass: the eager localCheckpoint, then the collect
    def pass() = QueryProbe.measure(spark) {
      spark.range(0, 1000, 1, 4).localCheckpoint(eager = true).collect()
    }
    val (p1, p2) = try (pass(), pass()) finally sc.removeSparkListener(slow)
    Seq(p1, p2).foreach { p =>
      assert(p.status == "ok")
      assert(p.jobs.length == 2, s"jobs: ${p.jobs}")
      assert(p.jobs.forall(j => j.startS >= 0 && j.durS >= 0), s"jobs: ${p.jobs}")
    }
    // nothing of pass 1 carries over: pass 2 holds only later job ids
    assert(p1.jobs.map(_.id).max < p2.jobs.map(_.id).min)
  }
}
