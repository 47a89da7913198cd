package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (cuts per-spec JVM spin-up),
  * built from the standing session tuning Bench, Verify, Prof and the
  * benchmark run (`Sessions.localBuilder`); only stall tolerance is added. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.localBuilder("4", "4")
    .appName("graft-test")
    // Stall tolerance for this co-tenant host: a measured 281 s whole-JVM
    // freeze mid-suite (r21, /tmp/r21_sbt_test.log 10:11:05) blew the 120 s
    // default, the driver dropped the local executor, the heartbeater
    // exited the JVM (code 56) and the tail of the suite failed on a
    // stopped SparkContext — all 239 completed tests had passed. In
    // local mode driver and executor freeze TOGETHER, so a generous
    // timeout only tolerates host stalls; it cannot mask a real hang
    // (tests have their own outcomes).
    .config("spark.network.timeout", "600s")
    .config("spark.executor.heartbeat.maxFailures", "120")
    // The r21 driver-side failure happened DESPITE the two confs above: the
    // stall window it logged was a 54 s StateStore maintenance call (the
    // background snapshot/cleanup thread streaming suites leave armed at the
    // default 60 s cadence), stacked on a host freeze. Maintenance is a
    // pure optimization (snapshot compaction of delta files) — push it past
    // any plausible suite duration so it can never run, let alone stall,
    // mid-test. Restart correctness is unaffected: state reload just
    // replays deltas.
    .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    // Fewer heartbeat asks during a host freeze: each ask times out after
    // heartbeatInterval, and a multi-minute stall at the 10 s default burns
    // through failure budget 6x faster than at 60 s. 120 failures x 60 s
    // tolerates a 2-hour stall; still far below network.timeout semantics
    // that matter (local mode: driver and executor freeze together).
    .config("spark.executor.heartbeatInterval", "60s")
    .getOrCreate()
}

/** Jobs started on the shared session, counted by a listener: the status
  * tracker keeps only `spark.ui.retainedJobs` jobs, so a count read from it
  * stops growing at that cap. */
object TestJobs {
  private val started = new java.util.concurrent.atomic.AtomicLong
  private lazy val listening: Unit = TestSpark.spark.sparkContext.addSparkListener(
    new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    })

  /** Jobs started since the first call; every event posted before the call
    * is delivered first. */
  def count: Long = {
    listening
    org.apache.spark.GraftListenerDrain.drain(TestSpark.spark.sparkContext)
    started.get
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
