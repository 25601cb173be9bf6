package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side job-count gates for the recursion loops (r21).
  *
  * The frontier loops used to run an EAGER localCheckpoint per depth (one
  * job whose internal count is discarded) plus a separate, gated isEmpty
  * probe job per probed depth. r21 marks the checkpoint lazily and counts
  * the internal RDD itself — the same materialization job, with the row
  * count kept — so the empty-frontier break is free and the probe jobs are
  * gone. These tests pin the per-query job budget of the CONSTRUCTION phase
  * (the driver-side loop); a regression here means a probe job crept back
  * in, which is invisible to result checks and plan dumps. */
class RecursionJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, each with its stage names and
    * whether it is a driver action: the frontier materialize+count, an
    * isEmpty/head/collect probe, a checkpoint. The body runs under a job
    * group of its own, so jobs that other work submits on the shared
    * session are not seen. The broadcast-exchange builds that the
    * per-depth joins submit run inside the group too (as futures, with the
    * group's properties), but are not driver actions: whether they happen
    * depends on the data size and the core count, not on the loop. The
    * listener bus is asynchronous, so poll until the job list is stable. */
  private def jobsDuring(body: => Unit): Seq[(Boolean, String)] = {
    val sc = spark.sparkContext
    val group = s"recursion-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val stages = js.stageInfos.map(_.name).mkString("|")
          jobs.add(driverActions.exists(stages.contains) -> stages)
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "RecursionJobsSpec")
      try body finally sc.clearJobGroup()
      var last = -1
      var stable = 0
      while (stable < 3) { // 3 consecutive 100ms polls with no new jobs
        Thread.sleep(100)
        val cur = jobs.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      jobs.toArray(Array.empty[(Boolean, String)]).toSeq
    } finally sc.removeSparkListener(l)
  }

  /** Call sites that mark a job's stage as a driver action. */
  private val driverActions = Seq("count at", "isEmpty at", "runJob at",
    "checkpoint at", "head at", "collect at")

  /** Asserts the driver-action jobs of the query's construction phase (the
    * driver-side recursion loop) stay within `budget`, measured on a SECOND
    * invocation so one-time fixture probes and table warms are already
    * memoized. On failure, prints every job of the group, classified. */
  private def assertCoreJobs(name: String, budget: Int): Unit = {
    SparkEntry.queries(name)(spark, sf) // warm memos/persists
    val jobs = jobsDuring { SparkEntry.queries(name)(spark, sf); () }
    val core = jobs.count(_._1)
    assert(core <= budget, s"$name: $core driver-action jobs, budget $budget\n" +
      jobs.map { case (c, st) => (if (c) "  core  " else "  other ") + st }.mkString("\n"))
  }

  // Budgets are the driver-action jobs of each loop at sf0.001: one
  // materialize+count job per depth the loop runs (measured: chain 3,
  // surql 3, collect 4, path 4, shortest 3). A count above budget means a
  // probe job crept back in.
  test("recursion_chain runs its 3-depth loop with no probe jobs") {
    assertCoreJobs("recursion_chain", 3)
  }

  test("recursion_surql runs its 3-depth loop with no probe jobs") {
    assertCoreJobs("recursion_surql", 3)
  }

  test("recursion_collect runs its 4-depth loop with no probe jobs") {
    assertCoreJobs("recursion_collect", 4)
  }

  test("recursion_path runs its 4-depth loop with no probe jobs") {
    assertCoreJobs("recursion_path", 4)
  }

  test("recursion_shortest stops at first contact (BFS early exit)") {
    // minD=1, maxD=6, target hit at depth 3: 3 materialize+count jobs —
    // the full 6-depth loop (no early exit) would run 6. Its gated isEmpty
    // probes read a plan with an exchange, whose result stage adaptive
    // execution runs in a future: their stages carry no `isEmpty at` call
    // site, so they count as other jobs.
    assertCoreJobs("recursion_shortest", 3)
  }
}
