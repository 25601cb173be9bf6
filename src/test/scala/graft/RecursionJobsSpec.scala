package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Driver-action budgets for `@{n..m}` recursion.
  *
  * Every recursion strategy runs on the frontier kernel
  * (`GraphOps.frontiers`): per depth, a lazy `localCheckpoint` plans the
  * hop and one job materialises it and counts the rows that carry on. Any
  * further driver action while the query is built (an `isEmpty`, `head` or
  * `collect` probe, a second count) is invisible to result checks and plan
  * dumps. These tests pin how many driver actions each recursion row of the
  * registry runs. */
class RecursionJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** Driver actions started while `body` runs, each with its call site.
    * The body runs under a job group of its own, so work that others submit
    * on the shared session is not seen. Two kinds count:
    *   - each root SQL execution of the group: a Dataset action such as
    *     `isEmpty`, `head` or `collect`, counted once however many jobs it
    *     runs (adaptive execution runs some of them from futures, whose
    *     stages name no call site). The start event's `description` is the
    *     group's text, so the call site comes from its `details`;
    *   - each job outside any SQL execution whose stages name a driver call
    *     site: an RDD action such as the kernel's frontier count.
    * The jobs inside an SQL execution (its broadcast builds and exchange
    * stages, whose number depends on the data size and the core count, not
    * on the loop) are not counted again. Other jobs of the group, such as a
    * parquet file listing, are listed but not counted. The listener bus is
    * asynchronous, so poll until the event lists are stable. */
  private def actionsDuring(body: => Unit): (Seq[String], Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"recursion-jobs-${java.util.UUID.randomUUID()}"
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val others = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (Option(js.properties).exists(p => p.getProperty("spark.jobGroup.id") == group &&
            p.getProperty("spark.sql.execution.id") == null)) {
          val stages = js.stageInfos.map(_.name).mkString("|")
          if (driverCallSites.exists(stages.contains)) actions.add(s"job  $stages")
          else others.add(s"job  $stages")
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) &&
            x.rootExecutionId.forall(_ == x.executionId) =>
          actions.add(s"sql  ${x.details.linesIterator.take(2).mkString(" <- ")}")
        case _ => ()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "RecursionJobsSpec")
      try body finally sc.clearJobGroup()
      var last = -1
      var stable = 0
      while (stable < 3) { // 3 consecutive 100ms polls with no new events
        Thread.sleep(100)
        val cur = actions.size + others.size
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      (actions.toArray(Array.empty[String]).toSeq, others.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Stage-name call sites of RDD actions run from the driver. */
  private val driverCallSites = Seq("count at", "isEmpty at", "runJob at",
    "checkpoint at", "head at", "collect at")

  /** Asserts the driver actions of the query's construction phase stay
    * within `budget`, measured on a SECOND invocation so one-time fixture
    * probes and table warms are already memoized. On failure, prints every
    * action and every other job of the group. */
  private def assertActions(name: String, budget: Int): Unit = {
    SparkEntry.queries(name)(spark, sf) // warm memos/persists
    val (actions, others) = actionsDuring { SparkEntry.queries(name)(spark, sf); () }
    assert(actions.length <= budget,
      s"$name: ${actions.length} driver actions, budget $budget\n" +
        (actions.map("  action " + _) ++ others.map("  other  " + _)).mkString("\n"))
  }

  // Budgets are each row's driver actions at sf0.001: two per depth the
  // kernel runs (chain 3, surql 3, collect 4, path 4, shortest 3 depths) and
  // nothing else. The two are the lazy `localCheckpoint`, an SQL execution
  // that plans the hop and runs its exchange stages, and the frontier count.
  // A count above budget means a probe crept back in.
  test("recursion_chain runs its 3-depth loop with no probe jobs") {
    assertActions("recursion_chain", 6)
  }

  test("recursion_surql runs its 3-depth loop with no probe jobs") {
    assertActions("recursion_surql", 6)
  }

  test("recursion_collect runs its 4-depth loop with no probe jobs") {
    assertActions("recursion_collect", 8)
  }

  test("recursion_path runs its 4-depth loop with no probe jobs") {
    assertActions("recursion_path", 8)
  }

  test("recursion_shortest stops at first contact (BFS early exit)") {
    // minD=1, maxD=6, target hit at depth 3: no row carries on past it, so
    // the kernel stops after 3 depths; the full loop would run 6.
    assertActions("recursion_shortest", 6)
  }
}
