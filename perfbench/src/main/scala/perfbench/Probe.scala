package perfbench

/** How fast the shared host runs this process at the moment: the time of a
  * fixed pass over a 16 MB array (read, add, write back), which calls no
  * program code and allocates nothing. On a 4-vCPU VM the program's
  * operations speed up and slow down by up to 40 % with the memory traffic
  * of other tenants; this pass moves with them, a pure arithmetic loop of
  * the same length does not. */
object Probe {
  private val buf = new Array[Long](2 << 20)
  @volatile private var sink = 0L

  private def once(): Long = {
    val t0 = System.nanoTime()
    var i = 0
    var acc = 0L
    while (i < buf.length) {
      buf(i) += i
      acc += buf(i)
      i += 1
    }
    sink = acc
    System.nanoTime() - t0
  }

  /** Nanoseconds the pass takes now: the least of three, so that one
    * interrupted pass does not count. */
  def ns(): Long = math.min(once(), math.min(once(), once()))

  /** Compile the pass before it is timed. */
  def warm(): Unit = for (_ <- 1 to 100) once()
}
