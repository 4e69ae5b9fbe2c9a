package perfbench

/** Host speed probe. On a shared host the speed of the whole machine drifts
  * by up to 1.6× over minutes, and every timed metric of a run follows it:
  * over 60 runs, their correlation with the single-threaded session start
  * time was 0.8–0.99. The probe times a fixed amount of plain JVM work
  * (filling and sorting an array of longs, with no allocation) on one
  * thread. It calls no engine or Spark code, so a change to the engine
  * cannot move it. One thread, because a probe that fills every core slows
  * more than the engine (which keeps 1–2 cores busy) when only some cores
  * are taken: it would over-correct. */
object HostSpeed {
  /** A probe time seen inside runs on the measuring host (80–100 ms). It
    * only sets the scale of the scaled values. */
  val ReferenceMs = 100.0
  val Reps = 5
  private val WarmReps = 2
  private val Rounds = 24
  private val Len = 1 << 16

  private def work(seed: Long, a: Array[Long]): Long = {
    var h = seed
    var acc = 0L
    var r = 0
    while (r < Rounds) {
      var i = 0
      while (i < Len) {
        h = h * 6364136223846793005L + 1442695040888963407L
        a(i) = h
        i += 1
      }
      java.util.Arrays.sort(a)
      acc += a(Len / 2)
      r += 1
    }
    acc
  }

  // the work's result goes here, so the JIT cannot drop the work
  @volatile private var sink = 0L

  private def rep(a: Array[Long], seed: Long): Double = {
    val t0 = System.nanoTime()
    sink += work(seed, a)
    (System.nanoTime() - t0) / 1e6
  }

  /** `Reps` probe times in milliseconds, after untimed reps that let the
    * JIT compile the work. */
  def probe(): Seq[Double] = {
    val a = new Array[Long](Len)
    (1 to WarmReps).foreach(i => rep(a, -i))
    (1 to Reps).map(i => rep(a, i))
  }

  /** Host speed relative to the reference: below 1 on a slower host. */
  def factor(probeMs: Seq[Double]): Double = ReferenceMs / Stats.median(probeMs)
}
