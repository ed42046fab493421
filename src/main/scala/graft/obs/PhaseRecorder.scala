package graft.obs

/** Phase walls of one run: each call closes the phase begun at the previous
  * call (or construction), prints `[<tag>] <name>: <seconds> s` to stderr
  * and keeps (name, seconds) for callers that publish the walls. */
final class PhaseRecorder(tag: String) {
  private var start = System.nanoTime()
  private val recorded = scala.collection.mutable.ListBuffer.empty[(String, Double)]

  def apply(name: String): Unit = {
    val now = System.nanoTime()
    val sec = (now - start) / 1e9
    System.err.println(f"[$tag] $name: $sec%.2f s")
    recorded += name -> sec
    start = now
  }

  def walls: List[(String, Double)] = recorded.toList
}
