package perfbench

/** Output digests pinned for the default seed. A rep whose digest differs
  * counts as failed: the program's output changed. */
object Pins {
  val DefaultSeed = 1L
  val er: Map[(String, Long), String] = Map(
    ("er_bulk", DefaultSeed) -> "1693556b1eae0c6d",
    ("er_dense", DefaultSeed) -> "162fcfe7ad9a2bca")
  val stream: Map[Long, String] = Map(DefaultSeed -> "2793b03d5fdbe626")
}
