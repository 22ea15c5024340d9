package graft.sinks

/** Fault injection through [[Swap.faultHook]]: tears a swap at a
  * chosen step, for one live dir, while every other swap runs. */
object SwapFaults {
  final class Injected(msg: String) extends RuntimeException(msg)

  /** Run `body` with each swap of a live dir whose local path
    * satisfies `at` throwing [[Injected]] right after `step`. */
  def failing[T](step: Swap.Step, at: String => Boolean)(body: => T): T = {
    val prev = Swap.faultHook
    Swap.faultHook = (s, live) =>
      if (s == step && at(live.toUri.getPath))
        throw new Injected(s"injected fault after $step on $live")
    try body finally Swap.faultHook = prev
  }
}
