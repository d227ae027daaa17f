package graft.perfbench

/** Failure accounting of [[Loop]], without Spark: an op that throws a
  * NonFatal error is recorded as failed with no output, and a fatal JVM
  * error is not caught. Prints the records as JSON, then exits 3 if the
  * fatal error escaped the loop as it must (the benchmark's tests run
  * this). */
object LoopCheck {
  def main(args: Array[String]): Unit = {
    val loop = new Loop(None)
    val ok = Op("read", "ok", 1, () => { () => Map("v" -> 1) })
    val throws = Op("read", "throws", 1,
      () => throw new IllegalStateException("deliberate"))
    val fatal = Op("write", "fatal", 1,
      () => throw new StackOverflowError("deliberate"))
    Seq(ok, throws, ok).foreach(loop.runOp(_, 0, warmup = false, traced = false))
    println(Json.write(loop.records.result()))
    try loop.runOp(fatal, 1, warmup = false, traced = false)
    catch { case _: StackOverflowError => sys.exit(3) }
    sys.exit(0)
  }
}
