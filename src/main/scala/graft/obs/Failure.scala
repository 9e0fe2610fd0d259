package graft.obs

/** One description of a failure for every report: the root cause's
  * class and the first line of its message, then the first `graft.`
  * stack frame along the cause chain (innermost first). A task failure
  * therefore reads as the exception the task threw, not as the
  * SparkException that wraps it. */
object Failure {
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(64).toSeq
    val root = chain.last
    val msg = Option(root.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    val frame = chain.reverseIterator.flatMap(_.getStackTrace)
      .find(_.getClassName.startsWith("graft."))
    s"${root.getClass.getName}: $msg" + frame.fold("")(f => s" at $f")
  }
}
