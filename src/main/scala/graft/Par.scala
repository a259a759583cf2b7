package graft

/** Overlap INDEPENDENT Spark actions from one driver (guide §2.6:
  * "actions are only sequential because your driver code calls them
  * sequentially"). Each helper runs one branch on a pool thread and the
  * rest on the caller's thread, then joins — so the scheduler back-fills
  * the tail of one job with the other's tasks. Used only where the
  * branches share NO data dependency; results and written artifacts are
  * identical to the sequential form by construction.
  *
  * A call returns only after every branch has finished, failed or not, so
  * nothing a branch writes can land after the caller has seen the call
  * end. If branches fail, the call throws the first branch's error (in
  * argument order) as the branch threw it, with the others attached as
  * suppressed. */
object Par {
  def par2[A, B](fa: => A)(fb: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val fut = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = fa
      })
      val b = try Right(fb) catch { case e: Throwable => Left(e) }
      val a = try Right(fut.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
      (a, b) match {
        case (Right(x), Right(y)) => (x, y)
        case _ =>
          val errs = Seq(a, b).collect { case Left(e) => e }
          errs.tail.filter(_ ne errs.head).foreach(errs.head.addSuppressed)
          throw errs.head
      }
    } finally pool.shutdown()
  }

  def par3[A, B, C](fa: => A)(fb: => B)(fc: => C): (A, B, C) = {
    val (a, (b, c)) = par2(fa)(par2(fb)(fc))
    (a, b, c)
  }
}
