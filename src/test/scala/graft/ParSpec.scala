package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] joins every branch before it returns or throws, and throws a
  * branch's own error. */
class ParSpec extends AnyFunSuite {

  /** A branch that sleeps, then records that it finished. */
  private def slow(done: AtomicBoolean): Int = { Thread.sleep(500); done.set(true); 1 }
  private def boom(msg: String): Int = throw new IllegalStateException(msg)

  test("par2: when the caller branch fails, the call throws only after the pool branch finished") {
    val done = new AtomicBoolean
    val err = intercept[IllegalStateException](Par.par2(slow(done))(boom("caller")))
    assert(err.getMessage === "caller")
    assert(done.get, "the pool branch was still running when par2 threw")
  }

  test("par3: a failing pool branch is thrown unwrapped, after every other branch finished") {
    val (b, c) = (new AtomicBoolean, new AtomicBoolean)
    val err = intercept[IllegalStateException](Par.par3(boom("pool"))(slow(b))(slow(c)))
    assert(err.getMessage === "pool")
    assert(b.get && c.get, "a branch was still running when par3 threw")
  }

  test("several failures: the first in argument order is thrown, the others are suppressed") {
    def all(t: Throwable): Seq[String] = t.getMessage +: t.getSuppressed.toSeq.flatMap(all)
    val two = intercept[IllegalStateException](Par.par2(boom("a"))(boom("b")))
    assert(two.getMessage === "a" && all(two) === Seq("a", "b"))
    val three = intercept[IllegalStateException](Par.par3(boom("a"))(boom("b"))(boom("c")))
    assert(three.getMessage === "a" && all(three).sorted === Seq("a", "b", "c"))
  }
}
