package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class LegsSpec extends AnyFunSuite {

  test("a failing leg surfaces before a slower leg listed first finishes") {
    val release = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Legs.run(
        () => { release.await(30, TimeUnit.SECONDS); slowDone.set(true); 1 },
        () => throw new IllegalStateException("fast leg failed"))
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "fast leg failed")
    assert(!slowDone.get(), "the call waited for the slow leg")
    assert(waitedS < 10, s"failure took $waitedS s to surface")
    release.countDown()
  }

  test("results keep argument order whatever order the legs finish in") {
    // each leg waits for the one after it, so they finish last-to-first
    val latches = Seq.fill(3)(new CountDownLatch(1))
    def leg(i: Int): () => Int = () => {
      if (i + 1 < latches.size) latches(i + 1).await(30, TimeUnit.SECONDS)
      latches(i).countDown()
      i
    }
    assert(Legs.run(leg(0), leg(1), leg(2)) == Seq(0, 1, 2))
  }

  test("more legs than pool threads all run") {
    assert(Legs.run((0 until 9).map(i => () => i * i): _*) == (0 until 9).map(i => i * i))
  }
}
