package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The [[Derived]] memo's contracts: one build per key under concurrent
  * callers, failures never cached, nested builds, per-key independence.
  * Site names are unique to this spec: the memo is JVM-wide. */
class DerivedSpec extends AnyFunSuite {

  /** Runs `n` tasks on their own threads and returns their results. */
  private def onThreads[T](n: Int)(task: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(task(i)))), 10.seconds)
    finally pool.shutdownNow(): Unit
  }

  test("concurrent callers on one key build it once") {
    val calls = new AtomicInteger()
    val arrived = new CountDownLatch(8)
    val before = Derived.builds
    val got = onThreads(8) { _ =>
      arrived.countDown()
      arrived.await() // all eight ask at once
      Derived("spec.once", "dir") {
        calls.incrementAndGet()
        Thread.sleep(50)
        "value"
      }
    }
    assert(got.forall(_ == "value"))
    assert(calls.get == 1)
    assert(Derived.builds - before == 1)
  }

  test("a throwing build is not cached; the next call rebuilds") {
    val calls = new AtomicInteger()
    def build(): Int =
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else 42
    val before = Derived.builds
    intercept[IllegalStateException](Derived("spec.fails", "dir")(build()))
    assert(Derived.builds == before)
    assert(Derived("spec.fails", "dir")(build()) == 42)
    assert(Derived("spec.fails", "dir")(build()) == 42)
    assert(calls.get == 2)
    assert(Derived.builds - before == 1)
  }

  test("a build that asks for another derived value completes (q308 -> q92)") {
    val inner = new AtomicInteger()
    def q92(dir: String): String = Derived("spec.q92", dir) {
      inner.incrementAndGet()
      s"$dir/q92"
    }
    def q308(dir: String): String = Derived("spec.q308", dir)(q92(dir) + "+q308")
    val got = onThreads(4)(i => if (i % 2 == 0) q308("d") else q92("d"))
    assert(got.toSet == Set("d/q92+q308", "d/q92"))
    assert(inner.get == 1)
    // a deep chain of nested builds: under one shared map lock some pair
    // of its keys would share a bin and fail as a recursive update
    def chain(i: Int): Int = Derived("spec.chain", i.toString)(if (i == 0) 0 else chain(i - 1) + 1)
    assert(chain(64) == 64)
  }

  test("distinct keys build independently") {
    val release = new CountDownLatch(1)
    val slowStarted = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      // key a's build blocks until released; key b must still build meanwhile
      val slow = pool.submit(() => Derived("spec.keys", "a") {
        slowStarted.countDown()
        release.await()
        "A"
      })
      assert(slowStarted.await(10, TimeUnit.SECONDS))
      val others = onThreads(2) {
        case 0 => Derived("spec.keys", "b")("B")
        case _ => Derived("spec.other", "a")("other")
      }
      assert(others == Seq("B", "other"))
      assert(!slow.isDone)
      release.countDown()
      assert(slow.get(10, TimeUnit.SECONDS) == "A")
    } finally pool.shutdownNow(): Unit
  }
}
