package graft.operators

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The store build guard on its own, without a SparkSession: a failed
  * build leaves nothing behind, concurrent callers share one build, and
  * exit cleanup registers each path once.
  */
class StoreOnceSpec extends AnyFunSuite {
  private def workspace(name: String): String =
    new File(graft.TestSpark.tempDir("storeonce"), name).getPath

  test("a build that throws removes its entry; the next caller rebuilds " +
    "into a wiped workspace") {
    val ws = workspace("failing")
    val partial = new File(ws, "partial")
    intercept[IllegalStateException] {
      StoreOnce(ws) {
        partial.getParentFile.mkdirs()
        partial.createNewFile()
        throw new IllegalStateException("build failed mid-write")
      }
    }
    assert(partial.exists(), "the failed build's partial file should still be on disk")
    var rebuilt = false
    StoreOnce(ws) {
      assert(!partial.exists(), "the rebuild must start from a wiped workspace")
      rebuilt = true
    }
    assert(rebuilt, "a failed build must not be memoized")
    StoreOnce(ws)(fail("a completed build must not run again"))
  }

  test("two concurrent callers with one key run the body once") {
    val ws = workspace("shared")
    val runs = new AtomicInteger()
    val secondBody = new CountDownLatch(1)
    val start = new CountDownLatch(1)
    def caller(first: Boolean): Thread = new Thread(() => {
      if (!first) start.await()
      StoreOnce(ws) {
        if (runs.incrementAndGet() > 1) secondBody.countDown()
        start.countDown()
        // hold the build open long enough for the other caller to arrive;
        // it ends at once if a second body runs
        secondBody.await(300, TimeUnit.MILLISECONDS)
        ()
      }
    })
    val threads = Seq(caller(first = true), caller(first = false))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(runs.get === 1, "both callers ran the build")
  }

  test("the exit hook is registered once per path") {
    val a = workspace("a")
    val b = workspace("b")
    assert(Stores.cleanupOnExit(a))
    assert(!Stores.cleanupOnExit(a), "a second registration of one path")
    assert(Stores.cleanupOnExit(b), "a distinct path must register")
  }
}
