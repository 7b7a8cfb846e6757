package graft.core

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec

/** `SessionSpill.memo` is the one session-memo mechanism: a build runs
  * once per key however many threads race for it, a failed build is
  * retried, a slow build of one key never holds up another key, and
  * `graft.nomemo=1` turns every call into its own build. */
class SessionSpillSpec extends SparkSpec {

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("8 threads racing the first call on one key run the build once") {
    val builds = new AtomicInteger(0)
    val start = new CyclicBarrier(8)
    val results = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        start.await()
        SessionSpill.memo(spark, "graft_test_race", "k") { _ =>
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      })
      Await.result(Future.sequence(fs), 60.seconds)
    }
    assert(builds.get === 1)
    assert(results.forall(_ eq results.head), "every caller must get the one build's value")
  }

  test("a build that throws is not cached and the next call builds again") {
    val builds = new AtomicInteger(0)
    def call(): String = SessionSpill.memo(spark, "graft_test_throw", "k") { _ =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      "built"
    }
    intercept[IllegalStateException](call())
    assert(call() === "built")
    assert(call() === "built")
    assert(builds.get === 2)
  }

  test("a build of key A blocked on a latch does not stop key B") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      val a = Future(SessionSpill.memo(spark, "graft_test_keys", "a") { _ =>
        started.countDown()
        release.await()
        "a"
      })
      assert(started.await(30, TimeUnit.SECONDS))
      try {
        val b = Future(SessionSpill.memo(spark, "graft_test_keys", "b")(_ => "b"))
        assert(Await.result(b, 30.seconds) === "b")
        assert(!a.isCompleted)
      } finally release.countDown()
      assert(Await.result(a, 30.seconds) === "a")
    }
  }

  test("graft.nomemo=1: every call builds again into its own directory") {
    val builds = new AtomicInteger(0)
    val prev = sys.props.get("graft.nomemo")
    sys.props("graft.nomemo") = "1"
    val dirs =
      try (1 to 3).map(_ => SessionSpill.memo(spark, "graft_test_nomemo", "k") { dir =>
        builds.incrementAndGet()
        dir.toString
      })
      finally prev.fold(sys.props.remove("graft.nomemo"))(v => sys.props.put("graft.nomemo", v))
    assert(builds.get === 3)
    assert(dirs.distinct.size === 3, s"no directory may be shared: $dirs")
    assert(SessionSpill.peek[String](spark, "graft_test_nomemo", "k").isEmpty)
    // with memo back on, the first call builds and nothing leaked in
    assert(SessionSpill.memo(spark, "graft_test_nomemo", "k") { _ =>
      builds.incrementAndGet(); "memo"
    } === "memo")
    assert(builds.get === 4)
  }
}
