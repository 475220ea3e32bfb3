package graft

/** [[Memo]] is what makes cross-query fixture sharing safe under
  * the bench's CONCURRENT warmup pool: exactly-once builds, callers
  * blocked until the build completes (never racing past a flag into a
  * half-written artifact), failures not cached, and no lock kept once
  * a key's build is over. Each test memoizes under its own name: the
  * memo is process-wide and the session is shared between suites.
  */
class MemoSpec extends SparkSpec {

  test("concurrent callers build exactly once and all see the value") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 32).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = Memo(spark, "memospec-once", "k") {
            builds.incrementAndGet()
            Thread.sleep(50) // widen the race window
            42
          }
        })
      }
      assert(futures.map(_.get()).toSet === Set(42))
      assert(builds.get() === 1)
    } finally pool.shutdown()
  }

  test("callers block until the build completes — no caller observes a miss") {
    val inBuild = new java.util.concurrent.CountDownLatch(1)
    val finish = new java.util.concurrent.CountDownLatch(1)
    val builder = new Thread(() => {
      Memo(spark, "memospec-block", "slow") {
        inBuild.countDown()
        finish.await()
        "built"
      }: Unit
    })
    builder.start()
    inBuild.await()
    // second caller arrives mid-build; must get the FINISHED value
    val second = new java.util.concurrent.CompletableFuture[String]()
    val waiter = new Thread(() =>
      second.complete(Memo(spark, "memospec-block", "slow")("wrong")): Unit)
    waiter.start()
    Thread.sleep(100)
    assert(!second.isDone, "mid-build caller must block, not build again")
    finish.countDown()
    assert(second.get(5, java.util.concurrent.TimeUnit.SECONDS) === "built")
    builder.join(); waiter.join()
  }

  test("a throwing build caches nothing; the next caller retries") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def build: Int = {
      if (attempts.incrementAndGet() == 1)
        throw new IllegalStateException("transient")
      7
    }
    intercept[IllegalStateException](Memo(spark, "memospec-throw", "k")(build))
    assert(Memo.peek(spark, "memospec-throw", "k").isEmpty)
    assert(Memo(spark, "memospec-throw", "k")(build) === 7)
    assert(attempts.get() === 2)
  }

  test("different keys never block each other (nested builds allowed)") {
    // a build that itself memoizes another key — the ANN fixture chain
    val v = Memo(spark, "memospec-nest", "outer")(
      1 + Memo(spark, "memospec-nest", "inner")(10))
    assert(v === 11 && Memo.peek(spark, "memospec-nest", "inner") === Some(10))
  }

  test("no lock outlives its build, concurrent and failed builds included") {
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 64).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int =
            try Memo(spark, "memospec-locks", i % 4) {
              Thread.sleep(20)
              // one build of key 3 fails; a later caller retries it
              if (i % 4 == 3 && failOnce.getAndSet(false))
                throw new IllegalStateException("transient")
              i % 4
            } catch { case _: IllegalStateException => -1 }
        })
      }
      val got = futures.map(_.get())
      assert(got.count(_ == -1) === 1)
      assert(got.filter(_ >= 0).toSet === Set(0, 1, 2, 3))
    } finally pool.shutdown()
    assert(Memo.pending === 0, "a finished build left its lock behind")
  }
}
