package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.SparkSpec

/** Randomized soak of [[StreamingNearDedup.withAqeOff]]'s reference-counted
  * set/restore: N threads × seeded-random hold times × interrupts injected
  * into holders mid-sleep, asserting:
  *  - the INVARIANT at every step: inside a step's body AQE is off, at
  *    entry and after the hold (a sibling's early restore would break it);
  *  - PROGRESS: every worker drains its full iteration budget within the
  *    bound;
  *  - CLEAN RESTORE: after the last step the conf is back to the pre-soak
  *    value and a fresh single-threaded step still works.
  * Seeded and time-bounded, so a failure is replayable.
  */
class AqeOffSoakSpec extends SparkSpec {

  test("withAqeOff soak: random holds/interrupts — AQE off in every step, all threads drain, conf restored") {
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key, "true")
    val workers = 10
    val iters = 50
    val seed = 20260816L
    val violations = new AtomicInteger(0)
    val completed = new AtomicInteger(0)
    val interrupted = new AtomicInteger(0)
    val stopChaos = new AtomicBoolean(false)
    try {
      spark.conf.set(key, "true")
      val threads = (0 until workers).map { w =>
        new Thread(() => {
          val rnd = new java.util.Random(seed + w)
          var i = 0
          while (i < iters) {
            try {
              StreamingNearDedup.withAqeOff(spark) {
                if (spark.conf.get(key) != "false") violations.incrementAndGet()
                val hold = rnd.nextInt(3)
                if (hold > 0) Thread.sleep(hold)
                if (spark.conf.get(key) != "false") violations.incrementAndGet()
              }
              completed.incrementAndGet()
            } catch {
              // injected interrupt surfaced from the hold's sleep: the step
              // aborted and the section must have unwound cleanly (the
              // invariant/progress/restore assertions below prove it)
              case _: InterruptedException => interrupted.incrementAndGet()
            }
            i += 1
          }
        }, s"aq-soak-$w")
      }
      threads.foreach(_.start())
      // chaos: bounded random interrupts while the workers churn — hits
      // holders mid-sleep and threads between steps (flag-only, thrown at
      // their next sleep)
      val chaosRnd = new java.util.Random(seed * 31)
      val chaos = new Thread(() => {
        var n = 0
        while (!stopChaos.get && n < 60) {
          Thread.sleep(3 + chaosRnd.nextInt(5))
          val t = threads(chaosRnd.nextInt(threads.size))
          if (t.isAlive) { t.interrupt(); n += 1 }
        }
      }, "aq-soak-chaos")
      chaos.start()
      // the whole soak is a few seconds of work
      val deadline = System.currentTimeMillis() + 120000L
      threads.foreach { t =>
        t.join(math.max(1L, deadline - System.currentTimeMillis()))
        assert(!t.isAlive, s"worker ${t.getName} failed to drain")
      }
      stopChaos.set(true)
      chaos.join(10000)
      assert(violations.get == 0,
        s"${violations.get} conf-invariant violations (AQE on inside a step)")
      assert(completed.get + interrupted.get == workers * iters,
        s"accounting: ${completed.get} + ${interrupted.get} != ${workers * iters}")
      // the interrupts must not have eaten the whole soak: most steps ran
      assert(completed.get > workers * iters / 2,
        s"only ${completed.get} steps completed — chaos drowned the soak")
      // clean restore + section still functional single-threaded
      assert(spark.conf.get(key) == "true", "conf not restored after the soak")
      Thread.interrupted() // clear any stray flag on the test thread
      StreamingNearDedup.withAqeOff(spark) {
        assert(spark.conf.get(key) == "false")
      }
      assert(spark.conf.get(key) == "true")
    } finally {
      stopChaos.set(true)
      spark.conf.set(key, orig)
    }
  }
}
