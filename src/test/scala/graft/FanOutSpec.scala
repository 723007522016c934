package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** `Engine.fanOut`, the engine's one thread-pool fan-out (partition
  * children, maintenance leaves, backup/restore tables). */
class FanOutSpec extends SparkSpec {

  test("fanOut: results keep input order") {
    val e = new Engine(spark, tmpDir("fanout_order"))
    val out = e.fanOut((1 to 6).toSeq, 3, (i: Int) => s"item $i") { i =>
      Thread.sleep((7 - i) * 20L) // later items finish first
      i * 10
    }
    assert(out === Seq(10, 20, 30, 40, 50, 60))
  }

  test("fanOut: a failure waits for started siblings and starts no queued item") {
    val e = new Engine(spark, tmpDir("fanout_fail"))
    val started = new ConcurrentLinkedQueue[String]
    val slowWriteDone = new AtomicBoolean(false)
    val slowStarted = new CountDownLatch(1)
    // two threads: the failing child fails once the slow sibling is
    // writing; the rest queue behind them
    val kids = Seq("bad", "slow", "q1", "q2", "q3")
    val ex = intercept[IllegalStateException] {
      e.fanOut(kids, 2, (c: String) => s"write into $c") { c =>
        started.add(c)
        c match {
          case "bad" =>
            slowStarted.await(1, TimeUnit.MINUTES)
            throw new IllegalStateException("child write failed")
          case "slow" =>
            slowStarted.countDown(); Thread.sleep(800); slowWriteDone.set(true)
          case _ => ()
        }
      }
    }
    assert(ex.getMessage === "child write failed")
    // the sibling's write landed BEFORE the error reached the caller:
    // nothing commits after the failure is reported
    assert(slowWriteDone.get, "the error surfaced while a sibling was still writing")
    assert(started.asScala.toSet === Set("bad", "slow"),
      s"a queued item ran after the failure: ${started.asScala.mkString(", ")}")
    // one Note names what finished before the failure surfaced
    val notes = e.warnings.filter(_._1 == "Note").map(_._3)
    assert(notes.size === 1, s"notes: $notes")
    assert(notes.head.contains("write into slow") &&
      !notes.head.contains("write into bad"), notes.head)
  }

  test("fanOut: sequential on the calling thread inside a transaction") {
    val e = new Engine(spark, tmpDir("fanout_txn"))
    val caller = Thread.currentThread()
    def threads() = e.fanOut(Seq(1, 2, 3), 8, (i: Int) => s"item $i")(
      _ => Thread.currentThread())
    assert(threads().exists(_ ne caller))
    e.begin()
    try assert(threads().forall(_ eq caller))
    finally e.rollback()
  }
}
