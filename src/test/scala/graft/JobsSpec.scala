package graft

import org.scalatest.funsuite.AnyFunSuite

class JobsSpec extends AnyFunSuite with SparkSpec {

  test("concurrently: results come back in thunk order, whatever order they finish in") {
    val out = Jobs.concurrently((0 until 4).map { i =>
      () => { Thread.sleep((4 - i) * 20L); i }
    })
    assert(out === Seq(0, 1, 2, 3))
  }

  test("concurrently: a thunk's exception is rethrown as itself, not wrapped") {
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Jobs.concurrently(Seq(() => 1, () => throw boom))
    }
    assert(thrown eq boom)
  }

  test("concurrently: a failure propagates only after every thunk has " +
    "ended, and no thread outlives the call") {
    import scala.jdk.CollectionConverters._
    val slowEnded = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[IllegalStateException] {
      Jobs.concurrently(Seq(
        () => throw new IllegalStateException("fast"),
        () => { Thread.sleep(200); slowEnded.set(true) }))
    }
    assert(slowEnded.get())
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith(Jobs.THREAD_PREFIX)))
  }

  test("concurrently: every thunk sees the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("jobs-spec", "concurrently inherits local properties",
      interruptOnCancel = false)
    try {
      val seen = Jobs.concurrently(Seq.fill(3) {
        () => sc.getLocalProperty("spark.jobGroup.id")
      })
      assert(seen === Seq.fill(3)("jobs-spec"))
    } finally sc.clearJobGroup()
  }
}
