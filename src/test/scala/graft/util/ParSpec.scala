package graft.util

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ParSpec extends AnyFunSuite with Matchers {

  test("map keeps item order") {
    Par.map(1 to 20)(i => i * i) shouldBe (1 to 20).map(i => i * i)
  }

  test("nested calls run their items concurrently") {
    // each outer item's two inner items can only pass the barrier
    // together; run inline, the first waits alone and times out
    val ok = Par.map(Seq(1, 2)) { _ =>
      val barrier = new CyclicBarrier(2)
      Par.map(Seq(1, 2))(_ => barrier.await(10, TimeUnit.SECONDS))
    }
    ok.flatten.sorted shouldBe Seq(0, 0, 1, 1) // arrival indices per barrier
  }

  test("nesting deeper and wider than the width completes") {
    val n = Par.map(1 to 6)(_ => Par.map(1 to 6)(_ => Par.map(1 to 6)(_ => 1)).flatten.sum)
    n.sum shouldBe 216
  }

  test("a failure returns only after a slower sibling has finished") {
    val failed = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.foreach(Seq(0, 1)) {
        case 0 =>
          failed.countDown()
          throw new IllegalStateException("boom")
        case _ =>
          failed.await()
          Thread.sleep(300) // still running well after the failure
          siblingDone.set(true)
      }
    }
    e.getMessage shouldBe "boom"
    siblingDone.get shouldBe true
  }

  test("the first failure is rethrown with the others suppressed") {
    val e = intercept[RuntimeException] {
      Par.foreach(1 to 4)(i => if (i % 2 == 0) throw new RuntimeException(s"item $i"))
    }
    (e.getMessage +: e.getSuppressed.map(_.getMessage).toSeq).sorted shouldBe
      Seq("item 2", "item 4")
  }
}
