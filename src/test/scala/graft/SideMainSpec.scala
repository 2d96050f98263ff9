package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The side mains' shared timer, without Spark. */
class SideMainSpec extends AnyFunSuite {

  test("one warm-up per unit, then interleaved rounds, the hook after every run") {
    val log = ArrayBuffer.empty[String]
    SideMain.minOverRounds(Seq("a", "b"), rounds = 2, () => log += "|") { u =>
      log += u
      if (u == "b") throw new RuntimeException("b fails")
    }
    assert(log.mkString == "a|b|a|b|a|b|")
  }

  test("the fastest timed round wins, with that round's result") {
    val sleepMs = Seq(0, 300, 20, 300) // the warm-up, then rounds 1-3
    var run = -1
    val Seq((unit, best)) = SideMain.minOverRounds(Seq("u"), rounds = 3) { _ =>
      run += 1
      Thread.sleep(sleepMs(run))
      run
    }
    assert(unit == "u")
    val (sec, result) = best.get
    assert(result == 2)
    assert(sec >= 0.02 && sec < 0.3)
  }

  test("a failed round never displaces a valid time; a unit failing every round is failed") {
    var flakyRuns = 0
    val res = SideMain.minOverRounds(Seq("flaky", "dead"), rounds = 3) {
      case "flaky" =>
        flakyRuns += 1
        // the warm-up and round 2 succeed slowly; rounds 1 and 3 fail at once
        if (flakyRuns % 2 == 0) throw new IllegalStateException("flaky fails")
        Thread.sleep(50)
        flakyRuns
      case _ => throw new IllegalStateException("dead fails")
    }
    assert(res.map(_._1) == Seq("flaky", "dead"))
    val (sec, result) = res.head._2.get
    assert(result == 3)
    assert(sec >= 0.05)
    assert(res(1)._2.isEmpty)
  }
}
