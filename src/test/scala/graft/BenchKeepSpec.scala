package graft

import graft.Bench.{Attempt, keep}
import org.scalatest.funsuite.AnyFunSuite

/** The heal-retry keep rule of [[Bench]]: which of an entry's two
  * attempts supplies its headline median. */
class BenchKeepSpec extends AnyFunSuite {

  private def at(median: Double, contended: Boolean = false, unstable: Boolean = false,
                 starved: Boolean = false, overband: Boolean = false): Attempt =
    Attempt(median, Seq.empty, contended, unstable, starved, overband)

  test("of two clean attempts the faster stays, whichever came first") {
    // an overband-only first attempt is retried; an unflagged slower
    // retry must not replace it
    assert(keep(at(1.05, overband = true), at(1.44)).median === 1.05)
    assert(keep(at(1.05), at(1.44)).median === 1.05)
    assert(keep(at(1.44, overband = true), at(1.05)).median === 1.05)
  }

  test("a noisy first attempt yields to an unflagged retry, even a slower one") {
    assert(keep(at(1.05, contended = true), at(1.44)).median === 1.44)
    assert(keep(at(1.05, unstable = true), at(1.44)).median === 1.44)
    assert(keep(at(1.05, starved = true), at(1.44)).median === 1.44)
  }

  test("when the retry is noisy too, or failed, the smaller timed median stays") {
    assert(keep(at(2.0, contended = true), at(1.5, unstable = true)).median === 1.5)
    assert(keep(at(1.5, contended = true), at(2.0, starved = true)).median === 1.5)
    assert(keep(at(1.05, overband = true), at(-1.0)).median === 1.05)
    assert(keep(at(-1.0), at(3.0, contended = true)).median === 3.0)
    assert(keep(at(1.05), at(0.9, contended = true)).median === 0.9)
  }
}
