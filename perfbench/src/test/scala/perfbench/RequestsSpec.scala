package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RequestsSpec extends AnyFunSuite {
  private def take(workload: String, seed: Long): Seq[Seq[String]] =
    (0 until 4).map(c => Requests.stream(workload, seed, c).take(60).map(_.doc).toSeq)

  test("the same seed gives an identical request stream; another seed a different one") {
    Main.Workloads.foreach { w =>
      assert(take(w, 7) == take(w, 7), w)
      assert(take(w, 7) != take(w, 8), w)
      assert(Requests.coldPass(w, 7) == Requests.coldPass(w, 7), w)
    }
  }

  test("dash_repeat cycles a fixed working set; dash_vary draws fresh literals") {
    val repeat = take("dash_repeat", 3).flatten.distinct
    assert(repeat.size == Requests.DashShapes)
    val vary = take("dash_vary", 3).flatten
    assert(vary.distinct.size > 0.95 * vary.size)
    assert(vary.distinct.size > 128, "the varied working set must exceed the plan cache")
  }
}
