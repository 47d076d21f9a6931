package graft

import graft.functions.SimilarityKernels._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityKernelsSpec extends AnyFunSuite {

  private def approx(a: Double, b: Double, eps: Double = 1e-9) =
    assert(math.abs(a - b) < eps, s"$a vs $b")

  test("jaro known values (textbook examples)") {
    approx(jaro("MARTHA", "MARHTA"), 0.9444444444444445)
    approx(jaro("DIXON", "DICKSONX"), 0.7666666666666666)
    approx(jaro("DWAYNE", "DUANE"), 0.8222222222222223)
    approx(jaro("", ""), 1.0)
    approx(jaro("a", ""), 0.0)
    approx(jaro("abc", "xyz"), 0.0)
  }

  test("jaro-winkler known values") {
    approx(jaroWinkler("MARTHA", "MARHTA"), 0.9611111111111111)
    approx(jaroWinkler("DIXON", "DICKSONX"), 0.8133333333333332, 1e-9)
    approx(jaroWinkler("DWAYNE", "DUANE"), 0.8400000000000001, 1e-9)
    // below the 0.7 boost threshold: no prefix boost
    approx(jaroWinkler("abc", "xyz"), 0.0)
  }

  test("jaro-winkler properties: symmetry, bounds, identity (seeded fuzz)") {
    val rnd = new scala.util.Random(42)
    def randStr() = {
      val n = rnd.nextInt(30)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    (0 until 500).foreach { _ =>
      val a = randStr(); val b = randStr()
      val s = jaroWinkler(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of bounds: '$a' '$b' -> $s")
      assert(math.abs(s - jaroWinkler(b, a)) < 1e-12, s"asymmetric: '$a' '$b'")
      assert(a.isEmpty || jaroWinkler(a, a) == 1.0)
    }
  }
}
