package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NarMlm, NarTransformer}

/** The shared attention block's information flow, checked through both
  * legs with no Spark: the AR leg's causal mask must keep every head
  * blind to later columns, and the MLM leg's masking must keep every
  * head blind to a masked column's token. A leak in either still passes
  * the gradient checks (the backprop stays exact for the leaky net), so
  * only these tests catch it.
  */
class AttentionNetSpec extends AnyFunSuite {
  private val data = Array((0, 1, 2, 1, 2.0), (1, 0, 1, 0, 1.0),
    (2, 2, 0, 2, 3.0), (1, 2, 2, 1, 1.5))
  private val dom = 0 until 3

  private def same(a: Array[Double], b: Array[Double]): Boolean =
    a.sameElements(b)

  test("AR net is causal: head i never reads a column after position i") {
    val m = NarTransformer.train(data, 3, 3, 3, 3, 5L, steps = 20)
    var lSeen, oSeen = false
    for (c <- dom; o <- dom; l <- dom; other <- dom if other != l) {
      val a = m.conditionals(c, o, l)
      val b = m.conditionals(c, o, other)
      for (i <- 0 to 2)
        assert(same(a(i), b(i)), s"head $i moved with l: ($c,$o,$l) vs l=$other")
      lSeen ||= !same(a(3), b(3))
    }
    for (c <- dom; o <- dom; l <- dom; other <- dom if other != o) {
      val a = m.conditionals(c, o, l)
      val b = m.conditionals(c, other, l)
      for (i <- 0 to 1)
        assert(same(a(i), b(i)), s"head $i moved with o: ($c,$o,$l) vs o=$other")
      oSeen ||= !same(a(2), b(2))
    }
    // the probe is live: the heads that may read the change do
    assert(lSeen && oSeen, "no head read l or o at all")
  }

  test("MLM net is blind to masked tokens: no head moves with one") {
    val m = NarMlm.train(data, 3, 3, 3, 3, 5L, steps = 20)
    var unmaskedSeen = false
    for (mask <- 1 until 16; k <- 0 until 4; c <- dom; o <- dom; other <- dom) {
      val t = Array(c, o, (c + o) % 3, (c + 2 * o) % 3)
      val t2 = t.clone(); t2(k) = other
      if (t2(k) != t(k)) {
        val a = m.heads(t, mask).map(_.clone())
        val b = m.heads(t2, mask).map(_.clone())
        val moved = (0 until 4).exists(i => !same(a(i), b(i)))
        if ((mask & (1 << k)) != 0)
          assert(!moved, s"mask $mask: a head moved with masked position $k")
        else unmaskedSeen ||= moved
      }
    }
    assert(unmaskedSeen, "no head read an observed token at all")
  }
}
