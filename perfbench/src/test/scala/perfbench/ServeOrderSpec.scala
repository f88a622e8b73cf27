package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ServeOrderSpec extends AnyFunSuite {
  private val qs = (1 to 8).map(i => s"q_$i")

  test("a pass serves every query once") {
    for (seed <- 1L to 5L; pass <- 0 until 3) {
      assert(ServeOrder.of(qs, seed, pass).sorted == qs.sorted)
      assert(ServeOrder.of(QuerySets.serveIter, seed, pass).sorted == QuerySets.serveIter.sorted)
    }
  }

  test("the order depends only on seed and pass") {
    assert(ServeOrder.of(qs, 7, 2) == ServeOrder.of(qs.reverse, 7, 2))
    assert(ServeOrder.of(qs, 7, 2) == ServeOrder.of(qs, 7, 2))
  }

  test("seeds and passes permute the order") {
    val orders = for (seed <- 1L to 10L; pass <- 0 until 3) yield ServeOrder.of(qs, seed, pass)
    assert(orders.distinct.size > 10)
    assert((1L to 10L).map(ServeOrder.of(qs, _, 0)).distinct.size > 1)
  }
}
