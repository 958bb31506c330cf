package perfbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class LoadGenSpec extends AnyFunSuite {

  private def digest(pages: Array[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pages.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed renders byte-identical pages") {
    def render(seed: Long) =
      digest(new LoadGen(seed, rows = 2500, pageSize = 100, promoFromRow = 100).renderPaged())
    assert(render(7) == render(7))
    assert(render(7) != render(8))
  }

  test("the field the sample misses appears only after the first page") {
    val g = new LoadGen(3, rows = 20000, pageSize = 1000, promoFromRow = 1000)
    val promo = g.events.zipWithIndex.filter(_._1.promo.isDefined).map(_._2)
    assert(promo.nonEmpty)
    assert(promo.forall(_ >= 1000))
  }

  test("a small seeded share of pages fails its first attempt") {
    val g = new LoadGen(5, rows = 100000, pageSize = 100, promoFromRow = 100)
    val failing = (1 to g.pages).count(g.failsFirst)
    assert(failing > 0 && failing < g.pages / 20)
    assert((1 to g.pages).filter(g.failsFirst) ==
      (1 to g.pages).filter(new LoadGen(5, 100000, 100, 100).failsFirst))
  }
}
