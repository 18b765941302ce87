package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same cards and JSON lines, another seed does not") {
    def lines(seed: Long) = {
      val r = Gen.rng(seed, "catalogue")
      Vector.fill(30)(Gen.cardJson(Gen.newCard(r)))
    }
    assert(lines(7) == lines(7))
    assert(lines(7) != lines(8))
  }

  test("the same seed gives the same vocabulary, documents and vectors") {
    assert(Gen.vocabulary(5, 100) == Gen.vocabulary(5, 100))
    assert(Gen.vocabulary(5, 100) != Gen.vocabulary(6, 100))
    val v = Gen.vocabulary(5, 100)
    assert(Gen.novelTokens(Gen.rng(5, "d", 3), v, 30, 80) == Gen.novelTokens(Gen.rng(5, "d", 3), v, 30, 80))
    val a = new Gen.VectorSpace(5, 64, 8)
    val b = new Gen.VectorSpace(5, 64, 8)
    assert(a.vector(42).sameElements(b.vector(42)) && a.label(42) == b.label(42))
    assert(!a.vector(42).sameElements(new Gen.VectorSpace(6, 64, 8).vector(42)))
  }

  test("near duplicates keep 3-shingle Jaccard at or above 0.8") {
    val vocab = Gen.vocabulary(9, 4000)
    for (i <- 0 until 300) {
      val r = Gen.rng(9, "near", i)
      val src = Gen.novelTokens(r, vocab, 30, 80)
      val dup = Gen.nearDuplicate(src, r, vocab)
      assert(dup != src)
      val (a, b) = (Gen.shingles(src), Gen.shingles(dup))
      val j = (a intersect b).size.toDouble / (a union b).size
      assert(j >= 0.8, s"Jaccard $j for lengths ${src.length}")
    }
  }

  test("the PII check finds planted PII and not pseudo-words that spell http") {
    assert(Gen.hasPii("mail ops@example.com or"))
    assert(Gen.hasPii("see https://example.com/x"))
    assert(Gen.hasPii("call 5551234567"))
    assert(!Gen.hasPii("mail <EMAIL> or <URL> <NUM> ahttpe3 kttps1 123456"))
  }

  test("shingles follow the program's definition for short texts") {
    assert(Gen.shingles(Seq("a", "b")) == Set("a b"))
    assert(Gen.shingles(Seq("a", "b", "c", "d")) == Set("a b c", "b c d"))
    assert(Gen.tokens("  x  y ") == Vector("x", "y"))
    assert(Gen.tokens("") == Vector(""))
  }
}
