package graftbench

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class LakeModelSpec extends AnyFunSuite {
  private def cards(seed: Long, n: Int) = {
    val r = Gen.rng(seed, "test")
    Vector.fill(n)(Gen.newCard(r))
  }

  test("row hash is Spark's xxhash64 of the canonical row") {
    for (c <- cards(1, 20)) {
      val s = LakeModel.canonical(c)
      assert(LakeModel.rowHash(s) == XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L))
    }
  }

  test("checksum is insensitive to row order and sensitive to content") {
    val rows = cards(2, 50).map(LakeModel.canonical)
    assert(LakeModel.checksum(rows) == LakeModel.checksum(rows.reverse))
    assert(LakeModel.checksum(rows) != LakeModel.checksum(rows.tail))
    assert(LakeModel.checksum(rows) != LakeModel.checksum(rows.updated(3, rows(3) + "x")))
  }

  test("canonical rows write a missing value as \\N") {
    val c = cards(3, 1).head.copy(released = None, usdCents = None)
    assert(LakeModel.canonical(c).split('|').count(_ == LakeModel.Null) >= 2)
  }

  test("last write wins: upsert replaces, delete reports only live ids") {
    val m = new LakeModel
    val cs = cards(4, 10)
    assert(m.upsert(cs) == cs.map(_.id).toSet)
    val r = Gen.rng(4, "refresh")
    val updated = Gen.refreshed(cs(0), r)
    m.upsert(Seq(updated))
    assert(m.count == 10 && m.rows(cs(0).id) == updated && m.order.size == 10)
    assert(updated.usdCents != cs(0).usdCents)
    assert(m.delete(Seq(cs(1).id, "missing")) == Set(cs(1).id))
    assert(m.count == 9)
    assert(m.perSet.values.map(_._1).sum == 9)
  }
}
