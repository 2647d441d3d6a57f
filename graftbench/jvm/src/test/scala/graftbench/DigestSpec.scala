package graftbench

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CisRecord, Span => FsmSpan, TurnResult}

class DigestSpec extends AnyFunSuite {
  private val hashes = Seq(3L, -7L, Long.MaxValue, 42L, 42L, 0L)

  test("digest does not depend on row order") {
    assert(Digest.fold(hashes.iterator) == Digest.fold(hashes.reverse.iterator))
    assert(Digest.fold(hashes.iterator) == Digest.fold(scala.util.Random.shuffle(hashes).iterator))
  }

  test("digests of disjoint parts add up to the digest of the union") {
    val (a, b) = hashes.splitAt(2)
    assert(Digest.fold(a.iterator) + Digest.fold(b.iterator) == Digest.fold(hashes.iterator))
    assert(Digest.fold(hashes.iterator) + Digest.empty == Digest.fold(hashes.iterator))
  }

  test("sum wraps instead of overflowing, duplicates still count") {
    val d = Digest.fold(Iterator(Long.MaxValue, 1L, 5L, 5L))
    assert(d == Digest(4L, Long.MinValue + 10L, Long.MaxValue ^ 1L))
    assert(d.hex == "4:800000000000000a:7ffffffffffffffe")
  }

  test("turn hash covers nested spans and the record, not Seq classes") {
    val rec = CisRecord("1.1", "L1", "d", "r", "a", "rem", "dv", "c")
    val t = TurnResult("conv1", 3, valid = true, "rhel7", List(FsmSpan("Audit:", 1, 5, "x")), Some(rec))
    assert(Digest.hashTurn(t) == Digest.hashTurn(t.copy(spans = Vector(FsmSpan("Audit:", 1, 5, "x")))))
    assert(Digest.hashTurn(t) != Digest.hashTurn(t.copy(spans = List(FsmSpan("Audit:", 1, 6, "x")))))
    assert(Digest.hashTurn(t) != Digest.hashTurn(t.copy(record = Some(rec.copy(audit = "b")))))
    assert(Digest.hashTurn(t) != Digest.hashTurn(t.copy(record = None)))
    assert(Digest.hashTurn(t.copy(doc_type = null)) != Digest.hashTurn(t.copy(doc_type = "null")))
  }
}
