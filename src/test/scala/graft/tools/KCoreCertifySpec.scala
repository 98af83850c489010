package graft.tools

import graft.SparkSpec
import graft.tools.KCoreCertify.{BfsRow, CensusRow}

/** Pins the q301 second-scale self-certifier (VERDICT r14 #2).
  *
  * The sf0.1 certification itself runs in `tools/sweep_sf01.sh` (and its
  * result is recorded in VERIFY_SF01.md); this spec proves the CERTIFIER
  * at the always-on scale: (a) the independent driver-side reference
  * reproduces the engine's census at sf0.001, (b) the reference peel is
  * correct on a hand-computed graph, and (c) the comparator actually
  * detects a tampered census (non-vacuity — a comparator that returns
  * None unconditionally would "certify" anything). The q219 BFS census
  * the same tool certifies gets the same three checks.
  */
class KCoreCertifySpec extends SparkSpec {

  test("reference peel on a hand-computed graph") {
    // Graph: triangle {1,2,3} + pendant 4-1. Degrees 3,2,2,1 → k = 8/4 = 2.
    // Round 1: remove 4 (deg 1); edges left = triangle (3).
    // Rounds 2-3: everyone has degree 2 ≥ k — nothing removed.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val (k, census) = KCoreCertify.referenceCensus(edges)
    assert(k == 2L)
    assert(census == Seq(CensusRow(1, 1, 3, 3), CensusRow(2, 0, 3, 3),
      CensusRow(3, 0, 3, 3)))
  }

  test("engine census == independent reference census at sf0.001") {
    val engine = KCoreCertify.engineCensus(spark, sf0001)
    val edges = KCoreCertify.referenceEdges(spark, sf0001)
    val (_, reference) = KCoreCertify.referenceCensus(edges)
    assert(engine.size == 3 && reference.size == 3)
    assert(KCoreCertify.mismatch(engine, reference).isEmpty,
      s"engine $engine vs reference $reference")
  }

  test("non-vacuity: a tampered census row is detected") {
    val ref = Seq(CensusRow(1, 1, 3, 3), CensusRow(2, 0, 3, 3))
    val tampered = Seq(CensusRow(1, 1, 3, 3), CensusRow(2, 0, 3, 4))
    assert(KCoreCertify.mismatch(tampered, ref).nonEmpty)
    // and row order must not matter
    assert(KCoreCertify.mismatch(ref.reverse, ref).isEmpty)
  }

  test("reference BFS census on a hand-computed graph, and an edgeless one") {
    // path 1-2-3 plus the triangle {10,11,12} and the pendant 12-13:
    // degrees 1,2,1 | 2,2,3,1 — min degree 1 ties 1, 3 and 13; seed 1.
    // Hops: {2}, {3}, then nothing; the other component is never reached.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (12L, 13L))
    assert(KCoreCertify.referenceBfsCensus(edges) == Seq(BfsRow(0, 1, 1),
      BfsRow(1, 1, 2), BfsRow(2, 1, 3), BfsRow(3, 0, 3)))
    assert(KCoreCertify.referenceBfsCensus(Nil) == Seq(BfsRow(0, 0, 0),
      BfsRow(1, 0, 0), BfsRow(2, 0, 0), BfsRow(3, 0, 0)))
  }

  test("engine BFS census == independent reference BFS census at sf0.001") {
    val engine = KCoreCertify.engineBfsCensus(spark, sf0001)
    val reference = KCoreCertify.referenceBfsCensus(
      KCoreCertify.referenceEdges(spark, sf0001))
    assert(engine.size == 4 && reference.size == 4)
    assert(KCoreCertify.mismatch(engine, reference).isEmpty,
      s"engine $engine vs reference $reference")
  }

  test("non-vacuity: a tampered BFS census row is detected") {
    val ref = Seq(BfsRow(0, 1, 1), BfsRow(1, 38, 39), BfsRow(2, 3990, 4029))
    val tampered = Seq(BfsRow(0, 1, 1), BfsRow(1, 38, 39), BfsRow(2, 3989, 4028))
    assert(KCoreCertify.mismatch(tampered, ref).nonEmpty)
    assert(KCoreCertify.mismatch(ref.reverse, ref).isEmpty)
  }
}
