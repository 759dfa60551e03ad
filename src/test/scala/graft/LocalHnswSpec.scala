package graft

import scala.util.Random

import graft.functions.{Distances, Levels}
import graft.hnsw.LocalHnsw

class LocalHnswSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def randomVectors(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  private def buildIndex(vecs: Array[Array[Float]], metric: String = "l2"): LocalHnsw = {
    val mL = Levels.defaultML(16)
    val idx = new LocalHnsw(vecs.head.length, 16, 32, 200, metric)
    vecs.zipWithIndex.foreach { case (v, i) =>
      idx.add(i.toLong, v, Levels.levelForLocal(i.toLong, mL))
    }
    idx
  }

  private def bruteTopK(vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[Long] =
    vecs.zipWithIndex
      .map { case (v, i) => (Distances.l2Local(q, v), i.toLong) }
      .sortBy(t => (t._1, t._2)).take(k).map(_._2).toSeq

  test("self-match: querying an indexed vector returns itself at rank 1 with dist 0") {
    val vecs = randomVectors(300, 32, seed = 42)
    val idx = buildIndex(vecs)
    for (qi <- Seq(0, 57, 299)) {
      val res = idx.search(vecs(qi), 5, 50)
      assert(res.head._1 === qi.toLong)
      assert(res.head._2 === 0.0)
    }
  }

  test("distances are ascending and results never repeat") {
    val vecs = randomVectors(300, 16, seed = 1)
    val idx = buildIndex(vecs)
    val res = idx.search(randomVectors(1, 16, 99).head, 10, 50)
    assert(res.map(_._2).toSeq === res.map(_._2).sorted.toSeq)
    assert(res.map(_._1).distinct.length === res.length)
  }

  test("recall@10 >= 0.9 vs brute force on seeded gaussian data") {
    val vecs = randomVectors(1000, 32, seed = 7)
    val queries = randomVectors(50, 32, seed = 8)
    val idx = buildIndex(vecs)
    val recalls = queries.map { q =>
      val ann = idx.search(q, 10, 100).map(_._1).toSet
      val exact = bruteTopK(vecs, q, 10).toSet
      (ann intersect exact).size / 10.0
    }
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.9, s"avg recall $avg")
  }

  test("tombstoned ids never appear in results") {
    val vecs = randomVectors(200, 16, seed = 3)
    val idx = buildIndex(vecs)
    val dead = Set(0L, 10L, 20L)
    val res = idx.search(vecs(0), 10, 50, dead.contains)
    assert(res.map(_._1).toSet.intersect(dead).isEmpty)
  }

  test("heavy deletes: k live results still returned at fixed ef (no ef widening)") {
    val vecs = randomVectors(400, 16, seed = 13)
    val idx = buildIndex(vecs)
    // tombstone half the index; ef stays at 50 — traversal passes through
    // dead nodes, only the kept set skips them
    val dead = (0 until 400 by 2).map(_.toLong).toSet
    val res = idx.search(vecs(1), 10, 50, dead.contains)
    assert(res.length === 10, s"expected k live results, got ${res.length}")
    assert(res.map(_._1).forall(id => !dead.contains(id)))
    // live self-match still wins
    assert(res.head._1 === 1L && res.head._2 === 0.0)
  }

  test("degree caps are respected (M for upper layers, max_m0 for layer 0)") {
    val vecs = randomVectors(500, 8, seed = 5)
    val idx = buildIndex(vecs)
    idx.layerDegrees.foreach { case (_, layer, degree) =>
      val cap = if (layer == 0) 32 else 16
      assert(degree <= cap)
    }
  }

  test("empty index returns empty result (hsnw_trial.py:272-273)") {
    val idx = new LocalHnsw(4, 16, 32, 200, "l2")
    assert(idx.search(Array(1f, 2f, 3f, 4f), 5, 50).isEmpty)
  }

  test("cosine metric self-match") {
    val vecs = randomVectors(200, 24, seed = 11)
    val idx = buildIndex(vecs, "cosine")
    val res = idx.search(vecs(42), 5, 50)
    assert(res.head._1 === 42L)
    assert(math.abs(res.head._2) < 1e-9)
  }
}
