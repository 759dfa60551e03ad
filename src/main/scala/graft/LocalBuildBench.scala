package graft

import graft.hnsw.LocalHnsw

/** Single-threaded micro-benchmark of the graph build's inner loop
  * ([[LocalHnsw.add]]) — the per-task work inside save's edge write, which
  * BENCH_SCALE_BUILDPHASES512.json measures as 77% of a routed build's
  * wall clock. Spark-free so the number isolates the insert loop from
  * executor scheduling, parquet IO and page-cache noise: one shard's
  * worth of deterministic vectors, inserted in id order exactly as
  * `buildFromPid`'s mapPartitions does, min-of-reps.
  *
  * Run: scripts/run_main.sh graft.LocalBuildBench [n=16000] [dim=512]
  *        [metric=cosine] [reps=3]
  */
object LocalBuildBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(16000)
    val dim = args.lift(1).map(_.toInt).getOrElse(512)
    val metric = args.lift(2).getOrElse("cosine")
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val m = 12
    val efc = 100
    // deterministic per-id vectors (the hashVectors recipe, locally):
    // splitmix64 per (id, i) — same family of isotropic data the scale
    // fixtures use
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        var z = id * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        a(i) = ((z & 0xFFFFFF).toFloat / 0xFFFFFF.toFloat) * 2f - 1f
        i += 1
      }
      a
    }
    val mL = 1.0 / math.log(m.toDouble)
    val vecs = Array.tabulate(n)(i => vec(i.toLong))
    val levels = Array.tabulate(n)(i => graft.functions.Levels.levelForLocal(i.toLong, mL))
    var best = Double.MaxValue
    var edges = 0L
    (1 to reps).foreach { rep =>
      val idx = new LocalHnsw(dim, m, 2 * m, efc, metric)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { idx.add(i.toLong, vecs(i), levels(i)); i += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      edges = idx.edges.size.toLong
      System.err.println(f"[local-build] rep $rep: $sec%.2f s " +
        f"(${n / sec}%.0f inserts/s, ${sec * 1e6 / n}%.1f us/insert)")
      if (sec < best) best = sec
    }
    println(f"""{"n":$n,"dim":$dim,"metric":"$metric","m":$m,"ef_construction":$efc,""" +
      f""""best_sec":$best%.3f,"inserts_per_sec":${n / best}%.1f,"edges":$edges}""")
  }
}
