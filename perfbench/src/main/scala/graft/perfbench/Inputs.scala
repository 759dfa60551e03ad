package graft.perfbench

import java.io._
import java.nio.file.{Files, Path, StandardCopyOption}

/** The benchmark's own input generators. Every value is a pure function of
  * (seed, stream, id, position), so a seed names one input set exactly and
  * no program code (such as `graft.sources.Datagen`) can change a workload.
  *
  * Generated arrays and the brute-force truth are cached on disk. Each
  * cached file starts with its own stamp (generator version, seed, sizes,
  * file name) and is regenerated when that stamp does not match.
  */
object Inputs {
  /** Bump whenever any generator below changes its output. */
  val Version = 2

  // ---- deterministic hashing -------------------------------------------

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, id: Long, j: Long): Long =
    mix(mix(mix(mix(seed) ^ stream) ^ id) ^ j)

  private def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  private def gauss(seed: Long, stream: Long, id: Long, j: Long): Double = {
    val u1 = math.max(unit(hash(seed, stream, id, 2 * j)), 1e-300)
    val u2 = unit(hash(seed, stream, id, 2 * j + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  // ---- clustered vectors -------------------------------------------------

  final case class VectorSpec(n: Int, dim: Int, clusters: Int, queries: Int, k: Int) {
    def stamp(seed: Long): String = s"v$Version seed=$seed n=$n dim=$dim clusters=$clusters q=$queries k=$k"
  }

  private val StreamCluster = 1L
  private val StreamCenter = 2L
  private val StreamNoise = 3L
  private val StreamQueryCluster = 4L
  private val StreamQueryNoise = 5L
  private val Spread = 0.6

  private def clusteredVector(seed: Long, dim: Int, clusters: Int, clusterStream: Long,
                              noiseStream: Long, id: Long): Array[Float] = {
    val c = below(hash(seed, clusterStream, id, 0), clusters)
    Array.tabulate(dim) { d =>
      (2.0 * unit(hash(seed, StreamCenter, c, d)) - 1.0 + Spread * gauss(seed, noiseStream, id, d)).toFloat
    }
  }

  /** Corpus vectors: id i belongs to one of `clusters` uniform centres in
    * [-1, 1]^dim, plus Gaussian noise. Ids are 0 until n.
    */
  def vectors(seed: Long, s: VectorSpec): Array[Array[Float]] =
    Array.tabulate(s.n)(i => clusteredVector(seed, s.dim, s.clusters, StreamCluster, StreamNoise, i))

  /** Held-out queries from the same mixture (different noise draws). */
  def queries(seed: Long, s: VectorSpec): Array[Array[Float]] =
    Array.tabulate(s.queries)(i =>
      clusteredVector(seed, s.dim, s.clusters, StreamQueryCluster, StreamQueryNoise, i))

  /** L2 distance, accumulated in double in index order like the program's
    * own l2 kernel, so returned distances can be compared exactly.
    */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Brute-force top-k ids per query, ordered by (distance, id), computed
    * on all cores of the driver.
    */
  def truth(data: Array[Array[Float]], qs: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futures = qs.indices.map { qi =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val q = qs(qi)
            // bounded max-heap on (dist, id)
            val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
              (a: (Double, Long), b: (Double, Long)) =>
                if (a._1 != b._1) java.lang.Double.compare(b._1, a._1)
                else java.lang.Long.compare(b._2, a._2))
            var i = 0
            while (i < data.length) {
              val d = l2(q, data(i))
              if (heap.size < k) heap.add((d, i.toLong))
              else {
                val top = heap.peek()
                if (d < top._1 || (d == top._1 && i < top._2)) { heap.poll(); heap.add((d, i.toLong)) }
              }
              i += 1
            }
            val res = new Array[(Double, Long)](heap.size)
            var j = res.length - 1
            while (j >= 0) { res(j) = heap.poll(); j -= 1 }
            out(qi) = res.map(_._2)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out
  }

  // ---- documents with planted rows ---------------------------------------

  final case class DocSpec(n: Int, benchDocs: Int) {
    def stamp(seed: Long): String = s"v$Version seed=$seed docs=$n bench=$benchDocs"
  }

  /** The corpus plus the ids each output check needs.
    *
    * Originals (ids 0 until n) are word soup that passes the quality gate.
    * Every original ends in a doc-specific footer printed twice. Planted
    * rows get ids above n:
    *   - exact duplicates: the original's text (1% of originals);
    *   - near duplicates: the original with its footer printed a third
    *     time, so the 3-gram shingle sets are identical but the texts are
    *     not (1%); near dedup must remove them;
    *   - related variants: the original with the middle third of its body
    *     replaced, Jaccard about 0.5 (0.5%); they must be kept, and they
    *     give LSH candidates that verification rejects;
    *   - contaminated rows: fresh docs carrying a 10-token passage of a
    *     benchmark doc (0.2%); decontamination must remove them.
    */
  final case class Docs(ids: Array[Long], sources: Array[String], texts: Array[String],
                        benchTexts: Array[String], mustKeep: Array[Long], mustDrop: Array[Long])

  private val Stop = Array("the", "a", "of", "and", "is", "in", "to", "it")
  private val Vocab = 50000
  private val StreamLen = 11L
  private val StreamTok = 12L
  private val StreamFooter = 13L
  private val StreamEdit = 14L
  private val StreamBench = 15L
  private val StreamSource = 16L
  private val StreamContamLen = 17L
  private val StreamContamTok = 18L

  private def body(seed: Long, lenStream: Long, tokStream: Long, id: Long): Array[String] = {
    val len = 40 + below(hash(seed, lenStream, id, 0), 80)
    Array.tabulate(len) { j =>
      val h = hash(seed, tokStream, id, j)
      // two leading stopwords keep every doc above the Gopher stop-hit floor
      if (j < 2 || below(h, 4) == 0) Stop(below(h >>> 8, Stop.length))
      else "w" + below(h >>> 8, Vocab)
    }
  }

  private def footer(seed: Long, id: Long): Array[String] =
    Array.tabulate(3)(j => "w" + below(hash(seed, StreamFooter, id, j), Vocab))

  def docs(seed: Long, s: DocSpec): Docs = {
    val n = s.n
    val ids = Array.newBuilder[Long]; val texts = Array.newBuilder[String]
    val keep = Array.newBuilder[Long]; val drop = Array.newBuilder[Long]
    val origText = new Array[String](n)
    val bodies = new Array[Array[String]](n)
    for (i <- 0 until n) {
      val b = body(seed, StreamLen, StreamTok, i)
      val f = footer(seed, i)
      bodies(i) = b
      origText(i) = (b ++ f ++ f).mkString(" ")
      ids += i; texts += origText(i); keep += i
    }
    val benchTexts = Array.tabulate(s.benchDocs)(b =>
      Array.tabulate(30)(j => "q" + below(hash(seed, StreamBench, b, j), Vocab)).mkString(" "))
    var next = n.toLong
    def plant(text: String, mustKeep: Boolean): Unit = {
      ids += next; texts += text
      if (mustKeep) keep += next else drop += next
      next += 1
    }
    for (i <- 0 until n) {
      if (i % 100 == 7) plant(origText(i), mustKeep = false)
      if (i % 100 == 37) plant(origText(i) + " " + footer(seed, i).mkString(" "), mustKeep = false)
      if (i % 200 == 71) {
        val b = bodies(i).clone()
        val (from, until) = (b.length / 3, 2 * b.length / 3)
        for (j <- from until until) b(j) = "w" + below(hash(seed, StreamEdit, i, j), Vocab)
        val f = footer(seed, i)
        plant((b ++ f ++ f).mkString(" "), mustKeep = true)
      }
      if (i % 500 == 123) {
        val b = body(seed, StreamContamLen, StreamContamTok, i)
        val passage = benchTexts(i % s.benchDocs).split(" ").slice(5, 15)
        val mid = b.length / 2
        plant((b.take(mid) ++ passage ++ b.drop(mid)).mkString(" "), mustKeep = false)
      }
    }
    val allIds = ids.result()
    Docs(allIds, allIds.map(id => "s" + below(hash(seed, StreamSource, id, 0), 4)),
      texts.result(), benchTexts, keep.result(), drop.result())
  }

  // ---- stamped on-disk cache ------------------------------------------------

  /** Returns the cached value of file `name` under `dir` when its stamp
    * matches, else computes, writes and returns it.
    */
  def cached[T](dir: Path, name: String, stamp: String)(write: (DataOutputStream, T) => Unit,
      read: DataInputStream => T)(compute: => T): T = {
    val file = dir.resolve(name)
    val fullStamp = s"$stamp file=$name"
    val hit =
      if (!Files.exists(file)) None
      else {
        val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 20))
        try { if (in.readUTF() == fullStamp) Some(read(in)) else None }
        catch { case _: IOException => None }
        finally in.close()
      }
    hit.getOrElse {
      val v = compute
      Files.createDirectories(dir)
      val tmp = Files.createTempFile(dir, name, ".tmp")
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 20))
      try { out.writeUTF(fullStamp); write(out, v) } finally out.close()
      Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      v
    }
  }

  def writeFloats(out: DataOutputStream, a: Array[Array[Float]]): Unit = {
    out.writeInt(a.length); out.writeInt(if (a.isEmpty) 0 else a(0).length)
    a.foreach(_.foreach(out.writeFloat))
  }

  def readFloats(in: DataInputStream): Array[Array[Float]] = {
    val (n, d) = (in.readInt(), in.readInt())
    Array.fill(n)(Array.fill(d)(in.readFloat()))
  }

  def writeLongs(out: DataOutputStream, a: Array[Array[Long]]): Unit = {
    out.writeInt(a.length)
    a.foreach { r => out.writeInt(r.length); r.foreach(out.writeLong) }
  }

  def readLongs(in: DataInputStream): Array[Array[Long]] =
    Array.fill(in.readInt())(Array.fill(in.readInt())(in.readLong()))

  def writeDocs(out: DataOutputStream, d: Docs): Unit = {
    def longs(a: Array[Long]): Unit = { out.writeInt(a.length); a.foreach(out.writeLong) }
    def strings(a: Array[String]): Unit = {
      out.writeInt(a.length)
      a.foreach { t => val b = t.getBytes("UTF-8"); out.writeInt(b.length); out.write(b) }
    }
    longs(d.ids); strings(d.sources); strings(d.texts); strings(d.benchTexts)
    longs(d.mustKeep); longs(d.mustDrop)
  }

  def readDocs(in: DataInputStream): Docs = {
    def longs(): Array[Long] = Array.fill(in.readInt())(in.readLong())
    def strings(): Array[String] = Array.fill(in.readInt()) {
      val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, "UTF-8")
    }
    Docs(longs(), strings(), strings(), strings(), longs(), longs())
  }
}
