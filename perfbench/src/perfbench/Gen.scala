package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value derives from (seed, index) through
  * SplittableRandom, so a seed always yields the same inputs regardless of
  * partitioning, and the planted ground truth is known without reading
  * graft's output. Nothing here calls graft. */
object Gen {
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i))

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- scanpy_recipe: sparse integer counts ---------------------------------

  /** Per-gene parameters: detection rate, mean count, and whether the gene is
    * a planted highly-variable gene (high in a 30% sub-population, rare
    * elsewhere). Mean detection rate is ~10%. */
  final case class Genes(p: Array[Double], mu: Array[Double], hvg: Array[Boolean])

  def genes(seed: Long, nGenes: Int, nHvg: Int): Genes = {
    val r = rng(seed, 1, 0)
    val hv = Array.fill(nGenes)(false)
    r.ints(0, nGenes).distinct().limit(nHvg.toLong).toArray.foreach(hv(_) = true)
    Genes(Array.fill(nGenes)(0.02 + r.nextDouble() * 0.14),
      Array.fill(nGenes)(1.0 + r.nextDouble() * 4.0), hv)
  }

  def countCells(spark: SparkSession, seed: Long, nCells: Long, g: Genes,
                 parts: Int): DataFrame = {
    val bc = spark.sparkContext.broadcast(g)
    val rows = spark.sparkContext.range(0L, nCells, 1L, parts).mapPartitions { it =>
      val Genes(p, mu, hv) = bc.value
      it.flatMap { i =>
        val r = rng(seed, 2, i)
        val typeA = r.nextDouble() < 0.3
        val out = Array.newBuilder[Row]
        var j = 0
        while (j < p.length) {
          val (pj, mj) =
            if (hv(j)) (if (typeA) 0.9 else 0.04, if (typeA) 4.0 * mu(j) else mu(j))
            else (p(j), mu(j))
          if (r.nextDouble() < pj) {
            // geometric counts with mean mj, at least 1
            val c = 1L + (math.log(1.0 - r.nextDouble()) / math.log(1.0 - 1.0 / (mj + 1.0))).toLong
            out += Row(i, j.toLong, c.toDouble)
          }
          j += 1
        }
        out.result().iterator
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("i", LongType, false), StructField("j", LongType, false),
      StructField("v", DoubleType, false))))
  }

  // ---- corpus_dedup: Zipf documents with planted duplicate families --------

  final case class Corpus(texts: Array[String], exactPairs: Seq[(Long, Long)],
                          nearPairs: Seq[(Long, Long)])

  private def word(r: SplittableRandom): String = {
    val n = 3 + r.nextInt(7)
    val sb = new StringBuilder
    for (_ <- 0 until n) sb += ('a' + r.nextInt(26)).toChar
    sb.toString
  }

  /** `nDocs` documents of 30–60 words over a Zipf(1.1) vocabulary. Planted:
    * exact copies (3%), case/punctuation/whitespace variants (3%),
    * near-duplicates with 1–3 word substitutions (6%) and one boilerplate
    * family of `family` docs sharing a 40-word template with two varied
    * slots. Doc ids are a seeded permutation, so planted docs are spread. */
  def corpus(seed: Long, nDocs: Int, family: Int): Corpus = {
    val r = rng(seed, 3, 0)
    val vocab = Array.fill(5000)(word(r)).distinct
    val cdf = {
      val w = vocab.indices.map(k => 1.0 / math.pow(k + 1, 1.1)).toArray
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def pick(): String = {
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u)
      vocab(math.min(if (k >= 0) k else -k - 1, vocab.length - 1))
    }
    def doc(): Array[String] = Array.fill(30 + r.nextInt(31))(pick())
    val nExact = nDocs * 3 / 100
    val nCanon = nDocs * 3 / 100
    val nNear = nDocs * 6 / 100
    val nBase = nDocs - nExact - nCanon - nNear - family
    val base = Array.fill(nBase)(doc())
    val texts = new Array[String](nDocs)
    base.indices.foreach(k => texts(k) = base(k).mkString(" "))
    var at = nBase
    val exact, near = Seq.newBuilder[(Int, Int)]
    for (_ <- 0 until nExact) {
      val src = r.nextInt(nBase); texts(at) = texts(src); exact += ((src, at)); at += 1
    }
    for (_ <- 0 until nCanon) {
      val src = r.nextInt(nBase)
      texts(at) = base(src).map { w =>
        val u = r.nextDouble()
        val cased = if (u < 0.3) w.toUpperCase else if (u < 0.6) w.capitalize else w
        if (r.nextDouble() < 0.2) cased + ",!.;"(r.nextInt(4)) else cased
      }.mkString(if (r.nextBoolean()) "  " else " \t")
      at += 1
    }
    for (_ <- 0 until nNear) {
      val src = r.nextInt(nBase)
      val w = base(src).clone()
      for (_ <- 0 until 1 + r.nextInt(3)) w(r.nextInt(w.length)) = pick()
      texts(at) = w.mkString(" "); near += ((src, at)); at += 1
    }
    val template = Array.fill(40)(pick())
    for (_ <- 0 until family) {
      val w = template.clone()
      w(r.nextInt(40)) = pick(); w(r.nextInt(40)) = pick()
      texts(at) = w.mkString(" "); at += 1
    }
    // seeded permutation: slot k gets doc id perm(k)
    val perm = (0 until nDocs).toArray
    for (k <- nDocs - 1 to 1 by -1) {
      val m = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(m); perm(m) = t
    }
    val byId = new Array[String](nDocs)
    for (k <- 0 until nDocs) byId(perm(k)) = texts(k)
    def ids(ps: Seq[(Int, Int)]) = ps.map { case (a, b) =>
      val (x, y) = (perm(a).toLong, perm(b).toLong); (math.min(x, y), math.max(x, y))
    }
    Corpus(byId, ids(exact.result()), ids(near.result()))
  }

  def corpusFrame(spark: SparkSession, c: Corpus, parts: Int): DataFrame = {
    val rows = c.texts.indices.map(k => Row(k.toLong, c.texts(k)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType, false))))
  }

  // ---- vector_search: clustered float embeddings ----------------------------

  final case class Vectors(vecs: Array[Array[Float]], queries: Array[Array[Float]])

  /** `n` 64-d vectors around `clusters` Gaussian centres, plus `nq` queries
    * near random centres; for each query three planted near neighbours
    * (the query plus small noise) are part of the corpus. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, nq: Int): Vectors = {
    val r = rng(seed, 4, 0)
    def gauss(): Double = {
      // Box–Muller from the seeded stream
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(clusters, dim)(gauss())
    def around(c: Array[Double], s: Double) = c.map(x => (x + s * gauss()).toFloat)
    val queries = Array.fill(nq)(around(centres(r.nextInt(clusters)), 0.35))
    val planted = queries.flatMap(q => Array.fill(3)(around(q.map(_.toDouble), 0.05)))
    val rest = Array.fill(n - planted.length)(around(centres(r.nextInt(clusters)), 0.35))
    val all = rest ++ planted
    // seeded shuffle so planted rows are not a contiguous id range
    for (k <- all.length - 1 to 1 by -1) {
      val m = r.nextInt(k + 1); val t = all(k); all(k) = all(m); all(m) = t
    }
    Vectors(all, queries)
  }

  def vectorFrame(spark: SparkSession, v: Vectors, parts: Int): DataFrame = {
    val rows = v.vecs.indices.map(k => Row(k.toLong, v.vecs(k).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false))))
  }
}
