package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{IvfAssign, VectorExprs}
import graft.ops.Similarity

/** The IVF list assignment expression and the top-k kernels built on it:
  * differential checks against reference forms of the same operators —
  * `greatest`/`array_sort` over (score, list) structs and the
  * window/collect_list candidate pipeline, kept only here — and
  * invariance of the kernels under physical configuration. */
class IvfKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- reference forms ----------------------------------------------------

  private def refScores(v: Column, cents: Array[Array[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, l) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((VectorExprs.dot(v, typedlit(c)) / lit(if (cn == 0.0) 1.0 else cn)).as("s"),
        lit(l).as("l"))
    }

  // greatest needs two children: a one-list model's reference is the sort
  private def refTop1(v: Column, cents: Array[Array[Double]]): Column =
    if (cents.length >= 2) greatest(refScores(v, cents): _*).getField("l")
    else element_at(refTop2(v, cents), 1)

  private def refTop2(v: Column, cents: Array[Array[Double]]): Column = {
    val sorted = array_sort(array(refScores(v, cents): _*))
    val second = if (cents.length >= 2) element_at(sorted, -2) else element_at(sorted, -1)
    array(element_at(sorted, -1).getField("l"), second.getField("l"))
  }

  /** The capped in-list cross product knnGraphIvf and nearDupPairsIvf
    * ran as windows + collect_list + explode. */
  private def refInList(emb: DataFrame, cents: Array[Array[Double]], maxList: Int): DataFrame = {
    val v = col("embedding").cast("array<double>")
    emb.select(col("vec_id").as("doc_id"), v.as("vec"), VectorExprs.norm2(v).as("nrm"),
        explode(array_distinct(refTop2(v, cents))).as("probe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe")).orderBy(col("doc_id"))))
      .filter(col("rk") <= maxList)
      .groupBy(col("probe"))
      .agg(collect_list(struct(col("doc_id"), col("vec"), col("nrm"))).as("es"))
      .filter(size(col("es")) > 1)
      .select(explode(col("es")).as("l"), col("es"))
      .select(col("l"), explode(col("es")).as("r"))
  }

  private def refKnnGraph(emb: DataFrame, cents: Array[Array[Double]], k: Int,
                          maxList: Int): DataFrame =
    refInList(emb, cents, maxList)
      .filter(col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.doc_id").as("src"), col("r.doc_id").as("dst"),
        try_divide(VectorExprs.dot(col("l.vec"), col("r.vec")),
          col("l.nrm") * col("r.nrm")).as("cos"))
      .filter(col("cos").isNotNull)
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), (round(col("cos"), 4) + 0.0).as("cos"))

  private def refNearDup(emb: DataFrame, cents: Array[Array[Double]], minCos: Double,
                         maxList: Int): DataFrame =
    refInList(emb, cents, maxList)
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        try_divide(VectorExprs.dot(col("l.vec"), col("r.vec")),
          col("l.nrm") * col("r.nrm")).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy(col("id1"), col("id2")).agg(round(max(col("cos")), 4).as("cos"))

  // ---- helpers -----------------------------------------------------------

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenModes = Seq(
    Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def clustered(seed: Long, n: Int, dim: Int, clusters: Int, noise: Double): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(clusters, dim)(rnd.nextGaussian() * 5)
    (0 until n).map { id =>
      (id.toLong, centers(id % clusters).map(x => (x + rnd.nextGaussian() * noise).toFloat))
    }.toDF("vec_id", "embedding")
  }

  // ---- IvfAssign ---------------------------------------------------------

  test("IvfAssign top-1/top-2 equal the greatest/array_sort struct order on edge rows") {
    // duplicated centroids (ties → larger list), an all-zero centroid
    // (safe norm), and rows whose scores are null (null vector, wrong
    // dimension) or NaN
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(1.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0), Array(-1.0, 0.5, 0.25))
    val rnd = new scala.util.Random(5L)
    val regular = (0 until 60).map(i => (i.toLong, Array.fill(3)(rnd.nextGaussian().toFloat)))
    val edge = Seq(
      (100L, Array(2.0f, 0.0f, 0.0f)),        // exact tie between lists 0 and 2
      (101L, Array(0.0f, 0.0f, 0.0f)),        // zero vector: every score 0
      (102L, Array(Float.NaN, 1.0f, 0.0f)),   // NaN component
      (103L, null.asInstanceOf[Array[Float]]),
      (104L, Array(1.0f, 2.0f)),              // wrong dimension
      (105L, Array(-0.0f, 0.0f, -1.0f)))      // -0.0 vs 0.0 scores
    val emb = (regular ++ edge).toDF("vec_id", "embedding")
    val v = col("embedding").cast("array<double>")
    val vecs = emb.select(col("vec_id"), v).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1)).map(_.toArray).orNull).toMap
    for (cs <- Seq(cents, cents.take(1), cents.take(2)); mode <- codegenModes) withConf(mode: _*) {
      val got = emb.select(col("vec_id"),
          VectorExprs.ivfAssign(col("embedding"), cs).as("top1"),
          VectorExprs.ivfAssign(col("embedding"), cs, top2 = true).as("top2"),
          refTop1(v, cs).as("ref1"), refTop2(v, cs).as("ref2"))
        .collect()
      assert(got.length == emb.count())
      got.foreach { r =>
        assert(r.getInt(1) == r.getInt(3), s"top-1 of ${r.getLong(0)} (${cs.length} lists, $mode)")
        assert(r.getSeq[Int](2) == r.getSeq[Int](4), s"top-2 of ${r.getLong(0)} (${cs.length} lists, $mode)")
      }
      // the driver routine the Lloyd and residual steps call agrees too
      val assign = IvfAssign.lists(cs)
      got.filter(r => vecs(r.getLong(0)) != null).foreach { r =>
        assert(assign(vecs(r.getLong(0))) == r.getInt(3), s"driver assignment of ${r.getLong(0)}")
      }
    }
  }

  test("ivfCentroids on the sf0.01 embeddings keeps its bit-exact model") {
    val sf001 = new java.io.File(new java.io.File(TestSpark.sf).getParentFile, "sf0.01").getPath
    val emb = Tables.embeddings(spark, sf001)
    def digest(c: Array[Array[Double]]): String = java.security.MessageDigest.getInstance("MD5")
      .digest(c.flatten.map(java.lang.Double.doubleToRawLongBits).mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // digests of the models the struct-expression training produced
    assert(digest(Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)) ==
      "05be0a07f3a18a032faa2886f4016dfa")
    assert(digest(Similarity.ivfCentroids(emb, "vec_id", "embedding", 8, iters = 3)) ==
      "ee1b8e23209646bac05c24d44a3aed2e")
  }

  // ---- the heap kernel ---------------------------------------------------

  test("batchTopK, hardNegatives and ivfTopK score null, zero-norm, wrong-dimension and NaN rows as bruteForceTopK does") {
    val base = clustered(3L, 40, 4, 4, 0.3)
    // dropped: a null vector, a zero vector, a short vector; kept with a
    // NaN cosine (which ranks first, as Spark orders doubles): a NaN entry
    val bad = Seq((900L, null.asInstanceOf[Array[Float]]), (901L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (902L, Array(1.0f, 0.5f, 0.25f)), (903L, Array(Float.NaN, 1.0f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val emb = base.unionByName(bad).withColumn("label", (col("vec_id") % 3).cast("string"))
    val queries = (0 until 5).map(i => (i.toLong, Array(1.0, -0.5, 0.25, 2.0).map(_ + i)))
    // (cos desc with NaN first, id) — the order Spark ranks in
    def ranked(rs: Seq[(Long, Double)]): String =
      rs.sortBy { case (id, c) => (if (c.isNaN) Double.NegativeInfinity else -c, id) }.toString
    def brute(df: DataFrame, q: Array[Double]): String =
      ranked(Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    def byQuery(df: DataFrame): Map[Long, String] = df.collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> ranked(rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq) }
    val got = byQuery(Similarity.batchTopK(emb, "vec_id", "embedding", queries, 6))
    queries.foreach { case (qid, q) => assert(got(qid) == brute(emb, q), s"batchTopK query $qid") }
    val anchors = queries.map { case (qid, q) => (qid, (qid % 3).toString, q) }
    val neg = byQuery(Similarity.hardNegatives(emb, "vec_id", "embedding", "label", anchors, 6))
    anchors.foreach { case (qid, lab, q) =>
      assert(neg(qid) == brute(emb.filter(col("label") =!= lab), q), s"hardNegatives anchor $qid")
    }
    // ivfTopK over every list is bruteForceTopK over the corpus
    val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", 4)
    queries.foreach { case (_, q) =>
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 6, cents, nprobe = 4)
      assert(ivf.schema.map(_.name) == Seq("vec_id", "cos"))
      assert(ivf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.toString == brute(emb, q))
    }
  }

  test("ivfTopK keeps its id column's name and type") {
    val emb = clustered(9L, 60, 4, 3, 0.2)
      .select(col("vec_id").cast("int").as("node"), col("embedding"))
    val cents = Similarity.ivfCentroids(emb, "node", "embedding", 3)
    val q = Array(1.0, 2.0, 0.5, -1.0)
    // probing every list is the brute-force scan
    val got = Similarity.ivfTopK(emb, "node", "embedding", q, 5, cents, nprobe = 3)
    assert(got.schema("node").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.collect().toSeq.map(_.toString) ==
      Similarity.bruteForceTopK(emb, "node", "embedding", q, 5).collect().toSeq.map(_.toString))
  }

  // ---- invariance --------------------------------------------------------

  test("ivfTopK, batchTopK, knnGraphIvf and nearDupPairsIvf are invariant to shuffle partitions and input partitioning") {
    val emb = clustered(17L, 240, 8, 6, 0.6)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 6)
    val q = Array(0.5, -1.0, 2.0, 0.0, 1.0, 1.0, -0.5, 0.25)
    val batch = emb.filter(col("vec_id") < 12).select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def run(df: DataFrame): Seq[Seq[String]] = Seq(
      rows(Similarity.ivfTopK(df, "vec_id", "embedding", q, 10, cents, nprobe = 2)),
      rows(Similarity.batchTopK(df, "vec_id", "embedding", batch, 7, excludeSelf = true)),
      rows(Similarity.knnGraphIvf(df, "vec_id", "embedding", cents, 5)),
      rows(Similarity.nearDupPairsIvf(df, "vec_id", "embedding", cents, 0.9)))
    val expect = run(emb)
    assert(expect.forall(_.nonEmpty))
    for (parts <- Seq("1", "7"); input <- Seq(emb.repartition(1), emb.repartition(5)))
      withConf("spark.sql.shuffle.partitions" -> parts) {
        assert(run(input) == expect, s"shuffle.partitions=$parts, ${input.rdd.getNumPartitions} input partitions")
      }
  }

  test("knnGraphIvf and nearDupPairsIvf equal the window/collect_list pipeline, hot list capped") {
    // one dense cluster (a hot list far over maxList = 5) plus a spread
    // background, and a duplicated centroid so probes tie
    val rnd = new scala.util.Random(29L)
    val hot = (0 until 40).map(id => (id.toLong, Array.fill(6)(1.0f + rnd.nextFloat() * 0.01f)))
    val spread = (40 until 120).map(id => (id.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val emb = (hot ++ spread).toDF("vec_id", "embedding")
    val trained = Similarity.ivfCentroids(emb, "vec_id", "embedding", 5)
    val cents = trained :+ trained(0)
    for (maxList <- Seq(5, 1000)) {
      assert(rows(Similarity.knnGraphIvf(emb, "vec_id", "embedding", cents, 4, maxList)) ==
        rows(refKnnGraph(emb, cents, 4, maxList)), s"knnGraphIvf maxList=$maxList")
      assert(rows(Similarity.nearDupPairsIvf(emb, "vec_id", "embedding", cents, 0.5, maxList)) ==
        rows(refNearDup(emb, cents, 0.5, maxList)), s"nearDupPairsIvf maxList=$maxList")
    }
    val capped = Similarity.knnGraphIvf(emb, "vec_id", "embedding", cents, 4, 5)
    assert(capped.filter(col("src") < 40).select("src").distinct().count() <= 10,
      "the hot cluster's lists must each admit only maxList members")
  }

  // ---- hybrid pools stay out of the durable store ------------------------

  test("hybrid BM25 pools are session-cached, never committed to the model store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_models_pools").toFile
    try withConf("spark.graft.models.dir" -> dir.getPath) {
      val q = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      // terms no other suite queries, so no earlier in-session build can mask a write
      val got = Similarity.hybridBm25TopKCached(spark, TestSpark.sf, Seq("pool", "session", "tier"), q, 10)
      assert(got.collect().nonEmpty)
      val committed = Option(dir.list()).toSeq.flatten
      assert(!committed.exists(n => n.startsWith("bm25KwPool") || n.startsWith("vecPool")),
        committed.mkString(", "))
    } finally graft.zarr.Zarr.delete(dir.getPath, recursive = true)
  }
}
