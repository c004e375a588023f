package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Zappy
import graft.array.{Pca, ZMatrix}
import graft.ops.{Dedup, Similarity}
import graft.zarr.Zarr

/** What the checks of one pass hand back: (name, passed, detail) per check,
  * the quality ratio behind the `recall` metric, and workload-specific
  * counters for the traced run. */
final case class Outcome(checks: Seq[(String, Boolean, String)], recall: Double,
                         counters: Map[String, Double])

/** Per-pass context: a fresh session with an empty model store, an output
  * directory the pass may write into, and the path prefix of files kept
  * for the checks `run.py` makes after the JVM exits. */
final case class PassCtx(spark: SparkSession, tr: Tracer, out: String, keep: String)

trait Workload {
  def name: String
  /** Inputs regenerated from `seed` into the empty directory `dir`. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  /** Items processed per pass (the `items_per_s` numerator). */
  def items: Double
  /** One timed pass; returns the outputs to check. */
  def pass(c: PassCtx): AnyRef
  /** Output checks, outside the timed region. */
  def check(c: PassCtx, outputs: AnyRef): Outcome
  /** Traced run only: kernel and codec micro-rates over the workload's data. */
  def microRates(spark: SparkSession): Map[String, Double] = Map.empty
  /** Corrupted copies of a pass's outputs; each must fail a check. */
  def corruptions(c: PassCtx, outputs: AnyRef): Seq[(String, AnyRef)]
}

object Workloads {
  val all: Map[String, Int => Workload] = Map(
    "scanpy_recipe" -> (p => new ScanpyRecipe(p)),
    "corpus_dedup" -> (p => new CorpusDedup(p)),
    "vector_search" -> (p => new VectorSearch(p)))

  /** `work` per second over the median of `reps` timed runs of `body`, after
    * `warm` untimed ones (JIT warm-up). */
  def rate(work: Double, warm: Int = 2, reps: Int = 5)(body: => Unit): Double = {
    for (_ <- 0 until warm) body
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    work / ts(ts.length / 2)
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
  }

  def dirFiles(path: String, pred: String => Boolean): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) (if (pred(f.getName)) 1L else 0L)
    else Option(f.listFiles).toSeq.flatten.map(x => dirFiles(x.getPath, pred)).sum
  }

  /** Zarr chunk files: every file that is not metadata. */
  def isChunk(n: String): Boolean = !n.startsWith(".") && !n.startsWith("_") && n != "zarr.json"

  /** Codec micro-rates over row-major chunk buffers: encode and decode MB/s
    * per codec, JIT-warm, median of timed repetitions. */
  def codecRates(bufs: Seq[Array[Double]]): Map[String, Double] = {
    val mb = bufs.map(_.length * 8.0).sum / 1e6
    val codecs = Seq("blosc" -> (2, "blosc", false), "zstd" -> (3, "zstd", false),
      "zlib" -> (2, "", true))
    codecs.flatMap { case (n, (fmt, comp, zl)) =>
      var enc: Seq[Array[Byte]] = Nil
      val e = rate(mb) { enc = bufs.map(b => Zarr.encodeChunk(b, "<f8", zl, fmt, comp)) }
      val d = rate(mb) {
        enc.zip(bufs).foreach { case (x, b) => Zarr.decodeChunk(x, b.length, zl, "<f8", fmt, comp) }
      }
      Seq(s"zarr.encode_mb_s.$n" -> e, s"zarr.decode_mb_s.$n" -> d)
    }.toMap + ("zarr.codec_bytes_computed" -> mb * 1e6 * 2 * 7 * codecs.size)
  }

  /** A store's first `n` chunk-row buffers, decoded by graft (for codec
    * micro-rates over the workload's own data). */
  def chunkBuffers(store: String, n: Int): Seq[Array[Double]] = {
    val m = Zarr.readMeta(store)
    (0 until n).map(ci => Paths.get(Zarr.chunkPath(store, ci, 0, m.keyEnc)))
      .filter(p => Files.exists(p)).map { p =>
        Zarr.decodeChunk(Files.readAllBytes(p), m.chunkRows * m.chunkCols, m.zlib,
          m.dtype, m.format, m.comp)
      }
  }
}

// ---------------------------------------------------------------------------

/** Sparse counts through the zappy/scanpy recipe. */
final class ScanpyRecipe(parts: Int) extends Workload {
  val name = "scanpy_recipe"
  val nCells = 6000L; val nGenes = 300; val nHvg = 30; val hvgK = 80; val pcs = 10
  val chunkRows = 1024
  private var store = ""; private var nnz = 0L; private var hvg = Set.empty[Long]
  def items: Double = nnz.toDouble

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val g = Gen.genes(seed, nGenes, nHvg)
    val cells = Gen.countCells(spark, seed, nCells, g, parts).localCheckpoint()
    cells.write.parquet(s"$dir/counts.parquet") // for the DuckDB check only
    store = s"$dir/counts.zarr"
    Zappy.to_zarr(ZMatrix(cells), store, nCells, nGenes, chunkRows, nGenes, comp = "blosc")
    nnz = cells.count()
    hvg = g.hvg.indices.filter(g.hvg(_)).map(_.toLong).toSet
    Files.writeString(Paths.get(s"$dir/truth.json"),
      s"""{"n_cells": $nCells, "k": $hvgK}""")
  }

  final case class Out(kept: Array[Long], model: Pca.Model, scoresStore: String,
                       prepped: DataFrame)

  def pass(c: PassCtx): AnyRef = {
    val (spark, tr) = (c.spark, c.tr)
    val raw = tr.frame("sources.from_zarr")(
      Zappy.from_zarr(spark, store).cells.filter(col("v") =!= 0.0))
    val norm = tr.frame("array.rowNormalize")(ZMatrix(raw).rowNormalize.cells)
    // the recipe's one materialization point: the normalized log matrix
    // feeds hvg stats, fit and transform
    val lg = ZMatrix(tr.call("array.log1p")(
      ZMatrix(norm).mapValues(v => log1p(v * 10000)).cells.localCheckpoint()))
    val prepped = ZMatrix(tr.frame("array.hvgScale")(lg.hvgScale(hvgK, nCells).cells))
    val kept = tr.call("array.hvg_genes")(
      prepped.cells.select("j").distinct().collect().map(_.getLong(0)).sorted)
    val compact = ZMatrix(tr.frame("array.selectCols")(prepped.selectCols(kept.toSeq).cells))
    val model = tr.call("array.pca_fit")(Pca.fit(compact, nCells, kept.length, pcs))
    val scores = tr.frame("array.pca_transform")(Pca.transform(compact, model).cells)
    val out = s"${c.out}/scores.zarr"
    tr.call("zarr.to_zarr")(Zappy.to_zarr(ZMatrix(scores), out, nCells, pcs, chunkRows, pcs))
    Out(kept, model, out, prepped.cells)
  }

  /** Dense scores read straight from the uncompressed v2 chunk files. */
  private def readScores(path: String): Array[Array[Double]] = {
    val out = Array.ofDim[Double](nCells.toInt, pcs)
    val nChunks = ((nCells + chunkRows - 1) / chunkRows).toInt
    for (ci <- 0 until nChunks) {
      val f = Paths.get(s"$path/$ci.0")
      if (Files.exists(f)) {
        val bb = ByteBuffer.wrap(Files.readAllBytes(f)).order(ByteOrder.LITTLE_ENDIAN)
        for (r <- 0 until chunkRows; k <- 0 until pcs) {
          val v = bb.getDouble
          val i = ci * chunkRows + r
          if (i < nCells) out(i)(k) = v
        }
      }
    }
    out
  }

  def check(c: PassCtx, o: AnyRef): Outcome = {
    val Out(kept, model, scoresStore, prepped) = o.asInstanceOf[Out]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val w = model.components
    val ortho = (for (a <- w.indices; b <- w.indices) yield {
      val d = w(a).zip(w(b)).map { case (x, y) => x * y }.sum
      math.abs(d - (if (a == b) 1.0 else 0.0))
    }).max
    checks += (("pca_orthonormal", ortho < 1e-8, s"max |WW^T - I| = $ortho"))
    val sc = readScores(scoresStore)
    val varErr = (0 until pcs).map { k =>
      val xs = sc.map(_(k)); val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      math.abs(v - model.eigenvalues(k)) / math.max(model.eigenvalues(k), 1e-9)
    }.max
    checks += (("pca_variance_eq_eigenvalue", varErr < 1e-3, s"max rel err $varErr"))
    val desc = model.eigenvalues.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    checks += (("pca_eigenvalues_descending", desc, model.eigenvalues.mkString(",")))
    checks += (("hvg_kept_k", kept.length == hvgK, s"${kept.length} genes kept"))
    // per-gene stats of graft's prepped output go to the DuckDB check
    val stats = prepped.groupBy("j").agg(count(lit(1)), sum("v"), sum(col("v") * col("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val js = stats.sortBy(_._1).map { case (j, n, s, ss) => s"[$j,$n,$s,$ss]" }.mkString(",")
    Files.writeString(Paths.get(s"${c.keep}gene_stats.json"), s"[$js]")
    val recall = hvg.count(kept.toSet.contains).toDouble / hvg.size
    Outcome(checks.toSeq, recall, Map(
      "array.cells_in" -> nnz.toDouble,
      "zarr.bytes_written" -> Workloads.dirBytes(scoresStore).toDouble,
      "zarr.chunks_written" -> Workloads.dirFiles(scoresStore, Workloads.isChunk).toDouble,
      "zarr.stored_bytes_ratio" -> Workloads.dirBytes(scoresStore) / (nCells * pcs * 8.0)))
  }

  def corruptions(c: PassCtx, o: AnyRef): Seq[(String, AnyRef)] = {
    val out = o.asInstanceOf[Out]
    val bad = s"${c.out}/scores-bad.zarr"
    org.apache.commons.io.FileUtils.copyDirectory(new File(out.scoresStore), new File(bad))
    val f = Paths.get(s"$bad/0.0")
    val bb = ByteBuffer.wrap(Files.readAllBytes(f)).order(ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(0, bb.getDouble(0) + 100.0)
    Files.write(f, bb.array())
    val w = out.model.components
    Seq(
      "pca_component_scaled" -> out.copy(model = out.model.copy(
        components = w.updated(0, w(0).map(_ * 1.01)))),
      "pca_eigenvalue_swapped" -> out.copy(model = out.model.copy(
        eigenvalues = out.model.eigenvalues.reverse)),
      "scores_cell_changed" -> out.copy(scoresStore = bad),
      "hvg_gene_dropped" -> out.copy(kept = out.kept.drop(1)))
  }

  override def microRates(spark: SparkSession): Map[String, Double] = {
    val cells = Zappy.from_zarr(spark, store).cells.filter(col("v") =!= 0.0)
      .groupBy("i").agg(collect_list(struct(col("j"), col("v"))).as("row"))
      .localCheckpoint()
    val rows = cells.count().toDouble
    val r = Workloads.rate(rows, warm = 1, reps = 3) {
      cells.agg(graft.functions.CoMomentAgg.comoments(col("row"), nGenes)).head()
    }
    // multiply-adds of the upper triangle per row: nnz_row * (nnz_row + 1) / 2
    val ops = cells.select(sum(size(col("row")).cast("double") * (size(col("row")) + 1) / 2))
      .head().getDouble(0)
    Workloads.codecRates(Workloads.chunkBuffers(store, 4)) ++ Map("functions.comoment_rows_s" -> r,
      "functions.ops_computed" -> ops, "functions.bytes_computed" -> nnz * 16.0)
  }
}

// ---------------------------------------------------------------------------

/** Zipf documents through the dedup family over a cold shingle index. */
final class CorpusDedup(parts: Int) extends Workload {
  val name = "corpus_dedup"
  val nDocs = 2000; val family = 50; val jPct = 50
  private var dir = ""; private var corpus: Gen.Corpus = _
  def items: Double = nDocs.toDouble

  def setup(spark: SparkSession, seed: Long, d: String): Unit = {
    dir = s"$d/corpus"
    corpus = Gen.corpus(seed, nDocs, family)
    Gen.corpusFrame(spark, corpus, parts).write.parquet(s"$dir/documents.parquet")
  }

  final case class Out(exact: Array[(Long, Long)], canon: Array[(Long, Long)],
                       mh: Array[(Long, Long, Double)], comps: Map[Long, Long])

  def pass(c: PassCtx): AnyRef = {
    val (spark, tr) = (c.spark, c.tr)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toks = tr.frame("dedup.corpusShingles")(Dedup.corpusShingles(spark, dir))
    val exact = tr.call("dedup.exact")(Dedup.exact(docs, "doc_id", "text")
      .filter(col("n") > 1).collect().map(r => (r.getLong(1), r.getLong(2))))
    val canon = tr.call("dedup.canonicalDedup")(Dedup.canonicalDedup(docs, "doc_id", "text")
      .filter(col("is_dup")).collect().map(r => (r.getLong(0), r.getLong(1))))
    val mh = tr.call("dedup.minhashPairs")(
      Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = jPct / 100.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    // jaccardDedup, called as its two public halves so the join and the
    // components stage get their own spans
    val pairs = tr.frame("dedup.jaccardJoinToks")(
      Dedup.jaccardJoinToks(toks, jPct).select("id1", "id2"))
    val comps = tr.call("dedup.connectedComponents")(Dedup.connectedComponents(pairs).collect())
    Out(exact, canon, mh, comps.map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  private def shingles(t: String): Set[String] = {
    val w = t.trim.split("\\s+")
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }
  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val i = x.intersect(y).size
    i.toDouble / (x.size + y.size - i)
  }
  private def canonical(t: String): String =
    t.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  def check(c: PassCtx, o: AnyRef): Outcome = {
    val out = o.asInstanceOf[Out]
    val t = corpus.texts
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    // exact: groups of identical texts, keyed by min id, sized
    val wantExact = t.indices.groupBy(k => t(k)).values.filter(_.size > 1)
      .map(g => (g.min.toLong, g.size.toLong)).toSet
    checks += (("exact_groups", out.exact.toSet == wantExact,
      s"${out.exact.length} groups, want ${wantExact.size}"))
    val wantCanon = t.indices.groupBy(k => canonical(t(k))).filter(_._1.nonEmpty).values
      .flatMap(g => g.filter(_ != g.min).map(k => (k.toLong, g.min.toLong))).toSet
    checks += (("canonical_keepers", out.canon.toSet == wantCanon,
      s"${out.canon.length} dups, want ${wantCanon.size}"))
    val th = jPct / 100.0
    val mhBad = out.mh.filter { case (a, b, j) =>
      j < th || math.abs(jaccard(t(a.toInt), t(b.toInt)) - j) > 1e-6
    }
    checks += (("minhash_pairs_verified", mhBad.isEmpty, s"${mhBad.length} wrong pairs"))
    val planted = (corpus.nearPairs ++ corpus.exactPairs)
      .filter { case (a, b) => jaccard(t(a.toInt), t(b.toInt)) >= th }
    val split = planted.filterNot { case (a, b) =>
      out.comps.get(a).exists(ca => out.comps.get(b).contains(ca))
    }
    checks += (("jaccard_components_hold_planted", split.isEmpty,
      s"${split.size} of ${planted.size} planted pairs not joined"))
    val near = corpus.nearPairs.filter { case (a, b) => jaccard(t(a.toInt), t(b.toInt)) >= th }
    val found = out.mh.map(p => (p._1, p._2)).toSet
    val recall = near.count(found.contains).toDouble / math.max(near.size, 1)
    val cnt = Map("dedup.verified_pairs" -> out.mh.length.toDouble, "dedup.dup_recall" -> recall) ++
      (if (!c.tr.on) Map.empty else {
        // traced: minhashPairs materializes its (id1, id2) candidate set
        // before verifying it; that query's output rows are the candidates
        val cand = c.tr.queriesOf("dedup.minhashPairs").flatten
          .filter(q => q.func.toLowerCase.contains("checkpoint") && q.columns == Seq("id1", "id2"))
          .map(_.rows).sum
        Map("dedup.candidate_pairs" -> cand.toDouble,
          "dedup.verify_yield" -> out.mh.length.toDouble / math.max(cand, 1L))
      })
    Outcome(checks.toSeq, recall, cnt)
  }

  def corruptions(c: PassCtx, o: AnyRef): Seq[(String, AnyRef)] = {
    val out = o.asInstanceOf[Out]
    val b = corpus.exactPairs.head._2
    Seq(
      "exact_group_dropped" -> out.copy(exact = out.exact.drop(1)),
      "canonical_keeper_changed" -> out.copy(canon = out.canon.updated(0,
        (out.canon(0)._1, out.canon(0)._2 + 1))),
      "minhash_jaccard_changed" -> out.copy(mh = out.mh.updated(0,
        (out.mh(0)._1, out.mh(0)._2, out.mh(0)._3 - 0.01))),
      "component_split" -> out.copy(comps = out.comps.updated(b, -1L)))
  }

  override def microRates(spark: SparkSession): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").localCheckpoint()
    val r = Workloads.rate(nDocs.toDouble, warm = 2, reps = 5) {
      docs.agg(sum(element_at(graft.functions.MinHashSig.minhash(col("text"), 32, 3), 1) % 7)).head()
    }
    val shingleN = corpus.texts.map(x => math.max(x.trim.split("\\s+").length - 2, 0).toDouble).sum
    Map("functions.minhash_sig_rows_s" -> r, "functions.ops_computed" -> shingleN * 32,
      "functions.bytes_computed" -> corpus.texts.map(_.length.toDouble).sum)
  }
}

// ---------------------------------------------------------------------------

/** Clustered embeddings through brute-force, IVF and the kNN graph. */
final class VectorSearch(parts: Int) extends Workload {
  val name = "vector_search"
  val n = 3000; val dim = 64; val clusters = 30; val nq = 64; val k = 10
  val nlist = 16; val nprobe = 4; val ivfQueries = 2; val graphN = 600L
  private var dir = ""; private var vs: Gen.Vectors = _
  private var exactTop: Array[Array[(Long, Double)]] = _
  def items: Double = n.toDouble
  private def queries = vs.queries.indices.map(q => (q.toLong, vs.queries(q).map(_.toDouble)))

  def setup(spark: SparkSession, seed: Long, d: String): Unit = {
    dir = s"$d/emb"
    vs = Gen.vectors(seed, n, dim, clusters, nq)
    Gen.vectorFrame(spark, vs, parts).write.parquet(s"$dir/embeddings.parquet")
    exactTop = queries.map { case (_, q) => exactTopK(q) }.toArray
  }

  /** Exact cosine top-k in plain Scala: same float→double values, same 4dp
    * HALF_UP rounding and (cos desc, id asc) order as graft documents. */
  private def exactTopK(q: Array[Double]): Array[(Long, Double)] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    vs.vecs.indices.iterator.map { id =>
      val v = vs.vecs(id)
      var n2 = 0.0; var d = 0.0; var j = 0
      while (j < v.length) { val x = v(j).toDouble; n2 += x * x; d += x * q(j); j += 1 }
      (id.toLong, BigDecimal(d / (math.sqrt(n2) * qn))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }.toArray.sortBy { case (id, c) => (-c, id) }.take(k)
  }

  final case class Out(top: Map[Long, Seq[(Long, Double)]], ivf: Seq[Set[Long]],
                       labels: Long, mutual: Long, cents: Array[Array[Double]])

  def pass(c: PassCtx): AnyRef = {
    val (spark, tr) = (c.spark, c.tr)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val top = tr.call("similarity.batchTopK")(
      Similarity.batchTopK(emb, "vec_id", "embedding", queries, k).collect())
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy { case (id, s) => (-s, id) }.toSeq
      }
    val cents = tr.call("similarity.ivfCentroids")(
      Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist))
    val ivf = (0 until ivfQueries).map { q =>
      tr.call("similarity.ivfTopK")(Similarity.ivfTopK(emb, "vec_id", "embedding",
        vs.queries(q).map(_.toDouble), k, cents, nprobe).collect().map(_.getLong(0)).toSet)
    }
    val sub = emb.filter(col("vec_id") < graphN)
    val edges = tr.frame("similarity.knnGraphIvf")(
      Similarity.knnGraphIvf(sub, "vec_id", "embedding", cents, k))
    val mut = tr.frame("similarity.mutualEdgesWeighted")(
      Similarity.mutualEdgesWeighted(edges, "cos")
        .select(col("id1"), col("id2"), (col("w") * 10000).cast("long").as("w")))
    val labels = tr.call("similarity.labelPropagate")(Similarity.labelPropagate(mut).collect())
    Out(top, ivf, labels.map(_.getLong(1)).distinct.length.toLong, labels.length.toLong, cents)
  }

  def check(c: PassCtx, o: AnyRef): Outcome = {
    val out = o.asInstanceOf[Out]
    val wrong = exactTop.indices.count(q => out.top.getOrElse(q.toLong, Nil) != exactTop(q).toSeq)
    val recalls = out.ivf.indices.map(q => exactTop(q).count(p => out.ivf(q).contains(p._1)).toDouble / k)
    val recall = recalls.sum / recalls.size
    val checks = Seq(
      ("batch_topk_exact", wrong == 0, s"$wrong of ${exactTop.length} queries differ"),
      ("ivf_topk_size", out.ivf.forall(_.size == k), out.ivf.map(_.size).mkString(",")),
      ("label_propagation_nonempty", out.labels >= 1 && out.mutual <= graphN,
        s"${out.labels} labels over ${out.mutual} nodes"))
    // traced: rows each ivfTopK query fed into its top-k, over rows stored
    val scanned = if (!c.tr.on) Map.empty[String, Double] else {
      val perQuery = c.tr.queriesOf("similarity.ivfTopK").map(_.map(_.rankedRows).sum.toDouble / n)
      Map("similarity.scan_fraction" -> perQuery.sum / math.max(perQuery.size, 1))
    }
    Outcome(checks, recall, scanned ++ Map("similarity.ivf_recall_at_10" -> recall,
      "similarity.graph_labels" -> out.labels.toDouble))
  }

  def corruptions(c: PassCtx, o: AnyRef): Seq[(String, AnyRef)] = {
    val out = o.asInstanceOf[Out]
    val q0 = out.top(0L)
    Seq(
      "topk_neighbour_swapped" -> out.copy(top = out.top.updated(0L,
        q0.updated(k - 1, (exactTop(0)(k - 1)._1 + n, q0(k - 1)._2)))),
      "topk_order_swapped" -> out.copy(top = out.top.updated(0L,
        q0.updated(0, q0(1)).updated(1, q0(0)))),
      "ivf_result_short" -> out.copy(ivf = out.ivf.updated(0, out.ivf(0).drop(1))),
      "graph_empty" -> out.copy(labels = 0L))
  }

  /** Traced run only: largest IVF list over the mean list, as graft's own
    * list assignment places the corpus. */
  def listSkew(spark: SparkSession, cents: Array[Array[Double]]): Double = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val sizes = Similarity.withIvfList(emb, "embedding", cents).groupBy("list_id").count()
      .collect().map(_.getLong(1))
    sizes.max / (n.toDouble / nlist)
  }

  override def microRates(spark: SparkSession): Map[String, Double] = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    val v = col("embedding").cast("array<double>")
    val r = Workloads.rate(n.toDouble, warm = 2, reps = 5) {
      emb.agg(sum(graft.functions.VectorExprs.dot(v, v))).head()
    }
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist)
    val a = Workloads.rate(n.toDouble, warm = 1, reps = 3) {
      Similarity.withIvfList(emb, "embedding", cents).agg(sum("list_id")).head()
    }
    Map("similarity.ivf_list_skew" -> listSkew(spark, cents),
      "functions.dot_rows_s" -> r, "similarity.ivf_assign_rows_s" -> a,
      "functions.ops_computed" -> 2.0 * n * dim, "functions.bytes_computed" -> 8.0 * n * dim)
  }
}
