package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CacheScope
import graft.operators.{Dedup, Similarity, TextIndex}

/** `index`: BM25, MinHash-dedup and IMI-PQ indexes over a seeded corpus,
  * driven by one closed-loop client. `index_append` appends a batch of new
  * documents and their vectors to all three indexes and runs each
  * `*MaybeCompact`; `index_search` serves a batch of queries through all
  * three. The loop alternates the two.
  *
  * Checks: a document's own text ranks it first in BM25; every planted
  * near-duplicate in a dedup probe batch is reported against its source;
  * ANN results are k distinct held vectors per query in rank order. */
final class IndexWorkload(spark: SparkSession, rec: Recorder, seed: Long)
    extends Workload {
  import IndexWorkload._
  import spark.implicits._

  val cycle = Seq("index_search", "index_append")
  val writeOp = "index_append"
  // each op costs 1.5-3 s, so one cycle would leave one sample of each
  override val minCycles = 2

  private var rng: java.util.Random = _
  private var vocab: Zipf = _
  private var bm25Path, dedupPath, annPath: String = _
  private val docs = mutable.ArrayBuffer[Array[String]]() // doc id = index
  private val vecs = mutable.ArrayBuffer[Array[Float]]()
  // docs in a planted near-duplicate pair never serve as BM25 queries
  private val paired = mutable.HashSet[Int]()
  private var probeId = 0L
  private var compactions = 0

  private def randomDoc(): Array[String] =
    Array.fill(DocTokens)("w" + vocab.rank(rng))

  private def nearDup(src: Array[String]): Array[String] = {
    val d = src.clone()
    (0 until DupEdits).foreach(_ => d(rng.nextInt(d.length)) = "w" + vocab.rank(rng))
    d
  }

  /** A short query: the doc's rarest distinct words (vocabulary ranks
    * follow the Zipf order, so a higher word number is rarer). */
  private def queryText(d: Int): String =
    docs(d).distinct.sortBy(w => -w.tail.toInt).take(QueryTerms).mkString(" ")

  private def randomVec(): Array[Float] = {
    val c = rng.nextInt(Clusters)
    Array.tabulate(Dim)(i => ((c * 7 + i) % 5 - 2).toFloat + rng.nextGaussian().toFloat * 0.3f)
  }

  /** Append `count` generated docs (every 20th a near-dup of a held doc). */
  private def generate(count: Int): Range = {
    val first = docs.size
    (0 until count).foreach { i =>
      val id = first + i
      if (id % 20 == 19 && id > 0) {
        val src = rng.nextInt(id)
        docs += nearDup(docs(src))
        paired += src; paired += id
      } else docs += randomDoc()
      vecs += randomVec()
    }
    first until first + count
  }

  private def docsDF(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, docs(i).mkString(" "))).toDF("doc_id", "text")

  private def vecsDF(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")

  def setup(dir: String): Unit = {
    rng = new java.util.Random(seed)
    vocab = new Zipf(VocabSize, 1.0, rng)
    docs.clear(); vecs.clear(); paired.clear()
    probeId = 1L << 40; compactions = 0
    bm25Path = s"$dir/bm25"; dedupPath = s"$dir/dedup"; annPath = s"$dir/ann"
    val ids = generate(CorpusDocs)
    val d = docsDF(ids)
    TextIndex.bm25IndexWrite(d, "doc_id", "text", bm25Path)
    Dedup.dedupIndexWrite(Dedup.shingles(d, "doc_id", "text", 3), dedupPath, K, R)
    Similarity.imiPqIndexWrite(vecsDF(ids), "vec_id", "embedding", annPath,
      groups = 4, groupSize = GroupSize, iters = 2, dim = Dim, subs = 8, ksub = 4)
    CacheScope.release(spark)
  }

  private def append(): Unit = {
    val ids = generate(AppendDocs)
    rec.op("index_append") {
      val d = docsDF(ids)
      rec.call("TextIndex.bm25IndexAppend")(
        TextIndex.bm25IndexAppend(spark, d, "doc_id", "text", bm25Path))
      rec.call("Dedup.dedupIndexAppend")(
        Dedup.dedupIndexAppend(Dedup.shingles(d, "doc_id", "text", 3), dedupPath, K, R))
      rec.call("Similarity.imiPqIndexAppend")(
        Similarity.imiPqIndexAppend(spark, vecsDF(ids), "vec_id", "embedding", annPath,
          groupSize = GroupSize, dim = Dim))
      val c = Seq(
        rec.call("TextIndex.bm25IndexMaybeCompact")(
          TextIndex.bm25IndexMaybeCompact(spark, bm25Path, MaxFilesPerLeaf)),
        rec.call("Dedup.dedupIndexMaybeCompact")(
          Dedup.dedupIndexMaybeCompact(spark, dedupPath, MaxFilesPerLeaf)),
        rec.call("Similarity.indexMaybeCompact")(
          Similarity.indexMaybeCompact(spark, annPath, MaxFilesPerLeaf)))
      rec.call("CacheScope.release")(CacheScope.release(spark))
      c.count(identity)
    }(c => { compactions += c; None })
  }

  private def search(): Unit = {
    val held = docs.size
    // BM25: the rarest terms of held docs outside any planted pair
    val qDocs = Iterator.continually(rng.nextInt(held)).filterNot(paired.contains)
      .take(SearchBatch).toSeq
    // ANN: perturbed copies of held vectors, probe ids outside the corpus
    val annIds = (0 until SearchBatch).map(i => probeId + i)
    val annVecs = Seq.fill(SearchBatch)(vecs(rng.nextInt(held)).map(
      _ + rng.nextGaussian().toFloat * 0.05f))
    // dedup: planted near-dups of held docs, plus as many fresh docs
    val dupSrc = Seq.fill(SearchBatch / 2)(rng.nextInt(held))
    val probeDocs = dupSrc.map(i => nearDup(docs(i))) ++ Seq.fill(SearchBatch / 2)(randomDoc())
    val probeIds = probeDocs.indices.map(i => probeId + (1L << 21) + i)
    probeId += 1L << 22
    rec.op("index_search") {
      val q = qDocs.zipWithIndex.map { case (d, i) => (i.toLong, queryText(d)) }
        .toDF("query_id", "qtext")
      val bm = rec.call("TextIndex.bm25IndexSearch")(
        TextIndex.bm25IndexSearch(spark, q, "query_id", "qtext", bm25Path, k = 5)
          .collect().toSeq)
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
      val probes = annIds.zip(annVecs).toDF("vec_id", "embedding")
      val ann = rec.call("Similarity.imiPqIndexSearch")(
        Similarity.imiPqIndexSearch(spark, probes, "vec_id", "embedding", annPath,
          k = 5, groupSize = GroupSize, nprobeGroups = 2, nprobeCells = 4, dim = Dim)
          .collect().toSeq)
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")))
      val incoming = probeIds.zip(probeDocs.map(_.mkString(" "))).toDF("doc_id", "text")
      val dd = rec.call("Dedup.dedupIndexCheck")(
        Dedup.dedupIndexCheck(spark, Dedup.shingles(incoming, "doc_id", "text", 3),
          dedupPath, K, R, threshold = 0.5).collect().toSeq)
        .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Double]("jac")))
      rec.call("CacheScope.release")(CacheScope.release(spark))
      (bm, ann, dd)
    } { case (bm, ann, dd) =>
      val top = bm.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
      val bmBad = qDocs.indices.filter(i => !top.get(i.toLong).contains(qDocs(i).toLong))
      val annBad = ann.groupBy(_._1).filter { case (_, rs) =>
        rs.size > 5 || rs.map(_._2).distinct.size != rs.size ||
          rs.exists(r => r._2 < 0 || r._2 >= held)
      }
      val found = dd.map(r => (r._1, r._2)).toSet
      val missed = dupSrc.indices.filterNot(i => found.contains((probeIds(i), dupSrc(i).toLong)))
      if (bmBad.nonEmpty) Some(s"BM25: ${bmBad.size} queries do not rank their own doc first")
      else if (annBad.nonEmpty || ann.map(_._1).distinct.size != SearchBatch)
        Some(s"ANN: malformed results for ${annBad.size} queries")
      else if (missed.nonEmpty) Some(s"dedup: ${missed.size} planted near-duplicates missed")
      else if (dd.exists(_._3 < 0.5)) Some("dedup: pair below threshold reported")
      else None
    }
  }

  private[graftbench] def issue(op: String): Unit =
    if (op == "index_append") append() else search()

  override def layerDetail(traced: Seq[OpSample], probe: SparkProbe): Map[String, Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def maxFiles(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      val perDir = mutable.Map[String, Long]().withDefaultValue(0L)
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) perDir(f.getParent.toString) += 1
      }
      perDir.values.maxOption.getOrElse(0L)
    }
    Map(
      "index.fragments_per_leaf_max" -> Seq(bm25Path, dedupPath, annPath).map(maxFiles).max,
      "index.compactions" -> compactions,
      "index.docs" -> docs.size)
  }
}

object IndexWorkload {
  val CorpusDocs = 400
  val AppendDocs = 20
  val SearchBatch = 8
  val QueryTerms = 8
  val DocTokens = 120
  val VocabSize = 5000
  val DupEdits = 2
  val Dim = 64
  val Clusters = 16
  val GroupSize = 4
  val K = 64
  val R = 4
  // every append compacts: with the default threshold (16 files per leaf)
  // each table compacts every few appends, and searches slow by up to 40%
  // as fragments pile up, a sawtooth as long as a measured phase, so a
  // run's medians moved with how many ops it fitted in
  val MaxFilesPerLeaf = 1
}
