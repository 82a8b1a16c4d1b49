package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** What a workload runs against: the session, the client that times
  * every call, the generated inputs and the run's sizes. */
final class Ctx(val spark: SparkSession, val log: Log, val client: Client,
    val data: String, val out: String, val traced: Boolean, params: java.util.Properties) {
  def int(key: String): Int = params.getProperty(key).toInt
}

object Workloads {
  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => bytesUnder(g.getPath)).sum
    else f.length()
  }

  private def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.asJava)

  // ------------------------------------------------------------ registry

  /** One query from each of the Registry's ten section banners, each with
    * an exact DuckDB oracle; q_spann_serve and q_ta_batch fill build-once
    * memos on their cold call. */
  val sections: Seq[(String, Seq[String])] = Seq(
    "vector_search_core" -> Seq("q_flat_knn"),
    "ivf_pq_ann" -> Seq("q_spann_serve"),
    "sharding" -> Seq("q_shard_even"),
    "scalar_functions" -> Seq("q_fingerprint"),
    "cache_semantics" -> Seq("q_cache_lookup"),
    "ops_analytics" -> Seq("q_event_percentiles"),
    "vector_stats" -> Seq("q_vector_stats"),
    "cosine_similarity" -> Seq("q_cosine_knn"),
    "text_ops" -> Seq("q_ta_batch"),
    "relational" -> Seq("q_join_revenue"))

  def registry(c: Ctx): Unit = {
    val warm = c.int("warm_calls")
    val names = sections.flatMap(_._2)
    c.log.emit("ev" -> "plan", "calls" -> names.size * (1 + warm))
    val s = c.spark
    c.client.phase("registry")
    // every call collects its (small) result, which fully evaluates each
    // row; the last call's rows are kept for the oracle check
    val results = for ((section, qs) <- sections; q <- qs) yield {
      q -> (0 to warm).flatMap { _ =>
        c.client.call(s"queries.$q", section) {
          val df = graft.SparkEntry.queries(q)(s, c.data)
          (df.collect(), df.schema)
        }
      }.lastOption
    }
    c.client.untimed {
      results.foreach { case (q, last) =>
        last.foreach { case (rows, schema) =>
          s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
            .parquet(s"${c.out}/registry/$q")
        }
      }
    }
    writeLines(s"${c.out}/registry/oracle.tsv", names.flatMap(q =>
      graft.SparkEntry.oracleSql.get(q).map(sql => q + "\t" + sql.replace('\n', ' '))))
  }

  // ------------------------------------------------------------ vectors

  private val querySchema = StructType(Seq(
    StructField("query_id", LongType), StructField("qvec", ArrayType(FloatType))))

  def vectors(c: Ctx): Unit = {
    val s = c.spark
    val k = 10
    val (nlist, nprobe) = (c.int("nlist"), c.int("nprobe"))
    val (serveQ, batchQ, exactQ) = (c.int("serve_queries"), c.int("batch_queries"), c.int("exact_queries"))
    val ingestRows = c.int("ingest_rows")
    val (pqM, pqSub, pqK) = (8, 8, 16)
    val embPath = s"${c.data}/embeddings.parquet"
    val emb = s.read.parquet(embPath)
    val qrows = c.client.untimed(s.read.parquet(s"${c.data}/queries.parquet")
      .orderBy("query_id").collect())
    def queries(from: Int, n: Int): DataFrame =
      s.createDataFrame(qrows.slice(from, from + n).toSeq.asJava, querySchema)
    val dir = (f: String) => s"${c.out}/idx_$f"

    var pq: Option[(Array[IvfIndex.Centroid], PqIndex.Codebooks)] = None
    val builds: Seq[(String, String, () => Unit)] = Seq(
      ("ivf", "IvfIndex.writeIndex", () => {
        val cents = IvfIndex.seedCentroids(emb, nlist)
        IvfIndex.writeIndex(IvfIndex.assign(emb, cents), cents, dir("ivf"))
      }),
      ("spann", "IvfIndex.spann_writeIndex", () => {
        val cents = IvfIndex.seedCentroids(emb, nlist)
        IvfIndex.writeIndex(IvfIndex.assignMulti(emb, cents, r = 2), cents, dir("spann"))
      }),
      ("ivfpq", "IvfPqIndex.writeIndex", () => {
        val (cents, cb, codes) = IvfPqIndex.buildSeeded(emb, nlist, pqM, pqSub, pqK)
        IvfPqIndex.writeIndex(codes, dir("ivfpq"))
        pq = Some((cents, cb))
      }),
      ("hnsw", "HnswIndex.writeIndex", () => HnswIndex.writeIndex(emb, dir("hnsw"))),
      ("vamana", "VamanaIndex.writeIndex", () => VamanaIndex.writeIndex(emb, dir("vamana"))))

    val serves: Seq[(String, String, DataFrame => Array[Row])] = Seq(
      ("ivf", "IvfIndex.searchPruned", q => {
        val (cents, a) = IvfIndex.loadIndex(s, dir("ivf"))
        IvfIndex.searchPruned(q, cents, a, nprobe, k).collect()
      }),
      ("spann", "IvfIndex.spann_searchMultiPruned", q => {
        val (cents, a) = IvfIndex.loadIndex(s, dir("spann"))
        IvfIndex.searchMultiPruned(q, cents, a, nprobe, k).collect()
      }),
      ("ivfpq", "IvfPqIndex.searchPruned", q => {
        val (cents, cb) = pq.get
        IvfPqIndex.searchPruned(q, cents, cb, s.read.parquet(dir("ivfpq")), nprobe,
          pqM, pqSub, k).collect()
      }),
      // efSearch 16, not the default 64: at ~500 vectors per shard the
      // default beam is close to exhaustive and would hide a weaker graph
      // (recall still reads 1.0 here)
      ("hnsw", "HnswIndex.searchPersisted", q =>
        HnswIndex.searchPersisted(q, dir("hnsw"), k, efSearch = 16).collect()),
      ("vamana", "VamanaIndex.searchPersisted", q => VamanaIndex.searchPersisted(q, dir("vamana"), k).collect()),
      ("exact", "KnnSearch.topK", q => KnnSearch.topK(q, emb, k, vecCol = "embedding").collect()))
    val serveOf = serves.map(x => x._1 -> x).toMap

    val rounds = c.int("vec_rounds")
    c.log.emit("ev" -> "plan", "calls" -> (builds.size + (rounds + 1) * serves.size + 3 * 2))

    c.client.phase("build")
    builds.foreach { case (fam, name, build) => c.client.call(name, fam)(build()) }
    val inputBytes = new File(embPath).length.toDouble
    builds.foreach { case (fam, _, _) =>
      c.log.fact(s"$fam.index_bytes_per_input_byte", bytesUnder(dir(fam)) / inputBytes)
    }

    // closed loop, one client: an 8-query serve per call, round-robin over
    // the families
    c.client.phase("serve")
    def serveOnce(fam: String): Unit = {
      val (_, name, serve) = serveOf(fam)
      c.client.call(name, fam, items = serveQ)(serve(queries(0, serveQ)))
    }
    for (_ <- 0 until rounds; (fam, _, _) <- serves) serveOnce(fam)

    // one large batch per family; its rows feed recall and the exact check
    c.client.phase("batch")
    serves.foreach { case (fam, name, serve) =>
      val n = if (fam == "exact") exactQ else batchQ
      c.client.call(name, fam, items = n)(serve(queries(0, n))).foreach { rows =>
        writeLines(s"${c.out}/batch_$fam.tsv", rows.map(r => Seq("query_id", "vec_id", "dist")
          .map(f => r.getAs[Any](f).toString).mkString("\t")).toSeq)
      }
    }

    // writes beside reads: append a micro-batch, then the same closed-loop
    // serve
    c.client.phase("ingest")
    val batch = s.read.parquet(s"${c.data}/ingest.parquet").select("vec_id", "embedding")
    val adds: Seq[(String, String, () => Unit)] = Seq(
      ("ivf", "IvfIndex.addToIndex",
        () => IvfIndex.addToIndex(batch, IvfIndex.loadIndex(s, dir("ivf"))._1, dir("ivf"))),
      ("hnsw", "HnswIndex.addToIndex", () => HnswIndex.addToIndex(batch, dir("hnsw"))),
      ("vamana", "VamanaIndex.addToIndex", () => VamanaIndex.addToIndex(batch, dir("vamana"))))
    for ((fam, name, add) <- adds) {
      c.client.call(name, fam, items = ingestRows)(add())
      serveOnce(fam)
    }
  }

  // ------------------------------------------------------------ docs

  private val termSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("term", StringType)))

  /** (doc_id, score) per query: scores at the 6 decimals TA reports,
    * ordered by (score desc, doc_id) so equal scores compare in one order. */
  private def topLists(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.map(r => (r.getAs[Number]("query_id").longValue, r.getAs[Number]("doc_id").longValue,
        BigDecimal(r.getAs[Number]("score").doubleValue)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(x => (x._2, x._3)).sortBy(x => (-x._2, x._1)).toSeq }

  /** Same ranked lists, except that docs tied on the last score may
    * differ (which of them make the cut-off is not part of the contract). */
  private def sameTopK(a: Map[Long, Seq[(Long, Double)]], b: Map[Long, Seq[(Long, Double)]]): Boolean =
    a.keySet == b.keySet && a.forall { case (q, xs) =>
      val ys = b(q)
      val last = xs.lastOption.map(_._2)
      xs.size == ys.size && xs.map(_._2) == ys.map(_._2) &&
        xs.filterNot(x => last.contains(x._2)) == ys.filterNot(y => last.contains(y._2))
    }

  def docs(c: Ctx): Unit = {
    val s = c.spark
    val k = 10
    val docsPath = s"${c.data}/documents.parquet"
    val docs = s.read.parquet(docsPath)
    val idx = s"${c.out}/ta_idx"
    def terms(file: String): Array[Row] =
      c.client.untimed(s.read.parquet(s"${c.data}/$file").collect())
    val single = terms("single_terms.parquet").groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val batch = terms("batch_terms.parquet")
    def termDf(rows: Seq[Row]): DataFrame = s.createDataFrame(rows.asJava, termSchema)
    val rounds = c.int("doc_rounds")
    c.log.emit("ev" -> "plan", "calls" -> (1 + 2 * rounds + 2 + 2))

    c.client.phase("build")
    c.client.call("SparseTopK.writeIndex") {
      SparseTopK.writeIndex(SparseTopK.buildImpactIndex(docs), idx)
    }
    c.log.fact("SparseTopK.index_bytes_per_input_byte",
      bytesUnder(idx) / new File(docsPath).length.toDouble)

    val ta = (q: DataFrame) => SparseTopK.taTopKBatchPersisted(s, idx, q, k).collect()
    val bm25 = (q: DataFrame) => Bm25.rankBatchFromIndex(s.read.parquet(idx), q, k).collect()
    // TA must return exhaustive BM25's ranked lists for the same request
    var mismatched = Seq.empty[String]
    def compare(what: String, a: Option[Array[Row]], b: Option[Array[Row]]): Unit =
      for (x <- a; y <- b if !sameTopK(topLists(x), topLists(y))) mismatched :+= what

    // closed loop, one client: single 3-term queries, TA then BM25
    c.client.phase("serve")
    for (r <- 0 until rounds) {
      val (_, rows) = single(r % single.size)
      val q = termDf(rows.toSeq)
      compare(s"single$r", c.client.call("SparseTopK.taTopKBatchPersisted", "ta")(ta(q)),
        c.client.call("Bm25.rankBatchFromIndex", "bm25")(bm25(q)))
    }

    c.client.phase("batch")
    val nq = batch.map(_.getLong(0)).distinct.length
    val bq = termDf(batch.toSeq)
    compare("batch", c.client.call("SparseTopK.taTopKBatchPersisted", "ta", items = nq)(ta(bq)),
      c.client.call("Bm25.rankBatchFromIndex", "bm25", items = nq)(bm25(bq)))
    c.log.check("docs.ta_equals_bm25", mismatched.isEmpty, mismatched.mkString(","))

    c.client.phase("dedup")
    val cands = s"${c.out}/dedup_cands"
    val dups = s"${c.out}/dedup_pairs"
    c.client.call("Dedup.minhashFastCandidatesScored", items = c.int("doc_rows")) {
      Dedup.minhashFastCandidatesScored(docs, shingleN = 3, numHashes = 16, bands = 4)
        .write.mode("overwrite").parquet(cands)
    }
    c.client.call("Dedup.verifyScoredCandidates", items = c.int("doc_rows")) {
      Dedup.verifyScoredCandidates(docs, s.read.parquet(cands), shingleN = 3, threshold = 0.8)
        .write.mode("overwrite").parquet(dups)
    }
    c.client.untimed {
      if (new File(cands).exists) c.log.fact("Dedup.candidate_pairs", s.read.parquet(cands).count().toDouble)
      if (new File(dups).exists) c.log.fact("Dedup.dup_pairs", s.read.parquet(dups).count().toDouble)
      if (c.traced) {
        val (_, stats) = SparseTopK.taTopKBatchWithStats(s.read.parquet(idx), bq, k)
        val read = stats.values.map(_.postingsRead).sum.toDouble
        val all = stats.values.map(_.queryPostings).sum.toDouble
        c.log.fact("SparseTopK.postings_read_frac", if (all > 0) read / all else 0.0)
      }
    }
  }
}
