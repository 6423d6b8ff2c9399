package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions
import graft.llm.{Dedup, Pq, Search, Similarity}

/** `llm_corpus`: the LLM-pipeline layers, index writes and index reads.
  *
  * A pass builds (text profile scan, exact dedup, MinHash and SimHash pairs,
  * connected components, BM25, IVF and IVF-PQ indexes) and then serves a
  * closed loop of seeded query batches, one client, through the three
  * persisted indexes. The op whose latency is sampled is one served batch;
  * the build ops count toward the pass time only.
  */
final class LlmCorpus extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings")
  val passSeconds = 7.5
  private val RequestsPerPass = 5
  private val BatchSize = 8
  private val K = 10
  private val NCentroids = 8
  private val KmeansIters = 2
  private val NProbe = 4
  private val QueryIdBase = 1000000000L

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var dir = ""
  private var codebooks: Pq.Codebooks = _
  private var centroids: Array[Array[Double]] = _
  private var vectors: Array[Array[Double]] = _
  private var texts: Array[Array[String]] = _

  override def prepare(ctx: Ctx): Unit = {
    val s = ctx.spark
    docs = s.read.parquet(ctx.table("documents")).select("doc_id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    emb = s.read.parquet(ctx.table("embeddings"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
      .persist(StorageLevel.MEMORY_ONLY)
    texts = docs.select("text").collect().map(_.getString(0).split(" "))
    vectors = emb.select("embedding").collect().map(_.getSeq[Double](0).toArray)
  }

  /** Seeded request `i` of pass `p`: (kind, query batch). */
  private def request(ctx: Ctx, p: Int, i: Int): (String, DataFrame) = {
    val rnd = new scala.util.Random(ctx.seed * 7919L + p * 1009L + i)
    val s = ctx.spark
    import s.implicits._
    val ids = (0 until BatchSize).map(j => QueryIdBase + i * BatchSize + j)
    // one BM25 batch, then vector batches alternating IVF and IVF-PQ
    i match {
      case 0 =>
        // three words of a random document: common and rare terms mixed as
        // in the corpus
        ("search", ids.map { id =>
          val words = texts(rnd.nextInt(texts.length))
          (id, Seq.fill(3)(words(rnd.nextInt(words.length))).mkString(" "))
        }.toDF("query_id", "query_text"))
      case _ =>
        // a query is a corpus vector with seeded noise, so its neighbours exist
        val q = ids.map { id =>
          (id, vectors(rnd.nextInt(vectors.length)).map(_ + 0.05 * rnd.nextGaussian()).toSeq)
        }.toDF("vec_id", "embedding")
        (if (i % 2 == 1) "ivf" else "pq", q)
    }
  }

  private def serve(ctx: Ctx, kind: String, q: DataFrame): DataFrame = kind match {
    case "search" => Search.querySearchIndex(ctx.spark, s"$dir/search", q, K)
    case "ivf" => Similarity.queryIvfIndex(ctx.spark, s"$dir/ivf", q, "embedding", "vec_id", K, NProbe)
    case "pq" => Pq.ivfPqTopK(q, ctx.spark.read.parquet(s"$dir/ivfpq"), "embedding", "vec_id",
      codebooks, centroids, K, NProbe)
  }

  private val layerOf = Map("search" -> "llm.search", "ivf" -> "llm.similarity", "pq" -> "llm.pq")

  def pass(ctx: Ctx, p: Int): Unit = {
    val t = ctx.tracer
    dir = s"${ctx.work}/llm/p$p"
    t.op("profile", sampled = false) {
      t.query("functions", "TextFunctions.profile")(docs.select(
        TextFunctions.profile(col("text")).as("profile"),
        TextFunctions.qualityScore(col("text")).as("quality")))
    }
    t.op("exact_dedup", sampled = false)(t.query("llm.dedup", "Dedup.exact")(Dedup.exact(docs, "text", "doc_id")))
    t.op("minhash_pairs", sampled = false) {
      t.call("llm.dedup", "Dedup.minhashPairs") {
        Dedup.minhashPairs(docs, "text", "doc_id").write.parquet(s"$dir/minhash_pairs")
      }
    }
    t.op("simhash_pairs", sampled = false) {
      t.call("llm.dedup", "Dedup.simhashPairs") {
        Dedup.simhashPairs(docs, "text", "doc_id").write.parquet(s"$dir/simhash_pairs")
      }
    }
    t.op("components", sampled = false) {
      t.query("llm.dedup", "Dedup.connectedComponents") {
        Dedup.connectedComponents(ctx.spark.read.parquet(s"$dir/minhash_pairs").select("idA", "idB"))
      }
    }
    t.op("search_index", sampled = false) {
      t.call("llm.search", "Search.writeSearchIndex")(Search.writeSearchIndex(docs, "text", "doc_id", s"$dir/search"))
    }
    t.op("ivf_index", sampled = false) {
      t.call("llm.similarity", "Similarity.buildIvfIndex") {
        Similarity.buildIvfIndex(emb, "embedding", "vec_id", s"$dir/ivf", NCentroids, KmeansIters)
      }
    }
    t.op("ivfpq_index", sampled = false) {
      t.call("llm.pq", "Pq.buildIvfPqIndex") {
        // the IVF-PQ cells are the IVF index's cells
        centroids = ctx.spark.read.parquet(s"$dir/ivf/centroids").orderBy("cid").collect()
          .map(_.getSeq[Double](1).toArray)
        codebooks = Pq.train(emb, "embedding", "vec_id", iters = KmeansIters)
        Pq.buildIvfPqIndex(emb, "embedding", "vec_id", codebooks, centroids)
          .write.parquet(s"$dir/ivfpq")
      }
    }
    (0 until RequestsPerPass).foreach { i =>
      val (kind, q) = request(ctx, p, i)
      t.op(s"serve:$kind")(t.query(layerOf(kind), kind)(serve(ctx, kind, q)))
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ranked(df: DataFrame, idCol: String): Map[Long, Seq[Long]] =
    df.select(col("query_id"), col(idCol), col("rank")).collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Number](2).longValue).map(_.getAs[Number](1).longValue)
      }

  def checks(ctx: Ctx): Seq[Check] = {
    val s = ctx.spark
    // vector serving is checked on the first request of each kind; BM25
    // serving parity with the direct plan is pinned by the engine's tests
    val Seq((_, vecQ), (_, pqQ)) = (1 to 2).map(i => request(ctx, 0, i))
    def brute(q: DataFrame) =
      ranked(Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", K), "neighbor_id")
    Seq(
      Check.run("minhash_pairs_vs_exact") {
        // banded LSH output is a subset of the exact pairs by construction;
        // recall below 1 is the LSH approximation, floored here
        val lsh = pairs(s.read.parquet(s"$dir/minhash_pairs"))
        val exact = pairs(Dedup.minhashPairsExact(docs, "text", "doc_id"))
        val recall = lsh.intersect(exact).size.toDouble / math.max(exact.size, 1)
        (lsh.subsetOf(exact) && recall >= LlmCorpus.MinhashRecallFloor,
          f"lsh=${lsh.size} exact=${exact.size} recall=$recall%.4f")
      },
      Check.run("simhash_pairs_equal_exact") {
        val sim = pairs(s.read.parquet(s"$dir/simhash_pairs"))
        val exact = pairs(Dedup.simhashPairsExact(docs, "text", "doc_id"))
        (sim == exact, s"pairs=${sim.size} exact=${exact.size}")
      },
      Check.run("ivf_full_probe_topk_equals_brute_force") {
        val got = ranked(Similarity.queryIvfIndex(s, s"$dir/ivf", vecQ, "embedding", "vec_id",
          K, nProbe = NCentroids), "neighbor_id")
        val want = brute(vecQ)
        (got == want && got.nonEmpty, s"queries=${got.size}")
      },
      Check.run("ivfpq_full_probe_topk_equals_flat_adc") {
        // IVF-PQ ranks by approximate (ADC) distance, so its reference is
        // the exhaustive ADC scan over the same codes, not the exact top-k
        val index = s.read.parquet(s"$dir/ivfpq")
        val got = ranked(Pq.ivfPqTopK(pqQ, index, "embedding", "vec_id", codebooks, centroids,
          K, nProbe = NCentroids), "neighbor_id")
        val want = ranked(Pq.adcTopK(pqQ, index, "embedding", "vec_id", codebooks, K), "neighbor_id")
        (got == want && got.nonEmpty, s"queries=${got.size}")
      },
    )
  }

  override def extras(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    def mb(path: String) = graft.io.Compaction.dataBytes(s, path) / (1024.0 * 1024.0)
    val cached = s.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val storage = s.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    Map(
      "llm.dedup.pairs" -> s.read.parquet(s"$dir/minhash_pairs").count().toDouble,
      "llm.search.index_mb" -> mb(s"$dir/search"),
      "llm.similarity.index_mb" -> mb(s"$dir/ivf"),
      "info.corpus_cached_mb" -> cached / (1024.0 * 1024.0),
      "info.storage_memory_mb" -> storage / (1024.0 * 1024.0))
  }
}

object LlmCorpus {
  val MinhashRecallFloor = 0.9
}
