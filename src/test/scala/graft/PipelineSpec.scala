package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity, TextOps}

/** Semantic tests for the LLM-pipeline operators: plant known
  * duplicates / neighbors and assert they are found (the rows-only
  * items the DuckDB oracle can't check).
  */
class PipelineSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private lazy val docs = graft.sources.Catalog.table(spark, sfDir, "documents")

  test("minhash LSH finds planted near-duplicates") {
    // copy 3 docs with a tiny edit; ids offset by 10000
    val mutated = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(mutated)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (i <- 0L until 3L)
      assert(pairs.contains((i, i + 10000)), s"planted pair $i not found")
  }

  test("bucket-local lshJaccardPairs emits the pair-then-attach pipeline's exact output") {
    // the r5 rewrite's contract: same pair set, same exact jaccard —
    // only the shuffle shape changed
    val fused = Dedup.lshJaccardPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 5, estThreshold = 0.35, gramN = 3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val reps = Dedup.representatives(docs, "doc_id", "text")
    val staged = Dedup.jaccardVerify(
        Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.35),
        reps, "id", "__text", n = 3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fused == staged)
    assert(fused.nonEmpty)
  }

  test("minhash estimate is high for tiny edits; exact twins collapse") {
    val twin = docs.filter(col("doc_id") === 0)
      .select(lit(20000L).as("doc_id"), col("text")) // exact copy
    val near = docs.filter(col("doc_id") === 1)
      .select(lit(20001L).as("doc_id"),
        concat(col("text"), lit(" x")).as("text")) // tiny edit
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(twin).unionAll(near)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.7)
    // exact duplicates are exact()'s job — collapsed to a representative
    assert(pairs.filter(col("id_a") === 0 && col("id_b") === 20000).count() == 0)
    val est = pairs.filter(col("id_a") === 1 && col("id_b") === 20001)
      .select("est_jaccard").as[Double].collect()
    assert(est.length == 1 && est.head >= 0.7, est.toSeq.toString)
  }

  test("simhash finds near-duplicates; exact twins collapse") {
    val near = docs.filter(col("doc_id") < 2)
      .select((col("doc_id") + 30000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(near)
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 30000L)) && pairs.contains((1L, 30001L)),
      pairs.toString)
  }

  test("ngram jaccard is 1.0 for identical docs") {
    val j = Dedup.ngramJaccardPairs(
        docs.select(col("doc_id"), col("text"), lit("x").as("blk"))
          .unionAll(docs.filter(col("doc_id") === 5)
            .select(lit(40000L).as("doc_id"), col("text"), lit("x").as("blk"))),
        "doc_id", "text", blockKey = col("blk"), threshold = 0.99)
      .filter(col("id_a") === 5 && col("id_b") === 40000)
      .select("jaccard").as[Double].collect()
    assert(j.length == 1 && j.head == 1.0)
  }

  test("brute-force top-k: query vector is its own nearest neighbor") {
    val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
    val top = Similarity.bruteForceTopK(
        emb, "embedding", "vec_id",
        emb.filter(col("vec_id") === 0), "embedding", k = 3)
      .select("vec_id").as[Long].collect()
    assert(top.head == 0L, s"expected self as top-1, got ${top.toSeq}")
  }

  test("LSH ANN candidates include the query vector itself") {
    val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
    val top = Similarity.annTopK(
        emb, "embedding", "vec_id",
        emb.filter(col("vec_id") === 0), "embedding",
        k = 5, nBits = 4, dim = 64)
      .select("vec_id").as[Long].collect()
    assert(top.contains(0L))
  }

  test("langId picks the profiled language on clean samples") {
    val samples = Seq(
      ("the cat and the dog of the house is in a tree", "en"),
      ("der hund und die katze ist nicht ein tier zu haus", "de"),
      ("le chat et la maison est dans les arbres pour un jour", "fr"),
      ("el gato y la casa es en los arboles por un dia", "es")
    ).toDF("text", "expected")
    val got = samples
      .select(col("expected"), TextOps.langId(col("text")).as("pred"))
      .filter(col("expected") === col("pred")).count()
    assert(got == 4, "langId misclassified a clean sample")
  }

  test("fingerprint is edit-stable on prefix but unique across docs") {
    val fps = docs.limit(50)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect()
    assert(fps.map(_._2).distinct.length == fps.length, "fingerprint collision")
  }

  test("multimodal decoded features are deterministic") {
    val f1 = SparkEntry.queries("m01_multimodal")(spark, sfDir).collect()
    val f2 = SparkEntry.queries("m01_multimodal")(spark, sfDir).collect()
    assert(f1.sameElements(f2))
  }

  test("star-edge cluster dedup recovers the all-pairs clusters") {
    val allPairs = SparkEntry.queries("d06_dedup_clusters")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val star = SparkEntry.queries("d07_dedup_star_clusters")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    // same partition structure: every all-pairs cluster is recovered
    // from the O(m)-per-bucket spanning edges
    assert(star == allPairs,
      s"star clusters differ: ${star.size} vs ${allPairs.size} nodes")
  }

  test("connected components collapse transitive near-dup chains") {
    // chain 1-2-3-4-5 (diameter 4 → needs several propagation rounds),
    // pair {10,11}, singleton edge {20,21}, and 6 isolated from all
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (21L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(!got.contains(6L))
  }

  test("segmentDedup keeps each segment at its first corpus occurrence only") {
    val w = (1 to 16).map(i => s"w$i").mkString(" ") // two 8-word segments
    val head8 = (1 to 8).map(i => s"w$i").mkString(" ")
    val tail8 = (9 to 16).map(i => s"w$i").mkString(" ")
    val uniq = (1 to 8).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, w),                  // owns both segments
      (2L, s"$head8 $uniq"),    // first segment loses to doc 1; tail survives
      (3L, w),                  // full copy: every segment loses
      (4L, "solo words only")   // short doc, single unique segment
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", segWords = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((1L, 2L, 2L, s"$head8 $tail8")))
    assert(got(1) == ((2L, 2L, 1L, uniq)))
    // full duplicate keeps its row with empty text (corpus row count preserved)
    assert(got(2) == ((3L, 2L, 0L, "")))
    assert(got(3) == ((4L, 1L, 1L, "solo words only")))
  }

  test("PQ ADC-shortlist rerank hits at least 0.8 recall@10 vs brute force") {
    import graft.llm.ProductQuant
    val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
    val model = ProductQuant.train(emb, "embedding", "vec_id", m = 16, k = 16, iters = 4)
    val codes = ProductQuant.encode(emb, "embedding", "vec_id", model)
    // every code is one of k codewords, m codes per vector
    val bad = codes.where(size(col("codes")) =!= 16 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad == 0, "codes out of range")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") === 0), "embedding", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pq = ProductQuant.searchRerankTopK(codes, emb, "embedding", "vec_id",
        q, model, k = 10, shortlist = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@10 = $recall")
  }

  test("PQ training is deterministic: same corpus, same codebooks") {
    import graft.llm.ProductQuant
    val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
    val a = ProductQuant.train(emb, "embedding", "vec_id", m = 4, k = 8, iters = 2)
    val b = ProductQuant.train(emb, "embedding", "vec_id", m = 4, k = 8, iters = 2)
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
  }

  test("deterministic integer-grid PQ: self-match top-1, reproducible, sane recall") {
    import graft.llm.{ProductQuant, Similarity}
    val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
    def run() = ProductQuant.deterministicPqTopK(emb, "embedding", "vec_id",
        m = 8, k = 16, iters = 2, seedIds = 0L until 16L,
        queryId = 0L, shortlist = 100, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val a = run()
    // the query matches itself with cosine exactly 1.0 at the top
    assert(a.head._1 == 0L && a.head._3 == 1.0, a.head.toString)
    // bit-identical across runs (the oracle-replay precondition)
    assert(a == run())
    // the exact-cosine re-rank keeps the shortlist honest: recall@10
    // vs brute force through a 100-wide shortlist over 50 vectors
    // (sf0.001) must be high
    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") === 0), "embedding", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = a.map(_._1).toSet
    assert((exact & got).size >= 8, s"int-PQ recall@10 = ${(exact & got).size}/10")
  }
}
