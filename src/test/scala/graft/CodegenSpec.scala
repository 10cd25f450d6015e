package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity, TextOps}

/** Hard codegen gate for every custom expression: with
  * spark.sql.codegen.fallback=false a Janino failure aborts the query
  * instead of silently dropping the stage to the interpreted path —
  * so these tests fail loudly if any kernel call stops compiling.
  * Also proves two instances of the same expression coexist in one
  * generated function (the historical duplicate-local hazard).
  */
class CodegenSpec extends AnyFunSuite {
  import TestSession._

  private def noFallback[A](f: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try f finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("all hash/vector kernels compile and run under codegen-only") {
    noFallback {
      val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
      val out = docs.select(
        col("doc_id"),
        TextOps.charShingleHashes(col("text"), 5).as("sh"),
        TextOps.wordNgramHashes(col("text"), 3).as("ng"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.simhashBlocks(col("text")).as("blocks"))
        .select(col("doc_id"),
          TextOps.minhashFromHashes(col("sh"), 64).as("sig"),
          col("blocks"),
          col("fp"))
      assert(out.count() > 0)
    }
  }

  test("the fused SimHash kernel and simhashPairs run codegen-only and match the interpreted path") {
    val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
    def run() = (
      docs.select(col("doc_id"), TextOps.simhashBlocks(col("text")).as("blocks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap,
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 20).collect().toSet)
    val compiled = noFallback(run())
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted =
      try run()
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(compiled._1.nonEmpty && compiled._2.nonEmpty && compiled === interpreted)
  }

  test("two minhash columns in ONE projection codegen together") {
    noFallback {
      val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
      // both signatures + both shingle sets in the same generated
      // function — duplicate generated locals would fail Janino here
      val out = docs.select(
        TextOps.minhashFromHashes(TextOps.charShingleHashes(col("text"), 4), 16).as("sig_a"),
        TextOps.minhashFromHashes(TextOps.charShingleHashes(col("text"), 6), 16).as("sig_b"))
      assert(out.count() > 0)
    }
  }

  test("cosine / hyperplane / centroid kernels under codegen-only") {
    noFallback {
      val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
      val planes = Similarity.hyperplanes(nBits = 4, dim = 64)
      val cs = Similarity.centroidSeeds(emb, "embedding", "vec_id", 8)
      val out = Similarity.ivfAssign(emb, "embedding", "vec_id", cs)
        .withColumn("b", Similarity.lshBucket(col("embedding"), planes))
        .withColumn("c", Similarity.cosine(col("embedding"), col("embedding")))
      assert(out.filter(col("c") > 0.999).count() > 0)
    }
  }

  test("cosine: zero norm yields 0.0, dimension mismatch fails loudly") {
    import spark.implicits._
    val z = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
    val zv = z.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(zv == 0.0, s"zero-norm cosine must be 0.0, got $zv")
    val bad = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("string-distance, quantization, and render kernels under codegen-only") {
    noFallback {
      import graft.plans.{Formats, Quantization, StringDistances => D}
      val part = graft.sources.Catalog.table(spark, sfDir, "part")
      val out = part.select(
        D.damerauLevenshtein(col("p_brand"), lit("Brand#25")).as("dl"),
        D.hamming(substring(col("p_name"), 1, 6), substring(reverse(col("p_name")), 1, 6)).as("hm"),
        D.jaccard(col("p_name"), col("p_type")).as("jc"),
        D.jaro(col("p_name"), col("p_type")).as("js"),
        D.jaroWinkler(col("p_name"), col("p_brand")).as("jw"),
        Formats.formatBytes(col("p_partkey") * 1000000L).as("fb"),
        Formats.bar(col("p_partkey").cast("double") % 100, 0, 100, 10).as("chart"),
        Formats.gcd(col("p_partkey"), lit(36L)).as("g"),
        Formats.lcm(col("p_partkey"), lit(6L)).as("l"))
      assert(out.count() > 0)
      val emb = graft.sources.Catalog.table(spark, sfDir, "embeddings")
      val q = emb.select(Quantization.quantizeInt8(col("embedding")).as("q"))
        .select(Quantization.int8Cosine(col("q"), col("q")).as("c"))
      assert(q.filter(col("c") > 0.999).count() > 0)
    }
  }

  test("SQL registry: reference function names resolve in spark.sql") {
    val r = spark.sql(
      """SELECT damerau_levenshtein('ca', 'abc') AS dl,
        |  hamming('abcdef', 'abdcef') AS hm,
        |  mismatches('abcdef', 'abdcef') AS hm2,
        |  jaro_winkler_similarity('martha', 'marhta') AS jw,
        |  gcd(36, 24) AS g, lcm(4, 6) AS l,
        |  format_bytes(1536) AS fb,
        |  to_base(255, 2, 12) AS bits,
        |  bar(7.5, 0, 10, 10) AS chart,
        |  unicode('A') AS uc,
        |  int8_cosine(quantize_int8(array(1.0f, 2.0f)), quantize_int8(array(2.0f, 4.0f))) AS qc
        |""".stripMargin).head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 0.9611111111111111) < 1e-15)
    assert(r.getLong(4) == 12L && r.getLong(5) == 12L)
    assert(r.getString(6) == "1.5 KiB")
    assert(r.getString(7) == "000011111111")
    assert(r.getString(8) == "███████▌")
    assert(r.getInt(9) == 65)
    assert(r.getDouble(10) > 0.999)
  }

  test("distance kernels match known hand-computed values") {
    // classic literature cases, byte alphabet
    import graft.plans.StringDistanceKernels._
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(damerauLevenshtein(u("ca"), u("abc")) == 2L) // true DL (OSA gives 3)
    assert(damerauLevenshtein(u("abcde"), u("abdce")) == 1L)
    assert(hamming(u("abcdef"), u("abdcef")) == 2L)
    assert(math.abs(jaro(u("martha"), u("marhta")) - 0.9444444444444445) < 1e-15)
    assert(math.abs(jaroWinkler(u("martha"), u("marhta")) - 0.9611111111111111) < 1e-15)
    assert(math.abs(jaroWinkler(u("DWAYNE"), u("DUANE")) - 0.8400000000000001) < 1e-15)
    assert(math.abs(jaccard(u("hello"), u("world")) - 0.2857142857142857) < 1e-15)
    // format: reference ladder with truncated decimal
    import graft.plans.FormatKernels
    assert(FormatKernels.formatBytes(1536L, 1024L).toString == "1.5 KiB")
    assert(FormatKernels.formatBytes(999L, 1024L).toString == "999 bytes")
    assert(FormatKernels.formatBytes(1L, 1024L).toString == "1 byte")
    assert(FormatKernels.formatBytes(1536000000L, 1024L).toString == "1.4 GiB")
    assert(FormatKernels.bar(7.5, 0, 10, 10).toString == "███████▌")
  }

  test("unicode normalize kernels: codegen-only, SQL names, known values") {
    import graft.plans.{UnicodeFns, UnicodeKernels}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // NFD + strip marks, reference utf8proc_remove_accents semantics
    assert(UnicodeKernels.stripAccents(u("áéîöû ñ Ç")).toString == "aeiou n C")
    assert(UnicodeKernels.stripAccents(u("plain ascii")).toString == "plain ascii")
    // decomposed e + combining acute composes to precomposed é
    assert(UnicodeKernels.nfcNormalize(u("café")).toString == "café")
    assert(UnicodeKernels.nfcNormalize(u("café")).toString == "café")
    noFallback {
      val part = graft.sources.Catalog.table(spark, sfDir, "part")
      val out = part.select(
        UnicodeFns.stripAccents(translate(col("p_name"), "aeiou", "áéîöû")).as("sa"),
        UnicodeFns.nfcNormalize(concat(col("p_brand"), lit("é"))).as("nfc"))
      // strip_accents(translate vowels→accented) must round-trip p_name
      assert(out.join(part, out("sa") === part("p_name"), "left_anti").count() == 0)
    }
    val r = spark.sql(
      "SELECT strip_accents('áéî') AS sa, nfc_normalize('é') AS nfc").head()
    assert(r.getString(0) == "aei")
    assert(r.getString(1) == "é")
  }

  test("graft_rint over a non-null decimal and graft_rint_try over strings, codegen-only") {
    noFallback {
      // a Generate over graft_rint of a non-nullable decimal (d08's shape)
      assert(spark.sql("SELECT explode(sequence(1, CAST(graft_rint(greatest(" +
        "CAST(id AS DECIMAL(10,2)), 1)) AS BIGINT))) FROM range(3)")
        .collect().map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L, 2L))
      assert(spark.sql("SELECT graft_rint_try(CAST(id AS STRING)) FROM range(3)")
        .collect().map(_.getDecimal(0).intValue).toSeq === Seq(0, 1, 2))
      // the try form yields NULL from a non-null unparsable string
      assert(spark.sql("SELECT graft_rint_try(substr(concat('abc', CAST(id AS STRING)), 1, 3)) " +
        "FROM range(1)").head().isNullAt(0))
      assert(spark.sql("SELECT graft_rint_try('abc')").head().isNullAt(0))
    }
  }
}
