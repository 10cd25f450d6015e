package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines.
  *
  * Scale posture: every variant is candidate-generation-by-blocking —
  * exact dedup shuffles on a content hash; MinHash/SimHash shuffle on
  * LSH band / block keys. Nothing ever forms the full O(n²) pair space;
  * self-join pairs always carry `idA < idB` to halve work and kill
  * self-pairs.
  */
object Dedup {

  /** Shared bucket-key exchange for exploded band/block relations that
    * have SEVERAL consumers keyed on the bucket (cap/rep aggregate +
    * join probe [+ self-join side]) — guide §2.4. Without it each
    * consumer is its own physical subtree and the text kernels (the
    * pipelines' dominant CPU) re-run once per consumer: the only
    * shared node was the corpus-text exchange BELOW them. Only applied
    * where every consumer needs the bucket partitioning anyway (the
    * star variants) — minhashPairs/lshJaccardPairs documented why not.
    */
  private def sharedBucketEx(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(keys: _*)

  /** Shared PAYLOAD exchange (r15, guide §2.4): one explicit
    * `repartition(id)` directly ABOVE the text kernels so that every
    * consumer of the per-doc payload (sig/grams) reuses ONE exchange —
    * and therefore ONE kernel pass — instead of each consumer being
    * its own physical subtree that re-runs scan → representatives →
    * shingle/minhash (the r14 verdict's top remaining inefficiency:
    * the kernels ran up to 3× per query).
    *
    * Why id and not the bucket key (the r14 experiment that LOST): the
    * mask/cap machinery groups by id and the sig⋈mask join is keyed on
    * id, so an id exchange is REUSED by every consumer with zero new
    * exchanges on top — the bk variant added narrow exchanges per
    * consumer. The exchanged rows are the (id, sig) payload: linear in
    * docs, exchanged once, and strictly cheaper than the 2 kernel
    * passes it replaces (kernel CPU is ~100× per byte of a relational
    * projection — OPTIMIZATION_r14.md).
    *
    * Exchange reuse requires all consumers' below-exchange subtrees to
    * canonicalize identically: column pruning gives each consumer's
    * copy its own minimal column set, so a consumer that drops a column
    * the others keep plans its own exchange and kernel pass (what
    * defeated reuse in the r14 d03/d04 plans).
    *
    * Used only where the exchanged payload is the narrow signature
    * (minhashPairs). The sites whose payload carries
    * the KB gram arrays (lshJaccardPairs, minhashStarVerifiedPairs)
    * recompute the kernels instead: the ~2 GB sf10 exchange measured
    * worse (OPTIMIZATION_r15.md §1).
    */
  private def sharedPayloadEx(df: DataFrame): DataFrame =
    df.repartition(col("id"))

  /* Recompute-vs-materialize, measured twice so nobody retries the
   * losing side: the stop-band pass and the payload pass each re-run
   * the scan→reps→shingle→minhash prefix (zero ReusedExchange — the
   * two consumers exchange on different keys). An eager
   * localCheckpoint of the sig/payload intermediates LOST badly at
   * sf10 (d04 20→80 s, d03 4→10 s): the pinned checkpoint blocks
   * pile up across runs and the KB-wide deserialized rows thrash
   * storage memory. The OBVIOUS alternative — a lazy
   * `.persist(MEMORY_AND_DISK)` of the narrow (id, sig[, grams])
   * projection — was ALSO measured at sf10 (r7): d07 15→24–35 s,
   * d04 15.6→17 s median, d02 flat. InMemoryRelation breaks the
   * whole-stage pipeline at the cache boundary and the columnar
   * round-trip costs more than the ~1.5 s/pass kernel it saves. On
   * this workload recomputation from the (OS-cached) parquet wins;
   * a 1000-executor deployment with slow object storage would flip
   * it — hence the operators stay recompute-shaped with the
   * materialization decision left to the caller's persist() if
   * their scan cost dominates.
   */

  /** Collapse exact duplicates to (min-id representative, text) —
    * the standard prelude to every near-dup operator: duplicate
    * clusters otherwise make candidate generation quadratic.
    */
  def representatives(df: DataFrame, idCol: String, textCol: String,
      byText: Boolean = true): DataFrame =
    if (!byText) {
      // r12–r14 shape, kept where the text-keyed shape measured worse
      // (lshJaccardPairs): winner ids via a narrow sha2-keyed HashAggregate, text
      // re-attached by semi-join. Chosen in r12 over
      // groupBy(sha2)+first(text), whose string AGGREGATION BUFFER
      // silently compiled to a SortAggregate keyed on the 64-char hex
      // (the double sort-on-hex dominated the recomputed prefix).
      val winners = df
        .groupBy(sha2(col(textCol).cast("binary"), 256).as("__h"))
        .agg(min(col(idCol)).as("id"))
        .select(col("id"))
      df.join(winners.hint("shuffle_hash"), df(idCol) === winners("id"), "left_semi")
        .select(col(idCol).as("id"), col(textCol).as("__text"))
    } else {
      // r15: group by the TEXT ITSELF — as the grouping KEY, not in the
      // aggregation buffer, so this still compiles to a HashAggregate
      // (the r12 SortAggregate disease only applies to buffer
      // attributes). One scan and one exchange replace the r12–r14
      // two-scan shape (sha2-winners aggregate + semi-join back), the
      // exchange carries map-side-deduped (text, min_id) rows instead
      // of the full corpus, and — decisive for [[sharedPayloadEx]] —
      // the output is TEXT-partitioned, not id-partitioned, so the
      // payload anchor exchange above the kernels is not optimized
      // away as redundant (EnsureRequirements strips a REPARTITION_BY_COL
      // whose child already carries that partitioning, which defeated
      // the anchor over the semi-join shape). Exact-duplicate semantics
      // are unchanged: one representative (min id) per distinct text —
      // grouping by the text is the collision-free spelling of the
      // sha2 group.
      // isnotnull(id) reproduces the semi-join shape's null semantics
      // (an all-null-id group never matched the join condition) AND
      // keeps every consumer's below-anchor subtree canonically equal:
      // the payload⋈mask join infers and pushes this exact filter into
      // its copies, and without it here the cap branch (no such join)
      // planned its own scan + anchor instead of reusing the shared one.
      df.groupBy(col(textCol))
        .agg(min(col(idCol)).as("id"))
        .filter(col("id").isNotNull)
        .select(col("id"), col(textCol).as("__text"))
    }

  /** Exact dedup: keep the min-id representative per content hash.
    * One shuffle on the (256-bit) hash; collision-safe in practice.
    */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.groupBy(sha2(content.cast("binary"), 256).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-dup candidate pairs with estimated jaccard.
    *
    * shingle → minhash(numHashes) → band(bands × rowsPerBand) →
    * explode band keys → group each surviving bucket → bucket-local
    * pair generation ([[graft.plans.LshBucketPairs]]) with the
    * emit-once band test and the signature-agreement estimate fused.
    *
    * The only payload shuffle is the bucket groupBy (docs × bands,
    * linear); at 100 TB band buckets are the unit of parallelism,
    * bounded at maxBucket members by the stop-band cap. Signature
    * agreement is an O(numHashes) primitive loop per candidate.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 5, threshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // Exact duplicates collapse to one representative FIRST. A cluster
    // of m identical documents would otherwise put m copies into every
    // band bucket → m² candidate pairs per cluster; real corpora have
    // huge boilerplate clusters, so the self-join turns quadratic
    // (observed 18× wall-clock at 10× data before this step). Exact
    // copies are `exact()`'s job; this operator reports near-dup pairs
    // among DISTINCT contents.
    val reps = representatives(df, idCol, textCol)

    // one payload exchange above the kernels → every consumer below
    // (cap, mask, sig probe) shares ONE kernel pass (see sharedPayloadEx)
    val sig = sharedPayloadEx(reps
      .select(col("id"),
        TextOps.charShingleHashes(col("__text"), shingleSize).as("hs"))
      .select(col("id"), TextOps.minhashFromHashes(col("hs"), numHashes).as("sig")))

    // Stop-band cap: a band hash shared by >maxBucket distinct docs is
    // boilerplate (the LSH analog of a stopword) — m² pairs of low
    // individual value. Dropping those buckets bounds worst-case work;
    // members still pair through their other, more selective bands.
    // The cap is decided on narrow (id, bk) rows only.
    //
    // NOT shared via an explicit bk repartition (r14 A/B): the star
    // variants share their exploded exchange across consumers (guide
    // §2.4) because every consumer there needs bk partitioning
    // anyway. HERE the masked groupBy(id) rides the text exchange's
    // id partitioning for free, so sharing would trade one kernel
    // recompute for TWO new narrow exchanges (bk + id) — measured a
    // wash at sf0.1 and a ~2 s REGRESSION at sf10 (13.8 vs 11.6 s).
    val narrow = sig.select(col("id"),
      explode(TextOps.lshBands(col("sig"), bands, r)).as("bk"))
    val okBuckets = narrow.groupBy(col("bk")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select(col("bk"), lit(true).as("__ok"))

    // Per-doc MASKED band array m[band]: the bucket hash where the
    // bucket survived the cap, a per-(doc, band) sentinel where it was
    // dropped. m_a[j] == m_b[j] then means exactly "a and b share a
    // SURVIVING bucket at band j", so firstEqualIndex(m_a, m_b) is the
    // pair's unique emit band: each candidate pair is emitted (and its
    // signatures compared) at ONE band bucket instead of every shared
    // one — near-identical docs share all `bands` buckets, so this
    // cuts the quadratic bucket-join work up to `bands`-fold and makes
    // the pair set unique by construction (no pair-space dedup
    // shuffle). Narrow rows only: (id, 16×8B) per doc.
    val masked = narrow.join(okBuckets, Seq("bk"), "left")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(
        col("bk.band").as("band"),
        when(col("__ok"), col("bk.bh"))
          .otherwise(xxhash64(col("id"), col("bk.band"), lit("__capped")))
          .as("mh")))).as("__ms"))
      .select(col("id"), transform(col("__ms"), s => s.getField("mh")).as("m"))

    // Band join with the signature riding along: each doc's 512-byte
    // sig crosses the wire once per surviving band (docs × bands,
    // LINEAR in corpus size). The previous pair-then-attach shape
    // re-joined the sig onto every candidate pair — shuffle
    // proportional to the PAIR count, quadratic in near-dup cluster
    // size (the same disease lshJaccardPairs documents for the gram
    // arrays). No join hint: on the 512-byte signature AQE's choice
    // (broadcast of the masked side when small) beat a forced
    // shuffle_hash, sf10 14.3→11.1 s (OPTIMIZATION_r14.md §4).
    val capped = sig.join(masked, Seq("id"))
      .select(col("id"), col("sig"), col("m"),
        explode(TextOps.lshBands(col("sig"), bands, r)).as("bk"))
      .filter(element_at(col("m"), col("bk.band") + 1) === col("bk.bh"))

    // Bucket-local pair generation instead of a self-equi-join on bk:
    // ONE exchange (groupBy bk, payload crosses the wire once instead
    // of build+probe twice), groups bounded by maxBucket because
    // `capped` already dropped non-surviving buckets, and the
    // emit-once + agreement filters run fused in the generator — a
    // below-threshold pair never materializes as a row anywhere.
    bucketPairs(capped, numHashes, threshold, withGrams = false)
  }

  /** groupBy(bk) → collect_list(members) → [[graft.plans.LshBucketPairs]].
    * `capped` rows are (id, sig[, grams], m, bk) already filtered to
    * surviving buckets, so every group is ≤ maxBucket members.
    */
  private def bucketPairs(
      capped: DataFrame, numHashes: Int, threshold: Double,
      withGrams: Boolean, minJaccard: Double = 0.0): DataFrame = {
    import graft.plans.HashExpressions.{columnOf, exprOf}
    val member =
      if (withGrams) struct(col("id"), col("sig"), col("m"), col("grams"))
      else struct(col("id"), col("sig"), col("m"))
    val outCols = Seq("id_a", "id_b", if (withGrams) "jaccard" else "est_jaccard")
    capped
      .groupBy(col("bk"))
      .agg(collect_list(member).as("ms"))
      .select(columnOf(graft.plans.LshBucketPairs(
        exprOf(col("ms")), exprOf(col("bk").getField("band")),
        numHashes, threshold, withGrams, minJaccard)).as(outCols))
  }

  /** LSH-candidate + exact-jaccard pairs with BUCKET-LOCAL
    * verification — the linear-shuffle replacement for
    * `jaccardVerify(minhashPairs(...))` when the product is the full
    * verified pair list (d04).
    *
    * The pair-then-attach pipeline shuffles each candidate pair's TWO
    * gram arrays (KBs per row): its shuffle volume is proportional to
    * the PAIR count, which is quadratic in near-dup cluster size —
    * measured 12–20× wall growth on 10× data (38.8 M pairs at sf10 ≈
    * 60 GB of wide-pair shuffle). Here the (sig, grams) payload rides
    * the band-bucket join instead: each doc's arrays cross the wire
    * once per band (docs × bands, LINEAR in corpus size), pairs form
    * inside the bucket join's streamed output, the signature
    * est-filter runs before any gram work, and the exact jaccard is
    * computed inside the bucket-local generator — the wide pair row
    * never exists anywhere. The emit-once band
    * selector (FirstEqualIndex over the masked band arrays — see
    * minhashPairs) verifies each pair at exactly one shared bucket, so
    * the pair set is unique by construction and no pair-space dedup
    * shuffle exists anywhere in the plan.
    *
    * Emits the SAME pair set as the pair-then-attach pipeline: both
    * require ≥1 shared un-capped band bucket and signature agreement
    * ≥ estThreshold; the stop-band cap (> maxBucket distinct docs =
    * boilerplate band, dropped) bounds per-bucket work at
    * maxBucket² signature compares regardless of corpus size.
    */
  def lshJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 5, estThreshold: Double = 0.35,
      gramN: Int = 3, maxBucket: Int = 256,
      minJaccard: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // r14 recompute shape: no payload anchor and sha2 representatives.
    // Both r15 single-pass pieces lost here at sf10 — the anchor
    // exchange carries the KB gram arrays, and without it the
    // text-keyed reps aggregate re-runs once per consumer
    // (OPTIMIZATION_r15.md §1).
    val reps = representatives(df, idCol, textCol, byText = false)
    // one pass computes both per-doc arrays; ~2 KB payload per row
    val payload = reps.select(
      col("id"),
      TextOps.minhashFromHashes(
        TextOps.charShingleHashes(col("__text"), shingleSize), numHashes).as("sig"),
      TextOps.wordNgramHashes(col("__text"), gramN).as("grams"))
    // stop-band cap decided on narrow (id, bk) rows only
    val narrow = payload.select(col("id"),
      explode(TextOps.lshBands(col("sig"), bands, r)).as("bk"))
    val okBuckets = narrow.groupBy(col("bk")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select(col("bk"), lit(true).as("__ok"))
    // masked band array → emit-once band selection (see minhashPairs):
    // each pair's gram intersection runs at exactly ONE shared bucket
    // instead of every shared band, and the pair set is unique by
    // construction — no pair-space dedup shuffle
    val masked = narrow.join(okBuckets, Seq("bk"), "left")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(
        col("bk.band").as("band"),
        when(col("__ok"), col("bk.bh"))
          .otherwise(xxhash64(col("id"), col("bk.band"), lit("__capped")))
          .as("mh")))).as("__ms"))
      .select(col("id"), transform(col("__ms"), s => s.getField("mh")).as("m"))
    // shuffle_hash with the NARROW masked side as build: sort-merge
    // sorts the KB-wide payload side through the sorter and spills
    // (sf10 pair stage: merge 30.7–61.8 s, shuffle_hash 12.7–13.4 s);
    // AQE's unhinted choice also lost here (OPTIMIZATION_r14.md §4)
    val capped = payload.join(masked.hint("shuffle_hash"), Seq("id"))
      .select(col("id"), col("sig"), col("grams"), col("m"),
        explode(TextOps.lshBands(col("sig"), bands, r)).as("bk"))
      .filter(element_at(col("m"), col("bk.band") + 1) === col("bk.bh"))

    // Bucket-local pair generation (see minhashPairs): one exchange of
    // the (sig, grams) payload instead of build+probe twice, with the
    // est-filter and the sorted-merge gram intersection fused in the
    // generator's primitive loop — the wide pair row never exists.
    bucketPairs(capped, numHashes, estThreshold, withGrams = true,
      minJaccard = minJaccard)
  }

  /** Star-edge LSH candidates: each bucket member pairs ONLY with the
    * bucket's min id — O(m) edges per bucket instead of all-pairs
    * O(m²). This is the 100 TB candidate generator for CLUSTER dedup:
    * a boilerplate cluster of 10⁵ near-identical documents emits 10⁵
    * spanning edges (per band) instead of 5·10⁹ pairs, and connected
    * components recovers the same clusters from the spanning subgraph
    * (star edges are a subset of the all-pairs candidate set, and each
    * member still gets `bands` independent chances to attach). Use
    * [[minhashPairs]] when the product is the PAIR LIST itself (pair
    * similarity analytics); use this + [[connectedComponents]] when
    * the product is cluster membership.
    *
    * The est-filter AND the exact gram verify run fused into ONE pair
    * of payload-attach joins (a star-pair pass followed by
    * [[jaccardVerify]] recomputes the reps/shingle prefix twice more
    * and re-joins the pairs a second time; fused at sf10 this was the
    * remaining prefix cost of the d07 pipeline).
    *
    * Star buckets stay UNCAPPED (the huge boilerplate bucket is the
    * cluster this variant exists to collapse), which is exactly why
    * this path keeps the attach-join shape instead of the bucket-local
    * generator d02/d04 use: an uncapped bucket's collect_list row
    * would be unbounded, while the star edge set stays linear and the
    * attach joins stream row-by-row at any bucket size.
    *
    * Emits (id_a, id_b, jaccard) with est ≥ estThreshold and exact
    * word-n-gram jaccard ≥ minJaccard.
    */
  def minhashStarVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 5, estThreshold: Double = 0.35,
      gramN: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // r15 per-site split (each side measured at sf10,
    // OPTIMIZATION_r15.md §1): groupBy(text) representatives win here,
    // the shared payload anchor loses (its exchange would carry the KB
    // gram arrays, as in lshJaccardPairs) — so the kernels stay
    // recomputed per consumer over the cheaper single-exchange prefix.
    val reps = representatives(df, idCol, textCol)
    // one text pass computes both verify payloads
    val payload = reps.select(
      col("id"),
      TextOps.minhashFromHashes(
        TextOps.charShingleHashes(col("__text"), shingleSize), numHashes).as("sig"),
      TextOps.wordNgramHashes(col("__text"), gramN).as("grams"))
    // shared bk exchange: bucketRep + edge join probe run over ONE
    // banded pass instead of re-running the kernels per consumer
    // (guide §2.4; see minhashPairs). Column pruning keeps the heavy
    // grams array out of this exchange — only (id, bk) rows cross.
    val banded = sharedBucketEx(payload.select(
      col("id"), explode(TextOps.lshBands(col("sig"), bands, r)).as("bk")),
      col("bk"))
    // star edges are linear in bucket size, so NO stop-band cap here —
    // a >4096-member boilerplate bucket is exactly the cluster this
    // variant exists to collapse, and capping it would silently emit
    // zero edges for the biggest clusters (the all-pairs variant caps
    // because ITS cost is quadratic; this one's isn't)
    val bucketRep = banded.groupBy(col("bk"))
      .agg(min(col("id")).as("rep"))
      .select(col("bk"), col("rep"))
    val pairs = banded.join(bucketRep, Seq("bk"))
      .filter(col("rep") < col("id"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
    def agree(a: Column, b: Column): Column =
      graft.plans.HashExpressions.columnOf(
        graft.plans.ArrayAgreeCount(
          graft.plans.HashExpressions.exprOf(a),
          graft.plans.HashExpressions.exprOf(b)))
    def inter(a: Column, b: Column): Column =
      graft.plans.HashExpressions.columnOf(
        graft.plans.SortedIntersectCount(
          graft.plans.HashExpressions.exprOf(a),
          graft.plans.HashExpressions.exprOf(b)))
    // pair-attach joins carry no hint: near-dup edges ≪ docs, so AQE
    // broadcasts the pair side and the payload is never exchanged
    // (a forced shuffle_hash measured slower — OPTIMIZATION_r14.md §4)
    pairs
      .join(payload.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("grams").as("grams_a")), Seq("id_a"))
      .join(payload.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("grams").as("grams_b")), Seq("id_b"))
      // est gate first: the O(numHashes) int compare rejects before
      // any gram work, exactly like the bucket-local generator
      .filter((agree(col("sig_a"), col("sig_b")).cast("double") / numHashes)
        >= estThreshold)
      .withColumn("inter", inter(col("grams_a"), col("grams_b")).cast("int"))
      .withColumn("uni", size(col("grams_a")) + size(col("grams_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / greatest(col("uni"), lit(1))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-dup pairs `(id_a, id_b, hamming)`, id_a < id_b and
    * hamming ≤ `maxHamming` over 64-bit fingerprints, among the
    * representatives of distinct texts: one kernel pass and one bucket
    * pass.
    *
    * The kernel ([[TextOps.simhashBlocks]]) turns each text into four
    * 16-bit blocks, and `posexplode` keys the doc by its four
    * (block_idx, block_val) buckets; by pigeonhole, fingerprints within
    * hamming 3 share a block. One exchange on the bucket feeds a window
    * count — a bucket of more than `maxBucket` docs is boilerplate and
    * dropped, its members still pair through their other blocks — then
    * `collect_list` of each surviving bucket and the bucket-local
    * generator [[graft.plans.SimHashBucketPairs]]. The window buffers a
    * bucket in Spark's spillable row array, so an oversized bucket
    * never becomes one row. The trailing `distinct` collapses a pair
    * found in several buckets: an emit-once block selection was
    * output-identical and slower at sf0.1, sf10 and sf30
    * (OPTIMIZATION_r15.md), its masks costing a corpus-wide
    * collect_list plus a join.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    import graft.plans.HashExpressions.{columnOf, exprOf}
    // same duplicate-cluster defense as minhashPairs: exact copies
    // collapse to a representative
    val bucket = Seq(col("block_idx"), col("block_val"))
    representatives(df, idCol, textCol)
      .select(col("id").cast("long").as("id"), TextOps.simhashBlocks(col("__text")).as("blocks"))
      .select(col("id"), col("blocks"),
        posexplode(col("blocks")).as(Seq("block_idx", "block_val")))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(bucket: _*)))
      .filter(col("__n") <= maxBucket)
      .groupBy(bucket: _*)
      .agg(collect_list(struct(col("id"), col("blocks"))).as("ms"))
      .select(columnOf(graft.plans.SimHashBucketPairs(exprOf(col("ms")), maxHamming))
        .as(Seq("id_a", "id_b", "hamming")))
      .distinct()
  }

  /** Exact word n-gram Jaccard verification of an (id_a, id_b)
    * candidate-pair table: re-attach the two texts, intersect distinct
    * n-gram sets. The 100 TB composition is
    * `jaccardVerify(minhashPairs(...), ...)` — LSH proposes, exact
    * Jaccard disposes; the pair table stays ids-only until here.
    */
  def jaccardVerify(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // grams compared as 64-bit hashes (collision-negligible): one
    // fused pass per doc instead of an interpreted split/slice tree
    val grams = df.select(
      col(idCol).as("id"),
      TextOps.wordNgramHashes(col(textCol), n).as("grams"))
    // pair-attach joins carry no hint (OPTIMIZATION_r14.md §4): the pair
    // set is usually far smaller than the gram table, so AQE's
    // broadcast upgrade applies.
    // intersection via fused merge scan over the (sorted distinct)
    // hash arrays — array_intersect builds a per-row hash set, which
    // at millions of pairs × KB-sized arrays is allocation-bound
    def inter(a: Column, b: Column): Column =
      graft.plans.HashExpressions.columnOf(
        graft.plans.SortedIntersectCount(
          graft.plans.HashExpressions.exprOf(a),
          graft.plans.HashExpressions.exprOf(b)))
    pairs.select(col("id_a"), col("id_b"))
      .join(grams.select(col("id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("inter", inter(col("grams_a"), col("grams_b")).cast("int"))
      .withColumn("uni", size(col("grams_a")) + size(col("grams_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / greatest(col("uni"), lit(1))).as("jaccard"))
  }

  /** Exact n-gram Jaccard for candidate pairs, blocked by a cheap key
    * (e.g. language + length bucket) so the pair space stays bounded.
    * For unblockable corpora prefer [[jaccardVerify]] over LSH
    * candidates — blocking caps the pair space only when the key is
    * selective.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockKey: Column,
      n: Int = 3, threshold: Double = 0.3): DataFrame = {
    val grams = df.select(
      col(idCol).as("id"), blockKey.as("bk"),
      array_distinct(TextOps.wordShingles(
        TextOps.wordTokens(col(textCol)), n)).as("grams"))
    val a = grams.select(col("id").as("id_a"), col("grams").as("grams_a"), col("bk"))
    val b = grams.select(col("id").as("id_b"), col("grams").as("grams_b"), col("bk"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("uni", size(col("grams_a")) + size(col("grams_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / greatest(col("uni"), lit(1))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair table: every node gets
    * the minimum id reachable from it as its cluster label — the step
    * that turns pairwise near-dup evidence into "keep one document per
    * cluster" (pair emission alone under-deduplicates: a~b and b~c
    * must collapse a,b,c together even when a~c was never emitted).
    *
    * Hash-min label propagation: per round, each node takes the min of
    * its own and its neighbors' labels. Rounds = cluster diameter, and
    * near-dup clusters are shallow (dozens of members, diameter ≤ ~3),
    * so 3–5 ids-only shuffle rounds settle 100 TB of pairs; the
    * pathological long-chain case would want large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce"), which no
    * near-dup workload exhibits. `localCheckpoint` truncates the plan
    * each round — without it the lineage doubles per iteration and
    * optimizer time explodes by round 8.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // localCheckpoint blocks stay pinned in executor storage until the
    // driver GCs the frame — an iterative operator that leaks one
    // checkpoint per round starves every query that runs after it.
    // Track the block ids each checkpoint adds and free everything
    // except the blocks backing the RETURNED labels.
    val sc = pairs.sparkSession.sparkContext
    def checkpointed(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val d = df.localCheckpoint(true)
      (d, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    val (edges, edgeBlocks) = checkpointed(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // Round 0 fused (r14): with identity initial labels, the first
    // hash-min round's join degenerates to label(v) = min(v, min
    // neighbor id) — ONE groupBy over the symmetric edge set instead
    // of the identity-labels checkpoint + a full edges⋈labels join
    // round + its convergence count (3 driver actions and a join
    // pass saved at every scale; the round-0 count is pointless
    // anyway — it can only be 0 when the edge set is empty, and then
    // the loop below exits on its first count).
    var (labels, liveBlocks) = checkpointed(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("nbr"))
        .select(col("src").as("id"), least(col("src"), col("nbr")).as("label")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr"))
        .select(col("src").as("id"), col("nbr"))
      val (next, nextBlocks) = checkpointed(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("next")))
      changed = next.filter(col("next") < col("label")).count()
      labels = next.select(col("id"), col("next").as("label"))
      liveBlocks.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      liveBlocks = nextBlocks
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    edgeBlocks.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    labels
  }

  /** C4-style segment-level exact dedup ACROSS the corpus (Raffel et
    * al. 2020 drop duplicate lines; here the segment is a fixed
    * `segWords`-word window because the test corpus has no newlines —
    * the machinery is delimiter-agnostic). Every segment is kept only
    * at its first occurrence corpus-wide, first = smallest
    * (doc id, position); documents are then reassembled from their
    * surviving segments in original order.
    *
    * Scale posture: the only corpus-wide shuffle is the
    * winner-per-segment aggregate, and it carries
    * (md5 16 bytes, id+pos 12 bytes) — never the segment text; the
    * min(struct) winner aggregate directly yields the kept (id, pos)
    * pairs (r9 removed the former join-back — no second exchange of
    * the corpus at all), and reassembly is one groupBy(doc) whose
    * groups are bounded by document length. Nothing is quadratic and
    * no row ever carries more than one segment.
    *
    * Output: (id, n_segs, n_kept, text_dedup) — docs whose every
    * segment lost keep a row with empty text, so corpus row count is
    * preserved for downstream bookkeeping.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 8): DataFrame = {
    import graft.plans.{RebuildSegments, SegmentCount, SegmentMd5s}
    import graft.plans.HashExpressions.{columnOf, exprOf}
    // Segment TEXT never leaves the doc's row: one fused pass emits a
    // 16-byte md5 per segment (plans/HashKernels.segmentMd5s), dedup
    // runs entirely on narrow (id, pos, digest) rows — two orders of
    // magnitude less shuffle than shipping the corpus text through the
    // winner join and a collect_list reassembly — and each survivor
    // doc is rebuilt LOCALLY from its kept positions by re-slicing its
    // own text (RebuildSegments), one wide join by id total.
    val segs = df.select(col(idCol),
        posexplode(columnOf(SegmentMd5s(exprOf(col(textCol)), segWords)))
          .as(Seq("pos0", "__h")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("__h"))
    // first corpus-wide occurrence per segment content. The winner
    // row IS the kept (id, pos) — min(struct) per digest — so no
    // join-back to segs is needed: that join re-scanned the corpus
    // and shuffled every (digest, id, pos) row a second time for
    // information the winner aggregate already holds (r9: 11.1 s →
    // the groupBy-only plan at sf10).
    val keptPos = segs.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("pos").as("pos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("__kp"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), col(textCol))
      .join(keptPos, Seq(idCol), "left")
      .select(col(idCol),
        columnOf(SegmentCount(exprOf(col(textCol)), segWords)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(
          columnOf(RebuildSegments(exprOf(col(textCol)),
            exprOf(coalesce(col("__kp"), array().cast("array<long>"))), segWords)),
          lit("")).as("text_dedup"))
  }
}
