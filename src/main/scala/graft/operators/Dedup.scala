package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.4).
  *
  * Scale design: nothing here collects to the driver or materializes a
  * cross join. MinHash signatures are computed in one projection (native
  * [[graft.functions.MinHashSig]] — no shingle explode); LSH banding
  * explodes exactly `bands` rows per doc; the candidate join shuffles on
  * (band, bucket) keys that are uniform by construction; the verify step
  * touches only candidate pairs. Dedup semantics are "drop any doc with a
  * near-duplicate of smaller id" — pairwise, no transitive closure, which
  * is the standard large-corpus behavior and needs no iterative jobs.
  */
object Dedup {

  /** The cached (id, shingle-hashes, minhash-signature) projection every
    * shingle-based dedup variant starts from. Computing it is the one
    * full-corpus pass of the family — at 100 TB, running MinHash-LSH,
    * n-gram Jaccard, containment AND cluster dedup without sharing it
    * means four redundant corpus scans + signature computations. Prepare
    * once, pass the handle to each variant, `unpersist()` when done.
    * The projection is long arrays only (shingle hashes + 128-long
    * signature, never text), persisted MEMORY_AND_DISK so oversized
    * partitions spill instead of OOM-ing. */
  final case class Prepared private[operators] (
      sh: DataFrame, numHashes: Int, shingleN: Int) {
    def unpersist(): Unit = { sh.unpersist(); () }
  }

  /** One corpus pass: shingle hashes + minhash signature, persisted. */
  def prepare(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, shingleN: Int = 3,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): Prepared =
    Prepared(shingleProjection(df, idCol, textCol, numHashes, shingleN).persist(storage),
      numHashes, shingleN)

  /** shingle HASHES, not strings: one native pass per row (the string
    * shingle arrays exist nowhere), and the exact verify measures
    * intersect long arrays instead of string arrays. */
  private[operators] def shingleProjection(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int): DataFrame =
    df.select(col(idCol).as("__id"), shingleHashes(col(textCol), shingleN).as("__sh"))
      .withColumn("__sig", minhashSig(col("__sh"), numHashes))

  /** Within-bucket candidate pairs (id_a < id_b) from a banded
    * (key1, key2, __id) frame, optionally carrying small payload columns
    * through as <name>_a / <name>_b.
    *
    * Both sides are EXPLICITLY aliased and the join keys qualified, so the
    * equi-join condition resolves one side to each plan. Building the
    * condition as `a("__bkey") === b("__bkey")` from two projections of
    * the same DataFrame is the construction Spark warns about
    * ("trivially true equals predicate") — under plan transformation it
    * can silently degrade to a within-bucket CROSS join, the exact
    * scale-killer LSH blocking exists to avoid. DedupSpec asserts the
    * resolved condition keeps distinct exprIds on the two sides. */
  private[operators] def bucketPairs(
      banded: DataFrame, k1: String, k2: String,
      payload: Seq[String] = Nil): DataFrame = {
    def side(tag: String, idName: String) =
      banded.select(
        Seq(col(k1), col(k2), col("__id").as(idName)) ++
          payload.map(p => col(p).as(s"${p.stripPrefix("__")}_$tag")): _*)
        .alias(tag)
    val joined = side("a", "id_a").join(side("b", "id_b"),
      col(s"a.$k1") === col(s"b.$k1") && col(s"a.$k2") === col(s"b.$k2") &&
        col("id_a") < col("id_b"))
    joined
      .select(Seq(col("id_a"), col("id_b")) ++ payload.flatMap(p =>
        Seq(col(s"${p.stripPrefix("__")}_a"), col(s"${p.stripPrefix("__")}_b"))): _*)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact dedup: hash-groupBy on the raw text, keep the smallest id.
    * One shuffle on the text hash; count kept for observability. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Exact dedup on normalized text (lowercase, punctuation stripped,
    * whitespace collapsed). Groups on the native one-pass
    * [[graft.functions.NormHash64]] of the token stream — same grouping
    * as materializing the normalized string, without the per-row regex +
    * string rebuild, and the shuffle key is 8 bytes instead of the
    * text. */
  def exactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__norm", normHash64(col(textCol)))
      .groupBy(col("__norm"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** LSH-blocked, exactly-verified pairs from a shingle projection: band
    * the signature, generate within-bucket candidates, re-attach shingles
    * and keep pairs where `measure(sh_a, sh_b) >= threshold`.
    *
    * Banding carries ONLY (band, bucket, id): the band join must not
    * shuffle shingle payloads — at 100 TB the shingle sets dominate the
    * row size and the explode multiplies them x bands x 2 sides. Shingles
    * are re-attached to the (much smaller) surviving candidate set. */
  private def lshVerifiedPairs(
      sh: DataFrame, numHashes: Int, bands: Int,
      measure: (Column, Column) => Column, outName: String,
      threshold: Double): DataFrame = {
    val banded = bandedOf(sh, numHashes, bands)
    bucketPairs(banded, "__band", "__bkey")
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn(outName, measure(col("sh_a"), col("sh_b")))
      .filter(col(outName) >= threshold)
      .select(col("id_a"), col("id_b"), round(col(outName), 4).as(outName))
  }

  /** The LSH banding every shingle-based variant AND the persisted dedup
    * index use — one definition, so index-served candidates are
    * bit-identical to the batch operator's: band b hashes signature
    * positions [b*rows, (b+1)*rows) with the band number as salt. */
  private[operators] def bandedOf(
      sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sh.select(col("__id"),
      posexplode(array((0 until bands).map(b =>
        hash(slice(col("__sig"), b * rows + 1, rows), lit(b))): _*)).as(Seq("__band", "__bkey")))
  }

  private[operators] def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  private def containmentOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / least(size(a), size(b)).cast("double")

  /** Candidate near-duplicate pairs via MinHash + LSH banding, verified
    * with exact shingle-set Jaccard.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame =
    lshVerifiedPairs(shingleProjection(df, idCol, textCol, numHashes, shingleN),
      numHashes, bands, jaccardOf, "jaccard", threshold)

  /** [[minhashPairs]] over a shared [[Prepared]] projection (no new
    * corpus pass). */
  def minhashPairs(p: Prepared, bands: Int, threshold: Double): DataFrame =
    lshVerifiedPairs(p.sh, p.numHashes, bands, jaccardOf, "jaccard", threshold)

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold — the
    * asymmetric measure that catches a document CONTAINED in a larger one
    * (quote-heavy pages, concatenated crawls), which plain Jaccard
    * under-scores by the size ratio. Candidate generation is the same
    * narrow-band LSH as [[ngramJaccard]] (recall follows the pair's
    * JACCARD, so containment of a tiny fragment inside a huge doc is
    * beyond any minhash blocking — that regime needs suffix-based
    * methods). */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame =
    lshVerifiedPairs(shingleProjection(df, idCol, textCol, numHashes, shingleN),
      numHashes, bands, containmentOf, "containment", threshold)

  /** [[containmentPairs]] over a shared [[Prepared]] projection. */
  def containmentPairs(p: Prepared, bands: Int, threshold: Double): DataFrame =
    lshVerifiedPairs(p.sh, p.numHashes, bands, containmentOf, "containment", threshold)

  /** MinHash-LSH dedup: survivors after dropping every doc that has a
    * verified near-duplicate with a smaller id. */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val dupIds = minhashPairs(df, idCol, textCol, numHashes, bands, shingleN, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[minhashLsh]] over a shared [[Prepared]] projection. */
  def minhashLsh(
      df: DataFrame, idCol: String, p: Prepared,
      bands: Int, threshold: Double): DataFrame = {
    val dupIds = minhashPairs(p, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit signature, then block on rotated
    * 16-bit chunks (any pair within Hamming distance <= 3 shares at least
    * one of 4 chunks — pigeonhole), verify exact Hamming distance.
    * @return (id_a, id_b, hamming) with hamming <= maxHamming */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // simhash straight off the raw text: the native expression tokenizes
    // inline (one pass, one vote per token occurrence — multiplicity
    // preserved), so no regex or string arrays are ever built
    val sigs = df.select(col(idCol).as("__id"), simhash64(col(textCol)).as("__sig"))
    val chunked = sigs.select(col("__id"), col("__sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("__sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("__chunk", "__ckey")))
    bucketPairs(chunked, "__chunk", "__ckey", payload = Seq("__sig"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard pairs at a LOWER threshold than near-dup dedup:
    * same LSH blocking as [[minhashPairs]] but with narrower bands (more,
    * shorter bands => LSH s-curve threshold ~(1/b)^(1/r) drops to ~0.42,
    * so recall at jaccard>=0.5 stays high), then exact shingle-set Jaccard
    * verify. Never all-pairs: candidate generation is always LSH-blocked. */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    minhashPairs(df, idCol, textCol,
      numHashes = 128, bands = 32, shingleN = shingleN, threshold = threshold)

  /** [[ngramJaccard]] over a shared [[Prepared]] projection. */
  def ngramJaccard(p: Prepared, threshold: Double): DataFrame =
    minhashPairs(p, bands = 32, threshold = threshold)

  /** Embedding-cosine near-duplicate pairs, blocked by banded signed-
    * random-projection LSH (`tables` hash tables of `bits` bits — see
    * [[graft.functions.SrpBands]]): a pair is a candidate if it collides
    * in ANY table. Multi-table banding keeps near-dup recall high (at
    * cosine 0.95, 16 tables x 12 bits ≈ 93% per-pair recall) while bucket
    * count stays 2^bits per table — no 256-bucket skew. The candidate
    * join carries ids only; vectors re-attach to survivors for the exact
    * codegen-cosine verify. */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 12, tables: Int = 16,
      seed: Long = 7L): DataFrame = {
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val banded = v.select(col("__id"),
      posexplode(srpBands(col("__v"), bits, tables, seed)).as(Seq("__t", "__b")))
    val cand = bucketPairs(banded, "__t", "__b")
    cand
      .join(v.select(col("__id").as("id_a"), col("__v").as("v_a")), "id_a")
      .join(v.select(col("__id").as("id_b"), col("__v").as("v_b")), "id_b")
      .withColumn("cosine", cosineSimF(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Connected components of a near-duplicate pair graph by iterative
    * min-label propagation: every node starts labeled with itself; each
    * round, a node takes the minimum of its own label and its neighbors'
    * labels (edges are symmetrized); terminate when a round changes no
    * label. Converges in O(component diameter) rounds — near-dup clusters
    * are shallow, and `maxIter` guards pathological chains. All hash-
    * partitioned joins/aggregations, no driver-side graph, no GraphFrames
    * dependency; lineage is truncated per round via localCheckpoint so
    * iteration depth can't blow up the plan.
    *
    * @return (id, comp) — comp is the smallest id in the node's component
    */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    // the edge set is consumed once per propagation round (plus once for
    // the seed labels); without persistence every round re-executes the
    // FULL upstream pair plan — for LSH callers that is the banding join
    // + exact verify, re-run O(diameter) times. Persist the (src, dst)
    // pairs once and let each round scan the materialized edges.
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"))
      val next = labels.union(prop)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      val changed = next.alias("n").join(labels.alias("o"), Seq("id"))
        .filter(col("n.comp") =!= col("o.comp")).limit(1).count()
      // the previous round's checkpoint blocks are dead once `changed`
      // is computed — free them NOW instead of waiting for GC (over
      // O(diameter) rounds the dead blocks otherwise stack up)
      org.apache.spark.sql.graft.Bridge.releaseCheckpoint(
        org.apache.spark.sql.graft.Bridge.checkpointRdds(labels))
      labels = next
      done = changed == 0L
      it += 1
    }
    edges.unpersist(false)
    // the final labels are the caller's result; release at the session's
    // next family-boundary clear
    SessionCaches.track(labels)
  }

  /** Cluster-level dedup survivors: ONE representative (the smallest id)
    * per connected component of `pairs`, instead of the pairwise
    * "drop any doc with a smaller near-duplicate" rule. The two differ on
    * transitive chains whose ids are not monotone: with pairs (2,3) and
    * (1,3), doc 2's only path to the cluster minimum runs through 3, so
    * pairwise keeps {1, 2} while cluster dedup keeps {1}. Use when
    * near-duplication should be an equivalence (A~B~C collapses to one
    * doc even though A and C never paired directly). */
  def clusterDedup(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Cluster-level dedup keeping the BEST member of each component —
    * quality-aware survivor selection (the FineWeb/Gopher pipeline rule:
    * keep the highest-quality or longest doc of a near-dup cluster, not
    * whichever happens to carry the smallest id). `quality` is any
    * orderable Column over `df` (n_chars, a text-quality score, …);
    * ties break to the smallest id so the choice is deterministic and
    * partition-invariant. Same scale shape as [[clusterDedup]]: label
    * propagation over ids-only pairs, one aggregate per component
    * (`max_by` on the (quality, -id) struct — no window, no sort), one
    * anti-join back to the corpus. */
  def clusterDedupBest(df: DataFrame, idCol: String, pairs: DataFrame,
      quality: Column): DataFrame = {
    val labels = connectedComponents(pairs)
    val ranked = labels.join(
      df.select(col(idCol).as("id"), quality.as("__q")), "id")
    val keep = ranked.groupBy(col("comp")).agg(
      org.apache.spark.sql.functions.max_by(
        col("id"), struct(col("__q"), (-col("id")).as("__tie"))).as("keep"))
    val drop = labels.join(keep, "comp")
      .filter(col("id") =!= col("keep"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** MinHash-LSH dedup with cluster (connected-component) semantics. */
  def minhashLshClustered(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame =
    clusterDedup(df, idCol,
      minhashPairs(df, idCol, textCol, numHashes, bands, shingleN, threshold))

  /** [[minhashLshClustered]] over a shared [[Prepared]] projection. */
  def minhashLshClustered(
      df: DataFrame, idCol: String, p: Prepared,
      bands: Int, threshold: Double): DataFrame =
    clusterDedup(df, idCol, minhashPairs(p, bands, threshold))

  /** Embedding near-dup survivors (drop docs with a near-dup of smaller id). */
  def embeddingDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 12, tables: Int = 16): DataFrame = {
    val dupIds = embeddingPairs(df, idCol, vecCol, threshold, bits, tables)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }
}
