package graft.operators

import graft.core.Rng
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpus curation.
  *
  * All variants follow the same scale shape: a cheap per-document signature
  * computed in a narrow stage, a bucket/band key that makes candidate
  * generation an equi-join (never an all-pairs cross join), and an exact
  * verification only on the candidate pairs. That is the only structure
  * that survives 10^12 documents.
  */
object Dedup {

  /** Exact dedup: deterministic representative (min id) per identical key.
    * Hash-aggregate with map-side combine; one shuffle on the key hash.
    * At 100 TB, group on xxhash64(text) (8 bytes) instead of the full text
    * to shrink the shuffle — that is what `byHash` does. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  def exactByHash(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.withColumn("key_hash", xxhash64(col(keyCol)))
      .groupBy("key_hash")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  // ---------------- MinHash + LSH ----------------

  /** Deterministic affine hash family over a base 64-bit hash:
    * h_i(x) = a_i * x + b_i (wrapping), a_i odd. Seeded by SplitMix64. */
  private def hashParams(numHashes: Int): Array[(Long, Long)] = {
    val rng = new Rng(0x5eed5eedL)
    Array.fill(numHashes)((rng.nextLong() | 1L, rng.nextLong()))
  }

  /** Word k-shingles of a text, as a column expression (codegen'd, no UDF):
    * transform over a sequence of slices of the split array. */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - k, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(k)))))
  }

  /** (id, signature) per doc: minhash over word-k-shingle xxhash64 values.
    * Computed per-partition in a typed map — no explode, no shuffle. */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val params = hashParams(numHashes)
    // same CPU-amplification argument as shinglePairSizes: the per-doc
    // shingle+minhash loop on a one-split input runs on one core —
    // spread small inputs, no-op at scale
    Partitioning.spreadSmallScan(spark,
        docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words = text.split(' ')
          // docs shorter than k words contribute their whole text as ONE
          // shingle — matching shingles()'s sequence(0, greatest(size-k, 0))
          // — instead of an all-MaxValue sentinel signature that would make
          // every pair of short docs a false near-duplicate in every band
          val n = math.max(words.length - k + 1, 1)
          val sig = Array.fill(numHashes)(Long.MaxValue)
          var i = 0
          while (i < n) {
            val sb = new StringBuilder
            var j = 0
            val end = math.min(k, words.length - i)
            while (j < end) {
              if (j > 0) sb.append(' ')
              sb.append(words(i + j)); j += 1
            }
            val base = xxLike(sb.toString)
            var h = 0
            while (h < numHashes) {
              val v = params(h)._1 * base + params(h)._2
              if (v < sig(h)) sig(h) = v
              h += 1
            }
            i += 1
          }
          (id, sig.toSeq)
        }
      }.toDF(idCol, "signature")
  }

  /** Deterministic 64-bit string hash (FNV-1a over UTF-8; pure JVM). */
  def xxLike(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** LSH banding: candidate pairs = docs sharing any band hash. The
    * band-key groupBy bounds the join: no all-pairs blowup. */
  def lshCandidatePairs(signatures: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val banded = signatures.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)), b =>
        hash(slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)), b))
      ).as(Seq("band", "band_hash")))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup: signatures → banded candidates → verified
    * by estimated jaccard from the signatures themselves.
    *
    * The signature pass is computed ONCE and checkpointed (round 8): the
    * plan references it FOUR times (both sides of the banded self-join,
    * both verification joins) and Spark does not dedupe common subplans
    * — uncached, the corpus is scanned and shingle-minhashed 4× per run
    * (the CC-init / linkPredict house lesson). The checkpoint holds
    * ~(8 + 8·numHashes) bytes/doc — the metadata-vs-payload trade of
    * guide §2.3/§5: at corpus scale that is a few hundred bytes per
    * document in MEMORY_AND_DISK against three saved full-corpus scans
    * plus their shingle/hash CPU. The result is materialized (the
    * RoundLoop output contract) BEFORE the signature blocks are freed —
    * a truncated-lineage checkpoint cannot be recomputed after
    * unpersist. */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    // integer division would silently drop the trailing signature rows
    // from banding (numHashes=64, bands=24 → rows 49–64 never produce
    // candidates), quietly reducing recall
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly")
    RoundLoop.run() { loop =>
      val sigs = loop.checkpoint(
        minhashSignatures(docs, textCol, idCol, k, numHashes))
      val cands = lshCandidatePairs(sigs, idCol, bands, numHashes / bands)
      val est = cands
        .join(sigs.select(col(idCol).as("a"), col("signature").as("sig_a")),
          "a")
        .join(sigs.select(col(idCol).as("b"), col("signature").as("sig_b")),
          "b")
        .withColumn("est_jaccard",
          expr("CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), " +
            "v -> v)) AS DOUBLE) / CAST(size(sig_a) AS DOUBLE)"))
      loop.output(est.where(col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard"))
    }
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over word hashes; near-dups share most bits. */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val acc = new Array[Int](64)
          text.split(' ').foreach { w =>
            val h = xxLike(w)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
              b += 1
            }
          }
          var fp = 0L
          var b = 0
          while (b < 64) { if (acc(b) > 0) fp |= (1L << b); b += 1 }
          (id, fp)
        }
      }.toDF(idCol, "simhash")
  }

  /** SimHash near-dups: band the 64 bits into 4×16-bit keys (any match →
    * candidate; catches all pairs with hamming distance ≤ 3), verify exact
    * hamming ≤ maxHamming. */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = simhash(docs, textCol, idCol)
    val banded = fp.select(col(idCol), col("simhash"), posexplode(
      array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16)
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "key")))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        col("l.simhash").as("ha"), col("r.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  // ---------------- n-gram Jaccard (exact, blocked) ----------------

  /** Exact word-k-gram jaccard over candidate pairs generated by a shared-
    * shingle equi-join within a blocking key — SQL-expressible, so this one
    * carries a DuckDB oracle.
    *
    * The candidate join keys on xxhash64(shingle) (8 bytes) instead of the
    * raw k-word shingle STRING: the exploded relation is the dominant
    * shuffle of this operator, and hashing cuts its width several-fold.
    * Shingles are distinct within a doc (array_distinct), so counting
    * matching hashes equals counting matching strings up to a 64-bit hash
    * collision — vanishing at any realistic block size, and the final
    * jaccard threshold is still computed from exact shingle-set sizes. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, k: Int, threshold: Double): DataFrame =
    shinglePairSizes(docs, textCol, idCol, blockCol, k)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")

  /** Exact word-k-gram CONTAINMENT over the same blocked candidates:
    * score = |A ∩ B| / min(|A|, |B|). The curation gap Jaccard misses —
    * a short document fully embedded in a long one scores
    * |B| / (|A| + |B| − |B|) under Jaccard (arbitrarily low as the host
    * grows) but exactly 1.0 under containment, so quote-inclusion /
    * boilerplate-wrapping duplicates surface regardless of host length.
    * Same scale shape and hash-collision assumption as
    * [[ngramJaccardPairs]]; SQL-expressible → DuckDB-oracled (q106). */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, k: Int, threshold: Double): DataFrame =
    shinglePairSizes(docs, textCol, idCol, blockCol, k)
      .withColumn("containment", col("inter").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .where(col("containment") >= threshold)
      .select("a", "b", "containment")

  /** Shared candidate machinery for the exact blocked pair scores:
    * (a, b, inter, na, nb) per candidate pair — shared-shingle equi-join
    * on xxhash64(shingle) within the block (see the scaladoc above for
    * why the join keys on the 8-byte hash), intersection counted per
    * pair, exact shingle-set sizes joined back. */
  private def shinglePairSizes(docs: DataFrame, textCol: String,
      idCol: String, blockCol: String, k: Int): DataFrame = {
    // the shingle explode + per-shingle hash is the CPU-amplifying
    // stage of this operator; an input that fits in one scan split
    // would run it on ONE core (measured: ~75–90% of q44/q106 wall at
    // the sf dirs) — spread small inputs across the session width
    // first, a no-op at corpus scale (see Partitioning.spreadSmallScan)
    val spread = Partitioning.spreadSmallScan(docs.sparkSession,
      docs.select(col(idCol), col(blockCol), col(textCol)))
    val withSh = spread.select(col(idCol), col(blockCol),
      shingles(col(textCol), k).as("sh"))
    val sizes = withSh.select(col(idCol), col(blockCol),
      size(col("sh")).as("nsh"))
    val exploded = withSh.select(col(idCol), col(blockCol),
      explode(transform(col("sh"), s => xxhash64(s))).as("shingle_h"))
    // deliberate join strategy (guide §3.1): the exploded relation is the
    // dominant shuffle of this operator and both sides are the same
    // (hash, block)-keyed stream — a shuffled-HASH join builds one side's
    // per-partition hash table and probes with the other, skipping the
    // two full sorts a sort-merge join would pay on the widest relation
    // in the plan. Build-side memory is one partition of (id, block,
    // hash) triples, the same bound the shuffle itself already implies.
    val inter = exploded.as("l").join(exploded.as("r").hint("shuffle_hash"),
        col("l.shingle_h") === col("r.shingle_h") &&
        col(s"l.$blockCol") === col(s"r.$blockCol") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col(idCol).as("b"), col("nsh").as("nb")), "b")
  }
}
