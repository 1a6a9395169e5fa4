package graft.queries

import graft.operators.{ConnectedComponents, Dedup, Similarity, TextAnalysis}
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup and similarity search. Over `documents`: exact, n-gram Jaccard,
  * minhash, simhash, fingerprint and containment near-dup detection, and
  * the dedup action that clusters containment pairs and elects one
  * survivor per cluster (q109). Over `embeddings` (vec_id, embedding
  * ARRAY<FLOAT>, label): brute-force, IVF, sign-LSH and int8-quantized
  * cosine search. Every entry carries a DuckDB oracle: the signature ops
  * are replayed exactly via HUGEINT mod-2^64 arithmetic (see the
  * per-oracle comments; the byte-level ones assume the ASCII,
  * single-space corpus shape TextQueries describes), the ANN paths replay
  * the same cosine/argmax/top-k semantics in SQL and are additionally
  * recall-checked against brute force in the specs.
  */
object SimilarityQueries extends graft.QueryModule {

  private def queryVectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).where(col("vec_id") < 8)

  val queries: Map[String, QFn] = Map(
    "q43_exact_dedup" -> ((s, d) =>
      Dedup.exact(documents(s, d), "text", "doc_id")
        .groupBy("dup_count").agg(count(lit(1)).as("n_groups"))
        .orderBy("dup_count")),

    "q44_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          "source", k = 3, threshold = 0.03)
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          Q.dsum(col("jaccard")).as("sum_jaccard"))),

    "q45_minhash_neardup" -> ((s, d) =>
      // oracled since round 3 (signatures + banding replayed in SQL);
      // estimate-vs-true-jaccard exactness asserted in OperatorsSpec
      Dedup.minhashNearDups(documents(s, d), "text", "doc_id",
          k = 2, numHashes = 64, bands = 32, threshold = 0.30)
        .orderBy("a", "b")),

    "q46_simhash" -> ((s, d) =>
      Dedup.simhash(documents(s, d), "text", "doc_id")
        .orderBy("doc_id")),

    "q47_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(documents(s, d), "text", "doc_id")
        .orderBy("doc_id")),

    "q50_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), queryVectors(s, d),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rk")),

    "q51_label_centroid_sim" -> ((s, d) =>
      // per-label count + exact sum of squared norms via the aggregate()
      // higher-order function, fully codegen'd. NOTE the name oversells
      // it: no centroid/cosine is computed here (kept for driver-history
      // continuity) — the cosine surface lives in q50/q52/q53 and the
      // native CosineSimilarity Expression
      embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          Q.dsum(aggregate(col("embedding"), lit(0.0),
            (acc, v) => acc + v.cast("double") * v.cast("double")))
            .as("sum_sqnorm"))
        .orderBy("label")),

    "q52_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDups(embeddings(s, d), "vec_id", "embedding",
          nBits = 12, dim = 64, threshold = 0.2)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("a", "b")),

    "q53_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(embeddings(s, d), queryVectors(s, d), "vec_id",
          "embedding", nCells = 16, nProbe = 4, k = 5)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rk")),

    // Containment near-dup: exact 3-gram containment (|A∩B| / min sets)
    // over the q44 blocked candidates — the dedup axis Jaccard misses:
    // a short doc fully embedded in a long host scores near zero under
    // Jaccard but exactly 1.0 under containment (the sf dirs contain
    // such a pair; the quote-inclusion / boilerplate-wrapping case).
    // Same candidate join, same 8-byte shingle-hash keys, same collision
    // assumption as q44; pair output is bounded by the 0.10 threshold.
    "q106_containment_neardup" -> ((s, d) =>
      graft.operators.Dedup.containmentPairs(documents(s, d), "text",
          "doc_id", "source", k = 3, threshold = 0.10)
        .orderBy("a", "b")),

    // Int8 scalar-quantized cosine top-k: the memory-bound ANN path —
    // codes materialize as BINARY at 1 byte/component (measured
    // 69 bytes/vector cached vs 277 float32 — 4.0×; BASELINE.md),
    // ranking by INTEGER code dot (Int8DotProduct codegen). Because
    // quantization involves only per-ROW float math, the integer
    // ranking replays bit-exactly in DuckDB: the rare ANN whose
    // approximation is itself hash-ORACLED (vs q53's IVF, whose oracle
    // replays the probe but whose quality needs a recall spec — q108
    // carries BOTH). Same query set as q50, whose exact ranking is the
    // recall reference in Round6Spec.
    "q108_quantized_topk" -> ((s, d) =>
      graft.operators.Similarity.quantizedTopK(embeddings(s, d),
          embeddings(s, d).where(col("vec_id") < 8), "vec_id",
          "embedding", k = 5)
        .orderBy("query_id", "rk")),

    // Containment-dedup clusters: q106's pairs as edges → connected
    // components (the q63 fixpoint operator — double pointer-jump,
    // map-side-combined neighbor-min, lineage-cut rounds) → per-cluster
    // canonical = min doc_id (exactly the CC label), keep = is-canonical,
    // csize = cluster population. Docs in NO pair are absent: they are
    // implicitly kept, and at corpus scale materializing "not a dup" for
    // 10^12 docs would dwarf the dup set itself. Both building blocks
    // are independently hash-oracled (q106 pairs, q63/q88 closure), and
    // the composition is oracled end-to-end here via the pair CTEs +
    // WITH RECURSIVE closure.
    "q109_containment_clusters" -> ((s, d) => {
      val pairs = Dedup.containmentPairs(documents(s, d), "text",
        "doc_id", "source", k = 3, threshold = 0.10)
      // smallGraphThreshold: a dup-PAIR graph is usually tiny even when
      // the corpus is not — when the measured edge/node counts come in
      // under 1M the operator runs its own UnionFind oracle on the
      // driver (bit-identical labels, ~32 MB bound) instead of paying
      // ~10 job dispatches of distributed fixpoint on a toy graph; a
      // bigger dup graph automatically takes the distributed path.
      // runManaged (not run): the final-round blocks are freed as soon
      // as the projected result is materialized, so repeated executions
      // in one session (bench warm-up + timed pass) cannot accumulate
      // block-manager storage (round-7 advice).
      val handle = ConnectedComponents.runManaged(s,
        pairs.select(col("a").as("src"), col("b").as("dst")),
        smallGraphThreshold = 1L << 20)
      val out = GraphQueries.withGroupSize(handle.labels, "comp")
        .select(col("node").as("doc_id"), col("comp").as("canon"),
          (col("node") === col("comp")).as("keep"), col("csize"))
        .localCheckpoint(eager = true)
      handle.close()
      out.orderBy("doc_id")
    })
  )

  /** FNV-1a 64 of the ASCII string column `c`, as a DuckDB list_reduce
    * lambda: xor runs in signed BIGINT (bit-equal to unsigned xor), the
    * wrapping multiply in HUGEINT mod 2^64, wrapped back to signed —
    * shared by the q45 (shingle) and q46 (word) oracles so the
    * arithmetic can never desynchronize between them. */
  private def fnvSql(c: String): String =
    s"""list_reduce(
       |      list_prepend(-3750763034362895579,
       |        list_transform(range(1, strlen($c) + 1), i -> ascii($c[i]))),
       |      (h, c) -> CAST(
       |        CASE WHEN ((CASE WHEN xor(h, c) < 0
       |                    THEN xor(h, c)::HUGEINT
       |                         + 18446744073709551616::HUGEINT
       |                    ELSE xor(h, c)::HUGEINT END)
       |                   * 1099511628211::HUGEINT)
       |                  % 18446744073709551616::HUGEINT
       |                  >= 9223372036854775808::HUGEINT
       |          THEN ((CASE WHEN xor(h, c) < 0
       |                 THEN xor(h, c)::HUGEINT
       |                      + 18446744073709551616::HUGEINT
       |                 ELSE xor(h, c)::HUGEINT END)
       |                * 1099511628211::HUGEINT)
       |               % 18446744073709551616::HUGEINT
       |               - 18446744073709551616::HUGEINT
       |          ELSE ((CASE WHEN xor(h, c) < 0
       |                 THEN xor(h, c)::HUGEINT
       |                      + 18446744073709551616::HUGEINT
       |                 ELSE xor(h, c)::HUGEINT END)
       |                * 1099511628211::HUGEINT)
       |               % 18446744073709551616::HUGEINT
       |          END AS BIGINT))""".stripMargin

  /** The DuckDB mirror of Similarity.cosine / the native expression: same
    * dot/sqrt association, same zero-norm→NULL guard — proven bit-exact by
    * q50 since round 1. */
  private def cosSql(a: String, b: String): String = {
    def sq(v: String) =
      s"list_aggregate(list_transform($v, x -> CAST(x AS DOUBLE) * " +
        "CAST(x AS DOUBLE)), 'sum')"
    val dot = s"list_aggregate(list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    s"CASE WHEN ${sq(a)} * ${sq(b)} = 0 THEN NULL " +
      s"ELSE $dot / (sqrt(${sq(a)}) * sqrt(${sq(b)})) END"
  }

  /** q52's hyperplanes, regenerated from the SAME seeded Rng stream as
    * Similarity.planes (SplitMix64, seed 0x91239876, nBits=12 × dim=64)
    * and embedded as DOUBLE[] literals — Double.toString round-trips, so
    * DuckDB parses bit-identical planes and the sign tests agree. */
  private def q52Planes: Seq[Seq[Double]] = {
    val rng = new graft.core.Rng(0x91239876L)
    Seq.fill(12)(Seq.fill(64)(rng.nextDouble() * 2.0 - 1.0))
  }

  val oracles: Map[String, String] = Map(
    "q43_exact_dedup" ->
      """SELECT dup_count, COUNT(*) AS n_groups FROM (
        |  SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |  FROM documents GROUP BY text)
        |GROUP BY dup_count ORDER BY dup_count""".stripMargin,

    "q44_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, list_distinct([
         |    array_to_string(words[i:i+2], ' ')
         |    FOR i IN range(1, greatest(len(words) - 2, 1) + 1)]) AS shingles
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words
         |        FROM documents)),
         |ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
         |sz AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
         |inter AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
         |  FROM ex l JOIN ex r ON l.shingle = r.shingle
         |    AND l.source = r.source AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT a, b, CAST(i AS DOUBLE) /
         |    CAST(sa.nsh + sb.nsh - i AS DOUBLE) AS jaccard
         |  FROM inter JOIN sz sa ON inter.a = sa.doc_id
         |  JOIN sz sb ON inter.b = sb.doc_id)
         |SELECT COUNT(*) AS n_pairs,
         |  ${Q.dsumSql("jaccard")} AS sum_jaccard
         |FROM j WHERE jaccard >= 0.03""".stripMargin,

    // minhash-LSH replayed exactly. The banded candidate join keys on the
    // signature SLICES themselves (Spark's hash(slice) is only an
    // equality proxy for slice equality, so no Murmur3 is needed in SQL);
    // FNV-1a shingle bases reuse q46's HUGEINT lambda; the 64 affine
    // (a, b) params are regenerated from the SAME seeded Rng stream as
    // Dedup.hashParams and embedded with a split into 32-bit halves so
    // the wrapping 64×64-bit multiply fits INT128:
    //   (a·x) mod 2^64 = (a_lo·x + ((a_hi·x) mod 2^32)·2^32) mod 2^64.
    // Mins compare SIGNED longs, exactly like the Scala loop.
    "q45_minhash_neardup" -> {
      val rng = new graft.core.Rng(0x5eed5eedL)
      val hp = (0 until 64).map { h =>
        val a = rng.nextLong() | 1L
        val b = rng.nextLong()
        s"($h, ${a >>> 32}::HUGEINT, ${a & 0xffffffffL}::HUGEINT, " +
          s"${java.lang.Long.toUnsignedString(b)}::HUGEINT)"
      }.mkString(", ")
      val fnv = fnvSql("sh")
      val mulmod =
        """((hp.al * bu + ((hp.ah * bu) % 4294967296::HUGEINT)
          |               * 4294967296::HUGEINT + hp.b)
          |              % 18446744073709551616::HUGEINT)""".stripMargin
      s"""WITH hp(h, ah, al, b) AS (VALUES $hp),
         |docs AS (
         |  SELECT doc_id, string_split(text, ' ') AS words,
         |    len(string_split(text, ' ')) AS nw
         |  FROM documents),
         |shingles AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(nw - 1, 1) + 1),
         |      i -> array_to_string(words[i:least(i + 1, nw)], ' '))) AS sh
         |  FROM docs),
         |bases AS (
         |  SELECT doc_id,
         |    CASE WHEN base < 0
         |      THEN base::HUGEINT + 18446744073709551616::HUGEINT
         |      ELSE base::HUGEINT END AS bu
         |  FROM (SELECT doc_id, $fnv AS base FROM shingles)),
         |minh AS (
         |  SELECT doc_id, hp.h,
         |    MIN(CAST(CASE WHEN $mulmod >= 9223372036854775808::HUGEINT
         |      THEN $mulmod - 18446744073709551616::HUGEINT
         |      ELSE $mulmod END AS BIGINT)) AS mh
         |  FROM bases, hp GROUP BY doc_id, hp.h),
         |sigs AS (
         |  SELECT doc_id, list(mh ORDER BY h) AS sig FROM minh
         |  GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, b, sig[2*b + 1 : 2*b + 2] AS band
         |  FROM sigs, range(0, 32) r(b)),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.band = r.band
         |    AND l.doc_id < r.doc_id),
         |est AS (
         |  SELECT a, b,
         |    CAST(len(list_filter(list_zip(sa.sig, sb.sig),
         |      p -> p[1] = p[2])) AS DOUBLE) / 64.0 AS est_jaccard
         |  FROM cands JOIN sigs sa ON cands.a = sa.doc_id
         |  JOIN sigs sb ON cands.b = sb.doc_id)
         |SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.30
         |ORDER BY a, b""".stripMargin
    },

    // simhash replayed exactly: FNV-1a per word (xor in signed BIGINT is
    // bit-equal to unsigned xor; the wrapping multiply runs in HUGEINT
    // mod 2^64 and wraps back to signed), then ±1 votes per bit over all
    // word occurrences, then the 64-bit fingerprint reassembled with the
    // sign bit handled explicitly. ASCII-only corpus (charAt == ascii).
    "q46_simhash" ->
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    ${fnvSql("w")} AS h
        |  FROM words),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hashed, range(0, 64) r(b)
        |  GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 AND b < 63
        |        THEN (1::HUGEINT << b) ELSE 0 END)
        |      - CASE WHEN MAX(CASE WHEN b = 63 AND v > 0
        |            THEN 1 ELSE 0 END) = 1
        |        THEN 9223372036854775808::HUGEINT ELSE 0 END AS BIGINT)
        |      AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,

    // the 64-bit rolling hash (h = 31*h + char, wrapping) replayed in
    // HUGEINT modular arithmetic, then wrapped back to signed BIGINT.
    // Exact for the driver corpus because its text is pure ASCII, where
    // Spark's UTF-16 charAt equals DuckDB's ascii(); h*31+c stays far
    // below the HUGEINT range before each mod.
    "q47_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |       THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(1125899906842597::HUGEINT,
        |        list_transform(range(1, strlen(text) + 1),
        |          i -> ascii(text[i])::HUGEINT)),
        |      (h, c) -> (h * 31 + c) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // expressed via cosSql so every cosine oracle in this file shares ONE
    // representation of the dot/sqrt association and zero-norm guard
    "q50_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
         |  FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id,
         |    ${cosSql("q.qvec", "v.embedding")} AS cos
         |  FROM embeddings v, q WHERE v.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY query_id
         |    ORDER BY cos DESC NULLS LAST, neighbor_id ASC) AS rk
         |  FROM scored)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
         |  round(cos, 6) AS cos_r
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "q51_label_centroid_sim" ->
      s"""SELECT label, COUNT(*) AS n,
         |${Q.dsumSql("list_aggregate(list_transform(embedding, " +
           "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')")}
         | AS sum_sqnorm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    // sign-LSH near-dup in SQL: bucket = 12 hyperplane sign bits (dot
    // products in the same double-summation order as the typed map),
    // bucket equi-join, exact-cosine verify — the full operator replayed
    "q52_embedding_neardup" -> {
      val planes = q52Planes
      def planeDot(b: Int): String = {
        val lit = planes(b).mkString("[", ",", "]::DOUBLE[]")
        s"list_aggregate(list_transform(list_zip($lit, embedding), " +
          "p -> p[1] * CAST(p[2] AS DOUBLE)), 'sum')"
      }
      val bucket = (0 until 12).map(b =>
        s"(CASE WHEN ${planeDot(b)} >= 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH buckets AS (
         |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
         |SELECT a, b, round(cos, 6) AS cos_r FROM (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |    ${cosSql("l.embedding", "r.embedding")} AS cos
         |  FROM buckets l JOIN buckets r
         |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |WHERE cos >= 0.2 ORDER BY a, b""".stripMargin
    },

    // the full IVF path in SQL: same deterministic centroids (lowest-id
    // vectors), same assignment argmax (sim DESC NULLS LAST, cell_id ASC
    // == the fold's first-wins tie-break), same probe/top-k semantics
    "q53_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
         |  ORDER BY vec_id ASC LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT v.vec_id, v.embedding, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.embedding", "c.cvec")}
         |          DESC NULLS LAST, c.cell_id ASC) AS rk
         |    FROM embeddings v, cents c)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT query_id, qvec, cell_id FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.cvec")}
         |          DESC NULLS LAST, c.cell_id ASC) AS rk
         |    FROM embeddings q, cents c WHERE q.vec_id < 8)
         |  WHERE rk <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${cosSql("p.qvec", "a.embedding")} AS cos
         |  FROM probes p JOIN assigned a USING (cell_id)
         |  WHERE a.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY query_id
         |    ORDER BY cos DESC NULLS LAST, neighbor_id ASC) AS rk
         |  FROM scored)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
         |  round(cos, 6) AS cos_r
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // mirrors the q44 oracle's candidate CTEs; only the final score
    // changes (containment i/min instead of jaccard i/(union))
    "q106_containment_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct([
        |    array_to_string(words[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(words) - 2, 1) + 1)]) AS shingles
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words
        |        FROM documents)),
        |ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
        |  FROM ex l JOIN ex r ON l.shingle = r.shingle
        |    AND l.source = r.source AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  i::DOUBLE / least(sa.nsh, sb.nsh)::DOUBLE AS containment
        |FROM inter JOIN sz sa ON inter.a = sa.doc_id
        |           JOIN sz sb ON inter.b = sb.doc_id
        |WHERE i::DOUBLE / least(sa.nsh, sb.nsh)::DOUBLE >= 0.10
        |ORDER BY a, b""".stripMargin,

    // the whole quantize→integer-dot→rank path replayed: per-row norm
    // (left-fold sum of squares, the q50-proven list_aggregate order),
    // floor(x/‖v‖·127+0.5) codes, integer dot, (dot desc, id asc) rank
    "q108_quantized_topk" ->
      """WITH nv AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS n2
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / sqrt(n2) * 127 + 0.5)
        |        AS BIGINT)) AS code
        |  FROM nv WHERE n2 <> 0),
        |q AS (SELECT vec_id AS query_id, code AS qcode
        |      FROM qz WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, v.vec_id AS neighbor_id,
        |    CAST(list_aggregate(list_transform(list_zip(q.qcode, v.code),
        |      p -> p[1] * p[2]), 'sum') AS BIGINT) AS dot_q
        |  FROM qz v, q WHERE v.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, dot_q, ROW_NUMBER() OVER (
        |    PARTITION BY query_id
        |    ORDER BY dot_q DESC, neighbor_id ASC) AS rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, dot_q
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // q106's candidate CTEs (same shingle/containment replay), then the
    // q63-style WITH RECURSIVE min-label closure over the pair edges.
    // The expensive CTEs are MATERIALIZED: DuckDB re-evaluates inlined
    // CTEs on every reference, and `sym` is referenced once per
    // RECURSION STEP — without the barrier the whole shingle self-join
    // would replay each iteration (the q71 CTE-explosion lesson).
    "q109_containment_clusters" ->
      """WITH RECURSIVE
        |sh AS MATERIALIZED (
        |  SELECT doc_id, source, list_distinct([
        |    array_to_string(words[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(words) - 2, 1) + 1)]) AS shingles
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words
        |        FROM documents)),
        |ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
        |sz AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |inter AS MATERIALIZED (
        |  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
        |  FROM ex l JOIN ex r ON l.shingle = r.shingle
        |    AND l.source = r.source AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT a, b FROM inter
        |  JOIN sz sa ON inter.a = sa.doc_id
        |  JOIN sz sb ON inter.b = sb.doc_id
        |  WHERE i::DOUBLE / least(sa.nsh, sb.nsh)::DOUBLE >= 0.10),
        |sym AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM pairs
        |  UNION SELECT b AS u, a AS v FROM pairs),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.u, rr.r FROM sym s JOIN reach rr ON s.v = rr.node),
        |lab AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
        |SELECT node AS doc_id, comp AS canon, (node = comp) AS keep,
        |  COUNT(*) OVER (PARTITION BY comp) AS csize
        |FROM lab ORDER BY doc_id""".stripMargin
  )
}
