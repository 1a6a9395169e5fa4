package graft.queries

import graft.operators.{CorpusOps, Dedup, Sketches, TextAnalysis}
import graft.sources.Tables._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Text analysis and corpus curation over `documents`: token statistics,
  * quality features, language id, length stats, deterministic sampling
  * (reproducible train/dev splits), TF-IDF term scoring, corpus n-gram
  * statistics, benchmark decontamination, repetition signals, PII
  * redaction, context-window chunking, BPE training and encoding, the
  * composed curation pipeline (q100), and the Space-Saving / quantile
  * sketches. Every query but the BPE trainers and encoders (q98, q99,
  * q101, q102: rows-only, each with an exact BpeSpec equality) carries a
  * DuckDB oracle; the hash-based samplers replay Spark's xxhash64 exactly
  * via the XxHash64Sql HUGEINT CTE chain. The byte-level oracles assume
  * the driver corpus's verified shape: pure ASCII, single-space
  * separated, no leading/trailing whitespace (Java's split(' ') drops
  * trailing empties; DuckDB's string_split keeps them — equal only on
  * that shape).
  */
object TextQueries extends graft.QueryModule {

  /** q98 trains and q99/q102 encode with the SAME 10-merge table; queries are
    * independent entries by contract, but the learned table is a pure
    * function of (corpus bytes, nMerges), so it is memoized per key — one
    * training run per verify/bench sweep instead of two (round-4 verdict:
    * q99 was paying the full training cost again). The key carries the
    * corpus parquet's (length, mtime) fingerprint, NOT just the path: a
    * path-only key would silently serve a table trained on a previous
    * generation if the testdata is regenerated in a long-lived JVM — and
    * q98/q99 are rows-only-checked, so nothing downstream would catch
    * the staleness. The memo holds plain driver-side tuples, so it
    * survives session restarts within the JVM. */
  private val mergeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), Vector[(Int, String, String, Long)]]()
  private def corpusFingerprint(d: String): Option[String] = {
    // documents.parquet is a single driver-written file in the testdata
    // layout; for a directory the (length, mtime) of the dir entry still
    // changes on regeneration (children rewritten). A NON-LOCAL root
    // (s3://, hdfs://) is invisible to java.io.File — length/mtime come
    // back 0 and every generation would fingerprint identically, which
    // is exactly the staleness hole the fingerprint exists to close, so
    // an un-fingerprintable root gets NO memoization at all.
    // (length, mtime) alone leaves a residual collision: a regeneration
    // landing in the same mtime tick with identical byte length would
    // serve a stale table, and q98/q99/q102 are rows-only-checked — so
    // the key also carries a SHA-256 over the file's first and last 8 KB
    // (parquet footer metadata + first page: any content change moves
    // it) (round-5 advice).
    val f = new java.io.File(s"$d/documents.parquet")
    if (f.isDirectory) {
      // Spark-written parquet is a directory; fingerprint the child
      // listing (name, length, mtime — part-file names carry a fresh
      // write UUID, so ANY regeneration moves the hash even inside one
      // mtime tick; same collision-closure as the single-file branch)
      val h = sha8 { md =>
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName)
          .foreach(c => md.update(
            s"${c.getName}:${c.length}:${c.lastModified};"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      Some(s"dir:${f.lastModified}:$h")
    }
    else if (!f.isFile) None
    else {
      val h = sha8 { md =>
        val in = new java.io.RandomAccessFile(f, "r")
        try {
          val head = new Array[Byte](math.min(8192L, f.length).toInt)
          in.readFully(head)
          md.update(head)
          if (f.length > 8192) {
            val tail =
              new Array[Byte](math.min(8192L, f.length - 8192).toInt)
            in.seek(f.length - tail.length)
            in.readFully(tail)
            md.update(tail)
          }
        } finally in.close()
      }
      Some(s"${f.length}:${f.lastModified}:$h")
    }
  }
  /** 8-byte-hex SHA-256 over whatever `feed` digests — the ONE encoding
    * both fingerprint branches share, so width/format can't drift. */
  private def sha8(feed: java.security.MessageDigest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    feed(md)
    md.digest().take(8).map("%02x".format(_)).mkString
  }
  private def trainedMerges(s: SparkSession, d: String,
      nMerges: Int): Vector[(Int, String, String, Long)] = {
    def train() =
      graft.operators.BpeSpark.trainMerges(documents(s, d), "text", nMerges)
    corpusFingerprint(d) match {
      case Some(fp) => mergeMemo.computeIfAbsent((d, fp, nMerges), _ => train())
      case None => train()
    }
  }

  val queries: Map[String, QFn] = Map(
    "q40_word_topk" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(20)),

    "q41_token_counts" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.subwordCount(col("text")).as("subword_tokens"))
        .orderBy("doc_id")),

    "q42_quality_features" -> ((s, d) =>
      TextAnalysis.qualityFeatures(documents(s, d), "text")
        .select("doc_id", "n_words", "mean_word_len", "stopword_ratio",
          "alpha_ratio")
        .orderBy("doc_id")),

    "q48_langid" -> ((s, d) =>
      // heuristic language id over synthetic-keyword text: not meaningful
      // linguistically, but exercises the operator end to end; oracled
      // since round 3 by mirroring the vote/argmax semantics in SQL.
      // The per-word stopword vote is CPU-amplifying — spread one-split
      // inputs first (no-op at corpus scale)
      graft.operators.Partitioning.spreadSmallScan(s,
          documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),

    "q49_length_stats" -> ((s, d) =>
      documents(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          Q.dsum(col("n_chars").cast("double")).as("sum_chars"))
        .orderBy("lang", "source")),

    // deterministic 37% Bernoulli-by-hash split over documents — the
    // reproducible train/dev sampler; membership is a pure row function
    "q89_sample_hash" -> ((s, d) =>
      CorpusOps.sampleByHash(documents(s, d), col("doc_id"), 37)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // per-language quota of 20 docs in deterministic hash order; rn is
    // the stable intra-stratum draw index
    "q90_sample_stratified" -> ((s, d) =>
      CorpusOps.stratifiedSampleByHash(documents(s, d), "lang", "doc_id", 20)
        .select(col("stratum").as("lang"), col("id").as("doc_id"), col("rn"))
        .orderBy("lang", "rn")),

    // per-document top-5 TF-IDF terms (smooth idf, round-6 libm policy)
    "q91_tfidf" -> ((s, d) =>
      CorpusOps.tfIdf(documents(s, d), "text", "doc_id", 5)
        .orderBy("doc", "term")),

    // corpus top-30 word bigrams by frequency
    "q92_ngram_counts" -> ((s, d) =>
      CorpusOps.ngramCounts(documents(s, d), "text", k = 2, topK = 30)),

    // benchmark decontamination: docs sharing any 3-gram with the
    // "benchmark" slice (doc_id % 97 == 0), with shared-gram counts
    "q93_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      CorpusOps.contaminationCounts(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "text", "doc_id", k = 3)
        .orderBy("doc")
    }),

    // Gopher-style repetition quality signals (relational top-bigram)
    "q94_repetition_signals" -> ((s, d) =>
      graft.operators.TextAnalysis
        .repetitionSignals(documents(s, d), "text", "doc_id")
        .orderBy("doc_id")),

    // PII scrub on text with deterministically injected emails/phones
    // (the corpus itself is synthetic keywords — inject from doc_id so
    // the redaction actually fires and the oracle checks real matches)
    "q95_pii_redact" -> ((s, d) => {
      val withPii = documents(s, d).select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
          .as("text"))
      graft.operators.TextAnalysis.piiRedact(withPii, "text")
        .select("doc_id", "n_emails", "n_phones", "redacted")
        .orderBy("doc_id")
    }),

    // context-window packing: 32-token chunks, stride 16 (50% overlap)
    "q96_chunk_tokens" -> ((s, d) =>
      CorpusOps.chunkTokens(documents(s, d), "text", "doc_id",
          chunkSize = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx")),

    // BPE round 1: frequency-weighted char-pair counts (SQL-expressible)
    "q97_bpe_pairs" -> ((s, d) =>
      graft.operators.BpeSpark.initialPairCounts(documents(s, d), "text")
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(20)),

    // full distributed BPE training (driver fixpoint, one-row collects);
    // SQL-inexpressible (each merge re-tokenizes) → rows-only check +
    // the exact BpeSpec equality against the pure-Scala reference
    "q98_bpe_merges" -> ((s, d) => {
      import s.implicits._
      trainedMerges(s, d, 10).toDF("rank", "a", "b", "cnt").orderBy("rank")
    }),

    // ENCODE with the (memoized) q98 table: per-doc token counts under
    // the learned vocabulary (the inference half of the tokenizer;
    // rows-only + exact encode spec vs the pure reference, same pattern
    // as q98)
    "q99_bpe_encode" -> ((s, d) => {
      val docs = documents(s, d)
      graft.operators.BpeSpark
        .encodeTokenCounts(docs, "text", "doc_id", trainedMerges(s, d, 10))
        .orderBy("doc_id")
    }),

    // The whole curation layer as ONE plan: deterministic 60% train draw
    // → per-row quality gate → benchmark decontamination → context-window
    // chunking. Scale shape: the corpus path is sample(narrow filter) →
    // quality(narrow filter) → anti-join against a BROADCAST id set →
    // chunk(narrow explode) — the corpus itself never shuffles. The
    // contaminated-id side is built in a separate pass over the corpus
    // (scan → narrow gram explode → broadcast semi-join vs the benchmark
    // gram set → distinct over the tiny matching-id set); two corpus
    // SCANS total, zero corpus SHUFFLES — at 100 TB a second columnar
    // scan of (doc_id, text) streams, a corpus shuffle does not. In the
    // staged production pipeline the survivors would be materialized
    // between stages (the Icebergish pattern); this entry proves the
    // stages COMPOSE into one Catalyst plan with the same properties.
    "q100_curation_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val bench = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      // stage 1: reproducible Bernoulli-by-hash train draw (pure row fn)
      val sampled = CorpusOps.sampleByHash(corpus, col("doc_id"), 60)
      // stage 2: quality gate — length floor + distinct-word ratio (the
      // narrow per-row signals; the quadratic-HOF top-bigram signal
      // stays in its own aggregate-shaped query, q94)
      val words = split(col("text"), " ")
      val quality = sampled.where(size(words) >= 16 &&
        size(array_distinct(words)).cast("double") /
          size(words).cast("double") >= 0.45)
      // stage 3: decontamination — ids of QUALITY-SURVIVOR docs sharing
      // any word 3-gram with the benchmark slice. Round 8: the probe
      // side explodes only the sampled+quality survivors instead of the
      // full corpus (guide §2.3, project/filter before the expensive
      // explode): the anti-join below can only remove ids from the
      // quality set, so contaminated ids OUTSIDE it never matter — the
      // result is row-identical while the gram explode (the dominant
      // cost of this side) shrinks to the survivor volume. The quality
      // subtree is re-executed under the broadcast (Spark does not
      // dedupe common subplans), but it is a narrow filter over the
      // parquet scan — far cheaper than exploding the non-survivors.
      val benchGrams = bench
        .select(explode(Dedup.shingles(col("text"), 3)).as("gram"))
        .distinct()
      val contaminatedIds = quality
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3))
          .as("gram"))
        .join(broadcast(benchGrams), "gram")
        .select("doc_id").distinct()
      val clean = quality.join(broadcast(contaminatedIds),
        Seq("doc_id"), "left_anti")
      // stage 4: pack survivors into 32-token windows, stride 16
      CorpusOps.chunkTokens(clean, "text", "doc_id",
          chunkSize = 32, stride = 16)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Batched BPE training: same learned-table schema as q98 plus the
    // per-merge round index — at a production 30–50k vocab the exact
    // trainer is 30–50k sequential Spark jobs; batching applies the
    // symbol-disjoint prefix of the top-8 pairs per round (selection
    // rule + divergence contract at Bpe.trainBatched). SQL-inexpressible
    // → rows-only check + BpeSpec parity properties vs the pure batched
    // reference and vs the exact trainer on non-interacting vocab.
    "q101_bpe_merges_batched" -> ((s, d) => {
      import s.implicits._
      val (merges, rounds) = graft.operators.BpeSpark.trainMergesBatched(
        documents(s, d), "text", nMerges = 10, batchSize = 8)
      merges.map { case (rank, a, b, cnt) => (rank, a, b, cnt, rounds) }
        .toDF("rank", "a", "b", "cnt", "rounds")
        .orderBy("rank")
    }),

    // tokenized-corpus materialization: (doc_id, tokens) under the
    // (memoized) q98 vocabulary — the artifact a training pipeline
    // ships downstream, vs q99's count summary. SQL-inexpressible
    // (rank-priority merge inference) → rows-only + the exact
    // encode-equality spec in BpeSpec. The token list is flattened to a
    // space-joined string (q72 convention): the driver's checker
    // pandas-sorts every output — including no-oracle ones — and nested
    // values crash its hash; tokens never contain spaces (they are
    // merges of space-split words), so the join is lossless and
    // token-level equality stays pinned by BpeSpec
    "q102_bpe_tokens" -> ((s, d) =>
      graft.operators.BpeSpark.encodeTokens(documents(s, d), "text",
          "doc_id", trainedMerges(s, d, 10))
        .select(col("doc_id"), concat_ws(" ", col("tokens")).as("tokens"))
        .orderBy("doc_id")),

    // Space-Saving heavy hitters: top-20 corpus tokens via mergeable
    // capacity-bounded summaries (no corpus shuffle). Capacity 4096 vs
    // the corpus's ~31-word vocabulary puts the sketch in its EXACT
    // regime — no counter ever evicts, counts are order-independent and
    // err = 0 — so the query is DuckDB-oracleable against plain exact
    // counts (the vocab-fits-capacity assumption is pinned per sf dir
    // in OracleAssumptionsSpec); the approximate/eviction regime is
    // bound-verified in SketchesSpec
    "q103_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketches.heavyHitters(documents(s, d), "text",
          capacity = 4096, k = 20)
        .orderBy(col("cnt").desc, col("word").asc)),

    // Space-Saving heavy hitters over word BIGRAMS — the motivating
    // regime from Sketches' header: at 10^12 docs the n-gram key space
    // is corpus-sized, so q92's exact groupBy twin shuffles the whole
    // key space while the sketch ships one capacity-bounded summary per
    // partition. Same gram expression as q92 (rawShingles: short docs
    // contribute their single degenerate gram), so the oracle mirrors
    // q92's SQL. Capacity 4096 vs the sf dirs' ≲1000-bigram vocabulary
    // puts the sketch in its EXACT regime (no eviction anywhere → equal
    // to exact counting, order-independent, err = 0) — pinned per sf
    // dir in OracleAssumptionsSpec; the eviction regime (bigram vocab
    // ≫ capacity) is bound-verified + benched in SketchesSpec.
    "q104_heavy_hitter_bigrams" -> ((s, d) =>
      Sketches.heavyHittersOf(documents(s, d),
          CorpusOps.rawShingles(col("text"), 2), capacity = 4096, k = 20,
          itemCol = "gram")
        .orderBy(col("cnt").desc, col("gram").asc)),

    // Mergeable quantiles: per-language n_chars distribution cutoffs via
    // percentile_approx — Spark's GK-style QuantileSummaries, a
    // MERGEABLE bounded summary that partial-aggregates map-side, so at
    // corpus scale each group costs O(accuracy·log n) state instead of
    // the exact percentile's full per-group sort (q83 is the exact,
    // oracled twin of this shape). DuckDB-ORACLED in the sketch's exact
    // regime (the q103 pattern): with group sizes ≤ accuracy/2 the GK
    // summary retains every sample (no compress/merge can fuse two
    // weight-1 samples within the error budget) and double-exact values
    // (both pinned per sf dir in OracleAssumptions), the result is
    // EXACTLY the element at rank ⌈q·n⌉, which the oracle replays via
    // row_number — equality spec-pinned on adversarial random corpora
    // in Round6Spec, alongside the GK rank-guarantee bound that covers
    // the approximate regime.
    "q105_quantile_sketch" -> ((s, d) =>
      documents(s, d).groupBy("lang").agg(
        count(lit(1)).as("n"),
        percentile_approx(col("n_chars"), lit(0.25), lit(10000)).as("p25"),
        percentile_approx(col("n_chars"), lit(0.50), lit(10000)).as("p50"),
        percentile_approx(col("n_chars"), lit(0.75), lit(10000)).as("p75"))
        .orderBy("lang"))
  )

  val oracles: Map[String, String] = Map(
    "q40_word_topk" ->
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,

    "q41_token_counts" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text,
        |  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q42_quality_features" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS nw,
        |  CAST(list_sum(list_transform(string_split_regex(text, '\s+'),
        |    x -> length(x))) AS DOUBLE) AS sw,
        |  CAST(length(text) AS DOUBLE) AS nc,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |    AS DOUBLE) AS ac,
        |  CAST(len(list_intersect(string_split_regex(text, '\s+'),
        |    ['a','an','and','auf','avec','con','dans','das','de','den',
        |     'der','die','ein','eine','el','es','est','et','for','from',
        |     'im','in','is','ist','la','las','le','les','los','mit',
        |     'nicht','of','on','para','pas','por','pour','que','se','sur',
        |     'that','the','this','to','un','una','und','une','von','with',
        |     'y','zu'])) AS DOUBLE) AS sc
        |  FROM documents)
        |SELECT doc_id, CAST(nw AS INT) AS n_words,
        |  sw / nw AS mean_word_len,
        |  sc / nw AS stopword_ratio, ac / nc AS alpha_ratio
        |FROM f ORDER BY doc_id""".stripMargin,

    // langId's exact semantics in SQL: each DISTINCT lowered word votes
    // for every language whose stopword list contains it; winner = max
    // (score, lang) lexicographically (Spark's greatest over structs ==
    // ORDER BY score DESC, lang DESC LIMIT 1); CJK presence short-circuits
    // to zh, no votes → und. The (word, lang) VALUES list is generated
    // from the SAME TextAnalysis.Stopwords the operator folds into its
    // literal map, so the two can never drift.
    "q48_langid" -> {
      val vals = TextAnalysis.Stopwords.toSeq.sortBy(_._1)
        .flatMap { case (lang, ws) => ws.sorted.map(w => s"('$w','$lang')") }
        .mkString(", ")
      s"""WITH sw(w, lang) AS (VALUES $vals),
         |words AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    string_split_regex(lower(text), '\\s+'))) AS w
         |  FROM documents),
         |votes AS (
         |  SELECT wo.doc_id, sw.lang, COUNT(*) AS score
         |  FROM words wo JOIN sw ON wo.w = sw.w GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, lang DESC) AS rn FROM votes)
         |  WHERE rn = 1),
         |pred AS (
         |  SELECT d.doc_id,
         |    CASE WHEN regexp_matches(d.text, '[\\x{4e00}-\\x{9fff}]')
         |           THEN 'zh'
         |         WHEN b.lang IS NOT NULL THEN b.lang
         |         ELSE 'und' END AS lang_pred
         |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id)
         |SELECT lang_pred, COUNT(*) AS n FROM pred
         |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
    },

    "q49_length_stats" ->
      s"""SELECT lang, source, COUNT(*) AS n, MIN(n_chars) AS min_chars,
         |MAX(n_chars) AS max_chars,
         |${Q.dsumSql("CAST(n_chars AS DOUBLE)")} AS sum_chars
         |FROM documents GROUP BY lang, source
         |ORDER BY lang, source""".stripMargin,

    "q89_sample_hash" -> {
      val (cte, fin) = XxHash64Sql.hashCte("documents",
        "CAST(doc_id AS VARCHAR)", Seq("doc_id", "lang", "source", "n_chars"))
      s"""$cte
         |SELECT doc_id, lang, source, n_chars FROM $fin
         |WHERE ${XxHash64Sql.pmodSql("h", 100)} < 37
         |ORDER BY doc_id""".stripMargin
    },

    "q90_sample_stratified" -> {
      val (cte, fin) = XxHash64Sql.hashCte("documents",
        "CAST(doc_id AS VARCHAR)", Seq("doc_id", "lang"))
      s"""$cte,
         |r AS (SELECT lang, doc_id, CAST(row_number() OVER (
         |  PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rn FROM $fin)
         |SELECT lang, doc_id, rn FROM r WHERE rn <= 20
         |ORDER BY lang, rn""".stripMargin
    },

    "q91_tfidf" ->
      """WITH toks AS (SELECT doc_id AS doc,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT doc, tf.term AS term, tf.tf AS tf, dfq.df AS df,
        |  ROUND(CAST(tf.tf AS DOUBLE) *
        |    (ln((1.0 + n.n_docs) / (1.0 + dfq.df)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY doc ORDER BY tfidf DESC, term ASC) AS rn FROM sc)
        |SELECT doc, term, tf, df, tfidf FROM r WHERE rn <= 5
        |ORDER BY doc, term""".stripMargin,

    "q92_ngram_counts" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT unnest([array_to_string(words[i:i+1], ' ')
        |  FOR i IN range(1, greatest(len(words) - 1, 1) + 1)]) AS gram
        |  FROM w)
        |SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
        |ORDER BY cnt DESC, gram ASC LIMIT 30""".stripMargin,

    "q93_decontaminate" ->
      """WITH sh AS (SELECT doc_id, list_distinct([
        |    array_to_string(words[i:i+2], ' ')
        |    FOR i IN range(1, greatest(len(words) - 2, 1) + 1)]) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
        |bench AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id AS doc, gram FROM ex
        |           WHERE doc_id % 97 <> 0)
        |SELECT doc, COUNT(*) AS n_shared
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY doc ORDER BY doc""".stripMargin,

    // per-row double division of exactly-representable ints — no float
    // aggregation caveat, IEEE-identical in both engines; n_grams =
    // max(|words|-1, 1) mirrors rawShingles' short-doc boundary
    "q94_repetition_signals" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |base AS (SELECT doc_id,
        |  len(list_distinct(w))::DOUBLE / len(w)::DOUBLE AS dwr,
        |  greatest(len(w) - 1, 1) AS n_grams FROM w),
        |g AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
        |  FOR i IN range(1, greatest(len(w) - 1, 1) + 1)]) AS gram
        |  FROM w),
        |t AS (SELECT doc_id, max(c) AS top_cnt FROM (
        |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT base.doc_id, dwr AS distinct_word_ratio,
        |  top_cnt::DOUBLE / n_grams::DOUBLE AS top_bigram_frac
        |FROM base JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q95_pii_redact" -> {
      // regexes shared verbatim with TextAnalysis (RE2/Java-common subset)
      val em = graft.operators.TextAnalysis.EmailRe
      val ph = graft.operators.TextAnalysis.PhoneRe
      s"""WITH p AS (SELECT doc_id,
         |  substring(text, 1, 40) || ' contact user' ||
         |  CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
         |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(text, '$em', '[EMAIL]', 'g'), '$ph'))
         |    AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$em', '[EMAIL]', 'g'),
         |    '$ph', '[PHONE]', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin
    },

    // range(0, n, 16) mirrors filter(sequence(0, n-1), s % 16 == 0);
    // both slices truncate at the array end, so trailing chunks match
    "q96_chunk_tokens" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, w, unnest(range(0, len(w), 16)) AS st
        |      FROM w)
        |SELECT doc_id, CAST(st // 16 AS INT) AS chunk_idx,
        |  CAST(len(w[st + 1 : st + 32]) AS INT) AS n_tokens,
        |  array_to_string(w[st + 1 : st + 32], ' ') AS chunk
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    // range(1, strlen) is empty for single-char words, mirroring the
    // guarded sequence on the Spark side; ASCII corpus (pinned) makes
    // 1-char slices == chars
    "q97_bpe_pairs" ->
      """WITH wc AS (SELECT word, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents) GROUP BY word),
        |p AS (SELECT c, unnest([{'a': word[i:i], 'b': word[i+1:i+1]}
        |    FOR i IN range(1, strlen(word))]) AS p FROM wc)
        |SELECT p.a AS a, p.b AS b, CAST(SUM(c) AS BIGINT) AS cnt FROM p
        |GROUP BY 1, 2 ORDER BY cnt DESC, a ASC, b ASC LIMIT 20""".stripMargin,

    // sample draw replayed bit-exactly via the XxHash64Sql CTE chain
    // (q89 technique); shingle boundary and chunk slicing mirror the
    // q93/q96 oracles
    "q100_curation_pipeline" -> {
      val (cte, fin) = XxHash64Sql.hashCte("documents",
        "CAST(doc_id AS VARCHAR)", Seq("doc_id", "text"))
      s"""$cte,
         |sampled AS (SELECT doc_id, text FROM $fin
         |  WHERE doc_id % 97 <> 0
         |    AND ${XxHash64Sql.pmodSql("h", 100)} < 60),
         |sw AS (SELECT doc_id, string_split(text, ' ') AS w FROM sampled),
         |quality AS (SELECT doc_id, w FROM sw
         |  WHERE len(w) >= 16
         |    AND len(list_distinct(w))::DOUBLE / len(w)::DOUBLE >= 0.45),
         |benchg AS (SELECT DISTINCT unnest([
         |    array_to_string(bw[i:i+2], ' ')
         |    FOR i IN range(1, greatest(len(bw) - 2, 1) + 1)]) AS gram
         |  FROM (SELECT string_split(text, ' ') AS bw FROM documents
         |        WHERE doc_id % 97 = 0)),
         |cont AS (SELECT DISTINCT g.doc_id FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
         |      FOR i IN range(1, greatest(len(w) - 2, 1) + 1)]) AS gram
         |    FROM quality) g
         |  JOIN benchg USING (gram)),
         |clean AS (SELECT doc_id, w FROM quality
         |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |st AS (SELECT doc_id, w, unnest(range(0, len(w), 16)) AS st
         |       FROM clean)
         |SELECT doc_id, CAST(st // 16 AS INT) AS chunk_idx,
         |  CAST(len(w[st + 1 : st + 32]) AS INT) AS n_tokens,
         |  array_to_string(w[st + 1 : st + 32], ' ') AS chunk
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin
    },

    // the sketch's exact regime (capacity >> vocabulary, pinned by
    // OracleAssumptionsSpec) makes it equal to plain exact counting
    "q103_heavy_hitters" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,

    // exact regime (capacity ≫ bigram vocabulary, OracleAssumptionsSpec)
    // == plain exact counting; gram expression mirrors q92's oracle
    "q104_heavy_hitter_bigrams" ->
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT unnest([array_to_string(words[i:i+1], ' ')
        |  FOR i IN range(1, greatest(len(words) - 1, 1) + 1)]) AS gram
        |  FROM w)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM g GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20""".stripMargin,

    // exact-regime GK: the returned value is the element at rank
    // ⌈q·n⌉ (1-indexed; licensed + caveated in Round6Spec's
    // rank-formula spec, regimes pinned in OracleAssumptions). CEIL of
    // a dyadic q times an integer is float-exact, and the CAST of its
    // integral double to BIGINT is exact on both engines.
    "q105_quantile_sketch" ->
      """WITH s AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
        |      THEN n_chars END) AS p25,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT)
        |      THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT)
        |      THEN n_chars END) AS p75
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin
  )
}
