package graft.operators

import graft.core.Rng
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Baseline: brute-force cosine top-k with codegen'd higher-order functions
  * (zip_with + aggregate — no UDF in the hot path). Scale path: LSH by
  * random-hyperplane sign buckets (deterministic planes), so candidate
  * generation is an equi-join on bucket keys instead of a cross join; and an
  * IVF-style variant that partitions vectors by nearest coarse centroid and
  * probes only the closest cells.
  */
object Similarity {

  /** cosine(a, b) over ARRAY<FLOAT>: the native codegen'd Catalyst
    * expression (same arithmetic association as `cosineHof` and the
    * DuckDB oracle — bit-equal results, asserted in FunctionsSpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** The composable higher-order-function form (zip_with + aggregate).
    * Kept as the cross-check implementation; allocates an intermediate
    * array per row that the native expression avoids (measured comparable
    * at bench scale — the join dominates there). */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    // zero-norm / empty input → null, never NaN (same guard as the native
    // expression and the DuckDB oracle; NaN would sort ABOVE every real
    // cosine in a descending top-k)
    when(na * nb === 0.0, lit(null).cast("double"))
      .otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  /** Brute-force top-k neighbors for each of `queries` rows (small side —
    * broadcast) against the full vector table.
    *
    * Scale shape (round-3 rewrite): the scored relation is reduced by a
    * per-partition bounded-heap partial top-k FIRST — a narrow typed map,
    * no shuffle — so at most partitions × |queries| × k candidate rows ever
    * reach the final exact window. The round-2 plan put the ENTIRE scored
    * relation through a Window.partitionBy(query_id), funneling |vectors|
    * rows into ≤ |queries| tasks — the one plan in the repo that melted at
    * 100×. The candidate ordering here is exactly the window's ordering
    * (cos DESC NULLS LAST, id ASC — a total order), so any row of the true
    * global top-k survives its partition's partial top-k and the output is
    * bit-identical (asserted vs the naive window in Round3Spec and by the
    * unchanged q50 DuckDB oracle). */
  /** These operators carry ids as LONG internally (the typed partial
    * top-k and bucket maps); fail fast on non-integral id columns — a
    * silent cast would null every id — and cast outputs back so the
    * caller's id type survives round-trip. */
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): org.apache.spark.sql.types.DataType = {
    val idType = df.schema(idCol).dataType
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    require(integral.contains(idType),
      s"$op needs an integral id column, got $idCol: $idType " +
        "— derive one first (xxhash64 / monotonically_increasing_id)")
    idType
  }

  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val idType = requireIntegralId(vectors, idCol, "bruteForceTopK")
    // the queries side is cast("long") too — guard it the same way, or a
    // string/decimal-id query table would silently null every query_id
    requireIntegralId(queries, idCol, "bruteForceTopK (queries side)")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qvec"))
    val v = vectors.select(col(idCol).cast("long").as("vec_id2"),
      col(vecCol).as("vvec"))
    val scored = v.crossJoin(broadcast(q))
      .where(col("vec_id2") =!= col("query_id"))
      .withColumn("cos", cosine(col("qvec"), col("vvec")))
      .select(col("query_id"), col("vec_id2"), col("cos"))
    exactTopKPerQuery(partialTopKPerPartition(scored, k), k)
      .select(col("query_id").cast(idType).as("query_id"), col("rk"),
        col("neighbor_id").cast(idType).as("neighbor_id"), col("cos"))
  }

  /** Worse-first candidate ordering: ranks (id, cos) GREATER when it would
    * sort LOWER under the top-k window's (cos DESC NULLS LAST, id ASC) —
    * so a max-PriorityQueue's head is the weakest kept candidate. */
  private val worseFirst: Ordering[(Long, Option[Double])] =
    new Ordering[(Long, Option[Double])] {
      def compare(a: (Long, Option[Double]),
          b: (Long, Option[Double])): Int = (a._2, b._2) match {
        case (None, None) => java.lang.Long.compare(a._1, b._1)
        case (None, Some(_)) => 1
        case (Some(_), None) => -1
        case (Some(x), Some(y)) =>
          val c = java.lang.Double.compare(y, x)
          if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }

  /** Narrow partial top-k: per input partition, a bounded heap per query
    * keeps its k best (query_id, vec_id2, cos) rows. Emits ≤ |queries| × k
    * rows PER PARTITION with no shuffle; memory is O(|queries| × k). */
  private[graft] def partialTopKPerPartition(scored: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(Long, Long, Option[Double])].mapPartitions { it =>
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Long, Option[Double])]]
      it.foreach { case (qid, vid, cos) =>
        val h = heaps.getOrElseUpdate(qid,
          scala.collection.mutable.PriorityQueue.empty(worseFirst))
        val cand = (vid, cos)
        if (h.size < k) h.enqueue(cand)
        else if (worseFirst.compare(cand, h.head) < 0) {
          h.dequeue(); h.enqueue(cand)
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map(c => (qid, c._1, c._2))
      }
    }.toDF("query_id", "vec_id2", "cos")
  }

  /** Exact final top-k over the (small) candidate relation. */
  private def exactTopKPerQuery(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id2").asc)
    cands.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id2").as("neighbor_id"),
        col("cos"))
  }

  /** Int8 code table: (id LONG, code BINARY) — one SIGNED byte per
    * component, floor(x/‖v‖·127 + 0.5) ∈ [-127, 127] (no clamp needed
    * since |x| ≤ ‖v‖). This is where the memory claim of scalar
    * quantization is actually realized: the code column materializes at
    * 1 byte/component (Array[Byte] encodes as BinaryType — a flat byte
    * blob in tungsten rows and in parquet), vs 4 for the float32
    * embedding and 8 + ArrayData overhead for the ARRAY<BIGINT> form
    * the HOF-based dot used to force (measured: BASELINE.md). A vector
    * whose norm is zero or incomputable (null vector / null component)
    * cannot be normalized and is excluded — pinned against the q108
    * oracle by the no-null-components probe in OracleAssumptions.
    * Quantization runs as a narrow TYPED map (the minhash shape): an
    * expression form cannot compute the norm once per row —
    * CollapseProject inlines a single-referenced norm column back INTO
    * the transform lambda, re-running the O(d) fold per COMPONENT
    * (verified on the optimized plan; the repo's documented
    * per-row-quadratic scale bug) — while the typed map is explicit
    * O(d) per row and the same IEEE double ops keep the oracle
    * bit-exact. */
  private[graft] def quantizeCodes(df: DataFrame, idCol: String,
      vecCol: String, outId: String, outCode: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(vecCol).isNotNull &&
        forall(col(vecCol), x => x.isNotNull))
      .select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (id, vec) =>
        var s = 0.0
        var i = 0
        while (i < vec.length) { s += vec(i) * vec(i); i += 1 }
        if (s == 0.0) None
        else {
          val n = math.sqrt(s)
          Some((id,
            vec.map(x => math.floor(x / n * 127 + 0.5).toByte)))
        }
      })
      .toDF(outId, outCode)
  }

  /** Int8 scalar-quantized (SQ) cosine top-k — the memory-bound ANN
    * technique: unit-normalize each vector and quantize every component
    * to a signed-byte code (`quantizeCodes`), then rank neighbors per
    * query by the INTEGER dot product of the code blobs
    * (`Int8DotProduct`, a codegen'd Catalyst expression over BINARY —
    * one primitive loop, no per-row allocation). At 100 TB the point
    * is storage/bandwidth: codes are 1 byte/component, so an executor
    * holds 4× more vectors than float32 (measured bytes/vector
    * recorded in BASELINE.md), and the integer dot is
    * SIMD-friendly; because the score is an exact integer
    * (quantization is per-ROW float math only — no cross-row float
    * reductions), the ranking replays bit-exactly in DuckDB, so unlike
    * classic ANN the approximation itself is hash-ORACLED (q108).
    * Ranking quality vs exact cosine is pinned by recall specs — on
    * the sf corpora (recall 1.0) AND on a near-tie synth corpus where
    * quantization demonstrably flips the ranking (Round7Spec). */
  def quantizedTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val vIdType = requireIntegralId(vectors, idCol, "quantizedTopK")
    // the output query_id is cast back with the QUERIES side's own id
    // type — casting with the vectors side's (narrower) type would
    // silently wrap wide query ids
    val qIdType =
      requireIntegralId(queries, idCol, "quantizedTopK (queries side)")
    val q = quantizeCodes(queries, idCol, vecCol, "query_id", "qcode")
    val v = quantizeCodes(vectors, idCol, vecCol, "vec_id2", "vcode")
    val scored = v.crossJoin(broadcast(q))
      .where(col("vec_id2") =!= col("query_id"))
      // the integer dot (|dot| ≤ 127²·dim) is exactly representable as
      // double, so the shared bounded-heap top-k machinery applies
      .withColumn("cos",
        graft.functions.Int8DotProduct(col("qcode"), col("vcode"))
          .cast("double"))
      .select(col("query_id"), col("vec_id2"), col("cos"))
    exactTopKPerQuery(partialTopKPerPartition(scored, k), k)
      .select(col("query_id").cast(qIdType).as("query_id"), col("rk"),
        col("neighbor_id").cast(vIdType).as("neighbor_id"),
        col("cos").cast("long").as("dot_q"))
  }

  /** Deterministic random hyperplanes (nBits × dim), seeded. */
  private def planes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val rng = new Rng(0x91239876L)
    Array.fill(nBits)(Array.fill(dim)(rng.nextDouble() * 2.0 - 1.0))
  }

  /** (id, vec, bucket) in ONE narrow typed map. Callers that need the
    * vector next to its bucket (the near-dup verify) must use this — a
    * separate bucket table re-joined by id would shuffle the whole vector
    * relation just to reattach a column the map already had in hand. */
  def lshBucketsWithVec(vectors: DataFrame, idCol: String, vecCol: String,
      nBits: Int, dim: Int): DataFrame = {
    requireIntegralId(vectors, idCol, "lshBuckets")
    val spark = vectors.sparkSession
    import spark.implicits._
    val ps = planes(nBits, dim)
    vectors.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, vec) =>
          var key = 0L
          var b = 0
          while (b < ps.length) {
            var dot = 0.0
            val p = ps(b)
            var i = 0
            val n = math.min(p.length, vec.length)
            while (i < n) { dot += p(i) * vec(i); i += 1 }
            if (dot >= 0) key |= (1L << b)
            b += 1
          }
          (id, vec, key)
        }
      }.toDF(idCol, vecCol, "bucket")
  }

  /** Sign-LSH bucket key per vector: nBits-bit signature of hyperplane
    * side tests. Vectors in the same bucket are near-duplicate candidates. */
  def lshBuckets(vectors: DataFrame, idCol: String, vecCol: String,
      nBits: Int, dim: Int): DataFrame =
    lshBucketsWithVec(vectors, idCol, vecCol, nBits, dim)
      .select(col(idCol), col("bucket"))

  /** ANN near-duplicate pairs: same LSH bucket → verify exact cosine. */
  def embeddingNearDups(vectors: DataFrame, idCol: String, vecCol: String,
      nBits: Int, dim: Int, threshold: Double): DataFrame = {
    val idType = requireIntegralId(vectors, idCol, "embeddingNearDups")
    val withB = lshBucketsWithVec(vectors, idCol, vecCol, nBits, dim)
    withB.as("l").join(withB.as("r"),
        col("l.bucket") === col("r.bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .withColumn("cos", cosine(col(s"l.$vecCol"), col(s"r.$vecCol")))
      .where(col("cos") >= threshold)
      .select(col(s"l.$idCol").cast(idType).as("a"),
        col(s"r.$idCol").cast(idType).as("b"), col("cos"))
  }

  /** IVF-style ANN top-k: coarse-quantize to `nCells` deterministic
    * centroids (the lowest-id vectors — deterministic and data-dependent),
    * then search only the query's `nProbe` nearest cells.
    *
    * Scale shape (round-3 rewrite — three shuffles removed):
    *   1. cell ASSIGNMENT is a narrow fold-argmax over a broadcast
    *      centroid array — the round-2 plan exploded |V| × nCells rows
    *      through a per-vector window (an nCells× data shuffle);
    *   2. the candidate join BROADCASTS the (queries × nProbe) probe side
    *      — an nCells-distinct-value join key would otherwise land all
    *      data on ≤ nCells reducers;
    *   3. the final top-k reuses the bounded-heap partial top-k, so the
    *      per-query window never sees more than partitions × |Q| × k rows.
    * Tie-breaks (lowest cell_id / lowest neighbor id on equal cosine,
    * nulls last) are identical to the window formulation — cells are
    * folded in cell_id order with a strict > test. */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int, nProbe: Int, k: Int): DataFrame = {
    val idType = requireIntegralId(vectors, idCol, "ivfTopK")
    requireIntegralId(queries, idCol, "ivfTopK (queries side)")
    val cents = vectors.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("cvec"))
    // ONE broadcast row holding all centroids, sorted by cell_id so the
    // fold's first-wins tie-break equals the window's cell_id ASC
    val centArr = cents
      .agg(sort_array(collect_list(struct(col("cell_id"), col("cvec"))))
        .as("cells"))
    val negInf = lit(Double.NegativeInfinity)
    // init = (lowest cell_id, -inf): a vector whose cosine is NULL
    // against EVERY centroid (zero-norm) must land in the lowest cell,
    // exactly like the window form's NULLS LAST + cell_id ASC — a -1
    // sentinel would silently drop it from the index
    def nearestCell(vec: Column): Column =
      aggregate(col("cells"),
        struct(element_at(col("cells"), 1).getField("cell_id")
          .as("cell_id"), negInf.as("sim")),
        (acc, c) => {
          // zero-norm cosine is null → -inf, ranking below any real sim
          // (the window form's DESC NULLS LAST)
          val sim = coalesce(cosine(vec, c.getField("cvec")), negInf)
          when(sim > acc.getField("sim"),
            struct(c.getField("cell_id").as("cell_id"), sim.as("sim")))
            .otherwise(acc)
        }).getField("cell_id")
    val assigned = vectors
      .select(col(idCol).cast("long").as("vec_id2"), col(vecCol).as("vvec"))
      .crossJoin(broadcast(centArr))
      .withColumn("cell_id", nearestCell(col("vvec")))
      .drop("cells")
    // probe cells per query: the window is fine here — it runs over the
    // small (|Q| × nCells) probe relation, never over the data
    val probes = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cell_id").asc)))
      .where(col("rk") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell_id"))
    val scored = assigned.join(broadcast(probes), Seq("cell_id"))
      .where(col("vec_id2") =!= col("query_id"))
      .withColumn("cos", cosine(col("qvec"), col("vvec")))
      .select(col("query_id"), col("vec_id2"), col("cos"))
    exactTopKPerQuery(partialTopKPerPartition(scored, k), k)
      .select(col("query_id").cast(idType).as("query_id"), col("rk"),
        col("neighbor_id").cast(idType).as("neighbor_id"), col("cos"))
  }
}
