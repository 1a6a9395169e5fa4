package graft.queries

import graft.operators.{ConnectedComponents, Graphs}
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operators over deterministic graphs derived arithmetically from
  * the customer keys: connected components (q63 chains, q88 bridged
  * chains), fixed-point PageRank and personalized PageRank, triangle
  * counts, link prediction, k-core, label propagation, random and
  * weighted walks, skip-gram pairs and nearest-seed BFS. Every query is
  * hash-oracled: each oracle replays the same edge arithmetic in DuckDB
  * and the operator round by round (or closes it WITH RECURSIVE).
  */
object GraphQueries extends graft.QueryModule {

  /** The customer keys as a `k` column: the node set every graph query
    * derives its edges from, by pure key arithmetic that the oracles
    * replay on the same table. */
  private def custKeys(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey").cast("long").as("k"))

  /** Chain edges over a key column: k → k+1 within blocks of 50 — the
    * q63 oracled topology. On q88's bridged variant below, the CC root
    * update cuts the fixpoint from 22 to 7 rounds (BASELINE.md). */
  private def chainEdges(c: DataFrame): DataFrame =
    c.where(col("k") % 50 =!= 49)
      .select(col("k").as("src"), (col("k") + 1).as("dst"))

  /** q88's bridged topology: chains plus three bridge families fusing
    * chains per 250-block, so two labels race into one component (merge
    * contention) while staying DuckDB WITH RECURSIVE-closable. */
  private def bridgedChainEdges(c: DataFrame): DataFrame = {
    val b1 = c.where(col("k") % 250 === 0)
      .select(col("k").as("src"), (col("k") + 50).as("dst"))
    val b2 = c.where(col("k") % 250 === 10)
      .select(col("k").as("src"), (col("k") + 110).as("dst"))
    val b3 = c.where(col("k") % 250 === 75)
      .select(col("k").as("src"), (col("k") + 50).as("dst"))
    chainEdges(c).unionByName(b1).unionByName(b2).unionByName(b3)
  }

  /** Deterministic web-ish digraph over the customer keys, for q110:
    * chain edges k → k+1 within 50-blocks (the q63 topology) plus hub
    * edges k → its 100-block leader (k div 100)·100. Leaders collect
    * in-degree ~99 (popular-page skew); node 0 and the past-the-end
    * chain dst are DANGLING (no out-edges), exercising the leak term.
    * Pure key arithmetic on both sides — no data-dependent constants. */
  private def prEdges(c: DataFrame): DataFrame =
    chainEdges(c).unionByName(hubEdges(c))

  /** The hub edges k → (k div 100)·100 of the q110 and q111 graphs. */
  private def hubEdges(c: DataFrame): DataFrame =
    c.where(col("k") % 100 =!= 0)
      .select(col("k").as("src"), expr("(k div 100) * 100").as("dst"))

  /** Deterministic triangle-rich undirected graph for q111: within
    * 30-blocks k—k+1 and k—k+2 (chain triangles), plus the same hub
    * edges as q110 — each 100-block leader closes a triangle with every
    * consecutive pair in its block, giving it degree ~99 and ~96
    * triangles (the hub-skew case the degree-ordered orientation is
    * for). */
  private def triEdges(c: DataFrame): DataFrame = {
    val e1 = c.where(col("k") % 30 =!= 29)
      .select(col("k").as("src"), (col("k") + 1).as("dst"))
    val e2 = c.where(col("k") % 30 < 28)
      .select(col("k").as("src"), (col("k") + 2).as("dst"))
    e1.unionByName(e2).unionByName(hubEdges(c))
  }

  /** Deterministic community-structured graph for q113: dense 20-blocks
    * (k—k+1 and k—k+2 within the block) joined by sparse bridges
    * (k ≡ 0 mod 100 → k—k+30, reaching into the next block). LPA should
    * collapse each dense block to one label while the bridges give the
    * tie-break rule real work at the block boundaries. */
  private def lpaEdges(c: DataFrame): DataFrame = {
    val e1 = c.where(col("k") % 20 =!= 19)
      .select(col("k").as("src"), (col("k") + 1).as("dst"))
    val e2 = c.where(col("k") % 20 < 18)
      .select(col("k").as("src"), (col("k") + 2).as("dst"))
    val bridge = c.where(col("k") % 100 === 0)
      .select(col("k").as("src"), (col("k") + 30).as("dst"))
    e1.unionByName(e2).unionByName(bridge)
  }

  /** Graph for q115: triEdges plus extra k—k+3 / k—k+4 density inside
    * EVEN 100-blocks only. Even-block interiors reach degree ~9 and
    * survive the 5-core; odd blocks (max interior degree 5) and the
    * even-block fringes peel away over a 12-round cascade — measured at
    * the sf dirs: 12 rounds to fixpoint, ~50% survivors, min surviving
    * degree exactly 5 (the q115 OracleAssumptions pin replays this). */
  private def kcoreEdges(c: DataFrame): DataFrame = {
    val dense = c.where(expr("(k div 100) % 2 = 0"))
    triEdges(c)
      .unionByName(dense.where(col("k") % 30 < 27)
        .select(col("k").as("src"), (col("k") + 3).as("dst")))
      .unionByName(dense.where(col("k") % 30 < 26)
        .select(col("k").as("src"), (col("k") + 4).as("dst")))
  }

  /** Group-size decoration shared by q109 (csize per dup-cluster) and
    * q113 (csize per LPA community): a map-side-combinable
    * groupBy(key).count joined back on the (group-count-sized) key.
    * Deliberately NOT `count().over(Window.partitionBy(key))`: the
    * unbounded-frame window buffers an entire group in ONE task, and
    * the boilerplate mega-cluster / giant community is the EXPECTED
    * skew at corpus scale (round-7 verdict). Plan shape (aggregate, no
    * Window) is pinned in PlanAuditSpec. */
  private[graft] def withGroupSize(df: DataFrame, keyCol: String): DataFrame =
    df.join(df.groupBy(col(keyCol)).agg(count(lit(1)).as("csize")),
      Seq(keyCol))

  val queries: Map[String, QFn] = Map(
    "q63_connected_components" -> ((s, d) => {
      // edges DERIVED from the sf-dir customer table (chains of 50 within
      // c_custkey blocks) so DuckDB's WITH RECURSIVE closure can verify the
      // distributed fixpoint end-to-end — the full per-node labeling, not a
      // histogram. Chain length 50 forces ~log2(50) pointer-jump rounds;
      // the hub-degree-2000 fixture case stays covered by OperatorsSpec.
      val c = custKeys(s, d)
      ConnectedComponents.run(s, chainEdges(c))
        .select(col("node"), col("comp"))
        .orderBy("node")
    }),

    "q88_cc_bridged" -> ((s, d) => {
      // q63's oracled topology is the friendliest case (disjoint chains:
      // pointer-jump depth, no merges). This variant adds cross-links so
      // the HASH-CHECKED path also exercises label-merge contention —
      // three chains fused per 250-block, with block m+2 receiving two
      // racing labels (block m's min via one bridge, block m+1's via
      // another) — while staying WITH RECURSIVE-closable in DuckDB
      // (components ≤ 150 nodes). dst endpoints are pure arithmetic on
      // the src key, identical on both sides, so node-set parity holds
      // even past the max customer key.
      val c = custKeys(s, d)
      ConnectedComponents.run(s, bridgedChainEdges(c))
        .select(col("node"), col("comp"))
        .orderBy("node")
    }),

    // Fixed-point integer PageRank (entity importance over the KG link
    // graph) — 5 synchronous iterations in BIGINT 1e-12 units, so the
    // inflow sums are order-independent and the whole power iteration
    // hash-oracles (see Graphs.pageRank's scaladoc for the regime
    // argument). Graph derived arithmetically from customer keys.
    "q110_pagerank" -> ((s, d) => {
      val c = custKeys(s, d)
      Graphs.pageRank(s, prEdges(c), iters = 5)
        .orderBy("node")
    }),

    // Per-node triangle counts + local clustering coefficient with
    // degree-ordered orientation (hub-skew-proof wedge join). The oracle
    // enumerates id-ordered; orientation invariance makes the counts
    // identical.
    "q111_triangles" -> ((s, d) => {
      val c = custKeys(s, d)
      Graphs.triangleStats(s, triEdges(c))
        .orderBy("node")
    }),

    // Personalized PageRank from the 100-block leaders over q110's
    // graph — restart mass confined to the seed set, so rank measures
    // proximity to the leaders ("which entities matter around these").
    // The out-of-graph seed (MAX(k)+7, guaranteed absent since nodes
    // top out at MAX(k)+1) exercises the documented seed∩nodes rule:
    // it must not change m or any rank. Same fixed-point integer
    // regime as q110; the oracle's rounds are loop-generated too.
    "q112_personalized_pagerank" -> ((s, d) => {
      val c = custKeys(s, d)
      val seeds = c.where(col("k") % 100 === 0)
        .select(col("k").as("node"))
        .unionByName(c.select((max(col("k")) + 7).as("node")))
      Graphs.personalizedPageRank(s, prEdges(c), seeds, iters = 5)
        .orderBy("node")
    }),

    // Synchronous label-propagation communities (deterministic
    // min-tie-break) on a community-structured graph — 4 iterations,
    // label = adopted community id, csize = community population.
    "q113_label_propagation" -> ((s, d) => {
      val c = custKeys(s, d)
      val lbl = Graphs.labelPropagation(s, lpaEdges(c), iters = 4)
      withGroupSize(lbl, "label")
        .select(col("node"), col("label"), col("csize"))
        .orderBy("node")
    }),

    // Link prediction over q111's graph: non-edge pairs ranked by
    // common neighbors + integer resource-allocation score. The pivot
    // cap (50) actually binds here — the ~99-degree block leaders are
    // excluded as pivots, chain nodes survive — so the oracle exercises
    // the cap semantics, not just the happy path.
    "q114_link_prediction" -> ((s, d) => {
      val c = custKeys(s, d)
      Graphs.linkPredict(s, triEdges(c), maxPivotDegree = 50L,
          minCommon = 1L)
        .orderBy("a", "b")
    }),

    // 5-core trim after 12 synchronous peel rounds — the KG noise trim
    // (densely-corroborated entities survive; scrape-artifact chains
    // cascade away layer by layer). 12 rounds IS the fixpoint on this
    // topology (OracleAssumptions replays the peel and fails Verify if
    // regenerated data needs more rounds); the oracle unrolls the same
    // 12 rounds, so the hash compares the full cascade, not just the
    // converged core.
    "q115_kcore" -> ((s, d) => {
      val c = custKeys(s, d)
      Graphs.kCore(s, kcoreEdges(c), k = 5L, rounds = 12)
        .orderBy("node")
    }),

    // Deterministic random-walk corpus over q111's graph (DeepWalk
    // input generation): one 4-step walk per k%7==0 start, each step
    // choosing the neighbor minimizing (xxhash64("walk:step:cand"),
    // cand) — a keyed hash, not an RNG, so the corpus is reproducible
    // and the whole thing hash-oracles (the oracle replays XXH64
    // bit-exactly per step via XxHash64Sql.hashCtes).
    "q116_random_walks" -> ((s, d) => {
      val c = custKeys(s, d)
      val starts = c.where(col("k") % 7 === 0).select(col("k").as("node"))
      Graphs.randomWalks(s, triEdges(c), starts, length = 4)
        .orderBy("walk")
    }),

    // Skip-gram training pairs from the q116 walk corpus (window ±2):
    // the operator composition a graph-embedding pipeline actually
    // materializes — walks → (center, context) cooccurrence counts.
    // Spark re-splits the emitted paths (positions via posexplode);
    // the oracle never parses strings — it reads each step's node
    // straight from the per-step walk CTEs, a structurally different
    // derivation of the same positions.
    "q117_skipgram_pairs" -> ((s, d) => {
      val c = custKeys(s, d)
      val starts = c.where(col("k") % 7 === 0).select(col("k").as("node"))
      val walks = Graphs.randomWalks(s, triEdges(c), starts, length = 4)
      // (center, context) pairs generated PER ROW with bounded-offset
      // array HOFs (window ±2 around each position) — no per-walk
      // all-pairs self-join, no join shuffle at all: the only exchange
      // left is the final groupBy. Per-walk cost is ~4L instead of
      // (L+1)² (round-7 verdict's narrow rewrite). Same pairs as the
      // positions self-join filtered to 1 ≤ |Δpos| ≤ 2, which is what
      // the oracle replays from the per-step walk CTEs.
      walks
        .select(expr("transform(split(path, ' '), x -> CAST(x AS BIGINT))")
          .as("nds"))
        .select(explode(expr(
          "flatten(transform(nds, (c, i) -> " +
            "transform(filter(sequence(greatest(i-2, 0), " +
            "least(i+2, size(nds)-1)), j -> j != i), " +
            "j -> named_struct('center', c, 'context', nds[j]))))"))
          .as("p"))
        .groupBy(col("p.center").as("center"),
          col("p.context").as("context"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("center", "context")
    }),

    // Bounded multi-source BFS / nearest-seed assignment over q113's
    // community graph: every node within 4 hops of a 100-block leader
    // gets (hop distance, closest leader), ties at equal distance to
    // the smallest leader id — the graph-Voronoi partition a KG
    // pipeline uses to assign entities to hub communities. Nodes beyond
    // depth 4 are absent by design (the q109 "don't materialize the
    // complement" rule); the frontier-delta iteration means each round
    // touches only newly-reached nodes' edges.
    "q118_nearest_seed" -> ((s, d) => {
      val c = custKeys(s, d)
      val seeds = c.where(col("k") % 100 === 0).select(col("k").as("node"))
      Graphs.nearestSeeds(s, lpaEdges(c), seeds, maxDepth = 4)
        .orderBy("node")
    }),

    // Weighted random walks over the q111 MULTIGRAPH — triEdges' hub
    // and chain arms coincide at block boundaries (e.g. (100,101) is
    // both a chain edge and 101's hub edge), so real weight-2 edges
    // exist and the copy-explode choice rule is exercised, not just
    // reduced to q116. 3 steps from the k%11==0 starts.
    "q119_weighted_walks" -> ((s, d) => {
      val c = custKeys(s, d)
      val starts = c.where(col("k") % 11 === 0).select(col("k").as("node"))
      Graphs.weightedRandomWalks(s, triEdges(c), starts, length = 3)
        .orderBy("walk")
    })
  )

  /** Shared CTE prefix for the q110/q112 oracles: the derived web-ish
    * digraph (mirrors prEdges) down to its node set. */
  private val prGraphSql: String =
    """ck AS (SELECT c_custkey AS k FROM customer),
      |raw AS (
      |  SELECT k AS src, k + 1 AS dst FROM ck WHERE k % 50 <> 49
      |  UNION ALL
      |  SELECT k, (k // 100) * 100 FROM ck WHERE k % 100 <> 0),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |deg AS MATERIALIZED (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM e UNION SELECT dst FROM e)""".stripMargin

  /** Unrolled SQL replay of Graphs.pageRank — generated from the SAME
    * iteration count the query passes, so the oracle cannot drift from
    * the Spark side's `iters`. Every arithmetic step mirrors the
    * operator exactly: BIGINT ranks, `//` (= Spark's `div` on the
    * non-negative domain), init/base from a scalar params CTE. Each
    * round CTE is MATERIALIZED — r{k} is referenced twice by r{k+1}
    * (the inflow subquery and nothing else, but DuckDB's inlining of a
    * 5-deep CTE chain re-plans the whole prefix per level without the
    * barrier; the q71 lesson). SUMs are CAST back to BIGINT because
    * DuckDB widens SUM(BIGINT) to HUGEINT. */

  private def pageRankOracleSql(iters: Int, scale: Long): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node AS node,
         |    p.base + (85 * COALESCE(f.inflow, CAST(0 AS BIGINT))) // 100
         |      AS rank
         |  FROM nodes n CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inflow
         |    FROM e JOIN deg d ON e.src = d.src
         |    JOIN r${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst) f ON n.node = f.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$prGraphSql,
       |params AS (
       |  SELECT CAST($scale // COUNT(*) AS BIGINT) AS init,
       |    CAST((15 * ($scale // COUNT(*))) // 100 AS BIGINT) AS base
       |  FROM nodes),
       |r0 AS (SELECT node, p.init AS rank FROM nodes CROSS JOIN params p),
       |$rounds
       |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin
  }

  /** q112 replay: identical machinery to [[pageRankOracleSql]] with the
    * restart term confined to the seed flag. The out-of-graph seed the
    * Spark query adds needs no mirroring — it is absent from `nodes`,
    * so the seed∩nodes rule drops it from m and from every base term
    * on both sides. */
  private def pprOracleSql(iters: Int, scale: Long): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node AS node,
         |    (CASE WHEN n.is_seed THEN p.base ELSE CAST(0 AS BIGINT) END)
         |      + (85 * COALESCE(f.inflow, CAST(0 AS BIGINT))) // 100
         |      AS rank
         |  FROM ns n CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inflow
         |    FROM e JOIN deg d ON e.src = d.src
         |    JOIN r${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst) f ON n.node = f.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$prGraphSql,
       |sd AS (SELECT k AS node FROM ck WHERE k % 100 = 0),
       |ns AS MATERIALIZED (
       |  SELECT n.node AS node, (s.node IS NOT NULL) AS is_seed
       |  FROM nodes n LEFT JOIN sd s ON n.node = s.node),
       |params AS (
       |  SELECT CAST($scale // COUNT(*) AS BIGINT) AS init,
       |    CAST((15 * ($scale // COUNT(*))) // 100 AS BIGINT) AS base
       |  FROM ns WHERE is_seed),
       |r0 AS (
       |  SELECT node,
       |    CASE WHEN is_seed THEN p.init ELSE CAST(0 AS BIGINT) END AS rank
       |  FROM ns CROSS JOIN params p),
       |$rounds
       |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin
  }

  /** Shared CTE prefix mirroring triEdges (the q111/q114/q115 graph):
    * ck/raw/e down to the canonical undirected edge set. `extraArms`
    * appends additional raw-edge arms (q115's dense-block edges) —
    * keeping ONE SQL mirror of the Scala edge generator, so a change
    * to triEdges cannot silently desynchronize one oracle (the drift
    * class prGraphSql already prevents for q110/q112). */
  private def triGraphSql(extraArms: String = ""): String =
    s"""ck AS (SELECT c_custkey AS k FROM customer),
       |raw AS (
       |  SELECT k AS a, k + 1 AS b FROM ck WHERE k % 30 <> 29
       |  UNION ALL SELECT k, k + 2 FROM ck WHERE k % 30 < 28
       |  UNION ALL SELECT k, (k // 100) * 100 FROM ck
       |    WHERE k % 100 <> 0$extraArms),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM raw WHERE a <> b)""".stripMargin

  /** The two q115-only dense arms (mirrors kcoreEdges' additions). */
  private val kcoreExtraArmsSql: String =
    """
      |  UNION ALL SELECT k, k + 3 FROM ck
      |    WHERE (k // 100) % 2 = 0 AND k % 30 < 27
      |  UNION ALL SELECT k, k + 4 FROM ck
      |    WHERE (k // 100) % 2 = 0 AND k % 30 < 26""".stripMargin

  /** q115 replay: 12 peel rounds unrolled by the loop trick — k{r} is
    * the surviving node set after recomputing degrees on e{r-1}, e{r}
    * the induced edge set; both MATERIALIZED (each is referenced twice
    * in its round and once downstream). */
  private def kcoreOracleSql(k: Long, rounds: Int): String = {
    def ename(r: Int): String = if (r == 0) "e" else s"e$r"
    val rs = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS deg FROM (
         |      SELECT u AS node FROM ${ename(r - 1)}
         |      UNION ALL SELECT v AS node FROM ${ename(r - 1)})
         |    GROUP BY node)
         |  WHERE deg >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT u, v FROM ${ename(r - 1)}
         |  WHERE u IN (SELECT node FROM k$r)
         |    AND v IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |${triGraphSql(kcoreExtraArmsSql)},
       |$rs
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
       |  SELECT u AS node FROM ${ename(rounds)}
       |  UNION ALL SELECT v AS node FROM ${ename(rounds)})
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Shared CTE prefix mirroring lpaEdges (the q113/q118 graph): ck/raw
    * down to the canonical undirected edge set `und` and its symmetric
    * closure `sym` — ONE SQL mirror of the Scala edge generator, the
    * same drift-prevention contract as prGraphSql/triGraphSql. */
  private val lpaGraphSql: String =
    """ck AS (SELECT c_custkey AS k FROM customer),
      |raw AS (
      |  SELECT k AS a, k + 1 AS b FROM ck WHERE k % 20 <> 19
      |  UNION ALL SELECT k, k + 2 FROM ck WHERE k % 20 < 18
      |  UNION ALL SELECT k, k + 30 FROM ck WHERE k % 100 = 0),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |sym AS MATERIALIZED (
      |  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und)""".stripMargin

  /** q113 replay: synchronous LPA rounds unrolled by the same loop
    * trick. The per-round argmax is ROW_NUMBER ordered (cnt DESC,
    * label ASC) — exactly the min(struct(-cnt, label)) the Spark side
    * aggregates, expressed the way SQL likes it. */
  private def lpaOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT s.u AS node, l.label AS label, COUNT(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY s.u
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM sym s JOIN l${k - 1} l ON s.v = l.node
         |    GROUP BY s.u, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$lpaGraphSql,
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
       |$rounds
       |SELECT node, label, COUNT(*) OVER (PARTITION BY label) AS csize
       |FROM l$iters ORDER BY node""".stripMargin
  }

  /** q118 replay: whole-set Bellman-Ford relaxation unrolled `depth`
    * rounds — each round unions the previous label set with every
    * one-hop extension and keeps the lexicographic (dist, seed) minimum
    * per node. Structurally different from the Spark side's
    * frontier-delta iteration (which never revisits settled nodes);
    * with unit weights both fix the same function at round `depth`. */
  private def nearestSeedOracleSql(depth: Int): String = {
    val rounds = (1 to depth).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT node, dist, seed FROM (
         |    SELECT node, dist, seed, ROW_NUMBER() OVER (
         |      PARTITION BY node ORDER BY dist, seed) AS rn
         |    FROM (
         |      SELECT node, dist, seed FROM b${r - 1}
         |      UNION ALL
         |      SELECT s.v AS node, b.dist + 1 AS dist, b.seed AS seed
         |      FROM b${r - 1} b JOIN sym s ON s.u = b.node) cand) ranked
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$lpaGraphSql,
       |b0 AS (
       |  SELECT k AS node, CAST(0 AS BIGINT) AS dist, k AS seed FROM ck
       |  WHERE k % 100 = 0 AND k IN (SELECT u FROM sym)),
       |$rounds
       |SELECT node, dist, seed FROM b$depth ORDER BY node""".stripMargin
  }

  /** q116/q117 replay: the walk unrolled step by step. Step t's
    * candidate CTE fans walk frontier × adjacency, builds the SAME
    * "walk:step:cand" key string the Spark side hashes, runs one
    * bit-exact XXH64 chain over it (XxHash64Sql.hashCtes, stage names
    * prefixed s{t}_ so four chains coexist in one WITH clause), and
    * picks per walk by ROW_NUMBER ordered (h, nxt) — the SQL spelling
    * of min(struct(hash, nxt)). Returns the full CTE list up to w$len
    * (walk, cur, path) so q116 (paths) and q117 (positions, read
    * straight from the per-step CTEs — no string parsing) share one
    * generator and cannot drift. */
  private def walkCtesSql(length: Int, weighted: Boolean = false,
      startsMod: Int = 7): String = {
    val steps = (1 to length).map { t =>
      if (weighted) {
        // copies exploded per edge weight; the key includes the copy
        // index, mirroring weightedRandomWalks. unnest must sit alone
        // in its SELECT list (DuckDB), so the key is built one CTE later
        val (chain, fin) = XxHash64Sql.hashCtes(s"d$t", "key",
          Seq("walk", "path", "nxt", "cp"), s"s${t}_")
        s"""c$t AS (
           |  SELECT w.walk AS walk, w.path AS path, a.nxt AS nxt,
           |    unnest(generate_series(1, a.wt)) AS cp
           |  FROM w${t - 1} w JOIN adj a ON a.w = w.cur),
           |d$t AS (
           |  SELECT walk, path, nxt, cp,
           |    concat(walk, ':', $t, ':', nxt, ':', cp) AS key FROM c$t),
           |$chain,
           |w$t AS MATERIALIZED (
           |  SELECT walk, nxt AS cur, concat(path, ' ', nxt) AS path FROM (
           |    SELECT walk, path, nxt,
           |      ROW_NUMBER() OVER (
           |        PARTITION BY walk ORDER BY h, nxt, cp) AS rn
           |    FROM $fin) picked
           |  WHERE rn = 1)""".stripMargin
      } else {
        val (chain, fin) = XxHash64Sql.hashCtes(s"c$t", "key",
          Seq("walk", "path", "nxt"), s"s${t}_")
        s"""c$t AS (
           |  SELECT w.walk AS walk, w.path AS path, a.nxt AS nxt,
           |    concat(w.walk, ':', $t, ':', a.nxt) AS key
           |  FROM w${t - 1} w JOIN adj a ON a.w = w.cur),
           |$chain,
           |w$t AS MATERIALIZED (
           |  SELECT walk, nxt AS cur, concat(path, ' ', nxt) AS path FROM (
           |    SELECT walk, path, nxt,
           |      ROW_NUMBER() OVER (PARTITION BY walk ORDER BY h, nxt) AS rn
           |    FROM $fin) picked
           |  WHERE rn = 1)""".stripMargin
      }
    }.mkString(",\n")
    // weighted mode keeps the MULTIGRAPH: weights are parallel-edge
    // counts over the oriented raw arms (no DISTINCT), mirroring
    // weightedRandomWalks' groupBy count
    val adjSql = if (weighted)
      s"""worient AS (
         |  SELECT least(a, b) AS u, greatest(a, b) AS v
         |  FROM raw WHERE a <> b),
         |wcnt AS (
         |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS wt
         |  FROM worient GROUP BY u, v),
         |adj AS MATERIALIZED (
         |  SELECT u AS w, v AS nxt, wt FROM wcnt
         |  UNION ALL SELECT v AS w, u AS nxt, wt FROM wcnt)""".stripMargin
    else
      s"""adj AS MATERIALIZED (
         |  SELECT u AS w, v AS nxt FROM e
         |  UNION ALL SELECT v AS w, u AS nxt FROM e)""".stripMargin
    s"""${triGraphSql()},
       |$adjSql,
       |w0 AS MATERIALIZED (
       |  SELECT k AS walk, k AS cur, CAST(k AS VARCHAR) AS path FROM ck
       |  WHERE k % $startsMod = 0 AND k IN (SELECT w FROM adj)),
       |$steps""".stripMargin
  }

  /** The CC fixpoints are oracled by a recursive reachability closure
    * over the same derived edge set (SURVEY.md §2.f). The closure
    * materializes Σ size² pairs per component — fine for the 50-node
    * blocks here; the distributed fixpoint itself is O(E log n). */
  val oracles: Map[String, String] = Map(
    "q63_connected_components" ->
      """WITH RECURSIVE
        |edges AS (SELECT c_custkey AS src, c_custkey + 1 AS dst
        |          FROM customer WHERE c_custkey % 50 <> 49),
        |sym AS (SELECT src AS u, dst AS v FROM edges
        |        UNION SELECT dst AS u, src AS v FROM edges),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.u, rr.r FROM sym s JOIN reach rr ON s.v = rr.node
        |)
        |SELECT node, MIN(r) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "q88_cc_bridged" ->
      """WITH RECURSIVE
        |ch AS (SELECT c_custkey AS src, c_custkey + 1 AS dst
        |       FROM customer WHERE c_custkey % 50 <> 49),
        |b1 AS (SELECT c_custkey AS src, c_custkey + 50 AS dst
        |       FROM customer WHERE c_custkey % 250 = 0),
        |b2 AS (SELECT c_custkey AS src, c_custkey + 110 AS dst
        |       FROM customer WHERE c_custkey % 250 = 10),
        |b3 AS (SELECT c_custkey AS src, c_custkey + 50 AS dst
        |       FROM customer WHERE c_custkey % 250 = 75),
        |edges AS (SELECT * FROM ch UNION ALL SELECT * FROM b1
        |          UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3),
        |sym AS (SELECT src AS u, dst AS v FROM edges
        |        UNION SELECT dst AS u, src AS v FROM edges),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |reach(node, r) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.u, rr.r FROM sym s JOIN reach rr ON s.v = rr.node
        |)
        |SELECT node, MIN(r) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "q110_pagerank" -> pageRankOracleSql(iters = 5, scale = 1000000000000L),

    // Id-ordered triangle enumeration (a < b < c, three edge probes) —
    // a completely different join tree from the Spark side's
    // degree-ordered orientation; the counts agree because both
    // enumerate each triangle exactly once (orientation invariance).
    // lcc in fixed-point ppm, all-BIGINT, mirroring the q110 regime.
    "q111_triangles" ->
      s"""WITH
        |${triGraphSql()},
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY node),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pernode AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b AS node FROM tri
        |    UNION ALL SELECT c AS node FROM tri)
        |  GROUP BY node)
        |SELECT d.node, d.deg, COALESCE(p.tri, CAST(0 AS BIGINT)) AS tri,
        |  CASE WHEN d.deg >= 2
        |    THEN (2000000 * COALESCE(p.tri, CAST(0 AS BIGINT)))
        |         // (d.deg * (d.deg - 1))
        |    ELSE CAST(0 AS BIGINT) END AS lcc_ppm
        |FROM deg d LEFT JOIN pernode p ON d.node = p.node
        |ORDER BY d.node""".stripMargin,

    "q112_personalized_pagerank" ->
      pprOracleSql(iters = 5, scale = 1000000000000L),

    "q113_label_propagation" -> lpaOracleSql(iters = 4),

    // q114: the q111 graph's canonical edges → capped adjacency →
    // pivot self-join → NOT EXISTS anti-check. All-integer scoring
    // (1000000 // deg sums exactly), mirroring linkPredict line by
    // line.
    "q114_link_prediction" ->
      s"""WITH
        |${triGraphSql()},
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY node),
        |adj AS MATERIALIZED (
        |  SELECT s.w, s.n, d.deg AS degw FROM (
        |    SELECT u AS w, v AS n FROM e
        |    UNION ALL SELECT v AS w, u AS n FROM e) s
        |  JOIN deg d ON s.w = d.node
        |  WHERE d.deg <= 50),
        |sc AS MATERIALIZED (
        |  SELECT l.n AS a, r.n AS b, CAST(COUNT(*) AS BIGINT) AS common,
        |    CAST(SUM(1000000 // l.degw) AS BIGINT) AS ra_ppm
        |  FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
        |  GROUP BY 1, 2)
        |SELECT a, b, common, ra_ppm FROM sc
        |WHERE common >= 1 AND NOT EXISTS (
        |  SELECT 1 FROM e WHERE e.u = sc.a AND e.v = sc.b)
        |ORDER BY a, b""".stripMargin,

    "q115_kcore" -> kcoreOracleSql(k = 5L, rounds = 12),

    "q116_random_walks" ->
      s"""WITH
         |${walkCtesSql(4)}
         |SELECT walk, path FROM w4 ORDER BY walk""".stripMargin,

    // q117: positions come from the per-step walk CTEs (cur at step t),
    // NOT from re-parsing the path string the Spark side splits — a
    // structurally different derivation of the same sequence.
    "q117_skipgram_pairs" ->
      s"""WITH
         |${walkCtesSql(4)},
         |pos AS MATERIALIZED (
         |${(0 to 4).map(t =>
              s"  SELECT walk, $t AS pos, cur FROM w$t")
             .mkString("\n  UNION ALL\n")}),
         |pr AS (
         |  SELECT p1.cur AS center, p2.cur AS context
         |  FROM pos p1 JOIN pos p2 ON p1.walk = p2.walk
         |    AND p2.pos <> p1.pos AND abs(p2.pos - p1.pos) <= 2)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM pr GROUP BY 1, 2 ORDER BY center, context""".stripMargin,

    "q118_nearest_seed" -> nearestSeedOracleSql(depth = 4),

    "q119_weighted_walks" ->
      s"""WITH
         |${walkCtesSql(3, weighted = true, startsMod = 11)}
         |SELECT walk, path FROM w3 ORDER BY walk""".stripMargin
  )
}
