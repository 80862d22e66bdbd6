package graft.queries

import graft.QueryDef
import graft.graph.Graphs
import graft.operators.TextPipeline
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-mining queries (PDF2 workload): co-occurrence network of terms over
  * documents, normalized adjacency, PageRank, Label Propagation. The PageRank
  * and LPA oracles are fixed-iteration loop *unrollings* into chained CTEs —
  * same dataflow the Spark driver loop executes, so results are comparable.
  */
object Graph {

  /** `toks`, then the co-occurrence counts cooc(src, dst, cnt) over each
    * document's distinct terms — the oracle of [[cooc]]. Follows a `WITH`. */
  private val coocCte: String = s"""${Text.toksCte},
    dt AS (SELECT DISTINCT doc_id, term FROM toks),
    cooc AS (
      SELECT a.term AS src, b.term AS dst, COUNT(*) AS cnt
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term <> b.term
      GROUP BY 1, 2)"""

  private def edgesCte: String = s"""
    WITH $coocCte,
    edges AS (
      SELECT src, dst, cnt,
        CAST(cnt AS DOUBLE)/CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE) AS w
      FROM cooc),
    verts AS (SELECT DISTINCT src AS v FROM cooc),
    nv AS (SELECT COUNT(*) AS n FROM verts)"""

  /** The triangle oracle q104 and q156 share: the undirected co-occurrence
    * graph und(a, b), its degrees deg(v, deg) and per-vertex triangle
    * counts pv(v, tri), by the same degree orientation and wedge closure as
    * [[Graphs.triangles]]. */
  private val triangleCte: String = s"""
        WITH ${Text.toksCte},
        dt AS (SELECT DISTINCT doc_id, term FROM toks),
        cooc AS (
          SELECT DISTINCT a.term AS src, b.term AS dst
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term <> b.term),
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM cooc),
        deg AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) ends GROUP BY 1),
        ori AS (
          SELECT
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS w,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN db.deg ELSE da.deg END AS dw
          FROM und u JOIN deg da ON u.a = da.v JOIN deg db ON u.b = db.v),
        wed AS (
          SELECT e1.u AS t1, e1.w AS t2, e2.w AS t3
          FROM ori e1 JOIN ori e2 ON e1.u = e2.u AND
            (e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w))),
        tri AS (
          SELECT t1, t2, t3 FROM wed JOIN ori ON wed.t2 = ori.u AND wed.t3 = ori.w),
        pv AS (SELECT v, COUNT(*) AS tri FROM (
          SELECT t1 AS v FROM tri UNION ALL
          SELECT t2 AS v FROM tri UNION ALL
          SELECT t3 AS v FROM tri) corners GROUP BY 1)"""

  /** Unrolled PageRank oracle: r0 … r{iters} as chained aggregating CTEs;
    * `finalSelect` runs over the last round aliased as (term, rank).
    * Mirrors [[Graphs.pageRank]]'s determinism contract: each double product
    * rounds half-up to an exact 1e-18 micro-unit integer (pure IEEE ops),
    * the integers sum exactly, and the new rank rounds to 12 dp — so both
    * engines re-sync each round regardless of aggregation order. (DuckDB
    * SUM(BIGINT) yields HUGEINT — the exact sum — cast straight to DOUBLE,
    * matching Spark's long→double cast bit-for-bit since the value < 2^63.) */
  private def pageRankSql(iters: Int, d: Double,
                          finalSelect: String = "SELECT term, rank FROM result"): String =
    s"""$edgesCte,
    r0 AS (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nv) AS rank FROM verts),
    ${pageRankRounds(iters, d)},
    result AS (SELECT v AS term, round(rank, 6) AS rank FROM r$iters)
    $finalSelect"""

  /** The rounds r1 … r{iters} of the unrolled PageRank oracles over `edges`
    * (src, dst, w), `nv` and r0 (q25, q43 and q138). */
  private def pageRankRounds(iters: Int, d: Double): String =
    (1 to iters).map { i =>
      s"""r$i AS (
        SELECT e.dst AS v,
          round((SELECT CAST(1.0-$d AS DOUBLE)/n FROM nv) +
            $d*(CAST(SUM(CAST(floor(r.rank*e.w*1e18 + 0.5) AS BIGINT)) AS DOUBLE)/1e18), 12) AS rank
        FROM edges e JOIN r${i - 1} r ON e.src = r.v GROUP BY e.dst)"""
    }.mkString(",\n")

  /** Unrolled synchronous LPA oracle with (max integer weight, min label)
    * tie-breaking — bit-exact across engines because weights stay integral. */
  private def lpaSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS (
        SELECT v, label FROM (
          SELECT e.src AS v, l.label, SUM(e.cnt) AS wsum,
            row_number() OVER (PARTITION BY e.src ORDER BY SUM(e.cnt) DESC, l.label ASC) AS rn
          FROM edges e JOIN l${i - 1} l ON e.dst = l.v GROUP BY e.src, l.label) t
        WHERE rn = 1)"""
    }.mkString(",\n")
    s"""$edgesCte,
    l0 AS (SELECT v, v AS label FROM verts),
    $rounds,
    result AS (SELECT v AS term, label FROM l$iters)"""
  }

  /** The term co-occurrence network (src, dst, cnt) of `documents`. */
  private def cooc(s: SparkSession, dir: String): DataFrame =
    Graphs.coOccurrence(TextPipeline.tokenize(Tables(s, dir, "documents")))

  /** Its frequent pairs (cnt ≥ 20) as (src, dst): the thresholded network
    * the cohesion and path rows run on. */
  private def strongEdges(s: SparkSession, dir: String): DataFrame =
    cooc(s, dir).filter(col("cnt") >= 20).select(col("src"), col("dst"))

  private def termEdges(s: SparkSession, dir: String): DataFrame = Graphs.normalizeEdges(cooc(s, dir))

  /** The nation→region membership digraph of q81 and q121 (regions shifted
    * by +100 out of the nation key range). Out-degree is exactly 1, so the
    * weights are pre-normalized. */
  private def nationEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("src"),
      (col("n_regionkey") + 100).cast("long").as("dst"),
      lit(1.0d).as("w"))

  // Fixture subgraphs the rows union onto the corpus graph, shared by each
  // row's frame and its oracle's VALUES list (see the rows for their roles).
  private val kCoreFixture = (1 to 7).map(i => (s"kcfix$i", s"kcfix${i + 1}")) ++
    Seq(("ktfix1", "ktfix2"), ("ktfix2", "ktfix3"), ("ktfix1", "ktfix3"))
  private val kTrussFixture = Seq(
    ("ktfx1", "ktfx2"), ("ktfx1", "ktfx3"), ("ktfx2", "ktfx3"),
    ("ktfx2", "ktfx4"), ("ktfx3", "ktfx4"),
    ("ktfx3", "ktfx5"), ("ktfx4", "ktfx5"),
    ("kqfx1", "kqfx2"), ("kqfx1", "kqfx3"), ("kqfx1", "kqfx4"),
    ("kqfx2", "kqfx3"), ("kqfx2", "kqfx4"), ("kqfx3", "kqfx4"))
  private val assortFixture = (1 to 5).map(i => ("asfix_hub", s"asfix_leaf$i")) ++
    Seq(("asfix_leaf1", "asfix_p1"), ("asfix_p1", "asfix_p2"))
  private val bfsChain = (1 to 7).map(i => (s"bffix$i", s"bffix${i + 1}"))
  private val hitsFixture = Seq(
    ("hhfix1", "hafix1"), ("hhfix1", "hafix2"), ("hhfix1", "hafix3"),
    ("hhfix2", "hafix1"), ("hhfix2", "hafix2"))
  private val pathFixture = Seq(
    ("spfix_s", "spfix_x", 10L), ("spfix_s", "spfix_y", 1L),
    ("spfix_y", "spfix_z", 1L), ("spfix_z", "spfix_x", 1L),
    ("spfix_s", "spfix_t", 2L), ("spfix_y", "spfix_t", 1L))

  /** Fixture rows as a SQL VALUES list: strings quoted, numbers bare. */
  private def sqlValues(rows: Seq[Product]): String =
    rows.map(_.productIterator.map {
      case v: String => s"'$v'"
      case v => v.toString
    }.mkString("(", ", ", ")")).mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q23_cooccurrence",
      (s, dir) => cooc(s, dir).select(col("src"), col("dst"), col("cnt")),
      oracle = Some(s"""
        ${Text.toksCte.replaceFirst("^\\s*", "WITH ")},
        dt AS (SELECT DISTINCT doc_id, term FROM toks)
        SELECT a.term AS src, b.term AS dst, COUNT(*) AS cnt
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term <> b.term
        GROUP BY 1, 2"""),
      bench = true),

    QueryDef("q24_edge_weights",
      (s, dir) => termEdges(s, dir).select(col("src"), col("dst"), col("cnt"), col("w")),
      oracle = Some(s"""$edgesCte
        SELECT src, dst, cnt, w FROM edges""")),

    QueryDef("q25_pagerank",
      (s, dir) => Graphs.pageRank(termEdges(s, dir), iterations = 10)
        .select(col("v").as("term"), round(col("rank"), 6).as("rank")),
      oracle = Some(pageRankSql(10, 0.85)),
      bench = true),

    QueryDef("q26_label_propagation",
      (s, dir) => Graphs.labelPropagation(cooc(s, dir), iterations = 5)
        .select(col("v").as("term"), col("label")),
      oracle = Some(lpaSql(5) + "\n    SELECT term, label FROM result")),

    // T4: global rank sort + limit — "find the protagonists" (PDF2 p.6 task 6)
    QueryDef("q43_top_ranked",
      (s, dir) => Graphs.pageRank(termEdges(s, dir), iterations = 10)
        .select(col("v").as("term"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("term").asc)
        .limit(10),
      oracle = Some(pageRankSql(10, 0.85,
        "SELECT term, rank FROM result ORDER BY rank DESC, term ASC LIMIT 10"))),

    // T5: group-by-label collation of community members (PDF2 p.6 task 6)
    QueryDef("q44_communities",
      (s, dir) => Graphs.labelPropagation(cooc(s, dir), iterations = 5)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("size"),
          array_join(array_sort(collect_list(col("v"))), ",").as("members")),
      oracle = Some(lpaSql(5) + """
        SELECT label, COUNT(*) AS size,
          string_agg(term, ',' ORDER BY term) AS members
        FROM result GROUP BY label""")),

    // A11 at token-window granularity: co-occurrence within a ±3-token
    // window (a range join on positions, PDF2's sliding-scope alternative)
    QueryDef("q58_cooccur_window",
      (s, dir) => {
        val pos = Tables(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.Exprs.tokens(col("text"))).as(Seq("pos", "term")))
        val a = pos.as("a")
        val b = pos.as("b")
        a.join(b, col("a.doc_id") === col("b.doc_id") &&
            col("a.term") =!= col("b.term") &&
            abs(col("a.pos") - col("b.pos")) <= 3)
          .groupBy(col("a.term").as("src"), col("b.term").as("dst"))
          .agg(count(lit(1)).as("cnt"))
      },
      oracle = Some(s"""
        WITH seq AS (
          SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
                        t -> t <> '') AS tk
          FROM documents),
        pos AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS term
          FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM seq) g)
        SELECT a.term AS src, b.term AS dst, COUNT(*) AS cnt
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND a.term <> b.term AND abs(a.pos - b.pos) <= 3
        GROUP BY 1, 2""")),

    // G1 beyond the reference contract (VERDICT r5 Next #8): PageRank on a
    // GENERAL directed graph — asymmetric, with genuinely dangling vertices
    // and a shuffle-join (never broadcast) rank update. Fixture: the
    // nation→region membership digraph; regions (shifted by +100 out of the
    // nation key range) have no out-edges, so ~1/6 of the total mass goes
    // dangling every round and the redistribution term is load-bearing —
    // drop it and every rank is wrong in the 3rd decimal.
    QueryDef("q81_pagerank_dangling",
      (s, dir) => Graphs.pageRankGeneral(nationEdges(s, dir), iterations = 10)
        .select(col("v"), round(col("rank"), 6).as("rank")),
      oracle = Some(pageRankDanglingSql(10, 0.85))),

    // Personalized PageRank (random walk with restart): the q81 digraph
    // scored from a three-nation seed set — teleport AND the dangling
    // return flow to the seeds only, so mass concentrates on the seeds and
    // their regions while everything unreachable scores exactly 0. The
    // seed-expansion / "related items" primitive. Oracle: every round
    // unrolled with the identical scaled-long ladder and the seed share
    // computed in the same operation order.
    QueryDef("q121_personalized_pagerank",
      (s, dir) => {
        val seeds = { import s.implicits._; Seq(0L, 5L, 10L).toDF("v") }
        Graphs.personalizedPageRank(nationEdges(s, dir), seeds, iterations = 10)
          .select(col("v"), round(col("rank"), 6).as("rank"))
      },
      oracle = Some(personalizedPageRankSql(10, 0.85, Seq(0L, 5L, 10L))),
      bench = true),

    // Cohesion statistic over the co-occurrence network: per-term triangle
    // participation via degree orientation + wedge closure (Graphs
    // .triangleCounts — Cohen CiSE'09 / Suri-Vassilvitskii WWW'11). The
    // oracle replays the SAME orientation and closure joins, so counts are
    // exact integers — hash-match needs no rounding ladder.
    QueryDef("q104_triangle_counts",
      (s, dir) => Graphs.triangleCounts(cooc(s, dir).select(col("src"), col("dst")))
        .select(col("v").as("term"), col("triangles")),
      oracle = Some(s"""$triangleCte
        SELECT deg.v AS term, CAST(COALESCE(pv.tri, 0) AS BIGINT) AS triangles
        FROM deg LEFT JOIN pv ON deg.v = pv.v"""),
      bench = true),

    // Local clustering coefficient — q104's triangle counts normalized to
    // the classic cohesion ratio c_v = 2·t_v / (d_v·(d_v−1)) (Watts &
    // Strogatz, Nature 1998): how close each term's neighborhood is to a
    // clique. Integer counts → one ratio → 8 dp; degree-0/1 vertices
    // score literal 0. Adds one degree count + a vertex-keyed join on top
    // of the already-benched wedge machinery.
    QueryDef("q156_clustering_coeff",
      (s, dir) => {
        val edges = cooc(s, dir).select(col("src"), col("dst"))
        Graphs.degrees(Graphs.undirected(edges)).join(Graphs.triangleCounts(edges), "v")
          .select(col("v").as("term"), col("deg"), col("triangles"),
            when(col("deg") < 2, lit(0.0d))
              .otherwise(round((lit(2L) * col("triangles"))
                  .cast(org.apache.spark.sql.types.DoubleType) /
                (col("deg") * (col("deg") - lit(1L)))
                  .cast(org.apache.spark.sql.types.DoubleType), 8))
              .as("clustering"))
      },
      oracle = Some(s"""$triangleCte
        SELECT deg.v AS term, CAST(deg.deg AS BIGINT) AS deg,
          CAST(COALESCE(pv.tri, 0) AS BIGINT) AS triangles,
          CASE WHEN deg.deg < 2 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(2 * COALESCE(pv.tri, 0) AS DOUBLE) /
                       CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 8) END AS clustering
        FROM deg LEFT JOIN pv ON deg.v = pv.v"""),
      bench = true),

    // Reciprocity of the word-adjacency DIGRAPH (q134's edge set): the
    // share of directed edges whose reverse also occurs — the symmetry
    // diagnostic separating genuinely directed structure (bigram order)
    // from co-occurrence symmetry. One distinct + one self semi join +
    // two 1-row aggregates; a single integer ratio.
    QueryDef("q168_reciprocity",
      (s, dir) => {
        val edges = Tables(s, dir, "documents")
          .select(graft.functions.Exprs.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) > 1)
          .select(explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> struct(tk[i - 1] AS src, tk[i] AS dst))")).as("e"))
          .select(col("e.src"), col("e.dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val n = edges.agg(count(lit(1)).as("n_edges"))
        val r = edges.join(
          edges.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
          .agg(count(lit(1)).as("n_reciprocal"))
        n.crossJoin(r).select(col("n_edges"), col("n_reciprocal"),
          round(col("n_reciprocal").cast(org.apache.spark.sql.types.DoubleType) /
            col("n_edges").cast(org.apache.spark.sql.types.DoubleType), 8).as("reciprocity"))
      },
      oracle = Some("""
        WITH seq AS (
          SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        ed AS MATERIALIZED (
          SELECT DISTINCT tk[i] AS src, tk[i + 1] AS dst
          FROM (SELECT tk, UNNEST(generate_series(1, len(tk) - 1)) AS i FROM seq WHERE len(tk) > 1) z
          WHERE tk[i] <> tk[i + 1]),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ed),
        r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal
              FROM ed a WHERE EXISTS (SELECT 1 FROM ed b WHERE b.src = a.dst AND b.dst = a.src))
        SELECT n.n_edges, r.n_reciprocal,
          round(CAST(r.n_reciprocal AS DOUBLE) / CAST(n.n_edges AS DOUBLE), 8) AS reciprocity
        FROM n CROSS JOIN r"""),
      bench = true),

    // 4-truss of the thresholded co-occurrence network — the EDGE-granular
    // cohesion peel (Cohen 2008; every k-truss sits inside a (k−1)-core,
    // so this is the stricter filter than q114): every surviving edge must
    // sit in ≥ 2 triangles, removal cascades. The corpus graph is too
    // cohesive to cascade, so the row unions a fixture: a triangle CHAIN
    // whose shared edges lose their support over two peel rounds and
    // vanish, and a K4 that survives as its own 4-truss (the q114
    // fixture pattern at edge granularity). The oracle unrolls FOUR peel
    // rounds (measured depth 2 + margin — the truss is unique, extra
    // rounds are no-ops; GraphsSpec pins the depth bound on this input).
    QueryDef("q171_ktruss",
      (s, dir) => {
        import s.implicits._
        Graphs.kTruss(strongEdges(s, dir).union(kTrussFixture.toDF("src", "dst")), k = 4)
          .select(col("a").as("term_a"), col("b").as("term_b"), col("support"))
      },
      oracle = Some(kTrussSql(4, 4)),
      bench = true),

    // Degree assortativity (Newman, "Assortative mixing in networks", PRL
    // 2002): the Pearson correlation of endpoint degrees over every
    // undirected edge (counted in both orientations — the standard form).
    // Social graphs are assortative (hubs befriend hubs), tech/biological
    // nets disassortative; a co-occurrence network's sign is a structure
    // diagnostic. ALL-INTEGER sufficient statistics (Σx, Σxy, Σx² over
    // 2m directed endpoint pairs) in DECIMAL(38,0) — one final division,
    // the q150/q151 inference ladder on graph structure.
    QueryDef("q169_assortativity",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val dbl = org.apache.spark.sql.types.DoubleType
        import s.implicits._
        // the raw corpus graph is near-complete (constant degree → zero
        // variance → r undefined): threshold to the q114 edge set and
        // union a star+path fixture so endpoint degrees genuinely vary
        val und = Graphs.undirected(strongEdges(s, dir).union(assortFixture.toDF("src", "dst")))
        val deg = Graphs.degrees(und)
        val pairs = und.select(col("a"), col("b"))
          .union(und.select(col("b").as("a"), col("a").as("b")))
          .join(deg.select(col("v").as("a"), col("deg").as("dx")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("dy")), "b")
        val st = pairs.agg(count(lit(1)).as("n"),
          sum(col("dx")).as("sx"), sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"))
        // symmetric pairs: Σx = Σy, Σx² = Σy² — r = (n·Σxy − Σx²)/(n·Σx² − Σx·Σx)
        st.select(col("n"),
          round((col("n").cast(dec) * col("sxy").cast(dec) -
            col("sx").cast(dec) * col("sx").cast(dec)).cast(dbl) /
            (col("n").cast(dec) * col("sxx").cast(dec) -
              col("sx").cast(dec) * col("sx").cast(dec)).cast(dbl), 8).as("assortativity"))
      },
      oracle = Some(s"""
        WITH $coocCte,
        alle AS (
          SELECT src, dst FROM cooc WHERE cnt >= 20
          UNION ALL SELECT * FROM (VALUES ${sqlValues(assortFixture)}) fx(src, dst)),
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM alle WHERE src <> dst),
        deg AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) u GROUP BY 1),
        pr AS (
          SELECT da.deg AS dx, db.deg AS dy
          FROM (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und) e
          JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
        st AS (
          SELECT COUNT(*) AS n, CAST(SUM(dx) AS BIGINT) AS sx,
            CAST(SUM(dx*dy) AS BIGINT) AS sxy, CAST(SUM(dx*dx) AS BIGINT) AS sxx
          FROM pr)
        SELECT n,
          round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) /
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE),
            8) AS assortativity
        FROM st"""),
      bench = true),

    // k-core of the thresholded co-occurrence network (k = 2, cnt ≥ 20):
    // parallel peeling until fixpoint, O(peel-depth) equi-shuffle rounds.
    // The corpus graph is too dense to cascade (every term survives), so
    // the query unions a fixture subgraph — the q61 precedent — mirrored
    // verbatim in the oracle: an 8-vertex chain that peels from both ends
    // over FOUR cascading rounds (each removal drops its neighbor below
    // k), and a triangle that survives as its own 2-core. The oracle
    // unrolls six peel rounds (fixpoint + margin — the k-core is unique,
    // so extra rounds are no-ops).
    QueryDef("q114_kcore",
      (s, dir) => {
        import s.implicits._
        Graphs.kCore(strongEdges(s, dir).union(kCoreFixture.toDF("src", "dst")), k = 2)
          .select(col("v").as("term"), col("core_deg"))
      },
      oracle = Some {
        // MATERIALIZED is load-bearing (the q81 lesson): every round reads
        // e{r-1} three times — DuckDB's default inlining would expand
        // exponentially many copies of the whole upstream chain
        val rounds = (1 to 6).map { r =>
          s"""k$r AS MATERIALIZED (
              SELECT v FROM (SELECT a AS v FROM e${r - 1} UNION ALL SELECT b AS v FROM e${r - 1}) ends
              GROUP BY 1 HAVING COUNT(*) >= 2),
          e$r AS MATERIALIZED (
              SELECT e.a, e.b FROM e${r - 1} e JOIN k$r x ON e.a = x.v JOIN k$r y ON e.b = y.v)"""
        }.mkString(",\n        ")
        s"""
        WITH $coocCte,
        alle AS (
          SELECT src, dst FROM cooc WHERE cnt >= 20
          UNION ALL SELECT * FROM (VALUES ${sqlValues(kCoreFixture)}) fx(src, dst)),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM alle WHERE src <> dst),
        $rounds
        SELECT v AS term, CAST(COUNT(*) AS BIGINT) AS core_deg
        FROM (SELECT a AS v FROM e6 UNION ALL SELECT b AS v FROM e6) ends GROUP BY 1"""
      },
      bench = true),

    // Adamic–Adar link prediction on the same thresholded network: every
    // non-adjacent pair scored by Σ 1/ln(deg) over common neighbors (the
    // classic friend-of-friend signal). Wedge join with the q33-style
    // degree cap passed explicitly (deg ≤ 64 — a no-op on this graph,
    // the declared work bound at scale); ln→10 dp, reciprocal→12 dp,
    // DECIMAL sum→8 dp, so the score is bit-portable.
    QueryDef("q115_adamic_adar",
      (s, dir) => {
        Graphs.adamicAdar(strongEdges(s, dir), maxDegree = Some(64))
      },
      oracle = Some(s"""
        WITH $coocCte,
        und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM cooc WHERE cnt >= 20),
        nb AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b AS v, a AS n FROM und),
        dg AS (SELECT n, COUNT(*) AS degn FROM nb GROUP BY 1),
        z AS (SELECT nb.v, nb.n, dg.degn FROM nb JOIN dg USING (n) WHERE dg.degn <= 64),
        w AS (
          SELECT z1.v AS x, z2.v AS y, z1.degn AS degz
          FROM z z1 JOIN z z2 ON z1.n = z2.n AND z1.v < z2.v),
        c AS (
          SELECT w.x, w.y, w.degz FROM w
          LEFT JOIN und ON und.a = w.x AND und.b = w.y
          WHERE und.a IS NULL)
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_common,
          round(CAST(SUM(CAST(round(1.0/round(ln(CAST(degz AS DOUBLE)), 10), 12)
            AS DECIMAL(30,12))) AS DOUBLE), 8) AS aa_score
        FROM c GROUP BY 1, 2"""),
      bench = true),

    // Positive PMI word-association scores over the co-occurrence counts:
    // PMI(a,b) = ln(cnt·T / (m_a·m_b)) with the marginals and total from
    // the same count table — the classic collocation / word-association
    // statistic (the step before PPMI-SVD embeddings; q103's LSA covers
    // the factorization half). Two vocab-keyed equi joins + a 1-row total
    // broadcast on top of the co-occurrence aggregate; every arithmetic
    // step is a deterministic IEEE op and the ln rounds to 8 dp on both
    // engines.
    QueryDef("q118_pmi",
      (s, dir) => {
        val c = cooc(s, dir)
        val marg = c.groupBy(col("src")).agg(sum(col("cnt")).as("m"))
        val tot = c.agg(sum(col("cnt")).as("t"))
        c
          .join(marg.select(col("src"), col("m").as("ma")), "src")
          .join(marg.select(col("src").as("dst"), col("m").as("mb")), "dst")
          .crossJoin(broadcast(tot))
          .select(col("src"), col("dst"), col("cnt"),
            round(log(col("cnt").cast("double") * col("t").cast("double") /
              (col("ma").cast("double") * col("mb").cast("double"))), 8).as("pmi"))
          .filter(col("pmi") > 0)
      },
      oracle = Some(s"""
        WITH $coocCte,
        marg AS (SELECT src, SUM(cnt) AS m FROM cooc GROUP BY 1),
        tot AS (SELECT SUM(cnt) AS t FROM cooc)
        SELECT c.src, c.dst, c.cnt,
          round(ln(CAST(c.cnt AS DOUBLE) * CAST(tot.t AS DOUBLE) /
            (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE))), 8) AS pmi
        FROM cooc c
        JOIN marg ma ON c.src = ma.src
        JOIN marg mb ON mb.src = c.dst, tot
        WHERE round(ln(CAST(c.cnt AS DOUBLE) * CAST(tot.t AS DOUBLE) /
            (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE))), 8) > 0"""),
      bench = true),

    // Multi-source BFS over the co-occurrence graph: min hop distance from
    // the 3 lexicographically-lowest real terms + the root of an attached
    // 8-vertex chain fixture, horizon 6 — the chain pins layered semantics
    // (bffix7 lands at hop 6, bffix8 is beyond the horizon and absent;
    // the cap is the caller's semantic horizon, not a convergence guess).
    // Per round one frontier⋈adjacency equi join + a v-keyed grouped min;
    // integer hops make the min order-independent, so the oracle replays
    // it as a recursive CTE capped at the same horizon (hop-deduped walk
    // states → MIN; q70's recursive-closure precedent).
    QueryDef("q127_bfs_hops",
      (s, dir) => {
        import s.implicits._
        val real = strongEdges(s, dir)
        val seeds = real.select(explode(array(col("src"), col("dst"))).as("v"))
          .distinct().orderBy(col("v").asc).limit(3)
          .union(Seq("bffix1").toDF("v"))
        Graphs.bfsHops(real.union(bfsChain.toDF("src", "dst")), seeds, maxHops = 6)
          .select(col("v").as("term"), col("hops"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $coocCte,
        rc AS MATERIALIZED (SELECT src, dst FROM cooc WHERE cnt >= 20),
        alle AS (
          SELECT src, dst FROM rc
          UNION ALL SELECT * FROM (VALUES ${sqlValues(bfsChain)}) fx(src, dst)),
        und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM alle WHERE src <> dst),
        adj AS MATERIALIZED (
          SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
        rverts AS (
          SELECT DISTINCT v FROM (SELECT src AS v FROM rc UNION ALL SELECT dst FROM rc) u),
        seeds AS (
          SELECT v FROM (SELECT v FROM rverts ORDER BY v ASC LIMIT 3) low
          UNION ALL SELECT 'bffix1'),
        walk(v, hop) AS (
          SELECT v, 0 FROM seeds
          UNION
          SELECT adj.b, walk.hop + 1 FROM walk JOIN adj ON adj.a = walk.v
          WHERE walk.hop < 6)
        SELECT v AS term, CAST(MIN(hop) AS BIGINT) AS hops FROM walk GROUP BY 1"""),
      bench = true),

    // HITS hubs/authorities (Kleinberg 1999) over the word-ADJACENCY
    // digraph — bigram (prev → next) edges, the asymmetric sibling of the
    // symmetric co-occurrence network every other graph row uses: a term's
    // hub score asks "does it precede important words", its authority
    // "does it follow important ones". A bipartite fixture (2 pure hubs →
    // 3 pure authorities, disjoint from the corpus vocabulary) exercises
    // the zero paths: no in-edges → auth 0, no out-edges → hub 0. L1
    // normalization + the scaled-long ladder make all 4 rounds replayable
    // as chained CTEs (see Graphs.hits).
    QueryDef("q134_hits",
      (s, dir) => {
        import s.implicits._
        val big = Tables(s, dir, "documents")
          .select(graft.functions.Exprs.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) > 1)
          .select(explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> struct(tk[i - 1] AS src, tk[i] AS dst))")).as("e"))
          .select(col("e.src"), col("e.dst"))
        Graphs.hits(big.union(hitsFixture.toDF("src", "dst")), iterations = 4)
          .select(col("v").as("term"),
            round(col("auth"), 6).as("auth"), round(col("hub"), 6).as("hub"))
      },
      oracle = Some(hitsSql(4)),
      bench = true),

    // TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
    // Order into Text", EMNLP 2004): PageRank over the ±3-token sliding-
    // window co-occurrence graph, top 20 terms. Unlike q58's positional
    // self-join, the window pairs build ROW-LOCALLY — each token array
    // expands its own (i, i+j≤3) pairs in one projection, so the corpus-
    // sized stage is scan-shaped and only the (src,dst) count shuffles
    // (Heaps-bounded). Symmetrized edges keep the graph inside
    // Graphs.pageRank's broadcast-rank contract; same scaled-long ladder,
    // so all 10 rounds unroll in the oracle.
    QueryDef("q138_textrank",
      (s, dir) => {
        val pairs = Tables(s, dir, "documents")
          .select(graft.functions.Exprs.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) > 1)
          .select(explode(expr(
            """flatten(transform(sequence(1, size(tk) - 1), i ->
                 transform(sequence(1, least(3, size(tk) - i)), j ->
                   named_struct('src', tk[i - 1], 'dst', tk[i - 1 + j]))))""")).as("e"))
          .select(col("e.src"), col("e.dst"))
          .filter(col("src") =!= col("dst"))
        val und = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
        Graphs.pageRank(Graphs.normalizeEdges(und), iterations = 10)
          .select(col("v").as("term"), round(col("rank"), 6).as("rank"))
          .orderBy(col("rank").desc, col("term").asc)
          .limit(20)
      },
      oracle = Some(textrankSql(10, 0.85)),
      bench = true),

    // Bounded-hop weighted shortest paths (Bellman–Ford by synchronous
    // grouped-min rounds) over the thresholded co-occurrence network with
    // an integer "rarity" cost (1e6 div cnt + 1 — cheap edges are frequent
    // pairs). A weighted fixture exercises what BFS hops cannot: a 3-hop
    // cost-3 path beating a 1-hop cost-10 edge, and a cost tie settled by
    // fewer hops (the packed (cost, hops) lexicographic min). Integer
    // arithmetic end to end; the oracle unrolls all 6 relaxation rounds.
    QueryDef("q147_shortest_paths",
      (s, dir) => {
        import s.implicits._
        val real = cooc(s, dir)
          .filter(col("cnt") >= 20)
          .select(col("src"), col("dst"), (expr("1000000 div cnt") + lit(1L)).as("cost"))
        val seeds = real.select(explode(array(col("src"), col("dst"))).as("v"))
          .distinct().orderBy(col("v").asc).limit(3)
          .union(Seq("spfix_s").toDF("v"))
        Graphs.shortestPathsBounded(real.union(pathFixture.toDF("src", "dst", "cost")), seeds,
          maxHops = 6)
          .select(col("v").as("term"), col("cost"), col("hops"))
      },
      oracle = Some(shortestPathsSql(6)),
      bench = true),

    // Newman modularity of the q26 LPA partition over the same simple
    // co-occurrence graph — the metric row that makes community detection
    // an EVALUATED result (a dense corpus graph collapsing to few
    // communities scores near 0, exactly what Q is supposed to report;
    // GraphsSpec carries the structural two-cluster validation). Integer
    // arithmetic through DECIMAL(38,0) until one final division.
    QueryDef("q149_modularity",
      (s, dir) => {
        val c = cooc(s, dir)
        Graphs.modularity(c.select(col("src"), col("dst")), Graphs.labelPropagation(c, iterations = 5))
      },
      oracle = Some(lpaSql(5) + """,
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM cooc WHERE src <> dst),
        lab AS MATERIALIZED (SELECT term AS v, label FROM result),
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        intra AS (
          SELECT la.label, COUNT(*) AS ec
          FROM und JOIN lab la ON la.v = und.a JOIN lab lb ON lb.v = und.b
          WHERE la.label = lb.label GROUP BY 1),
        deg AS (
          SELECT v, COUNT(*) AS deg
          FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) u GROUP BY 1),
        dcs AS MATERIALIZED (
          SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS dcs
          FROM deg d JOIN lab l ON l.v = d.v GROUP BY 1),
        terms AS (
          SELECT CAST(4 AS DECIMAL(38,0)) * (SELECT m FROM mm) * COALESCE(i.ec, 0)
               - CAST(d.dcs AS DECIMAL(38,0)) * CAST(d.dcs AS DECIMAL(38,0)) AS num
          FROM dcs d LEFT JOIN intra i ON d.label = i.label)
        SELECT (SELECT m FROM mm) AS m_edges,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM dcs) AS n_communities,
          round(CAST(SUM(num) AS DOUBLE) /
            CAST(CAST(4 AS DECIMAL(38,0)) * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE),
            8) AS modularity
        FROM terms"""),
      bench = true)
  )

  /** Unrolled bounded Bellman–Ford oracle ([[Graphs.shortestPathsBounded]]):
    * per round, relax every edge from the full distance table and fold
    * with a grouped MIN over the packed cost·1024+hops key — all-integer,
    * so the min is order-independent and each round replays exactly. */
  private def shortestPathsSql(maxHops: Int): String = {
    val rounds = (1 to maxHops).map { r =>
      s"""d$r AS MATERIALIZED (
        SELECT v, MIN(pk) AS pk FROM (
          SELECT v, pk FROM d${r - 1}
          UNION ALL
          SELECT adj.b AS v, ((d.pk // 1024) + adj.cost) * 1024 + (d.pk % 1024 + 1) AS pk
          FROM d${r - 1} d JOIN adj ON adj.a = d.v) u
        GROUP BY v)"""
    }.mkString(",\n        ")
    s"""
        WITH $coocCte,
        rc AS MATERIALIZED (
          SELECT src, dst, (1000000 // cnt) + 1 AS cost FROM cooc WHERE cnt >= 20),
        alle AS (
          SELECT src, dst, cost FROM rc
          UNION ALL SELECT * FROM (VALUES ${sqlValues(pathFixture)}) fx(src, dst, cost)),
        und AS (
          SELECT least(src, dst) AS a, greatest(src, dst) AS b, MIN(cost) AS cost
          FROM alle WHERE src <> dst GROUP BY 1, 2),
        adj AS MATERIALIZED (
          SELECT a, b, cost FROM und UNION ALL SELECT b AS a, a AS b, cost FROM und),
        rverts AS (
          SELECT DISTINCT v FROM (SELECT src AS v FROM rc UNION ALL SELECT dst FROM rc) u),
        seeds AS (
          SELECT v FROM (SELECT v FROM rverts ORDER BY v ASC LIMIT 3) low
          UNION ALL SELECT 'spfix_s'),
        d0 AS (SELECT DISTINCT v, CAST(0 AS BIGINT) AS pk FROM seeds),
        $rounds
        SELECT v AS term, pk // 1024 AS cost, pk % 1024 AS hops FROM d$maxHops"""
  }

  /** Unrolled TextRank oracle: the q58-window graph built row-locally
    * (lateral series over each token list), symmetrized and out-normalized,
    * then the exact scaled-long rounds of [[pageRankSql]]. */
  private def textrankSql(iters: Int, d: Double): String =
    s"""
    WITH seq AS (
      SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
      FROM documents),
    pr AS (
      SELECT g.tk[g.i] AS src, g.tk[g.i + u.j] AS dst
      FROM (SELECT tk, UNNEST(generate_series(1, len(tk) - 1)) AS i FROM seq WHERE len(tk) > 1) g,
           UNNEST(generate_series(1, least(3, len(g.tk) - g.i))) AS u(j)
      WHERE g.tk[g.i] <> g.tk[g.i + u.j]),
    cooc AS (
      SELECT src, dst, COUNT(*) AS cnt
      FROM (SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr) b
      GROUP BY 1, 2),
    edges AS MATERIALIZED (
      SELECT src, dst,
        CAST(cnt AS DOUBLE)/CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE) AS w
      FROM cooc),
    verts AS (SELECT DISTINCT src AS v FROM cooc),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    r0 AS (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nv) AS rank FROM verts),
    ${pageRankRounds(iters, d)},
    result AS (SELECT v AS term, round(rank, 6) AS rank FROM r$iters)
    SELECT term, rank FROM result ORDER BY rank DESC, term ASC LIMIT 20"""

  /** Unrolled k-truss oracle ([[Graphs.kTruss]], `rounds` peel rounds +
    * one final support pass): per round the q104 degree-oriented triangle
    * block on the surviving edge set e{r-1} (degrees → orientation →
    * wedge closure), per-EDGE support (each triangle supports its three
    * canonical edges), and the simultaneous drop of every edge below
    * k−2. MATERIALIZED throughout — every frame feeds two successors. */
  private def kTrussSql(k: Int, rounds: Int): String = {
    def supportBlock(r: Int, src: String): String =
      s"""dg$r AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM $src UNION ALL SELECT b FROM $src) u GROUP BY 1),
        ori$r AS MATERIALIZED (
          SELECT
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS w,
            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN db.deg ELSE da.deg END AS dw
          FROM $src e JOIN dg$r da ON e.a = da.v JOIN dg$r db ON e.b = db.v),
        wed$r AS (
          SELECT e1.u AS t1, e1.w AS t2, e2.w AS t3
          FROM ori$r e1 JOIN ori$r e2 ON e1.u = e2.u AND
            (e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w))),
        tri$r AS MATERIALIZED (
          SELECT t1, t2, t3 FROM wed$r JOIN ori$r o ON wed$r.t2 = o.u AND wed$r.t3 = o.w),
        sup$r AS MATERIALIZED (
          SELECT a, b, COUNT(*) AS support FROM (
            SELECT least(t1, t2) AS a, greatest(t1, t2) AS b FROM tri$r
            UNION ALL SELECT least(t1, t3) AS a, greatest(t1, t3) AS b FROM tri$r
            UNION ALL SELECT least(t2, t3) AS a, greatest(t2, t3) AS b FROM tri$r) c
          GROUP BY 1, 2)"""
    val peels = (1 to rounds).map { r =>
      s"""${supportBlock(r, s"e${r - 1}")},
        e$r AS MATERIALIZED (
          SELECT e.a, e.b FROM e${r - 1} e
          JOIN sup$r s ON s.a = e.a AND s.b = e.b
          WHERE s.support >= ${k - 2})"""
    }.mkString(",\n        ")
    s"""
        WITH $coocCte,
        alle AS (
          SELECT src, dst FROM cooc WHERE cnt >= 20
          UNION ALL SELECT * FROM (VALUES ${sqlValues(kTrussFixture)}) fx(src, dst)),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM alle WHERE src <> dst),
        $peels,
        ${supportBlock(rounds + 1, s"e$rounds")}
        SELECT e.a AS term_a, e.b AS term_b, COALESCE(s.support, 0) AS support
        FROM e$rounds e LEFT JOIN sup${rounds + 1} s ON s.a = e.a AND s.b = e.b"""
  }

  /** Unrolled HITS oracle ([[Graphs.hits]], 4 rounds): per round,
    * ar/hr sum the opposite score over in-/out-edges through the exact
    * 1e18 scaled-long accumulator (Σ = 1 after L1 normalization bounds
    * every term below overflow), then a/h renormalize via a second exact
    * pass at 1e12 (scores are 12-dp) and left-join onto ALL vertices so
    * edge-less sides score literal 0. MATERIALIZED per round — each frame
    * is read twice (normalizer subquery + join), the q81 lesson. */
  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
        SELECT e.dst AS v,
          round(CAST(SUM(CAST(floor(h.hub*1e18 + 0.5) AS BIGINT)) AS DOUBLE)/1e18, 12) AS raw
        FROM edges e JOIN h${i - 1} h ON e.src = h.v GROUP BY 1),
      a$i AS MATERIALIZED (
        SELECT vt.v, COALESCE(round(r.raw /
            (SELECT CAST(SUM(CAST(floor(raw*1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12 FROM ar$i),
          12), CAST(0.0 AS DOUBLE)) AS auth
        FROM verts vt LEFT JOIN ar$i r ON vt.v = r.v),
      hr$i AS MATERIALIZED (
        SELECT e.src AS v,
          round(CAST(SUM(CAST(floor(a.auth*1e18 + 0.5) AS BIGINT)) AS DOUBLE)/1e18, 12) AS raw
        FROM edges e JOIN a$i a ON e.dst = a.v GROUP BY 1),
      h$i AS MATERIALIZED (
        SELECT vt.v, COALESCE(round(r.raw /
            (SELECT CAST(SUM(CAST(floor(raw*1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12 FROM hr$i),
          12), CAST(0.0 AS DOUBLE)) AS hub
        FROM verts vt LEFT JOIN hr$i r ON vt.v = r.v)"""
    }.mkString(",\n      ")
    s"""
        WITH seq AS (
          SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
          FROM documents),
        bg AS (
          SELECT tk[i] AS src, tk[i + 1] AS dst
          FROM (SELECT tk, UNNEST(generate_series(1, len(tk) - 1)) AS i FROM seq WHERE len(tk) > 1) z),
        alle AS (
          SELECT src, dst FROM bg
          UNION ALL SELECT * FROM (VALUES ${sqlValues(hitsFixture)}) fx(src, dst)),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM alle WHERE src <> dst),
        verts AS MATERIALIZED (
          SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) u),
        h0 AS (SELECT v, round(CAST(1.0 AS DOUBLE)/(SELECT COUNT(*) FROM verts), 12) AS hub FROM verts),
        $rounds
        SELECT a.v AS term, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub
        FROM a$iters a JOIN h$iters h ON a.v = h.v"""
  }

  /** Unrolled general-graph PageRank oracle ([[Graphs.pageRankGeneral]] on
    * the q81 nation digraph): the walk of [[walkSql]] with a uniform
    * teleport and dangling share over all n vertices, in the Spark
    * expression's operation order: (1−d)/n + d·(inc + dm/1e12/n). */
  private def pageRankDanglingSql(iters: Int, d: Double): String =
    walkSql(iters, """nv AS (SELECT COUNT(*) AS n FROM verts),
    r0 AS (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nv) AS rank FROM verts)""", "") { i =>
      s"""round((SELECT CAST(1.0-$d AS DOUBLE)/n FROM nv) +
            $d*(COALESCE(a.inc, CAST(0.0 AS DOUBLE)) +
                (SELECT CAST(dm AS DOUBLE)/1e12/(SELECT n FROM nv) FROM d${i - 1})), 12)"""
    }

  /** Unrolled personalized-PageRank oracle ([[Graphs.personalizedPageRank]]
    * on the q81 digraph): the walk of [[walkSql]] with the teleport +
    * dangling share gated on seed membership via a CASE whose arithmetic
    * matches the Spark side's {0,1}-multiplier form exactly (1·x = x,
    * 0·x = 0), and the share computed in the same operation order:
    * (1−d)/ns + d·(dm/1e12/ns). */
  private def personalizedPageRankSql(iters: Int, d: Double, seeds: Seq[Long]): String = {
    val seedVals = seeds.map(s => s"($s)").mkString(", ")
    walkSql(iters, s"""seeds AS (SELECT CAST(s.v AS BIGINT) AS v FROM (VALUES $seedVals) s(v)
              WHERE s.v IN (SELECT v FROM verts)),
    nsd AS (SELECT COUNT(*) AS ns FROM seeds),
    r0 AS (
      SELECT vt.v,
        CASE WHEN sd.v IS NOT NULL THEN CAST(1.0 AS DOUBLE)/(SELECT ns FROM nsd)
             ELSE CAST(0.0 AS DOUBLE) END AS rank
      FROM verts vt LEFT JOIN seeds sd ON vt.v = sd.v)""",
      "\n        LEFT JOIN seeds sd ON vt.v = sd.v") { i =>
      s"""round(CASE WHEN sd.v IS NOT NULL THEN
              (SELECT CAST(1.0-$d AS DOUBLE)/ns FROM nsd) +
              $d*(SELECT CAST(dm AS DOUBLE)/1e12/(SELECT ns FROM nsd) FROM d${i - 1})
            ELSE CAST(0.0 AS DOUBLE) END +
            $d*COALESCE(a.inc, CAST(0.0 AS DOUBLE)), 12)"""
    }
  }

  /** The unrolled random walk both nation-digraph oracles share: per round,
    * d{i-1} sums the dangling mass as exact 1e-12 micro-units (ranks are
    * 12-dp, so the scaling is lossless) and r{i} left-joins the incoming
    * scaled-long sums onto ALL vertices (no-inbound vertices still get their
    * teleport + dangling share). `ctes` defines r0 and whatever the update
    * reads, `joins` adds joins onto `verts vt`, and `rank(i)` is round i's
    * rank expression over `a.inc` and d{i-1}. MATERIALIZED is load-bearing:
    * unlike [[pageRankSql]]'s single chain, each round reads the previous
    * rank frame twice (dangling sum + join), and DuckDB's default CTE
    * inlining would expand 2^rounds plans (the q79 lesson). */
  private def walkSql(iters: Int, ctes: String, joins: String)(rank: Int => String): String = {
    val rounds = (1 to iters).map { i =>
      s"""d${i - 1} AS MATERIALIZED (
        SELECT COALESCE(SUM(CAST(floor(r.rank*1e12 + 0.5) AS BIGINT)), 0) AS dm
        FROM r${i - 1} r LEFT JOIN srcs s ON r.v = s.v WHERE s.v IS NULL),
      r$i AS MATERIALIZED (
        SELECT vt.v,
          ${rank(i)} AS rank
        FROM verts vt$joins LEFT JOIN (
          SELECT e.dst AS v,
            CAST(SUM(CAST(floor(r.rank*e.w*1e18 + 0.5) AS BIGINT)) AS DOUBLE)/1e18 AS inc
          FROM edges e JOIN r${i - 1} r ON e.src = r.v GROUP BY e.dst) a ON vt.v = a.v)"""
    }.mkString(",\n")
    s"""
    WITH edges AS (
      SELECT CAST(n_nationkey AS BIGINT) AS src,
             CAST(n_regionkey + 100 AS BIGINT) AS dst,
             CAST(1.0 AS DOUBLE) AS w
      FROM nation),
    verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) u),
    srcs AS (SELECT DISTINCT src AS v FROM edges),
    $ctes,
    $rounds
    SELECT v, round(rank, 6) AS rank FROM r$iters"""
  }
}
