package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Core

/** Graph queries over the co-purchase item graph (triangles, BFS, k-core,
  * label propagation, HITS, assortativity, Jaccard, item-CF, association
  * rules) and the TextRank word graph. The basket and pair relations are
  * session memos shared by the family.
  */
object GraphQueries {

  /** The distinct (ok, item) basket relation under [[coPurchasePairs]] —
    * memoized separately because three consumers re-built the same
    * lineitem distinct: the pair build, recsys_item_cf's degree counts,
    * and assoc_rules' item marginals.
    */
  private def basketItems(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "basket_items") {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct()
    }

  /** The weighted co-purchase pair relation (a < b item pairs sharing a
    * basket, with the shared-basket count) — the common input of SEVEN
    * graph queries (triangle count, BFS, k-core, label propagation,
    * assortativity, item-Jaccard, item-CF recommender). Built + shuffled
    * ONCE per session via [[graft.Core.memo]]; each consumer applies its own
    * support filter / projection. In the bench this removes six rebuilds
    * of the basket self-join (the graph family's shared dominant cost).
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    Core.memo(s, dir, "copurchase_pairs") {
      val bk = basketItems(s, dir)
      bk.select(col("ok"), col("item").as("a"))
        .join(bk.select(col("ok"), col("item").as("b")), Seq("ok"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    }

  /** SQL mirror of the two memos as leading CTEs: `bk` the basket
    * relation, `e0` the repeat pairs (support ≥ 2) of the a<b pair relation.
    */
  private val repeatPairsCtes =
    """WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
          FROM lineitem),
        e0 AS (SELECT l.item AS a, r.item AS b FROM bk l JOIN bk r USING (ok)
          WHERE l.item < r.item GROUP BY 1, 2 HAVING COUNT(*) >= 2),"""

  /** SQL mirror of the basket memo, its item degrees `deg`, and the a<b
    * pairs `pr` with support ≥ `minShared`, as leading CTEs.
    */
  private def pairSupportCtes(minShared: Int): String =
    s"""WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
          FROM lineitem),
        deg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS nb FROM bk
          GROUP BY 1),
        pr AS (SELECT l.item AS a, r.item AS b,
          CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM bk l JOIN bk r USING (ok) WHERE l.item < r.item
          GROUP BY 1, 2 HAVING COUNT(*) >= $minShared),"""

  /** TextRank keyword scores: 3 damped iterations over the symmetrized
    * adjacent-token graph, mirrored as unrolled MATERIALIZED steps (the
    * bpe_train precedent for iterative algorithms — each step feeds
    * exactly one next step). The (1−d) constant is interpolated from the
    * ENGINE's double arithmetic (1.0 − 0.85 ≠ the literal 0.15 in the
    * last bit) so both engines iterate on identical bits.
    */
  val graphTextrank: QueryDef = {
    val iters = 3; val k = 20; val damping = 0.85
    val dSql = s"CAST(${damping.toString} AS DOUBLE)"
    val omdSql = s"CAST(${(1.0 - damping).toString} AS DOUBLE)"
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
        SELECT n.tok, ROUND($omdSql + $dSql * CAST(COALESCE(s.s, 0) AS DOUBLE), 10)
            AS rank_v
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS tok,
            SUM(CAST(ROUND(r.rank_v * (CAST(e.w AS DOUBLE) / CAST(e.outw AS DOUBLE)), 10)
                AS DECIMAL(27,10))) AS s
          FROM ed e JOIN r${i - 1} r ON r.tok = e.src GROUP BY e.dst) s
          USING (tok))"""
    }.mkString(",\n        ")
    QueryDef(
      "graph_textrank",
      (s, dir) => graft.llm.Graph.textRank(
          t(s, dir, "documents"), "text", iters = iters,
          damping = damping, k = k)
        .orderBy(col("rank")),
      Some(s"""WITH tk AS (SELECT ${Ora.toksSql} AS w FROM documents),
        ap AS (SELECT [{'src': w[i], 'dst': w[i + 1]}
                       for i in generate_series(1, len(w) - 1)] AS ps FROM tk),
        e0 AS (SELECT unnest(ps, recursive := true) FROM ap),
        eu AS (SELECT src, dst FROM e0
               UNION ALL SELECT dst AS src, src AS dst FROM e0),
        eg AS (SELECT src, dst, COUNT(*) AS w FROM eu GROUP BY 1, 2),
        ed AS MATERIALIZED (SELECT src, dst, w,
            CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS outw FROM eg),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS tok FROM ed),
        r0 AS (SELECT tok, CAST(1.0 AS DOUBLE) AS rank_v FROM nodes),
        $steps,
        fin AS (SELECT tok, rank_v, ROW_NUMBER() OVER
            (ORDER BY rank_v DESC, tok) AS rank FROM r$iters)
      SELECT CAST(rank AS INT) AS rank, tok, ROUND(rank_v, 6) AS score
      FROM fin WHERE rank <= $k ORDER BY rank"""))
  }

  /** Triangle counting on the co-purchase graph (parts sharing an order):
    * top-20 parts by triangle participation, pure integer counting under
    * the hash gate; the engine's degree-ordered orientation and the
    * mirror's are the same construction, so the join fan-out cap is
    * exercised, not just the final counts.
    */
  val graphTriangleCount: QueryDef = {
    val k = 20
    QueryDef(
      "graph_triangle_count",
      (s, dir) => graft.llm.Graph.triangleCount(
          // the memoized pair relation's key set IS coPurchaseEdges's
          // distinct (a, b) — the count column just drops
          coPurchasePairs(s, dir).select(col("a"), col("b")),
          k = k)
        .orderBy(col("rank")),
      Some(s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
          FROM lineitem),
        e0 AS MATERIALIZED (SELECT DISTINCT l.item AS a, r.item AS b
          FROM b l JOIN b r USING (ok) WHERE l.item < r.item),
        deg AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM
          (SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0) GROUP BY v),
        e AS MATERIALIZED (SELECT
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
               THEN e0.a ELSE e0.b END AS src,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
               THEN e0.b ELSE e0.a END AS dst
          FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
          FROM e e1 JOIN e e2 ON e2.src = e1.dst
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        per AS (SELECT part, COUNT(*) AS n_triangles FROM
          (SELECT unnest([x, y, z]) AS part FROM tri) GROUP BY part),
        r AS (SELECT part, n_triangles, ROW_NUMBER() OVER
          (ORDER BY n_triangles DESC, part) AS rank FROM per)
      SELECT CAST(rank AS INT) AS rank, part, n_triangles
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Association rules on the lineitem co-purchase baskets: top-20 directed
    * pairs by lift with support/confidence, pair support ≥ 3 baskets. The
    * rule ORDER (lift DESC, ante, cons) is gated along with all three
    * measures.
    */
  val assocRules: QueryDef = {
    val minCount = 3; val k = 20
    QueryDef(
      "assoc_rules",
      // ride the session memos — the basket relation and the a<b
      // pair supports are the same constructions seven graph queries
      // share; rebuilding the basket self-join here was the query's
      // dominant cost (directed support derives from the undirected memo
      // by a union — identical integer counts, oracle-pinned)
      (s, dir) => graft.llm.Graph.associationRulesFromParts(
          basketItems(s, dir), coPurchasePairs(s, dir),
          minCount = minCount, k = k)
        .orderBy(col("rank")),
      Some(s"""WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
          l_partkey AS item FROM lineitem),
        nb AS (SELECT COUNT(DISTINCT ok) AS n FROM b),
        itn AS MATERIALIZED (SELECT item, COUNT(*) AS n_i FROM b GROUP BY item),
        pr AS (SELECT l.item AS ante, r.item AS cons, COUNT(*) AS n_ab
          FROM b l JOIN b r USING (ok) WHERE l.item <> r.item
          GROUP BY 1, 2 HAVING COUNT(*) >= $minCount),
        m AS (SELECT p.ante, p.cons, p.n_ab,
            ROUND(CAST(p.n_ab AS DOUBLE) / nb.n, 6) AS support,
            ROUND(CAST(p.n_ab AS DOUBLE) / CAST(a.n_i AS DOUBLE), 6)
              AS confidence,
            ROUND((CAST(p.n_ab AS DOUBLE) * nb.n) /
              (CAST(a.n_i AS DOUBLE) * CAST(c.n_i AS DOUBLE)), 6) AS lift
          FROM pr p JOIN itn a ON a.item = p.ante
          JOIN itn c ON c.item = p.cons CROSS JOIN nb),
        r AS (SELECT m.*, ROW_NUMBER() OVER
          (ORDER BY lift DESC, ante, cons) AS rank FROM m)
      SELECT CAST(rank AS INT) AS rank, ante, cons, n_ab, support,
        confidence, lift
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Label-propagation communities over the REPEAT co-purchase graph
    * (pairs sharing ≥ 2 orders — the single-basket noise pruned away):
    * 3 synchronous min-label-tie rounds, mirrored as unrolled steps; the
    * top-20 community sizes gate the whole labeling.
    */
  val graphLabelProp: QueryDef = {
    val iters = 3; val k = 20
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst, l.label, COUNT(*) AS c FROM ed e
          JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
        l$i AS MATERIALIZED (SELECT dst AS node, label FROM
          (SELECT dst, label, ROW_NUMBER() OVER
            (PARTITION BY dst ORDER BY c DESC, label) AS rn FROM c$i)
          WHERE rn = 1)"""
    }.mkString(",\n        ")
    QueryDef(
      "graph_label_prop",
      (s, dir) => {
        val edges = coPurchasePairs(s, dir)
          .filter(col("n_ab") >= 2)
          .select(col("a"), col("b"))
        graft.llm.Graph.labelPropagation(edges, iters = iters, k = k)
          .orderBy(col("rank"))
      },
      Some(s"""$repeatPairsCtes
        ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b, a FROM e0),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
        $steps,
        fin AS (SELECT label, COUNT(*) AS size FROM l$iters GROUP BY 1),
        r AS (SELECT label, size, ROW_NUMBER() OVER
          (ORDER BY size DESC, label) AS rank FROM fin)
      SELECT CAST(rank AS INT) AS rank, label AS community, size
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** BFS layer census from seed items (item % 97 = 0) over the repeat
    * co-purchase graph (pairs sharing ≥ 2 orders), 3 hops; hop −1 counts
    * graph nodes unreached within the bound.
    */
  val graphBfsLayers: QueryDef = {
    val hops = 3
    val steps = (1 to hops).map { i =>
      s"""f$i AS (SELECT DISTINCT x.node FROM
          (SELECT e.dst AS node FROM ed e JOIN d${i - 1} s ON s.node = e.src) x
          ANTI JOIN d${i - 1} v ON x.node = v.node),
        d$i AS MATERIALIZED (SELECT * FROM d${i - 1}
          UNION ALL SELECT node, $i AS hop FROM f$i)"""
    }.mkString(",\n        ")
    QueryDef(
      "graph_bfs_layers",
      (s, dir) => {
        val edges = coPurchasePairs(s, dir)
          .filter(col("n_ab") >= 2)
          .select(col("a"), col("b"))
        val seeds = t(s, dir, "lineitem")
          .select(col("l_partkey").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        graft.llm.Graph.bfsLayers(edges, seeds, maxHops = hops)
          .orderBy(col("hop"))
      },
      Some(s"""$repeatPairsCtes
        ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b, a FROM e0),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
        d0 AS MATERIALIZED (SELECT node, 0 AS hop FROM nodes
          WHERE node % 97 = 0),
        $steps
      SELECT CAST(hop AS INT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM d$hops GROUP BY 1
      UNION ALL SELECT -1,
        (SELECT COUNT(*) FROM nodes) - (SELECT COUNT(*) FROM d$hops)
      ORDER BY hop"""))
  }

  /** HITS authorities over the customer→part purchase graph, 2
    * max-normalized iterations, top-20 items.
    */
  val graphHits: QueryDef = {
    val iters = 2; val k = 20
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.i,
          CAST(SUM(CAST(h.h AS DECIMAL(27,10))) AS DOUBLE) AS ar
          FROM ed e JOIN hub${i - 1} h ON h.u = e.u GROUP BY 1),
        am$i AS (SELECT MAX(ar) AS am FROM ar$i),
        auth$i AS MATERIALIZED (SELECT i, ar / (SELECT am FROM am$i) AS a
          FROM ar$i),
        hr$i AS (SELECT e.u,
          CAST(SUM(CAST(a.a AS DECIMAL(27,10))) AS DOUBLE) AS hr
          FROM ed e JOIN auth$i a ON a.i = e.i GROUP BY 1),
        hm$i AS (SELECT MAX(hr) AS hm FROM hr$i),
        hub$i AS MATERIALIZED (SELECT u, hr / (SELECT hm FROM hm$i) AS h
          FROM hr$i)"""
    }.mkString(",\n        ")
    QueryDef(
      "graph_hits",
      (s, dir) => {
        val edges = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("u"))
          .join(t(s, dir, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"),
              col("l_partkey").as("i")), Seq("o_orderkey"))
          .select(col("u"), col("i"))
        graft.llm.Graph.hits(edges, iters = iters, k = k)
          .orderBy(col("rank"))
      },
      Some(s"""WITH ed AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS u,
          l.l_partkey AS i
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        hub0 AS (SELECT DISTINCT u, 1.0 AS h FROM ed),
        $steps,
        r AS (SELECT i, a, ROW_NUMBER() OVER (ORDER BY a DESC, i) AS rank
          FROM auth$iters)
      SELECT CAST(rank AS INT) AS rank, i AS authority,
        ROUND(a, 6) AS score
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** 3-round k-core (k=3) peeling census over the repeat co-purchase
    * graph: surviving nodes/edges per round.
    */
  val kcorePeel: QueryDef = {
    val k = 3; val rounds = 3
    val steps = (1 to rounds).map { i =>
      s"""k$i AS (SELECT src FROM (SELECT src, COUNT(*) AS deg
          FROM ed${i - 1} GROUP BY 1) WHERE deg >= $k),
        ed$i AS MATERIALIZED (SELECT e.src, e.dst FROM ed${i - 1} e
          SEMI JOIN k$i a ON e.src = a.src
          SEMI JOIN k$i b ON e.dst = b.src),
        r$i AS (SELECT $i AS round,
          (SELECT COUNT(DISTINCT src) FROM ed$i) AS n_nodes,
          CAST((SELECT COUNT(*) / 2 FROM ed$i) AS BIGINT) AS n_edges)"""
    }.mkString(",\n        ")
    QueryDef(
      "graph_kcore_peel",
      (s, dir) => {
        val edges = coPurchasePairs(s, dir)
          .filter(col("n_ab") >= 2)
          .select(col("a"), col("b"))
        graft.llm.Graph.kcorePeel(edges, k = k, rounds = rounds)
          .orderBy(col("round"))
      },
      Some(s"""$repeatPairsCtes
        ed0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b, a FROM e0),
        $steps
      SELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,
        n_edges
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        UNION ALL SELECT * FROM r3)
      ORDER BY round"""))
  }

  /** Item-item Jaccard similarity over purchase baskets — the
    * collaborative-filtering neighborhood: for item pairs sharing ≥ 2
    * baskets, J = |B_a ∩ B_b| / |B_a ∪ B_b|, top-25 by (J desc, a, b).
    * The pair counts ride the basket-keyed inverted index (fan-out
    * bounded by basket size), item degrees are one keyed agg — never
    * an all-pairs item join.
    */
  val itemJaccard: QueryDef = {
    val minShared = 2; val k = 25
    QueryDef(
      "graph_item_jaccard",
      (s, dir) => {
        // degree counts from the memoized basket relation (see
        // basketItems) instead of a per-query lineitem distinct
        val b = basketItems(s, dir)
        val deg = b.groupBy(col("item")).agg(count(lit(1)).as("nb"))
        val pairs = coPurchasePairs(s, dir)
          .filter(col("n_ab") >= minShared)
        val scored = pairs
          .join(deg.select(col("item").as("a"), col("nb").as("na")), Seq("a"))
          .join(deg.select(col("item").as("b"), col("nb").as("nbb")), Seq("b"))
          .select(col("a"), col("b"), col("n_ab"),
            round(col("n_ab").cast("double") /
              (col("na") + col("nbb") - col("n_ab")).cast("double"), 6)
              .as("jaccard"))
        val w = Window.orderBy(col("jaccard").desc, col("a"), col("b"))
        scored.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= k)
          .select(col("rank"), col("a"), col("b"), col("n_ab"), col("jaccard"))
          .orderBy(col("rank"))
      },
      Some(s"""${pairSupportCtes(minShared)}
        sc AS (SELECT p.a, p.b, p.n_ab,
          ROUND(CAST(p.n_ab AS DOUBLE) /
            CAST(da.nb + db.nb - p.n_ab AS DOUBLE), 6) AS jaccard
          FROM pr p JOIN deg da ON da.item = p.a JOIN deg db ON db.item = p.b),
        r AS (SELECT a, b, n_ab, jaccard, ROW_NUMBER() OVER
          (ORDER BY jaccard DESC, a, b) AS rank FROM sc)
      SELECT CAST(rank AS INT) AS rank, a, b, n_ab, jaccard
      FROM r WHERE rank <= $k ORDER BY rank"""))
  }

  /** Degree assortativity of the repeat co-purchase graph: Pearson
    * correlation of endpoint degrees over the symmetrized edge list —
    * whether hubs connect to hubs. Decimal sufficient statistics over
    * the edge relation; degrees from one keyed agg.
    */
  val assortativity: QueryDef = QueryDef(
    "graph_assortativity",
    (s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(27,10)")
      val e0 = coPurchasePairs(s, dir)
        .filter(col("n_ab") >= 2).select(col("a"), col("b"))
      val ed = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
      val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val pairs = ed
        .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
        .select(col("dx").cast("double").as("x"), col("dy").cast("double").as("y"))
      val m = pairs.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(col("x") * col("x"))).cast("double").as("sxx"),
        sum(dec(col("x") * col("y"))).cast("double").as("sxy"),
        sum(dec(col("y") * col("y"))).cast("double").as("syy"))
      val n = col("n").cast("double")
      val cov = n * col("sxy") - col("sx") * col("sy")
      val vx = n * col("sxx") - col("sx") * col("sx")
      val vy = n * col("syy") - col("sy") * col("sy")
      m.select((col("n") / 2).cast("long").as("n_edges"),
        when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 6))
          .as("assortativity"))
    },
    Some("""WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        FROM lineitem),
      e0 AS (SELECT l.item AS a, r.item AS b FROM bk l JOIN bk r USING (ok)
        WHERE l.item < r.item GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      ed AS (SELECT a AS src, b AS dst FROM e0
        UNION ALL SELECT b, a FROM e0),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
      pr AS (SELECT CAST(da.deg AS DOUBLE) AS x, CAST(db.deg AS DOUBLE) AS y
        FROM ed e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(27,10))) AS DOUBLE) AS sy,
        CAST(SUM(CAST((x * x) AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST((x * y) AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST((y * y) AS DECIMAL(27,10))) AS DOUBLE) AS syy
        FROM pr)
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
      CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
        ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
          SQRT((CAST(n AS DOUBLE) * sxx - sx * sx) *
            (CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS assortativity
    FROM m"""))

  /** Item-CF recommendations end-to-end: customer baskets → item-item
    * Jaccard neighborhood (pairs sharing ≥ 2 order-baskets) → per-user
    * candidate scores Σ jac over owned neighbors → anti-join owned →
    * top-3 per customer (customers < 50). The whole recommender as one
    * gated dataflow; every stage rides the basket-keyed inverted index
    * or a keyed agg — never an all-pairs join.
    */
  val itemCfRecs: QueryDef = {
    val minShared = 2; val nRecs = 3; val maxCust = 50
    QueryDef(
      "recsys_item_cf",
      (s, dir) => {
        // the degree counts read the memoized basket relation the
        // pair memo is built from, instead of re-running the lineitem
        // distinct per query
        val bk = basketItems(s, dir)
        val deg = bk.groupBy(col("item")).agg(count(lit(1)).as("nb"))
        val pairs = coPurchasePairs(s, dir)
          .filter(col("n_ab") >= minShared)
        val sims = pairs
          .join(deg.select(col("item").as("a"), col("nb").as("na")), Seq("a"))
          .join(deg.select(col("item").as("b"), col("nb").as("nbb")), Seq("b"))
          .select(col("a"), col("b"),
            round(col("n_ab").cast("double") /
              (col("na") + col("nbb") - col("n_ab")).cast("double"), 6)
              .as("jac"))
        val simSym = sims.select(col("a").as("owned"), col("b").as("cand"),
            col("jac"))
          .unionAll(sims.select(col("b").as("owned"), col("a").as("cand"),
            col("jac")))
        val owned = t(s, dir, "orders")
          .filter(col("o_custkey") < maxCust)
          .select(col("o_orderkey"), col("o_custkey").as("cust"))
          .join(t(s, dir, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"),
              col("l_partkey").as("item")), Seq("o_orderkey"))
          .select(col("cust"), col("item")).distinct()
        val scored = owned.join(simSym,
            owned("item") === simSym("owned"))
          .groupBy(col("cust"), col("cand"))
          .agg(round(sum(col("jac").cast("decimal(27,10)")), 6).cast("double")
            .as("score"), count(lit(1)).as("n_neighbors"))
          .join(owned.select(col("cust"), col("item").as("cand")),
            Seq("cust", "cand"), "left_anti")
        val w = Window.partitionBy(col("cust"))
          .orderBy(col("score").desc, col("cand"))
        scored.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= nRecs)
          .select(col("cust"), col("rank"), col("cand"), col("score"),
            col("n_neighbors"))
          .orderBy(col("cust"), col("rank"))
      },
      Some(s"""${pairSupportCtes(minShared)}
        sims AS (SELECT p.a, p.b,
          ROUND(CAST(p.n_ab AS DOUBLE) /
            CAST(da.nb + db.nb - p.n_ab AS DOUBLE), 6) AS jac
          FROM pr p JOIN deg da ON da.item = p.a JOIN deg db ON db.item = p.b),
        ss AS (SELECT a AS owned, b AS cand, jac FROM sims
          UNION ALL SELECT b, a, jac FROM sims),
        owned AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE o.o_custkey < $maxCust),
        sc AS (SELECT ow.cust, ss.cand,
          CAST(ROUND(SUM(CAST(ss.jac AS DECIMAL(27,10))), 6) AS DOUBLE)
            AS score,
          CAST(COUNT(*) AS BIGINT) AS n_neighbors
          FROM owned ow JOIN ss ON ss.owned = ow.item
          GROUP BY 1, 2),
        flt AS (SELECT sc.* FROM sc
          ANTI JOIN owned ow2 ON ow2.cust = sc.cust AND ow2.item = sc.cand),
        rk AS (SELECT cust, cand, score, n_neighbors, ROW_NUMBER() OVER
          (PARTITION BY cust ORDER BY score DESC, cand) AS rank FROM flt)
      SELECT cust, CAST(rank AS INT) AS rank, cand, score, n_neighbors
      FROM rk WHERE rank <= $nRecs ORDER BY cust, rank"""))
  }

  val all: Seq[QueryDef] = Seq(
    graphTextrank, graphTriangleCount, assocRules, graphLabelProp, graphBfsLayers,
    graphHits, kcorePeel, itemJaccard, assortativity, itemCfRecs)
}
