package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.dsum

/** Corpus graph analytics: TextRank (Mihalcea & Tarau 2004) keyword
  * scoring — weighted PageRank over the adjacent-token co-occurrence
  * graph, the classic iterative-graph workload expressed as k unrolled
  * relational steps.
  */
object Graph {

  /** Build the undirected weighted co-occurrence edge relation from
    * adjacent tokens: one map-side pass (adjacent array slots — the
    * text_perplexity precedent, no window), symmetrized by a union, then
    * one keyed count aggregation. Edge count is vocabulary-bounded however
    * large the corpus.
    */
  def cooccurrenceEdges(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val pairs = df
      .select(toks.as("w"))
      .select(explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> struct(x AS src, w[i + 1] AS dst))"))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
    pairs.unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** TextRank scores: `iters` damped iterations over the co-occurrence
    * graph, r⁰ = 1, rᵢ = (1−d) + d·Σ_j (w_ji / outw_j)·r_j (the TextRank
    * normalization — no 1/N term).
    *
    * Determinism contract (what makes this hash-gateable): per-edge
    * contributions are correctly-rounded IEEE ops on identical inputs on
    * both engines, rounded to 10 dp BEFORE the order-sensitive part; the
    * per-node sum then accumulates in DECIMAL (exact, associative), and
    * each iteration re-rounds the rank to 10 dp — so ranks are identical
    * bits on both engines at every step. Output rounded to 6 dp.
    *
    * Scale shape: each iteration is one broadcast-or-shuffle join of the
    * |V|-row rank relation against the |E|-row edge relation plus one
    * keyed agg — vocabulary-bounded relations throughout; iterations are
    * materialized (localCheckpoint) so the plan stays LINEAR in k instead
    * of nesting (the unigram relational-DP lesson: each step here feeds
    * the next step once, but checkpointing also keeps analysis time flat
    * for larger k).
    */
  def textRank(df: DataFrame, textCol: String, iters: Int = 3,
               damping: Double = 0.85, k: Int = 20): DataFrame = {
    require(iters >= 1 && k > 0, s"textRank: bad shape iters=$iters k=$k")
    // fanOut AFTER the checkpoint — frozen-coalesced-layout rule, see
    // [[undirectedEdges]]
    val edges = graft.Core.fanOut(cooccurrenceEdges(df, textCol)
      .withColumn("outw", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint()) // consumed once per iteration
    val nodes = edges.select(col("src").as("tok")).distinct()
    var r = nodes.withColumn("rank_v", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(r.withColumnRenamed("tok", "src"), Seq("src"))
        .select(col("dst").as("tok"),
          round(col("rank_v") * (col("w").cast("double") / col("outw").cast("double")), 10)
            .as("c"))
        .groupBy(col("tok"))
        .agg(dsum(col("c")).as("s"))
      r = nodes.join(contrib, Seq("tok"), "left")
        .select(col("tok"),
          round(lit(1.0 - damping) +
            lit(damping) * coalesce(col("s"), lit(0.0)), 10).as("rank_v"))
        .localCheckpoint()
    }
    r.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rank_v").desc, col("tok"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("tok"), round(col("rank_v"), 6).as("score"))
  }

  /** Undirected co-purchase edge relation from a (basket, item) fact
    * table: distinct item pairs sharing a basket, canonicalized a < b.
    * The self-join is keyed on the basket id, so its fan-out is bounded
    * by the square of the largest basket — baskets are small and the
    * join shuffles on the basket key, never all-pairs.
    */
  def coPurchaseEdges(df: DataFrame, basketCol: String,
                      itemCol: String): DataFrame = {
    val b = df.select(col(basketCol).as("ok"), col(itemCol).as("item")).distinct()
    b.select(col("ok"), col("item").as("a"))
      .join(b.select(col("ok"), col("item").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** The undirected edge relation of the `a`–`b` pairs in `edges`:
    * `a→b ∪ b→a` as (src, dst), distinct, localCheckpoint-ed, then
    * respread by [[graft.Core.fanOut]] — the iterative family's shared
    * input, consumed once per round.
    *
    * The frozen-coalesced-layout rule: respread AFTER the checkpoint, never
    * before it. AQE coalesces the distinct's shuffle to ~one partition for
    * a few-MB edge relation and the checkpoint FREEZES that layout; every
    * round that joins a broadcast side against it would then run its |E|
    * stage on one core. Only on the RDD-backed checkpoint does fanOut's
    * partition probe see the TRUE materialized count; probed before it,
    * fanOut sees the pre-AQE plan and never fires (r14's HITS bug). The
    * respread is a few-MB lazy exchange per round, nothing at scale where
    * the checkpoint already holds thousands of partitions.
    */
  private[graft] def undirectedEdges(edges: DataFrame): DataFrame =
    graft.Core.fanOut(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
        .distinct().localCheckpoint())

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection in O(iters) relational rounds: every node starts as its own
    * label and each round adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label so the update is a pure
    * function of the previous labeling (no RNG, no visit order — the
    * asynchronous variant's nondeterminism is exactly what a hash-gated
    * engine cannot ship). Fixed iteration count, not convergence: each
    * round is one |E|-row join + one keyed count + one top-1-per-node
    * rank, checkpointed so the plan stays linear in `iters`.
    *
    * Output: top-`k` communities of the final labeling by (size DESC,
    * label).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
                       k: Int = 20): DataFrame = {
    require(iters >= 1 && k > 0, s"labelPropagation: bad iters=$iters k=$k")
    val ed = undirectedEdges(edges) // consumed once per iteration
    var lab = ed.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val counts = ed
        .join(lab.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("c").desc, col("label"))
      lab = counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("dst").as("node"), col("label"))
        .localCheckpoint()
    }
    lab.groupBy(col("label")).agg(count(lit(1)).as("size"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("size").desc, col("label"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("label").as("community"), col("size"))
  }

  /** Market-basket association rules over a (basket, item) fact table
    * (Agrawal & Srikant 1994's measures on pair itemsets): for each
    * directed pair a→b with pair support ≥ `minCount` baskets,
    * support = n_ab/N, confidence = n_ab/n_a, lift = n_ab·N/(n_a·n_b),
    * top-`k` rules by (lift DESC, antecedent, consequent).
    *
    * Scale shape: the pair counts ride the same basket-keyed self-join as
    * [[coPurchaseEdges]] (fan-out bounded by basket size squared, never
    * all-pairs), item counts are one keyed agg, and the scalar basket
    * count broadcasts into the final projection. All counting is exact
    * integers; the three measures are single IEEE divisions of
    * exactly-representable products (≤2⁵³), rounded to 6 dp.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minCount: Long = 2L, k: Int = 20): DataFrame = {
    require(minCount >= 1 && k > 0, s"associationRules: bad minCount=$minCount k=$k")
    val b = df.select(col(basketCol).as("ok"), col(itemCol).as("item"))
      .distinct().localCheckpoint() // consumed by pairs, item counts, N
    val pairs = b.select(col("ok"), col("item").as("ante"))
      .join(b.select(col("ok"), col("item").as("cons")), Seq("ok"))
      .filter(col("ante") =!= col("cons"))
      .groupBy(col("ante"), col("cons")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    rulesFromDirected(b, pairs, k)
  }

  /** [[associationRules]] over PREBUILT relations: `b` the distinct
    * (ok, item) basket relation and `undirected` an (a, b, n_ab) a<b
    * pair-support relation (the co-purchase memo's exact construction).
    * Directed pair support is symmetric — n(x→y) counts baskets holding
    * both — so the directed relation is the undirected one unioned with
    * its flip: identical integer counts to the self-join form, without
    * re-paying the basket join when a session already holds the memo
    * (r13; the oracle gate pins the equivalence).
    */
  def associationRulesFromParts(b: DataFrame, undirected: DataFrame,
                                minCount: Long = 2L, k: Int = 20): DataFrame = {
    require(minCount >= 1 && k > 0,
      s"associationRulesFromParts: bad minCount=$minCount k=$k")
    val f = undirected.filter(col("n_ab") >= minCount)
    val pairs = f.select(col("a").as("ante"), col("b").as("cons"), col("n_ab"))
      .unionAll(f.select(col("b").as("ante"), col("a").as("cons"), col("n_ab")))
    rulesFromDirected(b, pairs, k)
  }

  /** Shared tail: score + rank directed pair supports against the item
    * marginals and basket total. The basket total is `distinct().count()`
    * as a 1-row relation cross-joined in, so building the rules launches
    * no Spark job.
    */
  private def rulesFromDirected(b: DataFrame, pairs: DataFrame,
                                k: Int): DataFrame = {
    val nBaskets = col("__n_baskets")
    val itemN = b.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    pairs
      .join(itemN.select(col("item").as("ante"), col("n_i").as("n_a")), Seq("ante"))
      .join(itemN.select(col("item").as("cons"), col("n_i").as("n_b")), Seq("cons"))
      .crossJoin(b.select(col("ok")).distinct().agg(count(lit(1)).as("__n_baskets")))
      .select(col("ante"), col("cons"), col("n_ab"),
        round(col("n_ab").cast("double") / nBaskets, 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round((col("n_ab").cast("double") * nBaskets) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("lift").desc, col("ante"), col("cons"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("ante"), col("cons"), col("n_ab"),
        col("support"), col("confidence"), col("lift"))
  }

  /** Triangle counting by DEGREE-ORDERED ORIENTATION (Suri & Vassilvitskii,
    * WWW 2011 — the MapReduce-scale formulation): orient each undirected
    * edge from its lower-(degree, id) endpoint to the higher, so every
    * vertex's out-degree is O(√|E|) however skewed the raw degree
    * distribution; each triangle then has exactly ONE wedge at its
    * lowest-ordered vertex, and the wedge-close join (e1.dst = e2.src,
    * then probe (e1.src, e2.dst) against the oriented edge set) counts
    * every triangle once with the hub-vertex quadratic blow-up capped.
    * Pure integer counting — exact on both engines by construction.
    *
    * Output: top-`k` vertices by the number of triangles they participate
    * in (each triangle credits all three corners), ties broken by id.
    */
  def triangleCount(edges: DataFrame, k: Int = 20): DataFrame = {
    require(k > 0, s"triangleCount: k must be > 0, got $k")
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val e = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint() // consumed by the adjacency build and the probe
    // Per-edge common-out-neighbor intersection instead of a wedge-close
    // self-join: every triangle has a unique lowest-ordered vertex a with
    // a→b, a→c and the closing b→c, so it is found EXACTLY once — at edge
    // (a, b) as common out-neighbor c. The wedge work happens inside
    // array_intersect per edge (same Σ outdeg² total, capped by the
    // orientation), but no wedge row ever crosses an exchange: the |V|-row
    // adjacency relation joins in (broadcast under the row guard, shuffle
    // on the vertex key above it), and only the |triangles| closing rows
    // materialize. Measured 7.3 s → ~1 s at sf0.1 vs the self-join form.
    // materialized: the size probe plus BOTH join sides read it — lazy,
    // the groupBy+collect_list over the edge set would run three times
    val adjRaw = e.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      .localCheckpoint()
    val adj = Dedup.maybeBroadcast(adjRaw)
    // fanOut the probe side: the oriented edge relation is a few MB, so
    // AQE coalesces its producing shuffle to ~one partition and the
    // checkpoint freezes that layout — and with adj BROADCAST the heavy
    // per-edge array_intersect fuses onto those few partitions (r13
    // profile: one 1.9 s job was this stage on one core). Bytes are tiny,
    // work-per-row is the wedge intersection — exactly fanOut's contract.
    val tri = graft.Core.fanOut(e)
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src").as("x"), col("dst").as("y"),
        explode(array_intersect(col("nu"), col("nv"))).as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_triangles").desc, col("part"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("part"), col("n_triangles"))
  }
  /** Multi-source BFS layer census: minimum-hop distance from a seed set,
    * bounded at `maxHops` frontier-expansion rounds, reported as nodes per
    * layer plus one `hop = -1` row for nodes unreached within the bound.
    * Each round is one join of the SHRINKING frontier against the edge
    * relation and one anti-join against the visited set — O(maxHops)
    * rounds, never per-node iteration; the classic relational BFS whose
    * total work is bounded by edges-touched, independent of graph size
    * beyond the reached region.
    *
    * The frontier/visited sets are broadcast (id-only rows, |V|-bounded):
    * right for item/vocabulary-scale graphs like this one, where |V| is
    * orders of magnitude under |E|. A billion-node graph would drop the
    * two broadcast hints and take the shuffle joins instead — the plan is
    * otherwise unchanged.
    */
  def bfsLayers(edges: DataFrame, seeds: DataFrame,
                maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8, s"bfsLayers: bad maxHops=$maxHops")
    // each round joins the broadcast frontier against ed, so ed's layout
    // is the round's parallelism
    val ed = undirectedEdges(edges) // consumed once per round
    val nodes = ed.select(col("src").as("node")).distinct().localCheckpoint()
    var dist = nodes.join(broadcast(seeds.select(col("node")).distinct()),
        Seq("node"))
      .withColumn("hop", lit(0)).localCheckpoint()
    var frontier = dist.select(col("node"))
    for (h <- 1 to maxHops) {
      // frontier and visited sets are |V|-bounded — broadcast both sides
      // so each round is ONE map-side pass over the checkpointed edge
      // list instead of two full-edge shuffles (measured 17.3 → ~6 s at
      // sf0.1 on the co-purchase graph)
      val next = ed.join(broadcast(frontier.withColumnRenamed("node", "src")),
          Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(dist), Seq("node"), "left_anti")
        .withColumn("hop", lit(h)).localCheckpoint()
      dist = dist.unionAll(next)
      frontier = next.select(col("node"))
    }
    val layers = dist.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(dist, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1).as("hop"), col("n_nodes"))
    layers.unionAll(unreached)
      .select(col("hop").cast("int").as("hop"), col("n_nodes"))
  }
  /** HITS (Kleinberg) hubs-and-authorities on a bipartite edge relation,
    * a fixed number of synchronous iterations with max-normalization:
    *   a(i) ← Σ_{u→i} h(u) / max;   h(u) ← Σ_{u→i} a(i) / max.
    * Max-normalization instead of L2 keeps every number an exact
    * function of decimal sums and one IEEE division — no sqrt, nothing
    * to round until the 6-dp output. Each half-iteration is one keyed
    * join + map-combinable agg over the edge relation; scores are
    * |nodes|-bounded relations, checkpointed per round.
    */
  def hits(edges: DataFrame, iters: Int = 2, k: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 6 && k > 0, s"hits: bad iters=$iters k=$k")
    // fanOut AFTER the checkpoint — frozen-coalesced-layout rule, see
    // [[undirectedEdges]] (profiled here: the half-iteration's |E| join
    // + agg ran as single-task 0.9 s stages against the broadcast scores).
    // Probed BEFORE the checkpoint the relation is a join of two tables,
    // so the optimizer-stats probe sees a join-size over-estimate and
    // no-ops — leaving the checkpoint frozen at AQE's ~1-partition layout,
    // the exact regression this respread exists to fix (r14, ADVICE).
    val ed = graft.Core.fanOut(
      edges.select(col("u"), col("i")).distinct().localCheckpoint())
    var auth = ed.select(col("i")).distinct().withColumn("a", lit(1.0))
    var hub = ed.select(col("u")).distinct().withColumn("h", lit(1.0))
    for (it <- 1 to iters) {
      // materialize the raw sums BEFORE the max-normalization crossJoin:
      // the broadcast max is a second consumer of the same |E| join+agg
      // subtree, so the un-materialized form computed the half-iteration's
      // heavy join TWICE per round (r13 profile: graph_hits jobSum halved
      // by this checkpoint — the raw relation is |nodes|-bounded, cheap to
      // hold, and the normalized relation is then a trivial projection)
      val aRaw = ed.join(hub, Seq("u"))
        .groupBy(col("i")).agg(dsum(col("h")).as("ar"))
        .localCheckpoint()
      val aMax = aRaw.agg(max(col("ar")).as("am"))
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("i"), (col("ar") / col("am")).as("a"))
        .localCheckpoint()
      // hub scores only feed the NEXT round's authority update and the
      // function returns authorities — the final round's hub half-
      // iteration (an |E| join + agg + checkpoint) would be dead work
      if (it < iters) {
        val hRaw = ed.join(auth, Seq("i"))
          .groupBy(col("u")).agg(dsum(col("a")).as("hr"))
          .localCheckpoint()
        val hMax = hRaw.agg(max(col("hr")).as("hm"))
        hub = hRaw.crossJoin(broadcast(hMax))
          .select(col("u"), (col("hr") / col("hm")).as("h"))
          .localCheckpoint()
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("a").desc, col("i"))
    auth.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("i").as("authority"), round(col("a"), 6).as("score"))
  }
  /** k-core peeling census: `rounds` synchronous rounds of "drop every
    * node with degree < k on the CURRENT induced subgraph", reporting
    * surviving node and edge counts per round — the standard spam/core
    * structure diagnostic, and (run to convergence) the k-core. Each
    * round is one degree agg + one semi-join of the shrinking edge
    * relation; fixed rounds keep the dataflow deterministic and linear.
    */
  def kcorePeel(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 8,
      s"kcorePeel: bad k=$k rounds=$rounds")
    // the per-round re-checkpoints materialize the spread layout, which
    // the broadcast semi-joins preserve
    var ed = undirectedEdges(edges)
    val out = (1 to rounds).map { round =>
      val keep = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      ed = ed.join(keep, Seq("src"), "leftsemi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "leftsemi")
        .localCheckpoint()
      val nn = ed.select(col("src")).distinct().count()
      val ne = ed.count() / 2
      (round, nn, ne)
    }
    val spark = edges.sparkSession
    import spark.implicits._
    out.toDF("round", "n_nodes", "n_edges")
      .select(col("round").cast("int"), col("n_nodes"), col("n_edges"))
  }
}
