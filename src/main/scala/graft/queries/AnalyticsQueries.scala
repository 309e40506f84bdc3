package graft.queries

import graft.ext.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ext.{Prefix, Quantile, TextStats}

/** Round-6 analytics additions: triangle counting and market-basket pairs
  * over the co-purchase graph, integer-exact BM25 retrieval scoring,
  * probability-proportional-to-size corpus sampling, and per-source
  * distribution-drift (total-variation) measurement.
  *
  * House rules as everywhere in this repo: every emitted number is either
  * an integer or produced by correctly-rounded IEEE ops (+,-,*,/,sqrt), so
  * DuckDB replays each query bit-exactly; no transcendental (log/pow)
  * reaches an output or an ordering; no window runs without a partition
  * key (global order statistics ride on [[graft.ext.Prefix]]).
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact floor division of a nonnegative long Column by a constant:
    * subtract the remainder first, so the one double division is always
    * exact (numerator divisible by k, quotient far below 2^53).
    */
  private def idiv(c: Column, k: Long): Column =
    ((c - pmod(c, lit(k))) / k).cast(LongType)

  /** Co-purchase edge list: distinct unordered part pairs appearing in the
    * same order, from orders selected by `l_orderkey % modulo == 0`
    * (modulo=1 keeps everything). Pair generation is the standard
    * per-basket self-join on the order key: cost is Σ basket² — TPC-H-like
    * baskets are constant-size (~4 items), so edges grow LINEARLY with
    * data; a pathological mega-basket would need a basket-size cap first
    * (the same guard every market-basket system ships).
    */
  private def copurchaseEdges(s: SparkSession, d: String, modulo: Int): DataFrame = {
    val items = lineitem(s, d)
      .filter(col("l_orderkey") % modulo === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val b = items.select(col("ok"), col("pk").as("pk2"))
    items
      .join(b, Seq("ok"))
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("a"), col("pk2").as("b"))
  }

  /** Market-basket pair counts: top-20 co-purchased part pairs. One
    * self-join on the order key (baskets are bounded), one hash
    * aggregation, TakeOrderedAndProject — no global sort.
    */
  private val basketPairs: Q = (s, d) =>
    copurchaseEdges(s, d, 1)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("a"), asc("b"))
      .limit(20)

  /** Triangle census of the co-purchase graph (orders sampled 1-in-5 to
    * keep the wedge count linear in SF — each ScaleGen replica is
    * self-contained, so sampling by order key preserves structure).
    *
    * The classic scalable shape (Suri & Vassilvitskii's MapReduce
    * node-iterator): orient every edge from the (degree, node)-smaller to
    * the (degree, node)-larger endpoint — a total order, so each triangle
    * is counted exactly once as x→y, y→z, x→z — then one self-join builds
    * wedges from a common apex and one more join closes them. Degree
    * orientation bounds every out-neighborhood by O(√E), so wedge volume
    * is O(E^1.5) worst-case instead of Σ deg² (hub-quadratic); both joins
    * are plain equi-joins (shuffle or broadcast, AQE's choice).
    */
  private val graphTriangles: Q = (s, d) => {
    // OPTIMIZATION r10, examined and deliberately left LAZY: the plan
    // text shows 83 Exchanges from `und`/`oriented` fan-out, but AQE's
    // runtime exchange reuse already collapses the identical subtrees
    // (measured with QueryTally: 16 jobs / 600k records / 2.7 s cpu — one
    // real derivation). Eager localCheckpoints here were TRIED and made
    // the lane SLOWER (wall 2.0 → 4.4 s): they serialize construction
    // into sequential jobs and pay block writes, to dedup work that was
    // already deduped. Contrast hits/pagerank, where per-iteration
    // subtrees DIFFER and reuse cannot fire — there truncation won.
    val und = copurchaseEdges(s, d, 5).distinct()
    // undirected degree: each endpoint sees the edge once
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val da = deg.select(col("v").as("a"), col("deg").as("dega"))
    val db = deg.select(col("v").as("b"), col("deg").as("degb"))
    // orient by (deg, node) ascending
    val oriented = und.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("x"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("y"))
    val e2 = oriented.select(col("x").as("y"), col("y").as("z"))
    val wedges = oriented.join(e2, Seq("y")).select(col("x"), col("y"), col("z"))
    val closed = wedges
      .join(oriented.select(col("x"), col("y").as("z"), lit(1L).as("__hit")), Seq("x", "z"))
    und.agg(count(lit(1)).cast(LongType).as("n_edges"))
      .crossJoin(broadcast(closed.agg(count(lit(1)).cast(LongType).as("n_triangles"))))
  }

  /** BM25 top-20 documents for the query {dup, vector, merge} — the
    * retrieval-scoring pass a data-selection pipeline runs against a
    * target corpus description.
    *
    * Scoring is the BM25 shape (k1=1.2, b=0.75) with the RATIONAL idf
    * (N-df+0.5)/(df+0.5) instead of its log: per (doc, term),
    *
    *   sat_micros = (22·tf·T · 1e6)  div (10·tf·T + 3·T + 9·dl·N)
    *   score      = Σ_terms (sat_micros · (2N−2df+1)) div (2df+1)
    *
    * which is the textbook saturation term ×10T/10T and the ×2/×2-scaled
    * rational idf — pure int64 arithmetic (exact, order-independent,
    * DuckDB-identical), whereas a float log idf would hash-differ in the
    * last ulps. Monotone per-term in tf and 1/df like the log form; the
    * ranking is a documented variant, not textbook-equal. int64 headroom:
    * 22·tf·T·1e6 needs tf·T < 4e11 — at sf10 (T≈1.5e8, tf≤~200) ~3e10,
    * an sf1000 corpus would move the 1e6 scale inside the division.
    *
    * Plan: tf/df from [[TextStats.tfDf]] (two hash aggs), stats ride as a
    * broadcast 1-row frame, score is a projection + one hash agg over docs
    * containing a query term, TakeOrderedAndProject for the top-k.
    */
  private val bm25TopK: Q = (s, d) => {
    val docs = documents(s, d)
    val tok = docs.select(
      col("doc_id"),
      size(split(coalesce(TextStats.normText(col("text")), lit("")), " ")).cast(LongType).as("dl"))
    val stats = tok.agg(
      count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("dl")).cast(LongType).as("t_tok"))
    val tfdf = TextStats.tfDf(docs, "doc_id", "text")
      .filter(col("term").isin("dup", "vector", "merge"))
    tfdf
      .join(tok, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "sat",
        expr("(22 * tf * t_tok * 1000000) div (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs)"))
      .withColumn(
        "contrib",
        expr("(sat * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).cast(LongType).as("score_micros"),
        count(lit(1)).cast(LongType).as("n_terms_hit"))
      .orderBy(desc("score_micros"), asc("doc_id"))
      .limit(20)
  }

  /** Probability-proportional-to-size systematic sampling (the survey-
    * sampling classic): draw k=100 of the corpus with inclusion
    * probability ∝ token count — the "sample big documents more" pass a
    * token-budgeted corpus selection makes. Documents are laid on a line
    * in portable-hash order (deterministic shuffle), each owning a
    * cumulative-weight interval; a document is picked once per multiple
    * of W/k inside its interval: picks = (cum·k) div W − ((cum−w)·k) div W
    * — pure integer math, so selection AND multiplicity are bit-exact
    * cross-engine (u^(1/w) reservoir keys would hinge on pow ulps).
    *
    * The running weight sum is [[Prefix.runningSum]] (range-partitioned
    * two-phase scan), NOT a no-partition window — the same machinery as
    * order_deciles, so the only global stage is the #partitions-row offset
    * fold. Output: every picked doc with its weight and multiplicity.
    */
  private val sampleWeightedPps: Q = (s, d) => {
    val k = 100L
    val weighted = documents(s, d)
      .select(
        col("doc_id"),
        size(split(coalesce(TextStats.normText(col("text")), lit("")), " ")).cast(LongType).as("w"))
      .withColumn(
        "h",
        graft.ext.Dedup.portableHash64(
          concat(lit("pps:"), col("doc_id").cast(StringType))))
    // OPTIMIZATION r11: the weight total aggregates the cum frame's own
    // materialization — the separate subtree re-ran the documents scan +
    // normText tokenize just to sum w
    val cum = Prefix
      .runningSum(weighted, lit(0L), Seq(col("h"), col("doc_id")), col("w"), "cum")
    val tot = cum.agg(sum("w").cast(LongType).as("big_w"))
    cum
      .crossJoin(broadcast(tot))
      .withColumn(
        "picks",
        expr(s"(cum * $k) div big_w - ((cum - w) * $k) div big_w"))
      .filter(col("picks") > 0)
      .select(col("doc_id"), col("w"), col("picks"))
      .orderBy("doc_id")
  }

  /** Per-source token-distribution drift vs the whole corpus, as
    * total-variation distance in integer micros — the monitoring pass
    * that catches one source's content shifting under the mix.
    *
    * TV(p,q) = ½ Σ_terms |p(t) − q(t)| with p = per-source, q = corpus.
    * Per PRESENT term the |·| numerator is |c·T − C·t_s| over t_s·T;
    * terms ABSENT from the source contribute C/T each, which telescopes
    * to (T − ΣpresentC)/T — so no source×vocab densification is needed
    * (the absent mass folds into one per-source correction, keeping the
    * plan two hash aggs + one broadcast join at ANY vocabulary size).
    * Integer rendering: micros = (|c·T − C·t_s| div t_s)·500000 div T,
    * floor-per-term (identical both engines; headroom c·T < 9e18 holds
    * through ~sf100).
    */
  private val sourceTvDivergence: Q = (s, d) => {
    val terms = TextStats.terms(
      documents(s, d).select(col("source").as("sid"), col("text")), "sid", "text")
    val bySrc = terms.groupBy("sid", "term").agg(count(lit(1)).as("c"))
    val srcTot = bySrc.groupBy("sid").agg(sum("c").cast(LongType).as("t_s"))
    val corpus = bySrc.groupBy("term").agg(sum("c").cast(LongType).as("big_c"))
    val tot = corpus.agg(sum("big_c").cast(LongType).as("big_t"))
    bySrc
      .join(broadcast(corpus), Seq("term"))
      .join(broadcast(srcTot), Seq("sid"))
      .crossJoin(broadcast(tot))
      .withColumn(
        "contrib",
        expr("(abs(c * big_t - big_c * t_s) div t_s) * 500000 div big_t"))
      .groupBy(col("sid"), col("t_s"), col("big_t"))
      .agg(
        count(lit(1)).cast(LongType).as("n_terms"),
        sum("contrib").cast(LongType).as("present_micros"),
        sum("big_c").cast(LongType).as("present_c"))
      .withColumn(
        "tv_micros",
        expr("present_micros + ((big_t - present_c) * 500000) div big_t"))
      .select(col("sid").as("source"), col("n_terms"), col("tv_micros"))
      .orderBy("source")
  }

  /** Reciprocal-rank fusion of two retrieval lanes (the hybrid-search
    * combiner): lane A = the BM25 integer scoring above, lane B = a
    * length/quality prior (token count). Each lane contributes
    * `1e6 div (60 + rank)` for its top-100; a document missing from a
    * lane contributes 0 (the standard RRF contract). Ranks are GLOBAL
    * order statistics, so they ride on [[Prefix.globalRank]]
    * (range-partitioned two-phase scan) rather than a no-partition
    * window; fusion is one full-outer join of two ≤100-row frames.
    * All integer math — bit-exact cross-engine.
    */
  private val rrfFusion: Q = (s, d) => {
    val docs = documents(s, d)
    // OPTIMIZATION r11: tok's normText+split pass over the whole corpus
    // was evaluated ~4× (the stats agg, the laneA join, and twice inside
    // rankB's range exchange — boundary sampling + shuffle); materialize
    // the narrow (doc_id, dl) frame once.
    val tok = docs.select(
      col("doc_id"),
      size(split(coalesce(TextStats.normText(col("text")), lit("")), " ")).cast(LongType).as("dl"))
      .ckpt()
    val stats = tok.agg(
      count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("dl")).cast(LongType).as("t_tok"))
    val laneA = TextStats.tfDf(docs, "doc_id", "text")
      .filter(col("term").isin("dup", "vector", "merge"))
      .join(tok, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "sat",
        expr("(22 * tf * t_tok * 1000000) div (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs)"))
      .withColumn(
        "contrib",
        expr("(sat * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).cast(LongType).as("sa"))
    val rankA = Prefix
      .globalRank(laneA, Seq(desc("sa"), asc("doc_id")), "ra")
      .filter(col("ra") <= 100)
      .select(col("doc_id"), col("ra"))
    val rankB = Prefix
      .globalRank(tok, Seq(desc("dl"), asc("doc_id")), "rb")
      .filter(col("rb") <= 100)
      .select(col("doc_id"), col("rb"))
    rankA
      .join(rankB, Seq("doc_id"), "full_outer")
      .withColumn(
        "rrf_micros",
        expr("coalesce(1000000 div (60 + ra), 0L) + coalesce(1000000 div (60 + rb), 0L)"))
      .select(col("doc_id"), col("rrf_micros"))
      .orderBy(desc("rrf_micros"), asc("doc_id"))
      .limit(20)
  }

  /** Per-source nucleus (top-p) selection, p = 0.8: order each source's
    * docs by token count descending, keep until 80% of the source's token
    * mass is covered — the crossing document is kept (the standard top-p
    * contract). The decision `(cum − w) · 10 < 8 · W_s` is pure integer
    * math; the per-source running sum is [[Prefix.runningSum]] sharded by
    * source, so a million-source corpus still has no single-reducer
    * stage. Output: per-source census of the kept set.
    */
  private val nucleusSelect: Q = (s, d) => {
    val weighted = documents(s, d)
      .select(
        col("source"),
        col("doc_id"),
        size(split(coalesce(TextStats.normText(col("text")), lit("")), " ")).cast(LongType).as("w"))
    // OPTIMIZATION r11: per-source totals aggregate the cum frame's own
    // materialization — the separate subtree re-ran the documents scan +
    // normText tokenize just to sum w per source
    val cum = Prefix
      .runningSum(weighted, col("source"), Seq(desc("w"), asc("doc_id")), col("w"), "cum")
    val srcTot = cum.groupBy("source").agg(sum("w").cast(LongType).as("ws"))
    cum
      .join(broadcast(srcTot), Seq("source"))
      .filter(expr("(cum - w) * 10 < 8 * ws"))
      .groupBy(col("source"), col("ws"))
      .agg(
        count(lit(1)).cast(LongType).as("n_kept"),
        sum("w").cast(LongType).as("tok_kept"),
        min("w").cast(LongType).as("min_w_kept"))
      .select(col("source"), col("ws"), col("n_kept"), col("tok_kept"), col("min_w_kept"))
      .orderBy("source")
  }

  /** Per-user exponentially-weighted moving value (α = ½) over the event
    * stream, folded in (ts, event_id) order on INTEGER CENTS:
    * s ← (v + s) div 2 — exact, so the entire recursion hash-checks
    * cross-engine (a float EWMA never would). The per-user sequence is
    * materialized with sort_array(collect_list(...)) + the aggregate()
    * HOF: per-task state is ONE user's event list (same bounded-entity
    * contract as sessionization; a power-user cap belongs upstream).
    * DuckDB replays the fold with list_reduce over the same order.
    */
  private val ewmaUser: Q = (s, d) =>
    events(s, d)
      .filter(col("user_id") % 10 === 0)
      .select(
        col("user_id"),
        struct(
          col("ts"), col("event_id"),
          (dec2(col("value")) * 100).cast(LongType).as("cents")).as("ev"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .select(
        col("user_id"),
        size(col("evs")).cast(LongType).as("n_events"),
        expr("aggregate(evs, 0L, (s, x) -> (x.cents + s) div 2)").as("ewma_cents"))
      .orderBy("user_id")

  /** Item-item similarity over baskets: top-20 part pairs by Jaccard over
    * the orders containing them, J = n_ab / (d_a + d_b − n_ab), rendered
    * as integer micros via a single floor division — exact both engines,
    * and the (micros, a, b) order is total so the top-20 cut is
    * deterministic. Same linear-in-SF pair volume as [[basketPairs]]
    * (constant basket sizes); degrees are one hash agg joined twice.
    * Min support n_ab ≥ 2 — the standard guard that keeps one shared
    * order from minting a perfect-similarity pair.
    */
  private val itemItemJaccard: Q = (s, d) => {
    // OPTIMIZATION r11: the distinct (ok, pk) items frame used to be
    // derived TWICE — once inside copurchaseEdges (whose no-op
    // `% 1 === 0` filter made the subtree non-identical, blocking
    // exchange reuse) and once for degrees — and consumed three times
    // (pair self-join both sides + degree agg). Materialize it once;
    // the pair generation below is copurchaseEdges(modulo=1) verbatim
    // minus the always-true filter (l_orderkey is non-null).
    val items = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .ckpt()
    val pairs = items
      .join(items.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("a"), col("pk2").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).cast(LongType).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val deg = items.groupBy("pk").agg(count(lit(1)).cast(LongType).as("dv"))
    pairs
      .join(deg.select(col("pk").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("pk").as("b"), col("dv").as("db")), Seq("b"))
      .withColumn("jaccard_micros", expr("n_ab * 1000000 div (da + db - n_ab)"))
      .select(col("a"), col("b"), col("n_ab"), col("jaccard_micros"))
      .orderBy(desc("jaccard_micros"), asc("a"), asc("b"))
      .limit(20)
  }

  /** Pareto frontier (skyline) of parts on (price minimize, size
    * maximize): the points no other part beats on both axes — the
    * classic multi-criteria shortlist.
    *
    * The scale shape is the textbook 2-D sweep, distributed: collapse to
    * distinct (price, size) points (hash agg), keep each price's max
    * size (hash agg), then one [[Prefix.runningMax]] EXCLUSIVE scan in
    * price order — a point survives iff its size strictly exceeds every
    * strictly-cheaper point's. O(n log n) total work vs the naive
    * dominance join's O(n²), with the only ordered stage the two-phase
    * range scan (never a no-partition window). Equal-price ties resolve
    * inside the per-price max; equal (price, size) duplicates are
    * counted, not dominated — both contracts pinned by the oracle's
    * NOT EXISTS formulation. Prices in exact integer cents.
    */
  private val skylinePareto: Q = (s, d) => {
    val pts = part(s, d).select(
      (dec2(col("p_retailprice")) * 100).cast(LongType).as("price_cents"),
      col("p_size").cast(LongType).as("size"))
    val byPoint = pts.groupBy("price_cents", "size")
      .agg(count(lit(1)).cast(LongType).as("n_parts"))
    val perPrice = byPoint.groupBy("price_cents").agg(max(col("size")).as("zmax"))
    val frontier = Prefix
      .runningMax(perPrice, lit(0L), Seq(asc("price_cents")), col("zmax"),
        "zprev", inclusive = false)
      .filter(col("zmax") > col("zprev"))
      .select(col("price_cents"), col("zmax").as("size"))
    frontier
      .join(byPoint, Seq("price_cents", "size"))
      .select(col("price_cents"), col("size"), col("n_parts"))
      .orderBy("price_cents")
  }

  /** Winsorization audit: clip `l_extendedprice` to its per-group exact
    * [p05, p95] — the robust-statistics tail treatment a feature pipeline
    * applies before normalization — and report what the clip did.
    *
    * The fences are EXACT rank picks (ceil(0.05·n), ceil(0.95·n), both
    * clamped to [1, n]) from ONE [[Quantile.rankPicks]] histogram pass —
    * two counting scans plus a ~n/k candidate slice, never a per-group
    * total sort; the fence frame is |groups|×2 rows, broadcast back onto
    * the fact scan. All output integers: cents in, clipped-cents sums
    * out (int64 headroom to ~sf1000).
    */
  private val winsorizeAudit: Q = (s, d) => {
    val b = lineitem(s, d).select(
      col("l_returnflag").as("g"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
      col("l_orderkey"), col("l_linenumber"))
    val picks = Quantile.rankPicks(
      b, col("g"), col("cents"), Seq(col("l_orderkey"), col("l_linenumber")),
      Seq(
        "p05" -> ((n: Column) => least(n, idiv(n * 5 + 99, 100))),
        "p95" -> ((n: Column) => least(n, idiv(n * 95 + 99, 100)))),
      "g", "v")
    val fences = picks.groupBy("g").agg(
      max(when(col("label") === "p05", col("v"))).cast(LongType).as("lo"),
      max(when(col("label") === "p95", col("v"))).cast(LongType).as("hi"))
    b.join(broadcast(fences), Seq("g"))
      .groupBy("g", "lo", "hi")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).cast(LongType).as("n_low"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).cast(LongType).as("n_high"),
        sum(least(greatest(col("cents"), col("lo")), col("hi")))
          .cast(LongType).as("winsor_sum_cents"))
      .select(col("g").as("l_returnflag"), col("n"), col("n_low"), col("n_high"),
        col("lo").as("p05_cents"), col("hi").as("p95_cents"), col("winsor_sum_cents"))
      .orderBy("l_returnflag")
  }

  /** 2-core peeling, three rounds, over the sampled co-purchase graph —
    * the degeneracy-ordering building block (k-core is how a curation
    * pipeline strips barely-connected long-tail nodes before community
    * steps). Each round is one degree aggregation + two left-semi joins;
    * the edge set is localCheckpointed per round (same lineage-truncation
    * contract as the connected-components routes — round r's plan must
    * not nest round r−1's). Rounds are a fixed constant, so the oracle
    * replays them as nested CTEs exactly.
    */
  private val kcorePeel: Q = (s, d) => {
    var edges = copurchaseEdges(s, d, 5).distinct().ckpt()
    for (_ <- 1 to 3) {
      val keep = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("v")
      edges = edges
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .ckpt()
    }
    edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .agg(countDistinct(col("v")).cast(LongType).as("n_nodes"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).cast(LongType).as("n_edges"))))
      .select(col("n_edges"), col("n_nodes"))
  }

  /** Last-touch channel attribution: each purchase's revenue is credited
    * to the user's most recent PRECEDING non-purchase event type (the
    * marketing classic; purchases with no preceding touch are 'organic').
    * One user-partitioned ignoreNulls `last` over a strictly-preceding
    * frame — user_id is an unbounded key, so parallelism scales with
    * users (the PlanHealthSpec contract), and per-task window state is
    * one user's events. Integer cents throughout.
    */
  private val attributionLastTouch: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .withColumn(
        "src",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("src"), lit("organic")).as("channel"))
      .agg(
        count(lit(1)).cast(LongType).as("n_purchases"),
        sum("cents").cast(LongType).as("revenue_cents"))
      .orderBy("channel")
  }

  /** Common-neighbor link prediction over the sampled co-purchase graph:
    * top-20 NON-adjacent part pairs by neighborhood Jaccard
    * |N(x)∩N(z)| / |N(x)∪N(z)| — the "customers also bought" candidate
    * generator. Hubs (degree > 64) are removed FIRST (the celebrity cut
    * every production link predictor ships — a hub's wedge volume is
    * deg², and its predictions are uninformative), so candidate volume
    * is bounded by 64·|E|; after the cut everything (wedges, degrees,
    * the adjacency anti-join) is computed consistently on the pruned
    * graph, which is exactly what the oracle replays. Integer micros.
    */
  private val linkPredictJaccard: Q = (s, d) => {
    // materialized: consumed by the degree cut AND the kept-edge frame —
    // without it the items self-join lineage replays per consumer
    // (measured r11: 3 lineitem scans per execution)
    val und0 = copurchaseEdges(s, d, 5).distinct().ckpt()
    val deg0 = und0.select(col("a").as("v")).union(und0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dv"))
    val keep = deg0.filter(col("dv") <= 64).select("v")
    // consumed by adj (twice) and the anti-join — one materialization
    // instead of three scans of the join lineage
    val e = und0
      .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
      .ckpt()
    val adj = e.select(col("a").as("y"), col("b").as("x"))
      .union(e.select(col("b").as("y"), col("a").as("x")))
    // wedge generation via per-apex neighbor LISTS, not an adjacency
    // self-join: the celebrity cut bounds every list at 64, so
    // collect_list state is bounded and the HOF emits exactly the
    // C(deg,2) ordered pairs — the self-join formulation (measured 78 s
    // at sf1) enumerates deg² candidates through a second shuffle and
    // discards half at the x<z filter; this shape shuffles the adjacency
    // once and generates each unordered pair once (sorted distinct list
    // ⇒ slice beyond own position = strictly-greater neighbors).
    // Materialized: the wedge explode AND the degree projection below
    // read it.
    val nbrs = adj.groupBy("y").agg(sort_array(collect_list(col("x"))).as("ns"))
      .ckpt()
    // post-cut degree = neighbor-list length — the old separate
    // adj.groupBy(x).count() subtree re-shuffled 2|E| rows for a number
    // the list already carries (r11, guide §2.1: remove the exchange)
    val deg = nbrs.select(col("y").as("v"), size(col("ns")).cast(LongType).as("dv"))
    val wedges = nbrs
      .select(explode(expr(
        "flatten(transform(ns, (x, i) -> transform(slice(ns, i + 2, size(ns)), z -> struct(x, z))))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.z").as("z"))
      // candidate pairs are ~94% unique (measured at sf1: 54.8M of 58M
      // are common=1), so map-side partial aggregation before the pair
      // exchange buys almost no row reduction while paying a multi-
      // million-entry hash map per task AND 8 widened bytes per shuffle
      // row for the partial count. Pre-partitioning by the pair key
      // moves BOTH aggregate phases behind one exchange of the bare
      // 2-long rows (guide §2.3: shuffle fewer bytes — the narrow-key
      // form of the same exchange)
      .repartition(col("x"), col("z"))
      .groupBy("x", "z").agg(count(lit(1)).cast(LongType).as("common"))
      // evidence floor: ≥2 shared neighbors. One shared neighbor is no
      // corroboration (and between two degree-1 endpoints would mint a
      // perfect 1.0 from a single co-purchase); it is also the scale
      // valve — measured at sf1, 94% of candidate pairs (54.8M of 58M)
      // are common=1 and drop HERE, before the anti-join + degree joins
      .filter(col("common") >= 2)
    wedges
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_anti")
      .join(deg.select(col("v").as("x"), col("dv").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("z"), col("dv").as("dz")), Seq("z"))
      .withColumn("jaccard_micros", expr("common * 1000000 div (dx + dz - common)"))
      .select(col("x"), col("z"), col("common"), col("jaccard_micros"))
      .orderBy(desc("jaccard_micros"), asc("x"), asc("z"))
      .limit(20)
  }

  /** Signup→purchase conversion latency: per user, first signup to the
    * first purchase at-or-after it; one census row with the EXACT lower
    * median (a [[Quantile.medianPick]] on a single logical group — the
    * histogram refinement keeps even the global-median case two counting
    * scans + a ~n/k slice, never a global sort). Milliseconds as longs.
    */
  private val timeToConvert: Q = (s, d) => {
    val e = events(s, d)
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val conv = su.join(pu, Seq("user_id"))
      .filter(col("p_ts") >= col("s_ts"))
      .groupBy("user_id", "s_ts").agg(min("p_ts").as("p_ts"))
      .select(col("user_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("s_ts"))).as("delta_ms"))
    val census = conv.agg(
      count(lit(1)).cast(LongType).as("n_converters"),
      min("delta_ms").cast(LongType).as("min_ms"),
      max("delta_ms").cast(LongType).as("max_ms"))
    val med = Quantile
      .medianPick(conv, lit(0L), col("delta_ms"), Seq(col("user_id")), "g", "m")
      .select(col("m").cast(LongType).as("median_ms"))
    census.crossJoin(broadcast(med))
  }

  /** Inverted-index build, previewed: the 30 highest-df terms with their
    * df, total tf, and the first five postings (doc_ids ascending) as a
    * comma-joined string. The preview head uses the native bounded-heap
    * [[org.apache.spark.sql.graftnative.TopK]] AFTER a semi-join down to
    * the 30 winning terms — heap state is 5 rows × 30 keys per task, and
    * no posting list is ever materialized or sorted whole (the full-list
    * `collect_list` would be the memory hazard at a 100 TB corpus; a
    * complete index build would write per-term SHARDS via
    * repartitionByRange(term) instead).
    */
  private val invertedIndex: Q = (s, d) => {
    // OPTIMIZATION r11 (the term_lift_pairs move): tfDf's tokenize +
    // tf⋈df lineage ran once for `top` and AGAIN for `postings`; both
    // derive from the per-(doc, term) tf frame alone — materialize it
    // once. df per term is its row count (≡ tfDf's per-term-constant df).
    val tf = TextStats.terms(documents(s, d), "doc_id", "text")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .ckpt()
    val top = tf.groupBy("term")
      .agg(count(lit(1)).cast(LongType).as("df"),
        sum(col("tf")).cast(LongType).as("total_tf"))
      .orderBy(desc("df"), asc("term"))
      .limit(30)
      .ckpt() // consumed by the semi-join and the final join
    val postings = tf.select("term", "doc_id")
      .join(broadcast(top.select("term")), Seq("term"), "left_semi")
    val first5 = org.apache.spark.sql.graftnative.TopK
      .perKey(postings, Seq("term"), Seq(("doc_id", false)), 5)
    val preview = first5.groupBy("term")
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))), x => x.cast(StringType)))
        .as("postings_preview"))
    top.join(preview, Seq("term"))
      .select(col("term"), col("df"), col("total_tf"), col("postings_preview"))
      .orderBy(desc("df"), asc("term"))
  }

  /** Int8 scalar-quantization audit of the embedding table: per
    * dimension, quantize to 256 equi-width levels between the dim's
    * [min, max] and report codes used + reconstruction error — the
    * go/no-go measurement before shipping a quantized ANN index (32→8
    * bits is 4× less index, IF the error census says so).
    *
    * Shape: one posexplode (rows ∝ n·dim — linear, the audit must touch
    * every element once), per-dim stats broadcast back, then pure
    * projections. Every emitted number is exact: code/dequant math is
    * fixed-association IEEE (floor((x−lo)·255/(hi−lo)); lo+(code·(hi−lo))/255
    * — both engines replay the identical op sequence), and the error is
    * floored to integer micros per ELEMENT before summing, so the sums
    * are order-independent longs, never a float reduction. Degenerate
    * dims (hi == lo) quantize to code 0 with zero error by definition.
    */
  private val embeddingQuantizeAudit: Q = (s, d) => {
    val el = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast("double").as("x"))
    val stats = el.groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
    el.join(broadcast(stats), Seq("pos"))
      .withColumn(
        "code",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("x") - col("lo")) * 255 / (col("hi") - col("lo"))).cast(LongType))))
      .withColumn(
        "deq",
        col("lo") + (col("code").cast("double") * (col("hi") - col("lo"))) / 255)
      .withColumn("err_micros", floor(abs(col("x") - col("deq")) * 1e6).cast(LongType))
      .groupBy("pos")
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        countDistinct(col("code")).cast(LongType).as("codes_used"),
        sum("err_micros").cast(LongType).as("sum_err_micros"),
        max("err_micros").cast(LongType).as("max_err_micros"))
      .select(col("pos").cast(LongType).as("pos"), col("n"), col("codes_used"),
        col("sum_err_micros"), col("max_err_micros"))
      .orderBy("pos")
  }

  /** 3-hop BFS from the smallest node of the sampled co-purchase graph:
    * per-distance node census — the reachability primitive (feature
    * neighborhoods, blast-radius queries). One frontier-join + anti-join
    * per hop on the symmetric adjacency, visited set unioned and
    * localCheckpointed per round (lineage must not nest); hop count
    * fixed, so the oracle replays hops as nested CTEs.
    */
  private val bfs3Hop: Q = (s, d) => {
    val und = copurchaseEdges(s, d, 5).distinct()
    val adj = und.select(col("a").as("y"), col("b").as("x"))
      .union(und.select(col("b").as("y"), col("a").as("x")))
      .ckpt()
    var dist = adj.agg(min(col("x")).as("v")).withColumn("d", lit(0))
    for (i <- 1 to 3) {
      val frontier = dist.filter(col("d") === i - 1).select(col("v").as("y"))
      val nxt = frontier.join(adj, Seq("y")).select(col("x").as("v")).distinct()
        .join(dist.select("v"), Seq("v"), "left_anti")
        .withColumn("d", lit(i))
      dist = dist.union(nxt).ckpt()
    }
    dist.groupBy("d")
      .agg(count(lit(1)).cast(LongType).as("n_nodes"), min("v").as("min_node"))
      .orderBy("d")
  }

  /** Seasonal-baseline anomaly census over events: per (weekday, hour)
    * cell, how many events sit more than 3σ from the cell mean — the
    * monitoring pass that flags "this Tuesday 3 pm is not like other
    * Tuesday 3 pms". The whole test is EXACT INTEGER arithmetic: the
    * per-cell (n, Σv, Σv²) are int64 (cents ≤ ~5e4, so Σv² fits to
    * ~sf100), and the 3σ test is cross-multiplied to kill both the
    * division and the sqrt — (v·n − S)² > 9·(n·Q − S²), evaluated in
    * decimal(38,0) where the squares exceed int64 (max ~1e25 at sf100,
    * far under the 1e38 ceiling; both engines compare exact integers,
    * so the flag is bit-identical). Plan: one hash agg to ≤168 cells,
    * broadcast back, one projection + final agg.
    */
  private val anomalySeasonal: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val e = events(s, d).select(
      (dec2(col("value")) * 100).cast(LongType).as("v"),
      weekday(col("ts")).cast(LongType).as("dow"),
      hour(col("ts")).cast(LongType).as("hr"))
    val g = e.groupBy("dow", "hr").agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("v").cast(LongType).as("sv"),
      sum(col("v") * col("v")).cast(LongType).as("sq"))
    e.join(broadcast(g), Seq("dow", "hr"))
      .withColumn("dv", col("v") * col("n") - col("sv"))
      .withColumn(
        "anom",
        (col("dv").cast(dec) * col("dv").cast(dec) >
          (col("n").cast(dec) * col("sq").cast(dec) -
            col("sv").cast(dec) * col("sv").cast(dec)) * 9).cast("int"))
      .groupBy("dow", "hr", "n")
      .agg(sum("anom").cast(LongType).as("n_anomalies"))
      .select(col("dow"), col("hr"), col("n"), col("n_anomalies"))
      .orderBy("dow", "hr")
  }

  /** Theil–Sen slope of the daily event-volume series — the robust
    * trend estimate (median of all pairwise slopes) that one outlier
    * day cannot move, where least squares would chase it.
    *
    * The scale contract is the aggregate-first shape: the series is
    * per-DAY counts, so the pair frame is bounded by the DATE RANGE
    * squared (~730 points → ~266k pairs at ANY corpus size — data
    * volume changes y values, never the pair count). Slopes are floored
    * to integer micros (one double division, |num| < 2^53, exact both
    * engines); the median is an exact [[Quantile.medianPick]] with
    * (slope, x1, x2) total order. The pair join is a bounded-frame
    * non-equi join — justified in PlanHealthSpec.boundedNlj.
    */
  private val theilSenSlope: Q = (s, d) => {
    val pts = events(s, d)
      .select(floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("x"))
      .groupBy("x").agg(count(lit(1)).cast(LongType).as("y"))
      .ckpt()
    val pairs = pts.select(col("x").as("x1"), col("y").as("y1"))
      .join(pts.select(col("x").as("x2"), col("y").as("y2")), col("x1") < col("x2"))
      .withColumn(
        "slope",
        floor((col("y2") - col("y1")).cast("double") * 1e6 / (col("x2") - col("x1")))
          .cast(LongType))
    val census = pts.agg(count(lit(1)).cast(LongType).as("n_points"))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).cast(LongType).as("n_pairs"))))
    val med = Quantile
      .medianPick(pairs, lit(0L), col("slope"), Seq(col("x1"), col("x2")), "g", "m")
      .select(col("m").cast(LongType).as("median_slope_micros"))
    census.crossJoin(broadcast(med))
  }

  /** Top-10 3-step event paths (type → type → type) over per-user event
    * order — the path-mining pass behind "what do users do before
    * churning". Two user-partitioned leads (unbounded user cardinality,
    * per-task state one user's tail), one hash agg over ≤|types|³ paths,
    * TakeOrderedAndProject. Path strings are explicit concat so both
    * engines render them identically.
    */
  private val eventPathsTop: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
      .groupBy("path").agg(count(lit(1)).cast(LongType).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(10)
  }

  /** Order-backlog timeline: +1 at order placement, −1 when the order is
    * fully shipped (max lineitem shipdate); the running sum over the
    * (day, delta, orderkey) total order is the number of open orders at
    * every instant — the event-sourcing / concurrent-intervals classic.
    * The scan rides [[Prefix.runningSum]] (two-phase range scan, no
    * single-reducer window); the answer frame is three aggregates over
    * the cumulative series: peak backlog, its first day, and the final
    * level (> 0 exactly when orders never fully ship — the orphan class
    * `orphan_audit` counts). Same-day convention pinned by the order:
    * closes (−1) apply before opens (+1).
    */
  private val backlogTimeline: Q = (s, d) => {
    val opens = orders(s, d).select(
      // NTZ parquet date: cast is wall-clock identity, matching epoch_ms
      floor(unix_millis(col("o_orderdate").cast("timestamp")) / lit(86400000.0))
        .cast(LongType).as("day"),
      lit(1L).as("delta"), col("o_orderkey").as("ok"))
    val closes = lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(max(col("l_shipdate")).as("sd"))
      .select(floor(unix_millis(col("sd").cast("timestamp")) / lit(86400000.0))
        .cast(LongType).as("day"),
        lit(-1L).as("delta"), col("ok"))
    val cum = Prefix.runningSum(
      opens.union(closes), lit(0L),
      Seq(col("day"), col("delta"), col("ok")), col("delta"), "backlog")
      .ckpt() // consumed by three census branches below
    val peak = cum.agg(max("backlog").as("peak_backlog"))
    val peakDay = cum.join(broadcast(peak), col("backlog") === col("peak_backlog"))
      .agg(min("day").cast(LongType).as("peak_day"))
    cum.agg(count(lit(1)).cast(LongType).as("n_events"),
      sum("delta").cast(LongType).as("final_backlog"))
      .crossJoin(broadcast(peak.select(col("peak_backlog").cast(LongType).as("peak_backlog"))))
      .crossJoin(broadcast(peakDay))
  }

  /** RFM segmentation: users bucketed into quintiles of recency (days
    * since last event — 1 = most recent), frequency, and monetary value,
    * then the ≤125-cell census — the classic customer-base cube. Each
    * quintile is NTILE(5) replayed from a [[Prefix.globalRank]] with the
    * exact ceil-first-groups arithmetic (the order_deciles pattern), so
    * no no-partition window ever runs; the user frame is checkpointed
    * once and ranked three times.
    */
  private val rfmScores: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("ts"),
      (dec2(col("value")) * 100).cast(LongType).as("cents"))
    // corpus max ms == max of the per-user maxes, so it reads off the
    // materialized user frame instead of a second full events scan (r11);
    // a bounded scalar, inlined as a literal (same div arithmetic)
    val users0 = ev.groupBy("user_id")
      .agg(
        max(unix_millis(col("ts"))).as("last_ms"),
        count(lit(1)).cast(LongType).as("freq"),
        sum("cents").cast(LongType).as("money"))
      .ckpt()
    val mxRow = users0.agg(max("last_ms")).first()
    val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val users = users0.withColumn("rec_days", expr(s"(${mx}L - last_ms) div 86400000"))
    // the NTILE divisor is |users| — INVARIANT across the three passes,
    // and bounded model state (one long). The old per-pass
    // `df.agg(count)` + broadcast crossJoin re-executed each pass's
    // whole rank lineage a second time just to recount the same number
    // (r11, measured: 53 jobs for three ranks of a 15 k-row frame).
    // Same quintile arithmetic bit-for-bit: Column `/` on longs was
    // double division; the literal form divides the same longs as
    // doubles.
    val nUsers = users.count()
    val q = nUsers / 5
    val r = nUsers % 5
    val bigSpan = (q + 1) * r
    def ntile5(df: DataFrame, metric: Column, out: String): DataFrame =
      Prefix
        .globalRank(df, Seq(metric, col("user_id")), "__rnk")
        .withColumn(
          out,
          when(col("__rnk") <= bigSpan, ((col("__rnk") - 1) / lit(q + 1)).cast(LongType) + 1)
            .otherwise(lit(r) + ((col("__rnk") - bigSpan - 1) / lit(q)).cast(LongType) + 1)
            .cast(LongType))
        .drop("__rnk")
    val scored = ntile5(
      ntile5(ntile5(users, col("rec_days"), "r_score"), col("freq"), "f_score"),
      col("money"), "m_score")
    scored
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).cast(LongType).as("n_users"),
        min("user_id").cast(LongType).as("min_user"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Seasonal-naive backtest: predict each day's event count and revenue
    * by the value 7 days earlier, score MAE over the overlap — the
    * baseline every forecasting pipeline must beat, and the shape of a
    * backtest at scale: one day-grain aggregation (bounded by the date
    * range), one self-equi-join on day+7, integer absolute errors.
    */
  private val seasonalNaiveBacktest: Q = (s, d) => {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day")
      .agg(count(lit(1)).cast(LongType).as("n"), sum("cents").cast(LongType).as("cs"))
      .ckpt() // actuals + lag-7 predictions read it twice
    val pred = daily.select((col("day") + 7).as("day"), col("n").as("pn"), col("cs").as("pcs"))
    daily.join(pred, Seq("day"))
      .agg(
        count(lit(1)).cast(LongType).as("n_days_scored"),
        sum(abs(col("n") - col("pn"))).cast(LongType).as("total_abs_err_events"),
        sum(abs(col("cs") - col("pcs"))).cast(LongType).as("total_abs_err_cents"))
      .withColumn(
        "mae_events_micros",
        expr("total_abs_err_events * 1000000 div n_days_scored"))
  }

  /** Gini impurity of the order-priority distribution within each market
    * segment — the decision-tree split-scoring primitive, rendered
    * without transcendentals (entropy needs a log; Gini is rational):
    * gini = 1 − Σp² = (n² − Σc²)/n², emitted as floor(·1e6) where the
    * long→double casts and one multiply/divide are correctly-rounded
    * IEEE replayed op-for-op by DuckDB (exact through sf10 in pure
    * int64; the double rendering stays bit-identical even past 2^53
    * because both engines run the identical op sequence). Two hash aggs
    * over ≤|segments|·|priorities| cells after one equi-join.
    */
  private val giniSplitScores: Q = (s, d) => {
    val oc = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("cls"))
    oc.groupBy("seg", "cls").agg(count(lit(1)).cast(LongType).as("c"))
      .groupBy("seg")
      .agg(
        sum("c").cast(LongType).as("n_orders"),
        count(lit(1)).cast(LongType).as("n_classes"),
        sum(col("c") * col("c")).cast(LongType).as("sum_c2"))
      .withColumn(
        "gini_micros",
        floor((col("n_orders") * col("n_orders") - col("sum_c2")).cast("double") * 1e6 /
          (col("n_orders") * col("n_orders")).cast("double")).cast(LongType))
      .select(col("seg"), col("n_orders"), col("n_classes"), col("gini_micros"))
      .orderBy("seg")
  }

  /** Two-sample proportion test on purchase conversion, A/B split by
    * user-id parity — the experimentation primitive. The z-test at
    * α=0.05 (z²=3.8416) is cross-multiplied into pure integers:
    *
    *   (p̂₁−p̂₂)² > z²·p̂(1−p̂)(1/n₁+1/n₂)
    *   ⇔ 10000·(c₁n₂−c₂n₁)²·n > 38416·c(n−c)·n₁·n₂
    *
    * The left side alone reaches 1e4·n⁵/16 under extreme arm imbalance
    * (1.5e40 at n=3e7 — past decimal(38)), so BOTH sides are divided by
    * n₁n₂ exactly via quotient+remainder: with d²=q·n₁n₂+r (0≤r<n₁n₂),
    * L1=1e4·n·q, L2=1e4·n·r, B'=38416·c(n−c), the inequality is
    * L1·n₁n₂+L2 > B'·n₁n₂ ⇔ L1>B' ∨ L2>(B'−L1)·n₁n₂ — and the second
    * branch is only evaluated when L1≤B' (lazy CASE), where every term
    * is ≤2401·n⁴ < 1e38 for n ≤ 4.5e8 users under ANY imbalance (the
    * old form's worst case overflowed at ~1.1e7). Evaluated in
    * decimal(38,0) / HUGEINT; the verdict bit is exact — no float
    * z-table, no sqrt.
    */
  private val abTestProportions: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    // conversion = a DOZEN-plus purchases, not "any purchase": every
    // fixture user purchases at least once, which would make c = n in
    // both arms and the verdict vacuously 0 at any α (the z² constant
    // unwitnessable). At ≥12 the statistic is live — non-significant at
    // sf0.001, SIGNIFICANT at sf0.01/sf0.1 — so both verdict branches
    // are oracle-pinned across the driver SFs.
    val perUser = events(s, d)
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 12)
        .cast(LongType).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast(LongType))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).cast(LongType).as("n"), sum("conv").cast(LongType).as("c"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n1"), col("c").as("c1"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n2"), col("c").as("c2"))
    a.crossJoin(broadcast(b))
      .withColumn("diff", col("c1") * col("n2") - col("c2") * col("n1"))
      .withColumn("d2", col("diff").cast(dec) * col("diff").cast(dec))
      .withColumn("nn", (col("n1") * col("n2")).cast(dec))
      // IntegralDivide on decimals returns BIGINT: q = d² div n₁n₂
      .withColumn("q", expr("d2 div nn"))
      .withColumn("r", col("d2") - col("q").cast(dec) * col("nn"))
      .withColumn("l1",
        lit(10000).cast(dec) * (col("n1") + col("n2")).cast(dec) * col("q").cast(dec))
      .withColumn("l2",
        lit(10000).cast(dec) * (col("n1") + col("n2")).cast(dec) * col("r"))
      .withColumn("bp",
        lit(38416).cast(dec) * (col("c1") + col("c2")).cast(dec) *
          (col("n1") + col("n2") - col("c1") - col("c2")).cast(dec))
      .withColumn(
        "significant",
        // CASE is lazy: (bp−l1)·nn is only computed when l1 ≤ bp, where
        // it is bounded by 2401·n⁴ — no overflow path exists
        when(col("l1") > col("bp"), lit(1L))
          .otherwise((col("l2") > (col("bp") - col("l1")) * col("nn")).cast(LongType)))
      .select(col("n1"), col("c1"), col("n2"), col("c2"), col("significant"))
  }

  /** Maximum drawdown of the daily-revenue level series: the largest
    * peak-to-trough drop, with the first day it occurs — the
    * volatility-monitoring classic. Day-grain aggregation first (frame
    * bounded by the date range), then ONE [[Prefix.runningMax]]
    * inclusive scan in day order; drawdown is peak−today, census
    * aggregates pick the max and its first day. Integer cents.
    */
  private val maxDrawdown: Q = (s, d) => {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
    val m = Prefix
      .runningMax(daily, lit(0L), Seq(col("day")), col("rev"), "peak")
      .withColumn("dd", col("peak") - col("rev"))
      .ckpt() // census + argmax branches below
    val worst = m.agg(max("dd").as("max_dd_cents"))
    val ddDay = m.join(broadcast(worst), col("dd") === col("max_dd_cents"))
      .agg(min("day").cast(LongType).as("dd_day"))
    m.agg(
      count(lit(1)).cast(LongType).as("n_days"),
      max("peak").cast(LongType).as("peak_rev_cents"))
      .crossJoin(broadcast(worst.select(col("max_dd_cents").cast(LongType).as("max_dd_cents"))))
      .crossJoin(broadcast(ddDay))
  }

  /** Linear multi-touch attribution: each purchase's revenue is split
    * across its preceding touch TYPES proportionally to touch counts —
    * the equal-credit sibling of [[attributionLastTouch]]. Per-type
    * credit is the integer floor `cents·c_t div n`; the division
    * remainder goes to the LAST preceding touch (a deterministic
    * largest-position rule, so every cent is conserved — the oracle
    * pins conservation by construction). One user-partitioned window
    * pass computes the per-type preceding counts and the last touch in
    * the same frame; touchless purchases are 'organic' in full.
    */
  private val attributionLinear: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val types = Seq("click", "view", "signup", "error")
    val base = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
    val counted = types.foldLeft(
      base.withColumn(
        "last_t",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))) { (df, t) =>
      // coalesce: an empty preceding frame (user's first event) sums to
      // NULL, which would drop that purchase from BOTH branches below
      df.withColumn(s"c_$t",
        coalesce(sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w), lit(0L)))
    }
    val p = counted.filter(col("event_type") === "purchase")
      .withColumn("n_touch", types.map(t => col(s"c_$t")).reduce(_ + _))
    val perType = types.map { t =>
      p.filter(col("n_touch") > 0)
        .select(lit(t).as("channel"),
          expr(s"cents * c_$t div n_touch").as("credit"))
    }.reduce(_ union _)
    val remainders = p.filter(col("n_touch") > 0)
      .select(col("last_t").as("channel"),
        (col("cents") - types.map(t => expr(s"cents * c_$t div n_touch")).reduce(_ + _))
          .as("credit"))
    val organic = p.filter(col("n_touch") === 0)
      .select(lit("organic").as("channel"), col("cents").as("credit"))
    perType.union(remainders).union(organic)
      .groupBy("channel")
      .agg(sum("credit").cast(LongType).as("credit_cents"))
      .filter(col("credit_cents") > 0)
      .orderBy("channel")
  }

  /** Degree assortativity of the sampled co-purchase graph — Pearson
    * correlation of endpoint degrees over the directed edge list (both
    * orientations, the Newman formulation): do similar-degree products
    * co-purchase? One number that distinguishes hub-and-spoke from
    * peer-to-peer structure. All five sums are exact int64 (Σd·d' caps
    * ~5e14 at sf1); the n·Σ cross terms pass int64 so the bridge runs
    * in decimal(38,0), then ONE double division renders micros —
    * mirrored op-for-op by DuckDB in HUGEINT. Plan: degree agg + two
    * broadcast-ready joins + one scalar aggregate.
    */
  private val graphAssortativity: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val und = copurchaseEdges(s, d, 5).distinct()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast(LongType).as("dv"))
    val dir = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .join(deg.select(col("v").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dv").as("db")), Seq("b"))
    dir.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("da").cast(LongType).as("sx"),
      sum(col("da") * col("da")).cast(LongType).as("sxx"),
      sum(col("da") * col("db")).cast(LongType).as("sxy"))
      .withColumn(
        "assortativity_micros",
        floor(
          (col("n").cast(dec) * col("sxy").cast(dec) -
            col("sx").cast(dec) * col("sx").cast(dec)).cast(DoubleType) * 1e6 /
            (col("n").cast(dec) * col("sxx").cast(dec) -
              col("sx").cast(dec) * col("sx").cast(dec)).cast(DoubleType))
          .cast(LongType))
      .select(col("n").as("n_dir_edges"), col("assortativity_micros"))
  }

  /** Term-lift pairs: top-20 co-occurring pairs among the 30 highest-df
    * terms by lift = P(a,b)/(P(a)P(b)) in integer micros — PMI's
    * rational twin (PMI's log is float-unverifiable; lift ranks
    * identically per fixed pair support). The vocabulary is cut to 30
    * FIRST, so per-doc pair volume is bounded by C(30,2)=435 at any
    * corpus size — the aggregate-first contract again. int64 headroom:
    * n_ab·N·1e6 ≈ 2.5e17 at sf10.
    */
  private val termLiftPairs: Q = (s, d) => {
    // OPTIMIZATION r11: tfDf's full tokenize + tf⋈df lineage used to run
    // once to build `top` (before its ckpt) and AGAIN for `dt`. Only the
    // distinct (doc_id, term) incidence frame is needed by either:
    // materialize it once; per-term df is its row count per term —
    // identical to tfDf's df (max(df) over a per-term-constant column).
    val dt0 = TextStats.terms(documents(s, d), "doc_id", "text")
      .select("doc_id", "term").distinct()
      .ckpt()
    val nDocs = documents(s, d).agg(count(lit(1)).cast(LongType).as("big_n"))
    val top = dt0.groupBy("term").agg(count(lit(1)).cast(LongType).as("df"))
      .orderBy(desc("df"), asc("term")).limit(30)
      .ckpt() // consumed by the semi-join and two df joins
    val dt = dt0
      .join(broadcast(top.select("term")), Seq("term"), "left_semi")
    val pairs = dt.select(col("doc_id"), col("term").as("t1"))
      .join(dt.select(col("doc_id"), col("term").as("t2")), Seq("doc_id"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).cast(LongType).as("n_ab"))
    pairs
      .join(broadcast(top.select(col("term").as("t1"), col("df").as("na"))), Seq("t1"))
      .join(broadcast(top.select(col("term").as("t2"), col("df").as("nb"))), Seq("t2"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_micros", expr("n_ab * big_n * 1000000 div (na * nb)"))
      .select(col("t1"), col("t2"), col("n_ab"), col("lift_micros"))
      .orderBy(desc("lift_micros"), asc("t1"), asc("t2"))
      .limit(20)
  }

  /** Gini coefficient of per-user revenue — the inequality / whale-
    * concentration metric: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    * ascending-sorted user revenues. The rank weights come from
    * [[Prefix.globalRank]] (never a no-partition window); Σ rank·cents
    * passes int64 (~1e21 at sf10) so it runs in decimal(38,0), then ONE
    * double division renders micros — DuckDB replays in HUGEINT.
    */
  private val giniUserRevenue: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val users = events(s, d)
      .select(col("user_id"), (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("user_id").agg(sum("cents").cast(LongType).as("rev"))
    Prefix.globalRank(users, Seq(asc("rev"), asc("user_id")), "rnk")
      .agg(
        count(lit(1)).cast(LongType).as("n_users"),
        sum("rev").cast(LongType).as("total_cents"),
        sum(col("rnk").cast(dec) * col("rev").cast(dec)).as("srx"))
      .withColumn(
        "gini_micros",
        floor(
          (lit(2).cast(dec) * col("srx") -
            (col("n_users") + 1).cast(dec) * col("total_cents").cast(dec)).cast(DoubleType) * 1e6 /
            (col("n_users").cast(dec) * col("total_cents").cast(dec)).cast(DoubleType))
          .cast(LongType))
      .select(col("n_users"), col("total_cents"), col("gini_micros"))
  }

  /** 7-day conversion rate: of users whose first event is a signup, how
    * many purchase within 7 days of it — the bounded-window growth
    * metric (unbounded time_to_convert is the latency twin). Two
    * per-user aggregates + one census row; rate in integer micros.
    */
  private val conversionRate7d: Q = (s, d) => {
    val e = events(s, d)
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_millis(col("ts"))).as("s_ms"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("p_ms"))
    su.join(pu, Seq("user_id"), "left")
      .groupBy("user_id")
      .agg(max(
        when(col("p_ms") >= col("s_ms") &&
          col("p_ms") < col("s_ms") + 7L * 86400000L, 1L).otherwise(0L)).as("conv"))
      .agg(
        count(lit(1)).cast(LongType).as("n_signups"),
        sum("conv").cast(LongType).as("n_converted_7d"))
      .withColumn("rate_micros", expr("n_converted_7d * 1000000 div n_signups"))
  }

  /** DAU/MAU stickiness per calendar month: (mean daily actives) /
    * (monthly actives) in integer micros — the engagement-intensity
    * ratio every growth dashboard carries. Three hash aggregations
    * (day-grain distinct, month-grain rollup, month-grain distinct) and
    * one keyed join; every number is a count, ONE integer floor
    * division renders micros. Sum of daily actives stays far under
    * int64 (≤31 days × users/day).
    */
  private val stickinessDauMau: Q = (s, d) => {
    val e = events(s, d).select(
      (year(col("ts")) * 100 + month(col("ts"))).cast(LongType).as("ym"),
      floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
      col("user_id"))
    val daily = e.select("ym", "day", "user_id").distinct()
      .groupBy("ym", "day").agg(count(lit(1)).as("dau"))
      .groupBy("ym").agg(
        count(lit(1)).cast(LongType).as("n_days"),
        sum("dau").cast(LongType).as("sum_dau"))
    val monthly = e.select("ym", "user_id").distinct()
      .groupBy("ym").agg(count(lit(1)).cast(LongType).as("mau"))
    daily.join(monthly, Seq("ym"))
      .withColumn("stickiness_micros", expr("sum_dau * 1000000 div (n_days * mau)"))
  }

  /** Benford first-digit audit of order totals: observed first-digit
    * share vs Benford's law, per digit, in integer micros. The expected
    * shares are the nine constants round(log10(1+1/d)·1e6) — baked in as
    * literals on BOTH engines, so no transcendental is ever evaluated at
    * query time. The first digit comes from the integer-cents DECIMAL
    * rendering (leading char of the int64 string — portable, unlike
    * float formatting or a log10-based bucketing whose ulp at exact
    * powers of ten could differ cross-engine). Driven from the expected
    * side (left join) so a digit absent in the data still reports its
    * deficit. One hash agg + a 9-row broadcast.
    */
  private val benfordDigitAudit: Q = (s, d) => {
    import s.implicits._
    val expected = Seq(
      1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
      5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L,
      9L -> 45757L).toDF("digit", "expected_micros")
    val obs = orders(s, d)
      .select(substring((dec2(col("o_totalprice")) * 100).cast(LongType)
        .cast(StringType), 1, 1).cast(LongType).as("digit"))
      .groupBy("digit").agg(count(lit(1)).cast(LongType).as("n"))
    val tot = obs.agg(sum("n").cast(LongType).as("total"))
    broadcast(expected).join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .withColumn("observed_micros", expr("n * 1000000 div total"))
      .withColumn("dev_micros", col("observed_micros") - col("expected_micros"))
      .select("digit", "n", "observed_micros", "expected_micros", "dev_micros")
  }

  /** Change-point detection on the daily revenue series (CUSUM of
    * deviations from the global mean): the day where the cumulative
    * deviation |Σ_{i≤t}(x_i − x̄)| peaks is the classic single
    * change-point estimate. Division-free: deviations live in n-scaled
    * integer space (x_i·n − S, exact cents), the running sum is ONE
    * [[Prefix.runningSum]] pass (never a no-partition window), the peak
    * pick a census + argmin-day join. |C_t| ≤ n²·max_daily_cents keeps
    * int64 headroom past sf1000 (~8e17 vs 9.2e18).
    */
  private val changepointCusum: Q = (s, d) => {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // stats + cumulative branches below
    val stats = daily.agg(
      count(lit(1)).cast(LongType).as("n_days"),
      sum("rev").cast(LongType).as("tot"))
    val dev = daily.crossJoin(broadcast(stats))
      .withColumn("dev", col("rev") * col("n_days") - col("tot"))
      .select("day", "dev")
    val cum = Prefix.runningSum(dev, lit(0L), Seq(col("day")), col("dev"), "c")
      .ckpt() // peak census + argmin-day branches
    val peak = cum.agg(max(abs(col("c"))).as("max_abs"))
    cum.join(broadcast(peak), abs(col("c")) === col("max_abs"))
      .agg(min("day").cast(LongType).as("cp_day"))
      .crossJoin(broadcast(peak.select(col("max_abs").cast(LongType).as("max_abs_c"))))
      .crossJoin(broadcast(stats.select(col("n_days"), col("tot").as("total_cents"))))
  }

  /** Per-source Simpson concentration λ = Σc²/T² of the term
    * distribution (and its reciprocal, the "effective vocabulary"
    * T²/Σc²) — the division-free diversity twin of
    * [[sourceTvDivergence]]: where TV measures drift AGAINST the corpus,
    * Simpson measures concentration WITHIN a source, and unlike Shannon
    * entropy it needs no transcendental, so it renders exactly. Σc²
    * passes int64 at scale (c² ~ 1e24 at sf1000) and runs in
    * decimal(38,0) — DuckDB replays in HUGEINT — then ONE double
    * division floors to micros. Two hash aggs, zero joins.
    */
  private val sourceSimpsonDiversity: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val terms = TextStats.terms(
      documents(s, d).select(col("source").as("sid"), col("text")), "sid", "text")
    terms.groupBy("sid", "term").agg(count(lit(1)).cast(LongType).as("c"))
      .groupBy("sid").agg(
        count(lit(1)).cast(LongType).as("n_terms"),
        sum("c").cast(LongType).as("t_s"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("sq"))
      .withColumn(
        "simpson_micros",
        floor(col("sq").cast(DoubleType) * lit(1e6) /
          (col("t_s").cast(DoubleType) * col("t_s").cast(DoubleType))).cast(LongType))
      .withColumn(
        "eff_terms_milli",
        floor(col("t_s").cast(DoubleType) * col("t_s").cast(DoubleType) * lit(1e3) /
          col("sq").cast(DoubleType)).cast(LongType))
      .select(col("sid").as("source"), col("n_terms"), col("t_s"),
        col("simpson_micros"), col("eff_terms_milli"))
  }

  /** Deterministic contrastive negative sampling — the training-data op
    * behind every embedding/contrastive run: each anchor document gets
    * k=4 pseudo-random negatives, reproducibly. Docs sit on a hash ring
    * (md5 order — both engines render lowercase hex, so the ring is
    * shared); anchor at ring position r draws negatives at
    * (r−1+j·stride) mod n, stride = n/5+1, a fixed large step so
    * negatives are far from hash-neighbors of the anchor. The ring
    * position is ONE [[Prefix.globalRank]] pass, the draw an equi-join
    * back to the ring — linear, shuffle-bounded, no RNG (Date/random are
    * banned repo-wide; determinism is what makes negatives cacheable and
    * resumable at 100 TB). Distinct j can alias to the same negative
    * only when (j₁−j₂)·stride ≡ 0 mod n — kept, as real samplers do;
    * self-pairs (j·stride ≡ 0) are filtered.
    */
  private val contrastiveNegatives: Q = (s, d) => {
    val ranked = Prefix.globalRank(
      documents(s, d).select(col("doc_id")),
      Seq(md5(col("doc_id").cast(StringType)), col("doc_id")), "r")
      .ckpt() // anchor + ring-lookup branches below
    val n = ranked.agg(count(lit(1)).cast(LongType).as("n"))
    val cand = ranked.crossJoin(broadcast(n))
      .withColumn("j", explode(sequence(lit(1L), lit(4L))))
      .withColumn("nr",
        pmod(col("r") - 1 + col("j") * (expr("n div 5") + 1), col("n")) + 1)
      .filter(col("nr") =!= col("r"))
    cand.join(ranked.select(col("r").as("nr"), col("doc_id").as("neg_id")), Seq("nr"))
      .select(col("doc_id").as("anchor_id"), col("j"), col("neg_id"))
  }

  /** Kaplan–Meier survival curve of time-to-high-value-conversion: the
    * "event" is a user's first purchase of value ≥ 200, measured in days
    * from their first event; users who never convert are RIGHT-CENSORED
    * at their last observed day — the estimator's whole point, and both
    * branches are witnessed at every test SF (4/11 deaths/censored at
    * sf0.001 through 297/1203 at sf0.1). S(tᵢ) = S(tᵢ₋₁)·(nᵢ−dᵢ)/nᵢ is
    * an inherently SEQUENTIAL product, so the plan is aggregate-first:
    * the distributed part reduces the corpus to one (duration, deaths,
    * at-risk) row per distinct duration — at-risk counts are a suffix
    * sum from ONE [[Prefix.runningSum]] pass — and only that
    * date-range-bounded frame (≤ a few hundred rows at ANY corpus size)
    * is folded through a single `aggregate` HOF applying the per-step
    * integer floor to micros. The same floors replay in DuckDB as a
    * recursive CTE, so the whole curve hash-checks. S·n ≤ 1e6·users
    * keeps int64 headroom to ~9e12 users.
    */
  private val survivalKaplanMeier: Q = (s, d) => {
    val e = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        col("event_type"), col("value"))
      .ckpt() // span + qualifying-purchase branches
    val span = e.groupBy("user_id").agg(min("day").as("fd"), max("day").as("ld"))
    val conv = e.filter(col("event_type") === "purchase" && col("value") >= 200)
      .groupBy("user_id").agg(min("day").as("pd"))
    val byDur = span.join(conv, Seq("user_id"), "left")
      .select(
        when(col("pd").isNotNull, col("pd") - col("fd"))
          .otherwise(col("ld") - col("fd")).as("dur"),
        when(col("pd").isNotNull, 1L).otherwise(0L).as("death"))
      .groupBy("dur").agg(
        count(lit(1)).cast(LongType).as("m"),
        sum("death").cast(LongType).as("dd"))
    // OPTIMIZATION r11: the at-risk total aggregates the cum frame's own
    // materialization — the separate byDur subtree re-ran the span⋈conv
    // join + duration agg just to sum m
    val cum = Prefix.runningSum(byDur, lit(0L), Seq(col("dur")), col("m"), "cm")
    val tot = cum.agg(sum("m").cast(LongType).as("tot"))
    val steps = cum
      .crossJoin(broadcast(tot))
      .withColumn("n", col("tot") - col("cm") + col("m"))
      .filter(col("dd") > 0)
    steps
      .agg(sort_array(collect_list(struct(col("dur"), col("n"), col("dd")))).as("rows"))
      .selectExpr(
        """inline(aggregate(rows,
          |  cast(array() as array<struct<dur:bigint,n_risk:bigint,deaths:bigint,surv_micros:bigint>>),
          |  (acc, x) -> array_append(acc, named_struct(
          |    'dur', x.dur, 'n_risk', x.n, 'deaths', x.dd,
          |    'surv_micros',
          |    (if(size(acc) == 0, 1000000L, element_at(acc, -1).surv_micros)
          |      * (x.n - x.dd)) div x.n))))""".stripMargin)
  }

  /** Window funnel (ClickHouse `windowFunnel` semantics): max funnel
    * depth signup → view → purchase a user reaches with every step
    * strictly after the previous one and inside T=3 days of the FIRST
    * step. The sequential "next step after the last" recursion becomes
    * three chained conditional-min aggregates (each one filtered scan +
    * equi-join + hash agg — no per-user window sort, parallelism scales
    * with users); census by depth. All depths witnessed at every test SF
    * (4/4/7 at sf0.001 through 45/50/55 at sf0.01).
    */
  private val windowFunnelDepth: Q = (s, d) => {
    val T = 3L * 86400000L
    val e = events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_type"))
      .ckpt() // four filtered scans below
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ms").as("t1"))
    val t2 = e.filter(col("event_type") === "view").join(t1, Seq("user_id"))
      .filter(col("ms") > col("t1") && col("ms") < col("t1") + T)
      .groupBy("user_id").agg(min("ms").as("t2"), min("t1").as("t1b"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("ms") > col("t2") && col("ms") < col("t1b") + T)
      .groupBy("user_id").agg(min("ms").as("t3"))
    e.select("user_id").distinct()
      .join(t1.select(col("user_id"), lit(1L).as("d1")), Seq("user_id"), "left")
      .join(t2.select(col("user_id"), lit(1L).as("d2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), lit(1L).as("d3")), Seq("user_id"), "left")
      .select(
        when(col("d3").isNotNull, 3L).when(col("d2").isNotNull, 2L)
          .when(col("d1").isNotNull, 1L).otherwise(0L).as("depth"))
      .groupBy("depth").agg(count(lit(1)).cast(LongType).as("n_users"))
  }

  /** Per-label embedding centroid drift vs the corpus centroid —
    * squared cosine in integer micros, the audit run before trusting a
    * label/source split of an embedding corpus ("did cluster X move away
    * from the center of mass?"). Float sums are order-dependent, so each
    * component is quantized to micros FIRST (float→double exact, one
    * correctly-rounded multiply, floor — engine-identical), making every
    * reduction an integer sum; cosine is scale-invariant, so the SUM
    * vectors stand in for the means with no division. Dot/norm products
    * run in decimal(38,0) (≤ ~2.5e32 at sf1000 vs the 1e38 ceiling);
    * the final cos² renders through correctly-rounded double ops in a
    * pinned evaluation order that DuckDB replays bit-for-bit. One
    * posexplode (linear — a drift audit must touch every element), two
    * hash aggs, one ≤dims-row broadcast join.
    */
  private val embeddingCentroidDrift: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val comp = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType).as("q"))
    val byLabel = comp.groupBy("label", "dim")
      .agg(sum("q").cast(LongType).as("sl"), count(lit(1)).cast(LongType).as("cnt"))
      .ckpt() // global centroid derives from the same frame
    val global = byLabel.groupBy("dim").agg(sum("sl").cast(LongType).as("sg"))
    byLabel.join(broadcast(global), Seq("dim"))
      .groupBy("label")
      .agg(
        (max("cnt")).cast(LongType).as("n_vecs"), // cnt identical across dims
        sum(col("sl").cast(dec) * col("sg").cast(dec)).as("dot"),
        sum(col("sl").cast(dec) * col("sl").cast(dec)).as("na"),
        sum(col("sg").cast(dec) * col("sg").cast(dec)).as("nb"))
      .withColumn(
        "cos2_micros",
        floor((col("dot").cast(DoubleType) * col("dot").cast(DoubleType)) * lit(1e6) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType))).cast(LongType))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"), col("cos2_micros"))
  }

  /** Modularity of the brand partition over the co-purchase graph: for
    * each community c (parts sharing `p_brand`), the Newman contribution
    * e_c/m − (d_c/2m)² — "is co-purchase structured by brand, beyond
    * what degrees alone predict?". Division-free core: the numerator
    * e_c·4m − d_c² is exact in decimal(38,0)/HUGEINT (d_c² ~ 4e24 at
    * 1e12 edges, ceiling 1e38), ONE pinned double division renders
    * micros per community. Intra-community edges come from joining the
    * edge list to the part→brand map twice (plain equi-joins); degrees
    * are one hash agg. Per-community rows, not a pre-floored global sum
    * — consumers aggregate at full precision.
    */
  private val graphModularity: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val edges = copurchaseEdges(s, d, 5).distinct().ckpt()
    val brand = part(s, d).select(col("p_partkey").as("pk"), col("p_brand"))
    val m = edges.agg(count(lit(1)).cast(LongType).as("m"))
    val deg = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast(LongType).as("deg"))
      .join(brand.select(col("pk").as("v"), col("p_brand")), Seq("v"))
      .groupBy("p_brand").agg(
        count(lit(1)).cast(LongType).as("nodes"),
        sum("deg").cast(LongType).as("d_c"))
    val intra = edges
      .join(brand.select(col("pk").as("a"), col("p_brand").as("ba")), Seq("a"))
      .join(brand.select(col("pk").as("b"), col("p_brand").as("bb")), Seq("b"))
      .filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("p_brand"))
      .agg(count(lit(1)).cast(LongType).as("e_c"))
    deg.join(intra, Seq("p_brand"), "left").na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .withColumn(
        "contrib_micros",
        floor((col("e_c").cast(dec) * 4 * col("m") - col("d_c").cast(dec) * col("d_c"))
          .cast(DoubleType) * lit(1e6) /
          (lit(4).cast(dec) * col("m").cast(dec) * col("m").cast(dec)).cast(DoubleType))
          .cast(LongType))
      .select("p_brand", "nodes", "e_c", "d_c", "contrib_micros")
  }

  /** Top-k ranking stability audit: top-20 parts by revenue computed
    * independently on the two order-key-parity arms, compared by overlap
    * (Jaccard micros) and summed rank displacement — the "is this
    * ranking reproducible on a split sample?" check run before shipping
    * any leaderboard. Each arm is a hash agg + TakeOrderedAndProject
    * (never a global sort); ranks attach via the aggregate-first bounded
    * trick (sort_array + posexplode over the 20-row frame — no window,
    * no NLJ); the compare is one full-outer join of two 20-row frames.
    */
  private val topkStabilityAudit: Q = (s, d) => {
    def armTop(parity: Int): DataFrame =
      lineitem(s, d)
        .filter(col("l_orderkey") % 2 === parity)
        .groupBy("l_partkey")
        .agg(sum((dec2(col("l_extendedprice")) * 100).cast(LongType))
          .cast(LongType).as("rev"))
        .orderBy(desc("rev"), asc("l_partkey"))
        .limit(20)
        .agg(sort_array(collect_list(struct((-col("rev")).as("nr"),
          col("l_partkey").as("pk")))).as("rows"))
        .selectExpr("posexplode(rows) as (pos, r)")
        .select(col("r.pk").as("pk"), (col("pos") + 1).cast(LongType).as("rnk"))
    val a = armTop(0).select(col("pk"), col("rnk").as("rank_a"))
    val b = armTop(1).select(col("pk"), col("rnk").as("rank_b"))
    a.join(b, Seq("pk"), "full_outer")
      .agg(
        sum(when(col("rank_a").isNotNull && col("rank_b").isNotNull, 1L)
          .otherwise(0L)).cast(LongType).as("n_common"),
        count(lit(1)).cast(LongType).as("n_union"),
        sum(when(col("rank_a").isNotNull && col("rank_b").isNotNull,
          abs(col("rank_a") - col("rank_b"))).otherwise(0L))
          .cast(LongType).as("sum_rank_delta"))
      .withColumn("jaccard_micros", expr("n_common * 1000000 div n_union"))
  }

  /** Time-decayed trending leaderboard: top-10 parts by ship-recency-
    * weighted volume, where a shipment w weeks before the corpus horizon
    * carries weight 2^(8−w) (zero beyond 8 weeks) — EXACT half-life
    * decay in pure integers. The standard e^(−λt) formulation is
    * float-unverifiable cross-engine; power-of-two half-lives give the
    * identical product shape (trending = recent-heavy) with
    * bit-reproducible scores, which also makes the leaderboard
    * incrementally maintainable (new week ⇒ halve all scores, add the
    * new week — both exact). One hash agg + TakeOrderedAndProject.
    */
  private val leaderboardDecayed: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_partkey"),
      floor(unix_millis(col("l_shipdate").cast("timestamp")) / lit(86400000.0))
        .cast(LongType).as("day"))
    val mx = li.agg(max("day").as("mxd"))
    li.crossJoin(broadcast(mx))
      .withColumn("w", expr("(mxd - day) div 7"))
      .withColumn("wt",
        when(col("w") <= 8, expr("shiftleft(1L, cast(8 - w as int))"))
          .otherwise(0L))
      .groupBy("l_partkey")
      .agg(sum("wt").cast(LongType).as("score"),
        count(lit(1)).cast(LongType).as("n_ships"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("l_partkey"))
      .limit(10)
  }

  /** Exact OLS trend of the daily revenue level — slope, intercept and r²
    * of cents-per-day against the epoch day: the moment-based fit every
    * BI layer draws, and the least-squares sibling of [[theilSenSlope]]
    * (median-based, robust; OLS is the variance-weighted line). All six
    * moments (n, Σx, Σx², Σy, Σxy, Σy²) are EXACT — int64 where they
    * fit, decimal(38,0) where a product crosses it (Σy² ~ 2.4e19 at
    * sf0.1 already; DuckDB replays those in HUGEINT) — and the classical
    * closed forms n·Σxy−Σx·Σy / n·Σx²−(Σx)² stay exact in decimal38
    * (≤ ~1e25 at sf10 against the 1e38 ceiling). Exact integers in, ONE
    * pinned chain of IEEE double ops out (the assortativity render
    * pattern), so both engines produce identical bits. Plan: day-grain
    * pre-agg bounds the moment input at #days rows, then one scalar
    * aggregate — x̄/ȳ centering is deliberately NOT used: it needs a
    * second pass or a fused co-moment, and the uncentered moments are
    * exact here anyway (centering guards FLOAT cancellation, which
    * integer arithmetic doesn't suffer).
    */
  private val olsTrendExact: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
    val m = daily.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("day").cast(LongType).as("sx"),
      sum(col("day").cast(dec) * col("day").cast(dec)).cast(dec).as("sxx"),
      sum("rev").cast(LongType).as("sy"),
      sum(col("day").cast(dec) * col("rev").cast(dec)).cast(dec).as("sxy"),
      sum(col("rev").cast(dec) * col("rev").cast(dec)).cast(dec).as("syy"))
    val sNum = m("n").cast(dec) * m("sxy") - m("sx").cast(dec) * m("sy").cast(dec)
    val sDen = m("n").cast(dec) * m("sxx") - m("sx").cast(dec) * m("sx").cast(dec)
    val iNum = m("sy").cast(dec) * m("sxx") - m("sx").cast(dec) * m("sxy")
    val yDen = m("n").cast(dec) * m("syy") - m("sy").cast(dec) * m("sy").cast(dec)
    m.select(
      m("n").as("n_days"),
      floor(sNum.cast(DoubleType) * 1e6 / sDen.cast(DoubleType))
        .cast(LongType).as("slope_micros"),
      floor(iNum.cast(DoubleType) * 1e6 / sDen.cast(DoubleType))
        .cast(LongType).as("intercept_cents_micros"),
      floor(sNum.cast(DoubleType) * sNum.cast(DoubleType) * 1e6 /
        (sDen.cast(DoubleType) * yDen.cast(DoubleType)))
        .cast(LongType).as("r2_micros"))
  }

  /** Vocabulary coverage curve: the token-stream share covered by the
    * top-3/10/20 most frequent terms — the Zipf-head diagnostic behind
    * tokenizer-vocabulary sizing (how large a vocab before OOV mass is
    * negligible). Global term counts are one hash agg over the exploded
    * token relation; the curve itself runs on the VOCAB frame (|V| rows,
    * corpus-size independent): one [[Prefix.globalRank]] + one
    * [[Prefix.runningSum]] in (count desc, term) order — never a
    * no-partition window — then three rank picks and an integer-micros
    * share against the broadcast 1-row total (share numerator bridged
    * through decimal38; cum·1e6 crosses int64 near 1e13 tokens).
    */
  private val vocabCoverageCurve: Q = (s, d) => {
    val ord = Seq(col("cnt").desc, col("term").asc)
    val tc = TextStats.terms(documents(s, d), "doc_id", "text")
      .groupBy("term").agg(count(lit(1)).cast(LongType).as("cnt"))
    // OPTIMIZATION r11: rank and coverage share ONE range exchange
    // (runningSums — globalRank is a running sum of 1s over the same
    // order), and the token total aggregates the materialized cum frame
    // instead of re-running the tokenize + term-count pass
    val cum = Prefix.runningSums(tc, lit(0L), ord,
      Seq(lit(1L) -> "rank", col("cnt") -> "cum"))
    val tot = cum.agg(sum("cnt").cast(LongType).as("tot"))
    cum.filter(col("rank").isin(3L, 10L, 20L))
      .crossJoin(broadcast(tot))
      .select(col("rank").cast(LongType).as("rank"), col("term"), col("cnt"),
        col("cum").cast(LongType).as("cum_tokens"),
        expr("cast(cum as decimal(38,0)) * 1000000 div tot").as("coverage_micros"))
  }

  /** Deterministic bootstrap 95 % CI for the mean daily revenue — B = 200
    * multinomial resamples drawn with [[graft.ext.Dedup.portableHash64]]
    * instead of an RNG, so the interval is REPRODUCIBLE and
    * oracle-checkable (DuckDB replays the same picks bit-for-bit; a
    * Random-based bootstrap can never hash-check nor re-run identically
    * across task retries — the same argument as contrastive_negatives).
    * Resampling happens on the DAY-GRAIN frame, so the grid is B×n_days —
    * bounded by the date range at ANY corpus size; the only corpus-sized
    * work is the one day agg. Slot i of resample b picks day rank
    * h(b:i) mod n + 1 via one equi-join back to the ranked frame;
    * per-resample sums are exact int64 cents; the 2.5 %/97.5 % fences are
    * ranks 5/195 of the B sums (ceil index semantics,
    * [[Prefix.globalRank]] over a 200-row frame — never a no-partition
    * window). Renders bridge decimal38 so cents·1e6 can't overflow.
    */
  private val bootstrapCiMean: Q = (s, d) => {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
    val ranked = Prefix.globalRank(daily, Seq(col("day").asc), "i")
      .ckpt() // grid, lookup and point-estimate branches
    val n = ranked.agg(count(lit(1)).cast(LongType).as("n"))
    val picks = ranked.crossJoin(broadcast(n))
      .withColumn("b", explode(sequence(lit(1L), lit(200L))))
      .select(col("b"),
        (pmod(graft.ext.Dedup.portableHash64(
          concat(col("b").cast(StringType), lit(":"), col("i").cast(StringType))),
          col("n")) + 1).as("pick"))
    val sums = picks
      .join(ranked.select(col("i").as("pick"), col("rev")), Seq("pick"))
      .groupBy("b").agg(sum("rev").cast(LongType).as("bsum"))
    // OPTIMIZATION r11: the resample-sum frame is B = 200 rows BY
    // CONSTRUCTION (the explode literal above), yet the fence pick ran a
    // whole Prefix.globalRank train over it. The 200 sums collect to the
    // driver (bounded — the Quantile-census precedent), ranks 5/195 read
    // off the sorted array, and the fences re-enter the plan as exact
    // literals. Same (bsum, b) total order, same int64 values.
    val bsums = sums.select(col("bsum"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val losum = bsums(4)._1
    val hisum = bsums(194)._1
    ranked.agg(sum("rev").cast(LongType).as("tot"),
        count(lit(1)).cast(LongType).as("n_days"))
      .select(col("n_days"), lit(200L).as("b_reps"),
        expr("cast(tot as decimal(38,0)) * 1000000 div n_days").as("mean_micros"),
        expr(s"cast(${losum}L as decimal(38,0)) * 1000000 div n_days").as("lo_micros"),
        expr(s"cast(${hisum}L as decimal(38,0)) * 1000000 div n_days").as("hi_micros"))
  }

  /** Data-quality expectations census over the order pipeline — the
    * great-expectations-style gate a production table runs before
    * publish: referential integrity both directions (lineitem→orders,
    * orders→customer), key multiplicity (duplicate (orderkey,
    * linenumber) pairs, counted as excess rows over distinct pairs),
    * row-level domain checks (non-positive quantity) and temporal sanity
    * (shipped before ordered). Three passes total at ANY scale: one
    * lineitem agg (count + domain + exact distinct-pair count), one
    * lineitem⟕orders join serving TWO checks (fk orphans and temporal),
    * one orders⟕(distinct lineitem keys)⟕customer join serving two more;
    * each pass reduces to a localCheckpointed 1-row frame read twice, so
    * nothing corpus-sized runs twice. The fixture is NOT all-green:
    * childless orders, duplicate line numbers and ship-before-order are
    * real violations in this data (257 / 11 785 / 29 157 at sf0.01)
    * while both fk checks and the quantity domain pass with 0 — both
    * verdict shapes witnessed.
    */
  private val dqExpectations: Q = (s, d) => {
    val ord = orders(s, d)
    val li = lineitem(s, d)
    val liAgg = li.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).cast(LongType).as("badqty"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).cast(LongType).as("dk"))
      .ckpt()
    val liOrd = li.select(col("l_orderkey"), col("l_shipdate").cast("timestamp").as("ship"))
      .join(ord.select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("odate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).cast(LongType).as("orphan"),
        sum(when(col("ship") < col("odate"), 1L).otherwise(0L)).cast(LongType).as("shipviol"))
      .ckpt()
    val ordAgg = ord.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left")
      .join(customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).cast(LongType).as("childless"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).cast(LongType).as("nocust"))
      .ckpt()
    liAgg.select(lit("lineitem_nonpositive_qty").as("check"),
        col("n").as("n_checked"), col("badqty").as("n_violations"))
      .unionByName(liAgg.select(lit("lineitem_dup_linenumber").as("check"),
        col("n").as("n_checked"), (col("n") - col("dk")).as("n_violations")))
      .unionByName(liOrd.select(lit("lineitem_order_fk").as("check"),
        col("n").as("n_checked"), col("orphan").as("n_violations")))
      .unionByName(liOrd.select(lit("ship_before_orderdate").as("check"),
        col("n").as("n_checked"), col("shipviol").as("n_violations")))
      .unionByName(ordAgg.select(lit("order_has_lineitems").as("check"),
        col("n").as("n_checked"), col("childless").as("n_violations")))
      .unionByName(ordAgg.select(lit("order_customer_fk").as("check"),
        col("n").as("n_checked"), col("nocust").as("n_violations")))
  }

  /** Pairwise cosine similarity between source term-frequency profiles —
    * the corpus-mix diagnostic behind "which sources are near-redundant"
    * decisions. Vocabulary cut FIRST (top-30 terms by global count, the
    * [[termLiftPairs]] pattern) so each profile is ≤30 rows and the
    * pair self-join runs on a |sources|×30 frame at ANY corpus size; the
    * one corpus-sized step is the (source, term) count agg. SQUARED
    * cosine (dot²/(‖a‖²·‖b‖²)) avoids sqrt, as embedding_centroid_drift
    * does: exact decimal38 dot/norm integers in, one pinned chain of
    * IEEE double ops out. Top-20 pairs by a total (cos², sa, sb) order —
    * a TakeOrdered cut, no window.
    */
  private val sourceProfileCosine: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val tc = TextStats.terms(documents(s, d), "source", "text")
      .groupBy("source", "term").agg(count(lit(1)).cast(LongType).as("c"))
    val vocab = tc.groupBy("term").agg(sum("c").cast(LongType).as("t"))
      .orderBy(desc("t"), asc("term")).limit(30)
      .ckpt() // consumed by the profile semi-join
    val prof = tc.join(broadcast(vocab.select("term")), Seq("term"), "left_semi")
      .ckpt() // |sources| × ≤30 rows, read three times
    val norms = prof.groupBy("source")
      .agg(sum(col("c").cast(dec) * col("c").cast(dec)).cast(dec).as("n2"))
    prof.select(col("term"), col("source").as("sa"), col("c").as("ca"))
      .join(prof.select(col("term"), col("source").as("sb"), col("c").as("cb")), Seq("term"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(sum(col("ca").cast(dec) * col("cb").cast(dec)).cast(dec).as("dot"))
      .join(norms.select(col("source").as("sa"), col("n2").as("na")), Seq("sa"))
      .join(norms.select(col("source").as("sb"), col("n2").as("nb")), Seq("sb"))
      .select(col("sa"), col("sb"), col("dot").cast(LongType).as("dot"),
        floor(col("dot").cast(DoubleType) * col("dot").cast(DoubleType) * lit(1e6) /
            (col("na").cast(DoubleType) * col("nb").cast(DoubleType)))
          .cast(LongType).as("cos2_micros"))
      .orderBy(desc("cos2_micros"), asc("sa"), asc("sb"))
      .limit(20)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the quantity
    * distributions of returned (flag R) and kept lineitems — the
    * distribution-shift test in its EXACT integer form: KS·n₁·n₂ =
    * max_v |F₁(v)·n₂ − F₂(v)·n₁| needs no division until the final
    * micros render, so the argmax and the statistic are bit-reproducible
    * (a double-CDF max would tie-break on ulps). Aggregate-first: one
    * hash agg to the ≤50-row distinct-value frame, two
    * [[Prefix.runningSum]] passes for the joint CDFs, decimal38/HUGEINT
    * cross-products (int64 dies at ~3e9 rows per side; decimal38 is good
    * past 1e18), one TakeOrdered row out.
    */
  private val ksTwoSample: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val f = lineitem(s, d)
      .select(col("l_quantity").cast(LongType).as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy("q")
      .agg(sum("r").cast(LongType).as("c1"),
        (count(lit(1)) - sum("r")).cast(LongType).as("c2"))
    // OPTIMIZATION r11: both CDFs share ONE range exchange (runningSums,
    // the jonckheere move — the nested form ran two full Prefix trains
    // over the same (q) order); the totals aggregate the materialized
    // cum frame instead of re-scanning lineitem (same c1/c2 rows).
    val cum = Prefix.runningSums(f, lit(0L), Seq(col("q").asc),
      Seq(col("c1") -> "f1", col("c2") -> "f2"))
    val tot = cum.agg(sum("c1").cast(LongType).as("n1"), sum("c2").cast(LongType).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("q"),
        abs(col("f1").cast(dec) * col("n2").cast(dec) -
          col("f2").cast(dec) * col("n1").cast(dec)).cast(dec).as("d"),
        col("n1"), col("n2"))
      .orderBy(desc("d"), asc("q"))
      .limit(1)
      .select(col("q").as("ks_at_q"),
        expr("cast(d as decimal(38,0)) * 1000000 div (cast(n1 as decimal(38,0)) * n2)")
          .as("ks_micros"),
        col("n1"), col("n2"))
  }

  /** Local clustering coefficient census of the co-purchase graph, built
    * on the same degree-oriented wedge machinery as [[graphTriangles]]
    * (each triangle closes exactly once, wedge volume O(E^1.5)). The
    * closed-wedge frame EXPLODES to its three corners → per-node triangle
    * counts t(v); per-node coefficient 2t·1e6 div (deg·(deg−1)) is exact
    * int64; the census folds everything into ONE aggregate over the node
    * frame — n_triangles = Σt/3 and global transitivity = 2Σt·1e6 div
    * Σdeg(deg−1) (= 3T/wedges) come from the same sums, so no 1-row
    * crossJoins at all. Σdeg(deg−1) bridges decimal38 (a 1e9-degree hub
    * squares past int64).
    */
  private val clusteringCoefficient: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val und = copurchaseEdges(s, d, 5).distinct()
      .ckpt() // degree union + orientation joins below
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast(LongType).as("deg"))
      .ckpt() // orientation + census branches
    val da = deg.select(col("v").as("a"), col("deg").as("dega"))
    val db = deg.select(col("v").as("b"), col("deg").as("degb"))
    val oriented = und.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("x"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("y"))
      .ckpt() // wedge + closure joins read it twice
    val e2 = oriented.select(col("x").as("y"), col("y").as("z"))
    val tri = oriented.join(e2, Seq("y")).select(col("x"), col("y"), col("z"))
      .join(oriented.select(col("x"), col("y").as("z")), Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).cast(LongType).as("t"))
    deg.join(tri, Seq("v"), "left")
      .na.fill(0L, Seq("t"))
      .agg(
        sum(when(col("deg") >= 2, 1L).otherwise(0L)).cast(LongType).as("n_nodes2"),
        sum("deg").cast(LongType).as("sumdeg"),
        sum("t").cast(LongType).as("sumt"),
        sum(when(col("deg") >= 2,
          expr("2 * t * 1000000 div (deg * (deg - 1))")).otherwise(0L))
          .cast(LongType).as("sumcoef"),
        sum((col("deg") * (col("deg") - 1)).cast(dec)).cast(dec).as("sumdd"))
      .select(
        col("n_nodes2").as("n_nodes"),
        expr("sumdeg div 2").as("n_edges"),
        expr("sumt div 3").as("n_triangles"),
        expr("sumcoef div n_nodes2").as("avg_local_micros"),
        expr("cast(2 as decimal(38,0)) * sumt * 1000000 div sumdd")
          .as("transitivity_micros"))
  }

  /** Exact weighted lower median and weighted p90 of the lineitem price,
    * weighted by quantity — the "median price per unit sold" statistic,
    * where an unweighted median over rows would be wrong whenever weights
    * vary. Aggregate-first to the distinct-cents frame, ONE
    * [[Prefix.runningSum]] of weights in price order, then the classic
    * pick: smallest value whose cumulative weight reaches ceil(q·W)
    * (ceil via (a·W + b − 1) div b, all integer — both fences from the
    * same pass as conditional mins). The total rides as a broadcast
    * 1-row frame; nothing sorts the fact table.
    */
  private val weightedMedian: Q = (s, d) => {
    val grain = lineitem(s, d)
      .select((dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
        col("l_quantity").cast(LongType).as("qty"))
      .groupBy("cents").agg(sum("qty").cast(LongType).as("w"))
      .ckpt() // cumulative pass + total: ONE lineitem scan, not two
    val cum = Prefix.runningSum(grain, lit(0L), Seq(col("cents").asc), col("w"), "cw")
    val tot = grain.agg(sum("w").cast(LongType).as("wt"))
    cum.crossJoin(broadcast(tot))
      .agg(
        min(when(col("cw") >= expr("(wt + 1) div 2"), col("cents")))
          .cast(LongType).as("median_cents"),
        min(when(col("cw") >= expr("(9 * wt + 9) div 10"), col("cents")))
          .cast(LongType).as("p90_cents"),
        min("wt").as("w_total"))
  }

  /** Pearson χ² independence statistic for lang × source over documents —
    * the contingency audit behind "is the language mix uniform across
    * sources". Each cell's contribution uses the cross-multiplied form
    * (O·N − r·c)²/(r·c·N) — the exact-integer difference O·N − r·c comes
    * out of decimal38 (≤ N², fine to N ~ 1e19), its square would NOT fit
    * decimal38 at scale, so the render is the pinned double chain
    * floor(diff²·1e6/(r·c·N)) per cell, then an exact int64 sum of the
    * floored micros — a DEFINED statistic both engines replay bit-for-bit
    * (the textbook float Σ would differ in ulps; a p-value would need the
    * incomplete gamma — the documented transcendental trade, as in BM25's
    * rational idf). One hash agg to ≤|lang|·|source| cells plus two
    * marginal aggs on that tiny frame. On this fixture stat ≈ df (the
    * independence regime: the data's lang and source are independent),
    * and the mutation audit proves dependence is detectable.
    */
  private val chi2Independence: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val obs = documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).cast(LongType).as("o"))
      .ckpt() // marginals + cell pass
    val rt = obs.groupBy("lang").agg(sum("o").cast(LongType).as("r"))
    val ct = obs.groupBy("source").agg(sum("o").cast(LongType).as("c"))
    val nt = obs.agg(sum("o").cast(LongType).as("n"),
      countDistinct("lang").cast(LongType).as("nl"),
      countDistinct("source").cast(LongType).as("ns"))
    obs.join(rt, Seq("lang")).join(ct, Seq("source"))
      .crossJoin(broadcast(nt))
      .select(col("n"), col("nl"), col("ns"),
        floor(
          (col("o").cast(dec) * col("n").cast(dec) -
            col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) *
            (col("o").cast(dec) * col("n").cast(dec) -
              col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) * lit(1e6) /
            ((col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) *
              col("n").cast(DoubleType)))
          .cast(LongType).as("contrib"))
      .groupBy()
      .agg(min("n").as("n_total"),
        ((min("nl") - 1) * (min("ns") - 1)).cast(LongType).as("df"),
        sum("contrib").cast(LongType).as("chi2_micros"))
  }

  /** Spearman rank correlation between daily revenue and daily event
    * volume — the monotone-association statistic, EXACT because ranks
    * are integers: ρ = 1 − 6Σd²/(n(n²−1)) renders as one integral
    * division in decimal38 (both engines truncate integral division
    * toward zero — probed on negatives — so a negative ρ is safe with
    * no double anywhere). Ranks come from two [[Prefix.globalRank]]
    * passes over the date-range-bounded day frame on the TOTAL order
    * (value, day): the deterministic-tie-break variant of Spearman —
    * textbook midranks are fractional and would reintroduce floats; on
    * tie-free data the two coincide, and the convention is pinned in
    * both engines (the BM25 rational-idf style of documented trade).
    */
  private val spearmanDaily: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"),
        count(lit(1)).cast(LongType).as("cnt"))
    val r2 = Prefix.globalRank(
      Prefix.globalRank(daily, Seq(col("rev").asc, col("day").asc), "ra"),
      Seq(col("cnt").asc, col("day").asc), "rb")
    r2.agg(count(lit(1)).cast(LongType).as("n"),
        sum(((col("ra") - col("rb")) * (col("ra") - col("rb"))).cast(dec))
          .cast(dec).as("sd2"))
      .select(col("n"), col("sd2").cast(LongType).as("sum_d2"),
        expr("""(cast(n as decimal(38,0)) * (n * n - 1) - 6 * sd2) * 1000000
                div (cast(n as decimal(38,0)) * (n * n - 1))""").as("rho_micros"))
  }

  /** Revenue reconciliation census — does the order header's total agree
    * with Σ over its lines of extendedprice·(1−discount)·(1+tax)? The
    * accounting cross-check every billing pipeline runs, in EXACT scaled
    * integers: percentages become int factors (100−d)(100+t) so a line's
    * gross is cents·1e4 with zero float rounding, the header total is
    * cents·1e4 by construction, and the per-order delta is an exact
    * int64. One lineitem agg keyed by order + one equi-join to headers;
    * the census reports match count and the |delta| mass/max (this
    * fixture's synthetic totals are independent of the lines, so ~every
    * order mismatches — the audit measures, it does not assume).
    * Σ|delta| bridges decimal38 (passes int64 near sf100).
    */
  private val revenueReconciliation: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val lg = lineitem(s, d)
      .select(col("l_orderkey"),
        ((dec2(col("l_extendedprice")) * 100).cast(LongType) *
          (lit(100L) - (dec2(col("l_discount")) * 100).cast(LongType)) *
          (lit(100L) + (dec2(col("l_tax")) * 100).cast(LongType))).as("gross_e4"))
      .groupBy("l_orderkey").agg(sum("gross_e4").cast(LongType).as("line_e4"))
    orders(s, d)
      .select(col("o_orderkey"),
        ((dec2(col("o_totalprice")) * 100).cast(LongType) * 10000L).as("head_e4"))
      .join(lg, col("o_orderkey") === col("l_orderkey"))
      .select(abs(col("head_e4") - col("line_e4")).as("ad"))
      .agg(count(lit(1)).cast(LongType).as("n_orders"),
        sum(when(col("ad") === 0L, 1L).otherwise(0L)).cast(LongType).as("n_exact"),
        sum(col("ad").cast(dec)).cast(dec).as("sad"),
        max("ad").cast(LongType).as("max_abs_e4"))
      .select(col("n_orders"), col("n_exact"),
        expr("sad div n_orders").as("mean_abs_e4"), col("max_abs_e4"))
  }

  /** Top-10 frequent 3-itemsets over order baskets — the Apriori-depth-3
    * census, linear in data because TPC-H-like baskets are constant-size
    * (C(4,3) triples per basket; the same bound argument as
    * [[copurchaseEdges]], and a mega-basket would need the same cap).
    * Two chained per-basket self-joins with a strict p1 < p2 < p3 total
    * order so each triple is counted exactly once; hash agg;
    * TakeOrderedAndProject on (n desc, p1, p2, p3).
    */
  private val basketTriples: Q = (s, d) => {
    val items = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    items.select(col("ok"), col("pk").as("p1"))
      .join(items.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .join(items.select(col("ok"), col("pk").as("p3")), Seq("ok"))
      .filter(col("p2") < col("p3"))
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).cast(LongType).as("n"))
      .orderBy(desc("n"), asc("p1"), asc("p2"), asc("p3"))
      .limit(10)
  }

  /** Exact sample autocorrelation of daily revenue at lags 1/7/14 — the
    * seasonality diagnostic, with the mean-centering done in N-SCALED
    * integers so no division happens before the final render: dev_t =
    * n·x_t − S is exact, and in r_k = Σdev_t·dev_{t+k} / Σdev_t² the n²
    * factors cancel, so the quotient IS the textbook ACF (the CUSUM
    * trick upgraded to products). Products run in decimal38 (dev ~
    * n·cents ~ 1e14 at sf1, squared 1e28 < 1e38; DuckDB replays in
    * HUGEINT), ONE integral division to micros per lag (negative-safe:
    * both engines truncate toward zero, probed). Pairs join on calendar
    * day+k over the bounded day frame — missing days drop their pairs,
    * the standard gap convention, pinned identically in the oracle. The
    * denominator spans ALL days (textbook ACF), not just paired ones.
    */
  private val acfDaily: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // totals + dev frame + three lag joins
    val tot = daily.agg(count(lit(1)).cast(LongType).as("n"),
      sum("rev").cast(LongType).as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"),
        (col("n").cast(dec) * col("rev").cast(dec) - col("s").cast(dec)).cast(dec).as("dv"))
      .ckpt() // read once per lag + once for the denominator
    val den = dev.agg(sum(col("dv") * col("dv")).cast(dec).as("den"))
    val lagged = dev.withColumn("lag", explode(array(lit(1L), lit(7L), lit(14L))))
      .select(col("lag"), (col("day") + col("lag")).as("day"), col("dv").as("dv0"))
      .join(dev, Seq("day"))
      .groupBy("lag")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("dv0") * col("dv")).cast(dec).as("num"))
    lagged.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        expr("num * 1000000 div den").as("acf_micros"))
  }

  /** Wald–Wolfowitz runs test for randomness of the daily revenue series
    * around its exact lower median — "does the level wander (too few
    * runs) or oscillate (too many) vs an i.i.d. sequence". Everything
    * stays rational: the median is an exact rank pick; runs R = 1 +
    * sign flips between RANK-consecutive days (one equi-join on rank+1
    * over the bounded day frame — rank adjacency, so calendar gaps
    * can't split a run); and the z² statistic cross-multiplies to
    * D²(n−1) / (2n₁n₂(2n₁n₂−n)) with D = R·n − 2n₁n₂ − n — exact in
    * decimal38, one integral division to micros, verdict vs the baked
    * χ²(1) constant (z² ~ χ²₁). The fixture is the independence regime
    * (random synthetic data ⇒ not significant); the mutation audit
    * proves a broken run count goes red.
    */
  private val runsTest: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
    val byRev = Prefix.globalRank(daily, Seq(col("rev").asc, col("day").asc), "rr")
      .ckpt() // median pick + sign frame
    val nRow = byRev.agg(count(lit(1)).cast(LongType).as("n"))
    val medPick = byRev.crossJoin(broadcast(nRow))
      .agg(min(when(col("rr") === expr("(n + 1) div 2"), col("rev")))
        .cast(LongType).as("m"))
    val signs = Prefix.globalRank(byRev, Seq(col("day").asc), "r")
      .crossJoin(broadcast(medPick))
      .select(col("r"), when(col("rev") > col("m"), 1L).otherwise(0L).as("sg"))
      .ckpt() // flip join + marginals
    val flips = signs.select((col("r") + 1).as("r"), col("sg").as("sg0"))
      .join(signs, Seq("r"))
      .agg(sum(when(col("sg") =!= col("sg0"), 1L).otherwise(0L)).cast(LongType).as("fl"))
    val marg = signs.agg(count(lit(1)).cast(LongType).as("n"),
      sum("sg").cast(LongType).as("n1"))
    marg.crossJoin(broadcast(flips))
      .select(col("n"), col("n1"), (col("n") - col("n1")).as("n0"),
        (col("fl") + 1).as("runs"))
      .select(col("n"), col("n1"), col("n0"), col("runs"),
        expr("""case when n1 = 0 or n0 = 0 then 0L else
                (cast(runs as decimal(38,0)) * n - 2 * cast(n1 as decimal(38,0)) * n0 - n)
                * (cast(runs as decimal(38,0)) * n - 2 * cast(n1 as decimal(38,0)) * n0 - n)
                * (n - 1) * 1000000
                div (2 * cast(n1 as decimal(38,0)) * n0
                     * (2 * cast(n1 as decimal(38,0)) * n0 - n)) end""").as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  /** Mann–Kendall trend test on the daily revenue series — the
    * nonparametric significance companion to [[theilSenSlope]] (same
    * bounded pair frame: the date-range² census, never corpus-sized).
    * S = Σ_{i<j} sign(x_j − x_i) is an exact integer; 18·Var(S) =
    * n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) carries the exact tie
    * correction from one value-grain agg; the continuity-corrected z² =
    * (|S|−1)²·18 / Var18 cross-multiplies to one integral division in
    * decimal38 (n⁴-ish numerators pass int64 near 40k days), verdict vs
    * the baked χ²(1) constant. The fixture is the no-trend regime; the
    * audit proves a sign error goes red.
    */
  private val mannKendallTrend: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // pair join (both sides) + tie groups + n
    val pairs = daily.select(col("day").as("d1"), col("rev").as("r1"))
      .join(daily.select(col("day").as("d2"), col("rev").as("r2")),
        col("d1") < col("d2"))
      .agg(sum(when(col("r2") > col("r1"), 1L)
        .when(col("r2") < col("r1"), -1L).otherwise(0L)).cast(LongType).as("s"))
    val ties = daily.groupBy("rev").agg(count(lit(1)).cast(LongType).as("t"))
      .agg(sum((col("t") * (col("t") - 1) * (col("t") * 2 + 5)).cast(dec))
        .cast(dec).as("tc"))
    val n = daily.agg(count(lit(1)).cast(LongType).as("n"))
    pairs.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .select(col("n"), col("s"),
        expr("""case when s = 0 then 0L else
                (abs(s) - 1) * (abs(s) - 1) * cast(18 as decimal(38,0)) * 1000000
                div (cast(n as decimal(38,0)) * (n - 1) * (2 * n + 5) - tc) end""")
          .as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  /** CUPED variance reduction for the user-parity A/B arms — the modern
    * experimentation adjustment: each user's post-period spend Y is
    * debiased by their PRE-period spend X via θ = cov(X,Y)/var(X), so
    * delta_adj = (ȳ₁−ȳ₀) − θ(x̄₁−x̄₀) removes the between-user variance
    * that X explains. The period split is the exact calendar midpoint
    * ((min+max+1) div 2, broadcast 1-row frame); ALL moments (per-arm
    * n/Σx/Σy and pooled Σxy/Σx²) are exact int64/decimal38 cents from
    * one user-grain agg; θ and the two deltas render through ONE pinned
    * IEEE double chain mirrored op-for-op in DuckDB (the OLS pattern —
    * the division makes exact integers impossible, the pinning makes
    * the bits equal).
    */
  private val cupedAdjustment: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val ev = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
    val mid = ev.agg(((min("day") + max("day") + 1) / 2).cast(LongType).as("mid"))
    val users = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(col("day") < col("mid"), col("cents")).otherwise(0L))
          .cast(LongType).as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L))
          .cast(LongType).as("y"))
      .select(col("x"), col("y"), (col("user_id") % 2).cast(LongType).as("arm"))
    val m = users.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("x").cast(LongType).as("sx"),
      sum("y").cast(LongType).as("sy"),
      sum(col("x").cast(dec) * col("y").cast(dec)).cast(dec).as("sxy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).cast(dec).as("sxx"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).cast(LongType).as("n1"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).cast(LongType).as("sx1"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).cast(LongType).as("sy1"))
    val theta = (col("n").cast(dec) * col("sxy") -
        col("sx").cast(dec) * col("sy").cast(dec)).cast(DoubleType) /
      (col("n").cast(dec) * col("sxx") -
        col("sx").cast(dec) * col("sx").cast(dec)).cast(DoubleType)
    val n0 = (col("n") - col("n1")).cast(DoubleType)
    val dRaw = col("sy1").cast(DoubleType) / col("n1").cast(DoubleType) -
      (col("sy") - col("sy1")).cast(DoubleType) / n0
    val dX = col("sx1").cast(DoubleType) / col("n1").cast(DoubleType) -
      (col("sx") - col("sx1")).cast(DoubleType) / n0
    m.select(col("n"), col("n1"),
      floor(theta * lit(1e6)).cast(LongType).as("theta_micros"),
      floor(dRaw * lit(1e6)).cast(LongType).as("delta_raw_micros"),
      floor((dRaw - theta * dX) * lit(1e6)).cast(LongType).as("delta_adj_micros"))
  }

  /** Cohort LTV curve — cumulative purchase revenue per cohort per WEEK
    * of age, normalized per cohort user: the growth-analytics complement
    * of [[cohort_retention]] (users) in money. Cohort = week of the
    * user's first HIGH-VALUE purchase (≥ $200, the Kaplan–Meier
    * conversion anchor — the fixture's events span one month, so a
    * plain first-activity cohort is a single degenerate bucket; the
    * high-value anchor spreads users over 2–5 weekly cohorts at every
    * SF, probed); age counts purchase revenue from the cohort week on.
    * The cumulative pass is [[Prefix.runningSum]] SHARDED by cohort —
    * the low-cardinality-partition window this repo bans is exactly
    * what a naive PARTITION BY cohort would be; the sharded range scan
    * splits WITHIN cohorts so parallelism never caps at the cohort
    * count. Per-user micros divide exact cents through decimal38.
    */
  private val ltvCumulative: Q = (s, d) => {
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .select(col("user_id"), col("event_type"),
        expr("day div 7").as("w"), col("cents"))
      .ckpt() // cohort derivation + activity rollup
    val cohort = ev
      .filter(col("event_type") === "purchase" && col("cents") >= 20000L)
      .groupBy("user_id").agg(min("w").cast(LongType).as("cohort"))
    val act = ev.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .filter(col("w") >= col("cohort"))
      .groupBy("cohort", "w")
      .agg(sum("cents").cast(LongType).as("rev"))
      .select(col("cohort"), (col("w") - col("cohort")).as("age"), col("rev"))
    val sizes = cohort.groupBy("cohort")
      .agg(count(lit(1)).cast(LongType).as("n_users"))
    Prefix.runningSum(act, col("cohort"), Seq(col("age").asc), col("rev"), "cum")
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("age"), col("rev"), col("cum").cast(LongType).as("cum_rev"),
        expr("cast(cum as decimal(38,0)) * 1000000 div n_users").as("ltv_micros"),
        col("n_users"))
  }

  /** Daily purchaser decomposition into NEW / RETAINED / RESURRECTED —
    * the growth-accounting census behind every DAU chart: new = first
    * purchase day, retained = also purchased the day before,
    * resurrected = returning after a gap of ≥1 day. Day grain over
    * purchase events (the fixture's users fire some event every day, so
    * an any-event month/week decomposition is degenerate; purchase days
    * have real gaps — all three classes populated at every SF, probed
    * 93/897/9059 resurrections). One distinct user-day frame, one d−1
    * self-join, one first-day join — integer micros rates; the three
    * classes partition actives exactly.
    */
  private val resurrectionRate: Q = (s, d) => {
    val um = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("m"))
      .distinct()
      .ckpt() // self-join both sides + first-day frame
    val first = um.groupBy("user_id").agg(min("m").cast(LongType).as("fm"))
    val prev = um.select(col("user_id"), (col("m") + 1).as("m"), lit(1L).as("was_prev"))
    um.join(prev, Seq("user_id", "m"), "left")
      .join(first, Seq("user_id"))
      .groupBy("m")
      .agg(
        count(lit(1)).cast(LongType).as("n_active"),
        sum(when(col("fm") === col("m"), 1L).otherwise(0L)).cast(LongType).as("n_new"),
        sum(when(col("was_prev").isNotNull && col("fm") < col("m"), 1L).otherwise(0L))
          .cast(LongType).as("n_retained"),
        sum(when(col("was_prev").isNull && col("fm") < col("m"), 1L).otherwise(0L))
          .cast(LongType).as("n_resurrected"))
      .select(col("m"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        expr("n_resurrected * 1000000 div n_active").as("resurrect_micros"),
        expr("n_retained * 1000000 div n_active").as("retain_micros"))
  }

  /** Kruskal–Wallis k-sample test — does quantity's distribution differ
    * across the three return-flag populations: the k-group
    * generalization of the Mann–Whitney machinery behind
    * [[rocAucExact]], completing the nonparametric family (U → KW).
    * Ranks are ONE [[Prefix.globalRank]] pass over the pooled rows on
    * the TOTAL order (q, orderkey, linenumber, g) — the deterministic
    * tie-break variant, as [[spearmanDaily]]: textbook midranks are
    * fractional; on near-tie-free data they coincide and the convention
    * is pinned in both engines. Per-group rank sums R_j and sizes n_j
    * are exact int64/decimal38; H = 12·ΣR_j²/n_j / (N(N+1)) − 3(N+1)
    * renders through ONE pinned double chain (the kappa pattern — exact
    * integers in, identical IEEE bits out; an all-integer H needs
    * Πn_j-scaled numerators that pass decimal38 near sf10). Verdict vs
    * the baked χ²(2) critical constant 5.991465.
    */
  private val kruskalWallis: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val rows = lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast(LongType).as("q"),
        col("l_orderkey"), col("l_linenumber"))
    // The sort key ENDS in g: the fixture's lineitem (deliberately, per
    // dq_expectations) contains duplicate (orderkey, linenumber) pairs,
    // so (q, ok, ln) alone is NOT total — engines may permute tied rows
    // ACROSS flags and shift the per-group rank sums (caught at the sf1
    // gate, round 7: h_micros off by 2e-6). With g last, any remaining
    // tie class is single-flag, making every R_j permutation-invariant.
    val ranked = Prefix.globalRank(rows,
      Seq(col("q").asc, col("l_orderkey").asc, col("l_linenumber").asc,
        col("g").asc), "r")
    // the three flags are a data-model constant (like Benford's digit
    // table); pivoting them into ONE row pins the Σ R²/n fold order —
    // a double SUM over a group-by would re-associate under re-planning
    val tot = ranked.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(when(col("g") === "A", 1L).otherwise(0L)).cast(LongType).as("na"),
      sum(when(col("g") === "A", col("r")).otherwise(0L)).cast(LongType).as("ra"),
      sum(when(col("g") === "N", 1L).otherwise(0L)).cast(LongType).as("nn"),
      sum(when(col("g") === "N", col("r")).otherwise(0L)).cast(LongType).as("rn"),
      sum(when(col("g") === "R", 1L).otherwise(0L)).cast(LongType).as("nr"),
      sum(when(col("g") === "R", col("r")).otherwise(0L)).cast(LongType).as("rr"))
    def term(rj: Column, nj: Column): Column =
      (rj.cast(dec) * rj.cast(dec)).cast(DoubleType) / nj.cast(DoubleType)
    val srq = term(col("ra"), col("na")) + term(col("rn"), col("nn")) +
      term(col("rr"), col("nr"))
    tot.select(col("n"), col("na"), col("nn"), col("nr"),
      floor((lit(12.0) * srq /
          (col("n").cast(DoubleType) * (col("n") + 1).cast(DoubleType)) -
          lit(3.0) * (col("n") + 1).cast(DoubleType)) * lit(1e6))
        .cast(LongType).as("h_micros"))
      .withColumn("significant", (col("h_micros") > 5991465L).cast(LongType))
  }

  /** One-way ANOVA F-test for mean quantity across the three return-flag
    * populations — the parametric sibling of [[kruskalWallis]] (means vs
    * rank distributions), completing the k-sample pair the way
    * [[wilcoxonSignedRank]] pairs with the t-family. Everything upstream
    * of the render is exact: per-group counts and sums are int64, Σx² and
    * the squared sums bridge decimal38 (S² ≈ 2.3e20 at sf100 — past
    * int64, far under the 1e38 ceiling). The F statistic itself renders
    * through ONE pinned double chain in the written order (the kappa /
    * kruskal pattern — exact integers in, identical IEEE bits out; an
    * all-integer F needs Πn_j-scaled numerators that blow decimal38 by
    * sf10). Verdict vs the baked F(2, ∞) 5 % critical value 2.995732 —
    * at N in the millions the finite-df correction is below the micro
    * rendering grain, the same df→∞ convention [[kruskalWallis]]' χ²
    * constant already pins.
    */
  private val anovaOneway: Q = (s, d) =>
    anovaFold(lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast(LongType).as("q")))

  /** The one-way-ANOVA F fold over a (g ∈ {A, N, R}, q: long) frame —
    * shared by [[anovaOneway]] (on raw values) and
    * [[leveneBrownForsythe]] (on |x − group median| deviations): one
    * hash aggregate to the exact moment row, the pinned double F chain,
    * the baked F(2, ∞) verdict.
    */
  private def anovaFold(rows: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val m = rows.agg(
        count(lit(1)).cast(LongType).as("n"),
        sum("q").cast(LongType).as("sx"),
        sum((col("q") * col("q")).cast(dec)).cast(dec).as("sxx"),
        sum(when(col("g") === "A", 1L).otherwise(0L)).cast(LongType).as("na"),
        sum(when(col("g") === "A", col("q")).otherwise(0L)).cast(LongType).as("sa"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).cast(LongType).as("nn"),
        sum(when(col("g") === "N", col("q")).otherwise(0L)).cast(LongType).as("sn"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).cast(LongType).as("nr"),
        sum(when(col("g") === "R", col("q")).otherwise(0L)).cast(LongType).as("sr"))
    def term(sj: Column, nj: Column): Column =
      (sj.cast(dec) * sj.cast(dec)).cast(DoubleType) / nj.cast(DoubleType)
    val corr = term(col("sx"), col("n"))
    val ssb = term(col("sa"), col("na")) + term(col("sn"), col("nn")) +
      term(col("sr"), col("nr")) - corr
    val ssw = (col("sxx").cast(DoubleType) - corr) - ssb
    m.select(col("n"), col("na"), col("nn"), col("nr"),
        floor(ssb / lit(2.0) * (col("n") - 3).cast(DoubleType) / ssw * lit(1e6))
          .cast(LongType).as("f_micros"))
      .withColumn("significant", (col("f_micros") > 2995732L).cast(LongType))
  }

  /** Brown–Forsythe (median-based Levene) test for equal VARIANCES
    * across the return-flag populations — the dispersion companion to
    * [[anovaOneway]]'s mean test, and the standard pre-check before
    * trusting pooled-variance inference. z = |x − median_g| with each
    * group's EXACT lower median from one [[Quantile.rankPicks]]
    * histogram pass (the outlier_mad machinery — never a per-group
    * sort), then the SAME [[anovaFold]] F chain on z. Medians and z are
    * integers, so the whole fold keeps the anova exactness story; the
    * 3-row median frame broadcasts back onto the scan.
    */
  private val leveneBrownForsythe: Q = (s, d) => {
    val b = lineitem(s, d).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast(LongType).as("q"),
      col("l_orderkey"), col("l_linenumber"))
    val med = Quantile.rankPicks(
        b, col("g"), col("q"), Seq(col("l_orderkey"), col("l_linenumber")),
        Seq("med" -> ((n: Column) => idiv(n + 1, 2))),
        "g", "m")
      .select(col("g"), col("m").cast(LongType).as("m"))
    anovaFold(
      b.join(broadcast(med), Seq("g"))
        .select(col("g"), abs(col("q") - col("m")).as("q")))
  }

  /** Cochran–Armitage trend test — is the return rate MONOTONE in order
    * priority (dose 1-URGENT … 5-LOW read off the priority prefix
    * digit)? The ordered-alternative sibling of [[chi2Independence]]:
    * χ² asks "any association", Armitage asks "a directional one",
    * which is the question a triage or dose-response review actually
    * has. All moments exact int64/decimal38 from ONE lineitem⋈orders
    * pass (numerator N·Σwr − R·Σw ≈ 5e18 at sf100 — bridges decimal38;
    * its square would not, so z² renders through the pinned double
    * chain with num/den carried exactly to the last step). Verdict vs
    * the baked χ²(1) 5 % critical value 3.841459. Lines whose order is
    * missing (the fixture plants orphans — see orphan_audit) are
    * excluded by the inner join, documented here and mirrored exactly.
    */
  private val trendTestArmitage: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val m = lineitem(s, d)
      .select(col("l_orderkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .join(
        orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          substring(col("o_orderpriority"), 1, 1).cast(LongType).as("w")),
        Seq("l_orderkey"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum("r").cast(LongType).as("rr"),
        sum("w").cast(LongType).as("sw"),
        sum((col("w") * col("w")).cast(dec)).cast(dec).as("sww"),
        sum((col("w") * col("r")).cast(dec)).cast(dec).as("swr"))
    val num = m("n").cast(dec) * m("swr") - m("rr").cast(dec) * m("sw").cast(dec)
    val den = (m("rr").cast(dec) * (m("n") - m("rr")).cast(dec)).cast(dec) *
      (m("n").cast(dec) * m("sww") - m("sw").cast(dec) * m("sw").cast(dec))
    m.select(m("n").as("n_lines"), m("rr").as("n_returned"),
        m("sw").cast(LongType).as("sum_dose"),
        floor(
          num.cast(DoubleType) * num.cast(DoubleType) * m("n").cast(DoubleType) /
            den.cast(DoubleType) * lit(1e6))
          .cast(LongType).as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  /** Kendall τ-a between daily revenue and daily event volume — the
    * pair-concordance companion to [[spearmanDaily]] (τ weighs each
    * discordant pair once; ρ weighs by rank displacement, so they
    * disagree exactly when a few large swaps vs many small ones matter).
    * Concordant / discordant / tie counts are EXACT integers from the
    * one bounded pairwise pass: the day frame is capped by the calendar
    * (the [[theilSenSlope]] / [[hodgesLehmann]] bounded-cross argument —
    * ≤730² pairs at ANY corpus size), after one hash agg collapses the
    * fact table to day grain. τ renders as one integral decimal38
    * division in micros (both engines truncate toward zero — the
    * negative-safe convention [[spearmanDaily]] probed).
    */
  private val kendallTauDaily: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"),
        count(lit(1)).cast(LongType).as("cnt"))
      .ckpt() // both sides of the bounded day-grain cross
    val b = daily.select(col("day").as("day_b"), col("rev").as("rev_b"),
      col("cnt").as("cnt_b"))
    daily.join(b, col("day") < col("day_b"))
      .select(
        ((col("rev") - col("rev_b")).cast(dec) *
          (col("cnt") - col("cnt_b")).cast(dec)).as("prod"))
      .agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(when(col("prod") > 0, 1L).otherwise(0L)).cast(LongType).as("concordant"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).cast(LongType).as("discordant"),
        sum(when(col("prod") === 0, 1L).otherwise(0L)).cast(LongType).as("ties"))
      .withColumn("tau_micros",
        expr("cast((cast(concordant as decimal(38,0)) - discordant) * 1000000" +
          " div n_pairs as bigint)"))
  }

  /** Association rules over the co-purchase baskets — top-20 DIRECTED
    * rules a→b by lift: conf(a→b) = n_ab/d_a, lift = n_ab·N/(d_a·d_b),
    * both in integer micros (N = basket count; lift > 1e6 ⟺ b is more
    * likely given a than baseline — the measure [[itemItemJaccard]]'s
    * symmetric overlap cannot express, and the confidence asymmetry is
    * the point: a niche part implying a popular one ≠ the reverse).
    * Same linear-in-SF pair volume as [[basketPairs]]; both directions
    * come from ONE undirected pair agg exploded twice, degrees one hash
    * agg joined twice, N one broadcast 1-row frame. Min support
    * n_ab ≥ 2, the [[itemItemJaccard]] guard. Lift products bridge
    * decimal38 (n_ab·N·1e6 ≈ 1e21 at sf100 — past int64, nowhere near
    * 1e38). Deterministic total order (lift, conf, a, b).
    */
  private val associationRules: Q = (s, d) => {
    val items = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .ckpt() // pair self-join + degrees + basket count
    val nBaskets = items.agg(countDistinct("ok").cast(LongType).as("n_baskets"))
    val b = items.select(col("ok"), col("pk").as("pk2"))
    val und = items.join(b, Seq("ok"))
      .filter(col("pk") < col("pk2"))
      .groupBy(col("pk").as("x"), col("pk2").as("y"))
      .agg(count(lit(1)).cast(LongType).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val directed = und.select(col("x").as("a"), col("y").as("b_"), col("n_ab"))
      .unionAll(und.select(col("y").as("a"), col("x").as("b_"), col("n_ab")))
    val deg = items.groupBy("pk").agg(count(lit(1)).cast(LongType).as("dv"))
    directed
      .join(deg.select(col("pk").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("pk").as("b_"), col("dv").as("db")), Seq("b_"))
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b_").as("b"), col("n_ab"),
        expr("n_ab * 1000000 div da").as("conf_micros"),
        expr("cast(cast(n_ab as decimal(38,0)) * n_baskets * 1000000" +
          " div (cast(da as decimal(38,0)) * db) as bigint)").as("lift_micros"))
      .orderBy(desc("lift_micros"), desc("conf_micros"), asc("a"), asc("b"))
      .limit(20)
  }

  /** Calibration (reliability) bins of the density scorer read as a
    * probability of `lang = 'en'` — the diagnosis [[TextQueries]]'
    * brier_score summarizes into one number: per predicted-probability
    * decile, how far the observed positive rate sits from the mean
    * prediction, plus each bin's exact contribution to expected
    * calibration error (ECE = Σ n_b·|gap_b| / N — emitted as the exact
    * integer numerator mass per bin so the oracle replays it without a
    * second pass). All integer micros: prediction is the clamped
    * permille density ×1000, bin = pred div 100000 clamped to 9, per-bin
    * means one floor division each. One corpus scan, one ≤10-row hash
    * agg — no second pass (N, if a reader wants ECE itself, is Σ n_bin
    * over the emitted rows).
    */
  private val calibrationBins: Q = (s, d) => {
    documents(s, d)
      .select(col("lang"),
        split(coalesce(TextStats.normText(col("text")), lit("")), " ").as("toks"))
      .select(
        expr("""least(cast(size(filter(toks, tk -> tk IN ('the','of','and','to','a','in'))) as bigint)
                * 1000 div greatest(cast(size(toks) as bigint), 1), 1000) * 1000""").as("pred"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("bin", least(expr("pred div 100000"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).cast(LongType).as("n_bin"),
        sum("pred").cast(LongType).as("sum_pred"),
        sum("pos").cast(LongType).as("n_pos"))
      .select(col("bin"), col("n_bin"), col("n_pos"),
        expr("sum_pred div n_bin").as("mean_pred_micros"),
        expr("n_pos * 1000000 div n_bin").as("obs_micros"))
      .withColumn("gap_micros",
        abs(col("mean_pred_micros") - col("obs_micros")))
      .withColumn("ece_mass", col("n_bin") * col("gap_micros"))
      .orderBy("bin")
  }

  /** Zipf slope of the term rank–frequency law, TRANSCENDENTAL-FREE: both
    * axes quantize to exact floor-log2 buckets (length(bin(x))−1 — the
    * bit length, identical integers in both engines; a float log2 would
    * put boundary values in different buckets per-ulp), then the
    * [[olsTrendExact]] moment machinery fits the line: exact int64
    * moments over the vocab frame, ONE pinned double division per
    * coefficient. Natural text slopes ≈ −1; a far-off slope flags
    * boilerplate or synthetic floods. Rank from one
    * [[Prefix.globalRank]] pass on (count desc, term).
    */
  private val zipfSlopeBucketed: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val tc = TextStats.terms(documents(s, d), "doc_id", "text")
      .groupBy("term").agg(count(lit(1)).cast(LongType).as("f"))
    val xy = Prefix.globalRank(tc, Seq(col("f").desc, col("term").asc), "r")
      .select((length(bin(col("r"))) - 1).cast(LongType).as("x"),
        (length(bin(col("f"))) - 1).cast(LongType).as("y"))
    val m = xy.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("x").cast(LongType).as("sx"),
      sum((col("x") * col("x")).cast(dec)).cast(dec).as("sxx"),
      sum("y").cast(LongType).as("sy"),
      sum((col("x") * col("y")).cast(dec)).cast(dec).as("sxy"))
    val sNum = m("n").cast(dec) * m("sxy") - m("sx").cast(dec) * m("sy").cast(dec)
    val sDen = m("n").cast(dec) * m("sxx") - m("sx").cast(dec) * m("sx").cast(dec)
    val iNum = m("sy").cast(dec) * m("sxx") - m("sx").cast(dec) * m("sxy")
    m.select(m("n").as("n_terms"),
      floor(sNum.cast(DoubleType) * 1e6 / sDen.cast(DoubleType))
        .cast(LongType).as("slope_micros"),
      floor(iNum.cast(DoubleType) * 1e6 / sDen.cast(DoubleType))
        .cast(LongType).as("intercept_micros"))
  }

  /** U-shaped (position-based) multi-touch attribution — the third
    * standard model beside [[attributionLastTouch]] and
    * [[attributionLinear]]: 40 % of a purchase's revenue to the FIRST
    * preceding touch, 40 % to the LAST, the remaining middle mass split
    * across middle touches by type counts — all integer floors with
    * every remainder pinned to the last touch, so Σ credits = Σ revenue
    * EXACTLY per purchase (the conservation invariant the oracle
    * replays). Single-touch purchases give that touch everything;
    * two-touch purchases route the middle mass to the last touch (no
    * middles exist); zero-touch purchases stay 'organic'. One
    * user-partitioned window pass computes first/last/counts together.
    */
  private val attributionUshape: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val types = Seq("click", "view", "signup", "error")
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    var df = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .withColumn("first_t", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_t", last(touch, ignoreNulls = true).over(w))
    for (t <- types)
      df = df.withColumn(s"c_$t",
        coalesce(sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w), lit(0L)))
    val p = df.filter(col("event_type") === "purchase")
      .withColumn("n_touch", types.map(t => col(s"c_$t")).reduce(_ + _))
      .ckpt() // organic/single/multi branch reads
    val multi = p.filter(col("n_touch") >= 2)
      .withColumn("fcred", expr("cents * 4 div 10"))
      .withColumn("lcred", expr("cents * 4 div 10"))
      .withColumn("mtot", col("cents") - col("fcred") - col("lcred"))
      .withColumn("nmid", col("n_touch") - 2)
    def cmid(t: String) =
      s"(c_$t - (case when first_t = '$t' then 1 else 0 end) - (case when last_t = '$t' then 1 else 0 end))"
    val midFloor = types.map(t => s"case when nmid > 0 then mtot * ${cmid(t)} div nmid else 0 end")
    val credits = p.filter(col("n_touch") === 0)
      .select(lit("organic").as("channel"), col("cents").as("credit"))
      .union(p.filter(col("n_touch") === 1)
        .select(col("first_t").as("channel"), col("cents").as("credit")))
      .union(multi.select(col("first_t").as("channel"), col("fcred").as("credit")))
      .union(multi.select(col("last_t").as("channel"), col("lcred").as("credit")))
      .union(types.zip(midFloor).map { case (t, f) =>
        multi.select(lit(t).as("channel"), expr(f).as("credit"))
      }.reduce(_ union _))
      .union(multi.select(col("last_t").as("channel"),
        (col("mtot") - expr(midFloor.mkString(" + "))).as("credit")))
    credits.groupBy("channel")
      .agg(sum("credit").cast(LongType).as("credit_cents"))
      .filter(col("credit_cents") > 0)
      .orderBy("channel")
  }

  /** Cliff's delta effect size between returned and kept quantity
    * distributions — the magnitude companion to [[ksTwoSample]]'s
    * verdict (a test says "different", δ says "by how much, robustly"):
    * δ = (#{x>y} − #{x<y})/(n₁n₂), EXACT from the same aggregate-first
    * machinery — one hash agg to the ≤50-value frame, one
    * [[Prefix.runningSum]] CDF pass, then #{x>y} = Σ_v c₁(v)·C₂(<v) and
    * #{x<y} symmetric, all decimal38; one integral division to micros
    * (negative-safe, both engines truncate toward zero — probed).
    */
  private val cliffsDelta: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val f = lineitem(s, d)
      .select(col("l_quantity").cast(LongType).as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy("q")
      .agg(sum("r").cast(LongType).as("c1"),
        (count(lit(1)) - sum("r")).cast(LongType).as("c2"))
    val cum = Prefix.runningSum(f, lit(0L), Seq(col("q").asc), col("c2"), "cum2")
    // OPTIMIZATION r11: totals off the materialized cum frame (same
    // c1/c2 rows) — the separate f subtree was a second lineitem scan
    val tot = cum.agg(sum("c1").cast(LongType).as("n1"), sum("c2").cast(LongType).as("n2"))
    cum.crossJoin(broadcast(tot))
      .agg(
        sum(col("c1").cast(dec) * (col("cum2") - col("c2")).cast(dec)).cast(dec).as("ngt"),
        sum(col("c1").cast(dec) * (col("n2") - col("cum2")).cast(dec)).cast(dec).as("nlt"),
        min("n1").as("n1"), min("n2").as("n2"))
      .select(col("n1"), col("n2"),
        expr("cast((ngt - nlt) * 1000000 div (cast(n1 as decimal(38,0)) * n2) as bigint)")
          .as("delta_micros"))
  }

  /** Hodges–Lehmann shift estimator between the same two populations —
    * the robust "how far apart are they" location statistic: the median
    * of ALL pairwise differences x−y, computed WITHOUT materializing
    * n₁·n₂ pairs: the ≤50-value frames cross to ≤2500 (diff, weight =
    * c₁·c₂) rows at ANY data size, one weighted-median pick on a
    * [[Prefix.runningSum]] of weights in (diff, v1) order — the
    * [[weightedMedian]] machinery applied to a derived distribution.
    * All integers; the lower weighted median convention pinned.
    */
  private val hodgesLehmann: Q = (s, d) => {
    val f = lineitem(s, d)
      .select(col("l_quantity").cast(LongType).as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy("q")
      .agg(sum("r").cast(LongType).as("c1"),
        (count(lit(1)) - sum("r")).cast(LongType).as("c2"))
      .ckpt() // both sides of the bounded cross
    val pairs = f.filter(col("c1") > 0).select(col("q").as("v1"), col("c1"))
      .join(f.filter(col("c2") > 0).select(col("q").as("v2"), col("c2")),
        lit(true))
      .select((col("v1") - col("v2")).as("d"), col("v1"),
        (col("c1") * col("c2")).as("w"))
    val cum = Prefix.runningSum(pairs, lit(0L),
      Seq(col("d").asc, col("v1").asc), col("w"), "cw")
    // OPTIMIZATION r11, tried and REVERTED: totals off the cum frame
    // (the cliffs/kaplan move) measured +9% wall and +3 jobs here — the
    // pairs subtree is a bounded broadcast cross off the ckpt'd ≤50-row
    // value frame, already cheaper than replaying the Prefix output plan
    val tot = pairs.agg(sum("w").cast(LongType).as("wt"))
    cum.crossJoin(broadcast(tot))
      .agg(
        min(when(col("cw") >= expr("(wt + 1) div 2"), col("d")))
          .cast(LongType).as("hl_shift"),
        min("wt").as("n_pairs"))
  }

  /** Wilcoxon signed-rank test on the PAIRED day vs day−7 revenue series
    * — "is this week systematically different from last week", the
    * paired complement of [[ksTwoSample]]/[[kruskalWallis]] (unpaired)
    * and the nonparametric sibling of [[seasonalNaiveBacktest]]'s MAE.
    * Pairs from one calendar self-join on the bounded day frame; zero
    * differences dropped (the standard Wilcoxon practice, pinned);
    * |d| ranks from ONE [[Prefix.globalRank]] pass with the (|d|, day)
    * deterministic tie-break convention; W⁺ exact, and z² cross-
    * multiplies to 3(4W−n(n+1))²/(2n(n+1)(2n+1)) — one decimal38
    * integral division to micros, baked χ²(1) verdict.
    */
  private val wilcoxonSignedRank: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // both sides of the lag join
    val diffs = daily.select((col("day") + 7).as("day"), col("rev").as("prev"))
      .join(daily, Seq("day"))
      .select(col("day"), (col("rev") - col("prev")).as("dd"))
      .filter(col("dd") =!= 0)
    val ranked = Prefix.globalRank(diffs,
      Seq(abs(col("dd")).asc, col("day").asc), "r")
    ranked.agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(when(col("dd") > 0, col("r")).otherwise(0L)).cast(LongType).as("wplus"))
      .select(col("n"), col("wplus"),
        expr("""case when n = 0 then 0L else
                cast(3 as decimal(38,0)) * (4 * wplus - n * (n + 1)) * (4 * wplus - n * (n + 1))
                * 1000000 div (cast(2 as decimal(38,0)) * n * (n + 1) * (2 * n + 1)) end""")
          .as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  /** The 20 baked 1e6/log2(i+1) nDCG position discounts — the Benford
    * pattern: fixed table constants on both engines instead of a
    * query-time transcendental.
    */
  private val ndcgDiscounts: Seq[Long] = Seq(1000000L, 630929L, 500000L,
    430676L, 386852L, 356207L, 333333L, 315464L, 301029L, 289064L, 278942L,
    270238L, 262649L, 255958L, 250000L, 244650L, 239812L, 235408L, 231378L,
    227670L)

  /** nDCG@20 of the [[bm25TopK]] ranking against the graded relevance
    * "how many of the query's terms the doc contains" (1–3) — the
    * standard ranking-quality metric, TRANSCENDENTAL-FREE because the
    * twenty 1/log2(i+1) discounts are BAKED integer constants (the
    * Benford move). DCG folds gain·discount over the ranked 20; IDCG
    * re-ranks the same 20 by (relevance desc, doc_id); everything after
    * the BM25 cut runs on a 20-row frame, ranks via
    * [[Prefix.globalRank]], one integral division to micros.
    */
  private val ndcgBm25: Q = (s, d) => {
    val docs = documents(s, d)
    val tok = docs.select(col("doc_id"),
      size(split(coalesce(TextStats.normText(col("text")), lit("")), " "))
        .cast(LongType).as("dl"))
    val stats = tok.agg(count(lit(1)).cast(LongType).as("n_docs"),
      sum(col("dl")).cast(LongType).as("t_tok"))
    val top = TextStats.tfDf(docs, "doc_id", "text")
      .filter(col("term").isin("dup", "vector", "merge"))
      .join(tok, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sat",
        expr("(22 * tf * t_tok * 1000000) div (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs)"))
      .withColumn("contrib",
        expr("(sat * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).cast(LongType).as("score_micros"),
        count(lit(1)).cast(LongType).as("rel"))
      .orderBy(desc("score_micros"), asc("doc_id"))
      .limit(20)
    // OPTIMIZATION r11: everything after the BM25 cut is a ≤20-row frame
    // BY CONSTRUCTION (the limit above), yet DCG and IDCG each ran a
    // full Prefix.globalRank train over it (2× range exchange + ckpt +
    // window + offsets join) plus a crossJoin. The 20 (doc_id, score,
    // rel) rows collect to the driver (bounded — the Quantile-census
    // precedent), both rank orders and the discount fold run as exact
    // int64 driver arithmetic, and the 1-row answer re-enters as
    // literals. Same total orders, same baked discounts, same floor
    // division.
    val rows = top.select(col("doc_id"), col("score_micros"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def fold(ord: Array[(Long, Long, Long)]): Long =
      ord.zip(ndcgDiscounts).map { case ((_, _, rel), disc) => rel * disc }.sum
    val dcg = fold(rows.sortBy { case (id, sc, _) => (-sc, id) })
    val idcg = fold(rows.sortBy { case (id, _, rel) => (-rel, id) })
    val s2 = top.sparkSession
    import s2.implicits._
    Seq((dcg, idcg, dcg * 1000000L / idcg))
      .toDF("dcg", "idcg", "ndcg_micros")
  }

  /** Exact 7-day rolling user reach per day — the deduplicated-audience
    * metric a DAU chart can't give (Σ DAU double-counts returners).
    * Exact WITHOUT a sliding-window distinct (which Spark can't
    * incrementalize): each distinct (user, day) pair is exploded to the
    * ≤7 window days it serves, the pair set deduplicated once, and
    * reach is a plain count per window day — a 7× row factor on the
    * DAY-GRAIN frame, not the event table, then hash aggs all the way.
    * Reported only for days that exist in the data (semi-join), with
    * the DAU/reach ratio in micros (1e6 = everyone new every day).
    */
  private val reach7d: Q = (s, d) => {
    val ud = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"))
      .distinct()
      .ckpt() // window explosion + DAU + real-day list
    val reach = ud
      .withColumn("k", explode(sequence(lit(0L), lit(6L))))
      .select(col("user_id"), (col("day") + col("k")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).cast(LongType).as("reach_7d"))
      .join(ud.select("day").distinct(), Seq("day"), "left_semi")
    reach
      .join(ud.groupBy("day").agg(count(lit(1)).cast(LongType).as("dau")), Seq("day"))
      .select(col("day"), col("dau"), col("reach_7d"),
        expr("dau * 1000000 div reach_7d").as("dau_share_micros"))
  }

  /** k-anonymity / l-diversity release-gate audit over the customer
    * table — before a dataset ships, every quasi-identifier group
    * (nation, market segment) must hold ≥k rows (k-anonymity: no one is
    * re-identifiable by the QI tuple) and ≥l distinct sensitive values
    * (l-diversity: knowing the group must not reveal the sensitive
    * attribute — here the account-balance sign+magnitude bucket). One
    * hash agg to the ≤|nation|·|segment| group frame, then a census:
    * minimum k, minimum l, and the row mass in groups failing k<5 /
    * l<3 — the numbers a privacy review asks for, all exact counts.
    */
  private val kAnonymityAudit: Q = (s, d) => {
    val grp = customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        // sensitive attribute bucketed: sign + thousands magnitude
        (floor(dec2(col("c_acctbal")) / 1000).cast(LongType)).as("bal_k"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).cast(LongType).as("n"),
        countDistinct("bal_k").cast(LongType).as("l"))
    grp.agg(
      count(lit(1)).cast(LongType).as("n_groups"),
      sum("n").cast(LongType).as("n_rows"),
      min("n").cast(LongType).as("k_min"),
      min("l").cast(LongType).as("l_min"),
      sum(when(col("n") < 5, col("n")).otherwise(0L)).cast(LongType).as("rows_below_k5"),
      sum(when(col("l") < 3, col("n")).otherwise(0L)).cast(LongType).as("rows_below_l3"))
  }

  /** Exact trailing 7-day rolling MEDIAN of daily revenue — the robust
    * level estimate a spiky daily series needs where the rolling mean
    * ([[RelationalQueries]]' rolling_7d_value) chases outliers. No
    * sliding-window rank exists in any engine's incremental form, so the
    * scale shape is the [[reach7d]] move: each day's revenue is exploded
    * to the ≤7 trailing windows it serves (a 7× factor on the
    * CALENDAR-BOUNDED day frame, never a per-row window), grouped per
    * served day, and the exact lower median is one `sort_array` +
    * `element_at((n+1) div 2)` over the ≤7-element group — collect_list
    * order is partition-dependent, the sort pins it. Windows truncated
    * by the calendar head report their real n_window. Served days beyond
    * the data's last day are dropped by the semi-join back to the day
    * frame.
    */
  private val rollingMedian7d: Q = (s, d) => {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // window explode + the served-day semi-join
    daily
      .withColumn("k", explode(sequence(lit(0L), lit(6L))))
      .select((col("day") + col("k")).as("day"), col("rev"))
      .join(daily.select("day"), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(count(lit(1)).cast(LongType).as("n_window"),
        sort_array(collect_list(col("rev"))).as("w"))
      .select(col("day"), col("n_window"),
        element_at(col("w"), expr("cast((n_window + 1) div 2 as int)"))
          .cast(LongType).as("median_rev"))
  }

  /** Cramér's V association strength between return flag and line
    * status — the EFFECT-SIZE companion [[chi2Independence]] (a test)
    * lacks: χ² grows with n on any non-zero dependence, V ∈ [0,1] does
    * not, so V is the number a profiling report can threshold. Same
    * defined contract as chi2: per-cell contributions
    * (o·n − r·c)²·10⁶/(r·c·n) floored to micros and summed (the pinned
    * integer surface), then V = √(χ²/(n·min(r−1,c−1))) through one
    * correctly-rounded sqrt — the one transcendental-free root the house
    * rules allow (+,−,·,/,√ are all IEEE-exact). One hash agg to the
    * ≤6-cell frame; marginals and the census ride the checkpointed cells.
    */
  private val cramersV: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val obs = lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).cast(LongType).as("o"))
      .ckpt() // marginals + cell pass
    val rt = obs.groupBy("l_returnflag").agg(sum("o").cast(LongType).as("r"))
    val ct = obs.groupBy("l_linestatus").agg(sum("o").cast(LongType).as("c"))
    val nt = obs.agg(sum("o").cast(LongType).as("n"),
      countDistinct("l_returnflag").cast(LongType).as("nr"),
      countDistinct("l_linestatus").cast(LongType).as("nc"))
    obs.join(rt, Seq("l_returnflag")).join(ct, Seq("l_linestatus"))
      .crossJoin(broadcast(nt))
      .select(col("n"), col("nr"), col("nc"),
        floor(
          (col("o").cast(dec) * col("n").cast(dec) -
            col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) *
            (col("o").cast(dec) * col("n").cast(dec) -
              col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) * lit(1e6) /
            ((col("r").cast(dec) * col("c").cast(dec)).cast(DoubleType) *
              col("n").cast(DoubleType)))
          .cast(LongType).as("contrib"))
      .groupBy()
      .agg(min("n").as("n_total"),
        least(min("nr") - 1, min("nc") - 1).cast(LongType).as("min_df"),
        sum("contrib").cast(LongType).as("chi2_micros"))
      .withColumn("v_micros",
        floor(sqrt(col("chi2_micros").cast(DoubleType) / lit(1000000.0) /
          (col("n_total").cast(DoubleType) * col("min_df").cast(DoubleType))) * lit(1000000.0))
          .cast(LongType))
  }

  /** Pairwise Pearson correlation census over the four numeric lineitem
    * measures (quantity, extended-price cents, discount %, tax %) — the
    * profiling matrix [[RelationalQueries]]'s single-pair corr_qty_price
    * samples: every pair from ONE full-relation aggregation (4 sums, 4
    * sums of squares, 6 cross-moments, all exact in int64/decimal38 —
    * n·Σxy ≤ ~2e26 at sf100 against the 1e38 ceiling), assembled into 6
    * rows by unioned projections of the single checkpointed 1-row moment
    * frame. Signed squared correlation sign(sNum)·sNum²·10⁶/(Sxx·Syy)
    * avoids sqrt-of-rational drift: sNum² would cross decimal38, so the
    * square lives in the pinned double render (the [[olsTrendExact]] r²
    * convention).
    */
  private val corrMatrix: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val base = lineitem(s, d).select(
      col("l_quantity").cast(LongType).as("qty"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("price"),
      (rate2(col("l_discount")) * 100).cast(LongType).as("disc"),
      (rate2(col("l_tax")) * 100).cast(LongType).as("tax"))
    val cols = Seq("qty", "price", "disc", "tax")
    val m = base.agg(
      count(lit(1)).cast(LongType).as("n"),
      cols.flatMap(x => Seq(
        sum(col(x)).cast(LongType).as(s"s_$x"),
        sum(col(x).cast(dec) * col(x).cast(dec)).cast(dec).as(s"ss_$x"))) ++
        cols.combinations(2).toSeq.map { case Seq(x, y) =>
          sum(col(x).cast(dec) * col(y).cast(dec)).cast(dec).as(s"sp_${x}_$y") }: _*)
      .ckpt() // six pair projections below
    val pairs = cols.combinations(2).toSeq.map { case Seq(x, y) =>
      val sNum = (col("n").cast(dec) * col(s"sp_${x}_$y") -
        col(s"s_$x").cast(dec) * col(s"s_$y").cast(dec)).cast(dec)
      val sxx = (col("n").cast(dec) * col(s"ss_$x") -
        col(s"s_$x").cast(dec) * col(s"s_$x").cast(dec)).cast(dec)
      val syy = (col("n").cast(dec) * col(s"ss_$y") -
        col(s"s_$y").cast(dec) * col(s"s_$y").cast(dec)).cast(dec)
      m.select(lit(x).as("x_col"), lit(y).as("y_col"), col("n"),
        (when(sNum < 0, lit(-1L)).otherwise(lit(1L)) *
          floor(sNum.cast(DoubleType) * sNum.cast(DoubleType) * lit(1000000.0) /
            (sxx.cast(DoubleType) * syy.cast(DoubleType))).cast(LongType))
          .as("r2_signed_micros"))
    }
    pairs.reduce(_ unionByName _)
  }

  /** Yuen's trimmed-means t-test between returned and kept quantity
    * populations — the ROBUST location test completing the two-sample
    * family ([[ksTwoSample]] tests shape, [[cliffsDelta]] reports
    * dominance, Yuen tests trimmed means without the outlier fragility
    * of Student's t): 20 % trimmed means with winsorized variances,
    * t² = (m̄t₁−m̄t₂)² / (d₁+d₂), dⱼ = SSWⱼ/(nⱼhⱼ(hⱼ−1)). Everything
    * derives from the same ≤50-row weighted value frame as cliffs: two
    * [[Prefix.runningSum]] CDF passes, trim counts gⱼ = nⱼ div 5, and
    * the tie-aware per-value kept-copy count max(0, min(cum, n−g) −
    * max(cum−c, g)) — count-based trimming cuts INSIDE a tie class
    * exactly, the convention a rank-based trim must pin. Winsorization
    * adds g copies of each fence value (rank g+1 and rank n−g picks,
    * conditional-min over the CDF); trimmed/winsorized moments stay
    * exact in decimal(38,0) (SSW ≤ ~9e22 at sf1000), ONE pinned double
    * chain renders t². Trimmed means also emit exactly in micros
    * (integral division). The uniform fixture is a true null; the
    * statistic itself is the oracle-pinned surface.
    */
  private val yuenTrimmedT: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val f = lineitem(s, d)
      .select(col("l_quantity").cast(LongType).as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy("q")
      .agg(sum("r").cast(LongType).as("c1"),
        (count(lit(1)) - sum("r")).cast(LongType).as("c2"))
    // OPTIMIZATION r11: one range exchange for both CDFs (runningSums),
    // totals off the materialized cum frame — not a second lineitem scan
    val cum = Prefix.runningSums(f, lit(0L), Seq(col("q").asc),
      Seq(col("c1") -> "cum1", col("c2") -> "cum2"))
    val tot = cum.agg(sum("c1").cast(LongType).as("n1"), sum("c2").cast(LongType).as("n2"))
      .selectExpr("n1", "n2", "n1 div 5 as g1", "n2 div 5 as g2")
    def kept(cumC: String, cC: String, n: String, g: String) =
      greatest(lit(0L),
        least(col(cumC), col(n) - col(g)) - greatest(col(cumC) - col(cC), col(g)))
    val m = cum.crossJoin(broadcast(tot))
      .withColumn("k1", kept("cum1", "c1", "n1", "g1"))
      .withColumn("k2", kept("cum2", "c2", "n2", "g2"))
      .agg(
        min("n1").as("n1"), min("n2").as("n2"), min("g1").as("g1"), min("g2").as("g2"),
        sum((col("q") * col("k1")).cast(dec)).cast(dec).as("ts1"),
        sum((col("q") * col("q") * col("k1")).cast(dec)).cast(dec).as("tss1"),
        sum((col("q") * col("k2")).cast(dec)).cast(dec).as("ts2"),
        sum((col("q") * col("q") * col("k2")).cast(dec)).cast(dec).as("tss2"),
        min(when(col("cum1") >= col("g1") + 1, col("q"))).cast(LongType).as("vlo1"),
        min(when(col("cum1") >= col("n1") - col("g1"), col("q"))).cast(LongType).as("vhi1"),
        min(when(col("cum2") >= col("g2") + 1, col("q"))).cast(LongType).as("vlo2"),
        min(when(col("cum2") >= col("n2") - col("g2"), col("q"))).cast(LongType).as("vhi2"))
      .withColumn("h1", col("n1") - lit(2) * col("g1"))
      .withColumn("h2", col("n2") - lit(2) * col("g2"))
      .withColumn("ws1",
        (col("ts1") + col("g1").cast(dec) * (col("vlo1") + col("vhi1")).cast(dec)).cast(dec))
      .withColumn("ws2",
        (col("ts2") + col("g2").cast(dec) * (col("vlo2") + col("vhi2")).cast(dec)).cast(dec))
      .withColumn("wss1",
        (col("tss1") + col("g1").cast(dec) *
          (col("vlo1") * col("vlo1") + col("vhi1") * col("vhi1")).cast(dec)).cast(dec))
      .withColumn("wss2",
        (col("tss2") + col("g2").cast(dec) *
          (col("vlo2") * col("vlo2") + col("vhi2") * col("vhi2")).cast(dec)).cast(dec))
      .withColumn("ssw1", (col("n1").cast(dec) * col("wss1") - col("ws1") * col("ws1")).cast(dec))
      .withColumn("ssw2", (col("n2").cast(dec) * col("wss2") - col("ws2") * col("ws2")).cast(dec))
    val mt1 = col("ts1").cast(DoubleType) / col("h1").cast(DoubleType)
    val mt2 = col("ts2").cast(DoubleType) / col("h2").cast(DoubleType)
    val d1 = col("ssw1").cast(DoubleType) /
      (col("n1").cast(DoubleType) * col("h1").cast(DoubleType) *
        (col("h1") - 1).cast(DoubleType))
    val d2 = col("ssw2").cast(DoubleType) /
      (col("n2").cast(DoubleType) * col("h2").cast(DoubleType) *
        (col("h2") - 1).cast(DoubleType))
    m.select(
      col("n1"), col("n2"), col("g1"), col("g2"), col("h1"), col("h2"),
      expr("cast(ts1 * 1000000 div h1 as bigint)").as("mt1_micros"),
      expr("cast(ts2 * 1000000 div h2 as bigint)").as("mt2_micros"),
      floor((mt1 - mt2) * (mt1 - mt2) / (d1 + d2) * lit(1000000.0))
        .cast(LongType).as("t2_micros"))
      .withColumn("significant", (col("t2_micros") > 3841459L).cast(LongType))
  }

  /** Segmented (broken-stick) trend at the CUSUM change-point — the
    * follow-up question [[changepointCusum]] leaves open: the CUSUM peak
    * NAMES a day, but did the trend actually change there, and by how
    * much? Reuses the cusum argmax convention bit-for-bit (min day whose
    * |running deviation sum| equals the max), then fits one exact-moment
    * OLS per side (pre = day ≤ cp_day, post = after) — the
    * [[olsTrendExact]] chain applied twice, both sides reduced in ONE
    * grouped agg over the calendar-bounded day frame. Slopes render via
    * the pinned sNum·10⁶/sDen double division; the shift is the exact
    * long difference of the two floored micros. A side degenerate to <2
    * days (change-point at the calendar edge) renders NULL slopes by
    * convention (sDen = 0), mirrored in the oracle.
    */
  private val segmentedTrend: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // cusum branch + per-side OLS branch
    val stats = daily.agg(count(lit(1)).cast(LongType).as("n_days"),
      sum("rev").cast(LongType).as("tot"))
    val dev = daily.crossJoin(broadcast(stats))
      .withColumn("dev", col("rev") * col("n_days") - col("tot"))
      .select("day", "dev")
    val cum = Prefix.runningSum(dev, lit(0L), Seq(col("day")), col("dev"), "c")
      .ckpt() // peak census + argmin-day branches
    val peak = cum.agg(max(abs(col("c"))).as("max_abs"))
    val cp = cum.join(broadcast(peak), abs(col("c")) === col("max_abs"))
      .agg(min("day").cast(LongType).as("cp_day"))
    val sides = daily.crossJoin(broadcast(cp))
      .withColumn("pre", (col("day") <= col("cp_day")).cast(LongType))
      .groupBy("pre")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum("day").cast(LongType).as("sx"),
        sum(col("day").cast(dec) * col("day").cast(dec)).cast(dec).as("sxx"),
        sum("rev").cast(LongType).as("sy"),
        sum(col("day").cast(dec) * col("rev").cast(dec)).cast(dec).as("sxy"),
        min("cp_day").as("cp_day"))
      .withColumn("snum",
        (col("n").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy").cast(dec)).cast(dec))
      .withColumn("sden",
        (col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx").cast(dec)).cast(dec))
      .withColumn("slope_micros",
        when(col("sden") === lit(0).cast(dec), lit(null).cast(LongType))
          .otherwise(floor(col("snum").cast(DoubleType) * lit(1e6) / col("sden").cast(DoubleType))
            .cast(LongType)))
    sides.groupBy()
      .agg(
        min("cp_day").cast(LongType).as("cp_day"),
        min(when(col("pre") === 1L, col("n"))).cast(LongType).as("n_pre"),
        min(when(col("pre") === 0L, col("n"))).cast(LongType).as("n_post"),
        min(when(col("pre") === 1L, col("slope_micros"))).cast(LongType).as("slope_pre_micros"),
        min(when(col("pre") === 0L, col("slope_micros"))).cast(LongType).as("slope_post_micros"))
      .withColumn("slope_shift_micros",
        (col("slope_post_micros") - col("slope_pre_micros")).cast(LongType))
  }

  /** Lagged cross-correlation between daily revenue and daily event
    * volume — the LEAD/LAG structure [[acfDaily]] (one series) and
    * [[spearmanDaily]]/[[kendallTauDaily]] (lag 0 only) cannot see: does
    * volume lead revenue, or trail it? Same machinery as acf: exact
    * n-scaled integer deviations (dv = x·n − S, mean-centering without
    * division) on the calendar-bounded day frame, one equi-join per lag
    * k ∈ {−7,−1,0,+1,+7} (positive k = volume SHIFTED FORWARD k days,
    * i.e. "does today's volume correlate with revenue k days LATER").
    * The render keeps the SIGN (the part of CCF that answers the lead
    * question) while avoiding sqrt: signed squared correlation
    * sign(num)·num²·10⁶/(Σdv_r²·Σdv_v²) — numerator and both norms are
    * exact decimal(38,0) (dv ~ n_days·daily_cents keeps each norm
    * ≤ ~7.5e24 at sf100: n_days is CALENDAR-bounded, only the per-day
    * mass scales), the division is ONE pinned double chain, the
    * [[sourceProfileCosine]] convention.
    */
  private val xcorrDaily: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"),
        count(lit(1)).cast(LongType).as("vol"))
      .ckpt() // totals + deviation frame + five lag joins
    val tot = daily.agg(count(lit(1)).cast(LongType).as("n"),
      sum("rev").cast(LongType).as("sr"), sum("vol").cast(LongType).as("sv"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"),
        (col("n").cast(dec) * col("rev").cast(dec) - col("sr").cast(dec)).cast(dec).as("dr"),
        (col("n").cast(dec) * col("vol").cast(dec) - col("sv").cast(dec)).cast(dec).as("dv"))
      .ckpt() // norms + both sides of each lag join
    val norms = dev.agg(sum(col("dr") * col("dr")).cast(dec).as("nr"),
      sum(col("dv") * col("dv")).cast(dec).as("nv"))
    val lagged = dev
      .withColumn("lag", explode(array(Seq(-7L, -1L, 0L, 1L, 7L).map(lit): _*)))
      .select(col("lag"), (col("day") + col("lag")).as("day"), col("dv").as("dvs"))
      .join(dev.select(col("day"), col("dr")), Seq("day"))
      .groupBy("lag")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("dvs") * col("dr")).cast(dec).as("num"))
    lagged.crossJoin(broadcast(norms))
      .select(col("lag"), col("n_pairs"),
        (when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
          floor(col("num").cast(DoubleType) * col("num").cast(DoubleType) * lit(1000000.0) /
            (col("nr").cast(DoubleType) * col("nv").cast(DoubleType))).cast(LongType))
          .as("ccf2_signed_micros"))
  }

  /** Dominant spectral direction of the embedding corpus (the first
    * principal direction of the UNCENTERED second-moment matrix XᵀX) by
    * two exact integer power-iteration steps — the anisotropy / drift
    * diagnostic behind "did this embedding batch collapse onto one axis".
    * No linear-algebra library and no float accumulation: components
    * quantize to micros (q = ⌊x·10⁶⌋, |x| < 1 ⇒ |q| ≤ 10⁶), iteration 1 is
    * v₁ = Σᵢ qᵢ(qᵢ·1) — the per-row dot against the all-ones start vector
    * rides IN the projection (`aggregate(q)`), so the only shuffle is a
    * 64-group hash agg with map-side combine; iteration 2 re-scales v₁ by
    * an exact integral division (w = v₁ div (n·10⁴), keeping
    * qᵀw ≤ 64·10⁶·6.4e9 ≈ 4.1e17 inside int64) and repeats with w carried
    * as ONE broadcast 64-element array consumed by `zip_with` — again no
    * corpus-keyed shuffle, no explode-join. v₂ magnitudes stay ≤ n·4.1e23
    * in decimal(38,0) (headroom to a trillion vectors). Both iterates
    * render relative to their own max |component| in millis through one
    * pinned double multiply+divide per dim (the [[embeddingCentroidDrift]]
    * render convention); convergence shows as v1_rel vs v2_rel agreement.
    * Two corpus passes total, each a projection + 64-group agg — the
    * 100 TB shape for any Krylov-style iterate.
    */
  private val embeddingPowerIteration: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val qArr = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0D) as bigint))")
    val emb = embeddings(s, d).select(qArr.as("q"))
    val v1 = emb
      .select(col("q"), expr("aggregate(q, cast(0 as bigint), (acc, x) -> acc + x)").as("dot0"))
      .select(posexplode(col("q")).as(Seq("dim", "qv")), col("dot0"))
      .groupBy("dim")
      .agg(sum(col("qv").cast(dec) * col("dot0").cast(dec)).cast(dec).as("v1"))
      .ckpt() // consumed by the w array, the join and max|v1|
    val n = emb.agg(count(lit(1)).cast(LongType).as("nn"))
    val warr = v1.crossJoin(broadcast(n))
      .select(col("dim"),
        expr("cast(v1 div (cast(nn as decimal(38,0)) * 10000) as bigint)").as("w"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, w))), s -> s.w)").as("w"))
    val v2 = emb.crossJoin(broadcast(warr))
      .select(col("q"),
        expr("aggregate(zip_with(q, w, (x, wv) -> x * wv), cast(0 as bigint), (acc, pv) -> acc + pv)")
          .as("dot1"))
      .select(posexplode(col("q")).as(Seq("dim", "qv")), col("dot1"))
      .groupBy("dim")
      .agg(sum(col("qv").cast(dec) * col("dot1").cast(dec)).cast(dec).as("v2"))
      .ckpt() // consumed by the join and max|v2|
    val m1 = v1.agg(max(abs(col("v1"))).as("m1"))
    val m2 = v2.agg(max(abs(col("v2"))).as("m2"))
    v1.join(v2, Seq("dim"))
      .crossJoin(broadcast(m1)).crossJoin(broadcast(m2))
      // all-zero corpus guard: a zero max renders every milli as 0 via the
      // unit denominator instead of dividing by zero
      .withColumn("d1", when(col("m1") === lit(0).cast(dec), lit(1).cast(dec)).otherwise(col("m1")))
      .withColumn("d2", when(col("m2") === lit(0).cast(dec), lit(1).cast(dec)).otherwise(col("m2")))
      .select(col("dim").cast(LongType).as("dim"),
        floor(col("v1").cast(DoubleType) * lit(1000.0) / col("d1").cast(DoubleType))
          .cast(LongType).as("v1_rel_milli"),
        floor(col("v2").cast(DoubleType) * lit(1000.0) / col("d2").cast(DoubleType))
          .cast(LongType).as("v2_rel_milli"))
  }

  /** Benjamini–Hochberg FDR control over a 34-test release-gate family —
    * the multiple-comparisons layer every fleet of per-group audits needs
    * before paging anyone (25 independent tests at α=0.05 fire ~1.3 false
    * alarms per run; BH bounds the EXPECTED false-discovery share at α).
    * Family: 9 one-sample Benford leading-digit conformance tests on
    * order totalprice cents (z² = (k−Np_d)²/(Np_d(1−p_d)), baked-literal
    * p_d = log₁₀(1+1/d)) + 25 two-proportion return-rate contrasts
    * nation-vs-rest (z² = (k₁n₂−k₂n₁)²·N/(n₁n₂K(N−K)), numerator and
    * denominator EXACT in decimal(38,0) — den ≤ 1.1e37 at sf1000 — with
    * one pinned double render, the [[trendTestArmitage]] chain). The
    * fixture witnesses BOTH branches structurally: uniform synthetic
    * prices violate Benford at every digit (z² ≥ 20 at sf0.001) while the
    * nation contrasts are true nulls, so the step-up walks the
    * interleaved tail every run. All 34 statistics are floored to micros
    * BEFORE ranking and threshold comparison (integer order, integer
    * compare — the contract is "BH at micros precision"); thresholds are
    * 34 baked chi²₁ quantiles chi2inv(1−0.05·i/34). i* = max{i : z²⁽ⁱ⁾ ≥
    * T(i)} and every rank ≤ i* rejects — including ranks individually
    * below their own threshold (the step-up sweep; BhSpec witnesses that
    * branch on a crafted frame, since null fixtures cannot). A consumed
    * raise_error guards m = 34 exactly: a digit or nation missing from
    * the data would silently misalign the baked threshold ladder.
    */
  private val bhFdrTests: Q = (s, d) => {
    import s.implicits._
    val dec = DecimalType(38, 0)
    // --- Benford branch (one-sample, baked p_d literals)
    val pmap = Seq(
      1L -> 0.3010299956639812, 2L -> 0.17609125905568124,
      3L -> 0.12493873660829992, 4L -> 0.09691001300805642,
      5L -> 0.07918124604762482, 6L -> 0.06694678963061322,
      7L -> 0.05799194697768673, 8L -> 0.05115252244738129,
      9L -> 0.04575749056067514).toDF("dig", "p")
    val digc = orders(s, d)
      .select(substring((dec2(col("o_totalprice")) * 100).cast(LongType)
        .cast(StringType), 1, 1).cast(LongType).as("dig"))
      .groupBy("dig").agg(count(lit(1)).cast(LongType).as("k"))
    val ntot = digc.agg(sum("k").cast(LongType).as("nn"))
    val kd = col("k").cast(DoubleType)
    val nd = col("nn").cast(DoubleType)
    val bf = broadcast(pmap).join(digc, Seq("dig"))
      .crossJoin(broadcast(ntot))
      .select(concat(lit("benford:"), col("dig")).as("test_id"),
        floor((kd - nd * col("p")) * (kd - nd * col("p")) /
          (nd * col("p") * (lit(1) - col("p"))) * lit(1000000.0))
          .cast(LongType).as("z2_micros"))
    // --- nation branch (two-proportion vs rest, exact num/den)
    val pern = lineitem(s, d)
      .select(col("l_orderkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .join(orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        Seq("l_orderkey"))
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).cast(LongType).as("n1"), sum("r").cast(LongType).as("k1"))
    val tots = pern.agg(sum("n1").cast(LongType).as("bigN"), sum("k1").cast(LongType).as("bigK"))
    val num = col("k1").cast(dec) * (col("bigN") - col("n1")).cast(dec) -
      (col("bigK") - col("k1")).cast(dec) * col("n1").cast(dec)
    val den = (col("n1").cast(dec) * (col("bigN") - col("n1")).cast(dec)) *
      (col("bigK").cast(dec) * (col("bigN") - col("bigK")).cast(dec))
    val nat = pern
      .join(broadcast(nation(s, d).select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .crossJoin(broadcast(tots))
      .select(concat(lit("nation:"), col("n_name")).as("test_id"),
        floor(num.cast(DoubleType) * num.cast(DoubleType) * col("bigN").cast(DoubleType) /
          den.cast(DoubleType) * lit(1000000.0)).cast(LongType).as("z2_micros"))
    // --- BH step-up over the 34-row family
    val thresholds = Seq(
      10115107L, 8843604L, 8106054L, 7585993L, 7184661L, 6858201L, 6583277L,
      6345988L, 6137384L, 5951366L, 5783589L, 5630851L, 5490721L, 5361315L,
      5241139L, 5128990L, 5023886L, 4925013L, 4831693L, 4743348L, 4659490L,
      4579696L, 4503602L, 4430889L, 4361278L, 4294524L, 4230408L, 4168737L,
      4109337L, 4052053L, 3996744L, 3943284L, 3891557L, 3841458L)
    bhStepUp(bf.unionByName(nat), thresholds, 34)
  }

  /** The BH step-up core, factored so BhSpec can witness the sweep branch
    * a null fixture cannot: rank the family by z2_micros desc (test_id
    * tiebreak), pair rank i with the baked threshold T(i), i* = max{i :
    * z²⁽ⁱ⁾ ≥ T(i)}, reject every rank ≤ i* — INCLUDING a rank whose own
    * comparison fails when some later rank passes (the property that
    * distinguishes step-up from per-rank acceptance). A family-size
    * mismatch raises inside the consumed threshold expression (an
    * asserted-then-dropped column would be pruned by Catalyst).
    */
  private[queries] def bhStepUp(
      fam: DataFrame, thresholds: Seq[Long], expectM: Int): DataFrame = {
    // OPTIMIZATION r11: the family is expectM rows BY CONSTRUCTION
    // (guarded below — the old in-plan raise_error, now a driver-side
    // throw), so the step-up ran a whole Prefix.globalRank train (range
    // exchange + ckpt + window + offsets join) plus two crossJoin'd
    // aggregates over ≤34 rows. The test statistics still compute
    // in-cluster; only the bounded rank/threshold/i* walk moved to
    // driver integer arithmetic — the Quantile-census precedent, with
    // zero new scale exposure (one bounded collect replaces the ckpt's
    // identical materialization).
    val s = fam.sparkSession
    val rows = fam.select(col("test_id"), col("z2_micros")).collect()
    if (rows.length != expectM)
      throw new IllegalStateException(
        s"bh_fdr_tests: family size ${rows.length} != $expectM — baked threshold ladder misaligned")
    // rank by (z2 desc, test_id asc) — same total order as the old
    // globalRank; ASCII test_ids order identically in UTF-8 and UTF-16
    val ranked = rows
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (id, z2) => (-z2, id) }
      .zipWithIndex
      .map { case ((id, z2), i) => (id, z2, i + 1L, thresholds(i)) }
    val istar = ranked
      .collect { case (_, z2, rk, th) if z2 >= th => rk }
      .foldLeft(0L)(math.max)
    import s.implicits._
    ranked.toSeq
      .map { case (id, z2, rk, th) => (id, z2, rk, th, if (rk <= istar) 1L else 0L) }
      .toDF("test_id", "z2_micros", "t_rank", "thresh_micros", "rejected")
  }

  /** Exact permutation test for the early-half vs late-half difference in
    * mean daily revenue — the assumption-free sibling of
    * [[bootstrapCiMean]] (no normality, no variance formula: the null
    * distribution IS the data relabeled). Units are DAYS (the frame is
    * calendar-bounded at any corpus size); the observed split is the
    * calendar midpoint, and each of B=200 deterministic permutations
    * reassigns arm labels by ranking days on [[graft.ext.Dedup.portableHash64]]
    * (b:day) — rank ≤ n₁ joins arm 1, so every permutation preserves the
    * observed arm sizes exactly (a hash-parity Bernoulli split would
    * not). No RNG anywhere: reproducible across retries, replayable by
    * the oracle. The window partitions by b (200 partitions — never a
    * low-cardinality global sort); the mean difference renders as ONE
    * negative-safe integral division to micros per arm pair, exact
    * decimal(38,0) cross-multiplication before it. p uses the add-one
    * convention p = (1+#{|diff_b| ≥ |diff_obs|})/(B+1) — the unbiased
    * estimate under the null that includes the identity relabeling. The
    * uniform fixture is a TRUE null (halves differ ~1%), so the expected
    * output is a mid-range p — the branch a correct permutation test
    * must witness on signal-free data; the z²/statistic surface is what
    * the oracle hash pins.
    */
  private val permutationTestHalves: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // observed split + 200 permutations + bounds
    val bounds = daily.agg(
      min("day").as("lo"), max("day").as("hi"),
      count(lit(1)).cast(LongType).as("n_days"))
      .withColumn("mid", expr("(lo + hi + 1) div 2"))
    val obs = daily.crossJoin(broadcast(bounds))
      .groupBy("n_days", "mid")
      .agg(
        sum(when(col("day") < col("mid"), col("rev"))).cast(LongType).as("s1"),
        sum(when(col("day") < col("mid"), 1L).otherwise(0L)).cast(LongType).as("n1"),
        sum(when(col("day") >= col("mid"), col("rev"))).cast(LongType).as("s2"),
        sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).cast(LongType).as("n2"))
      .withColumn("obs_diff_micros",
        expr("cast((cast(s1 as decimal(38,0)) * n2 - cast(s2 as decimal(38,0)) * n1) " +
          "* 1000000 div (cast(n1 as decimal(38,0)) * n2) as bigint)"))
      .ckpt() // feeds the permutation compare and the output row
    val perm = daily
      .withColumn("b", explode(sequence(lit(1L), lit(200L))))
      .withColumn("h", graft.ext.Dedup.portableHash64(
        concat(col("b").cast(StringType), lit(":"), col("day").cast(StringType))))
      .withColumn("prk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("b")
          .orderBy(col("h").asc, col("day").asc)))
    val diffs = perm
      .crossJoin(broadcast(obs.select(col("n1").as("o1"), col("n2").as("o2"))))
      .groupBy("b")
      .agg(
        sum(when(col("prk") <= col("o1"), col("rev")).otherwise(0L)).cast(LongType).as("s1"),
        sum(when(col("prk") > col("o1"), col("rev")).otherwise(0L)).cast(LongType).as("s2"),
        min("o1").as("n1"), min("o2").as("n2"))
      .withColumn("d_micros",
        expr("cast((cast(s1 as decimal(38,0)) * n2 - cast(s2 as decimal(38,0)) * n1) " +
          "* 1000000 div (cast(n1 as decimal(38,0)) * n2) as bigint)"))
    val tail = diffs
      .crossJoin(broadcast(obs.select(col("obs_diff_micros").as("od"))))
      .agg(sum(when(abs(col("d_micros")) >= abs(col("od")), 1L).otherwise(0L))
        .cast(LongType).as("n_ge"))
    obs.crossJoin(broadcast(tail))
      .select(col("n_days"), col("n1"), col("n2"), lit(200L).as("b_reps"),
        col("obs_diff_micros"), col("n_ge"),
        expr("(1 + n_ge) * 1000 div 201").as("p_milli"))
  }

  /** Harrell's concordance index of an engagement predictor against
    * time-to-conversion — the survival-model discrimination metric
    * ([[rocAucExact]] is to classifiers what the C-index is to
    * time-to-event models, with censoring handled): among comparable
    * pairs (i converted, and j either converted LATER or was censored no
    * earlier), how often does the higher risk score belong to the
    * earlier converter? Predictor = the user's FIRST-day event count
    * (pre-outcome engagement — a score that cannot leak duration).
    * Aggregate-first like [[hodgesLehmann]]: units collapse to the
    * (dur, death, score) VALUE-GRAIN frame (durations calendar-bounded,
    * scores small-integer counts), the pair join runs on cell pairs with
    * c_i·c_j weights in decimal38, and same-cell pairs are excluded by
    * the comparability predicate itself (equal dur + equal death=1 is
    * never comparable). Ties in score count half: C = (2·conc+ties) /
    * (2·comparable), one integral division to micros.
    */
  private val harrellCIndex: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val e = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        col("event_type"), col("value"))
      .ckpt() // span + conversion + first-day-score branches
    val span = e.groupBy("user_id").agg(min("day").as("fd"), max("day").as("ld"))
      .ckpt() // units join + first-day filter
    val conv = e.filter(col("event_type") === "purchase" && col("value") >= 200)
      .groupBy("user_id").agg(min("day").as("pd"))
    val score = e.join(span.select(col("user_id"), col("fd")), Seq("user_id"))
      .filter(col("day") === col("fd"))
      .groupBy("user_id").agg(count(lit(1)).cast(LongType).as("sc"))
    val cells = span.join(conv, Seq("user_id"), "left")
      .join(score, Seq("user_id"))
      .select(
        when(col("pd").isNotNull, col("pd") - col("fd"))
          .otherwise(col("ld") - col("fd")).as("dur"),
        when(col("pd").isNotNull, 1L).otherwise(0L).as("death"),
        col("sc"))
      .groupBy("dur", "death", "sc").agg(count(lit(1)).cast(LongType).as("c"))
      .ckpt() // both sides of the bounded cell-pair join
    val i = cells.select(col("dur").as("d1"), col("death").as("k1"),
      col("sc").as("s1"), col("c").as("c1")).filter(col("k1") === 1)
    val j = cells.select(col("dur").as("d2"), col("death").as("k2"),
      col("sc").as("s2"), col("c").as("c2"))
    broadcast(i)
      .join(j, col("d1") < col("d2") || (col("d1") === col("d2") && col("k2") === 0))
      .agg(
        sum((col("c1").cast(dec) * col("c2")).cast(dec)).cast(LongType).as("n_comparable"),
        sum(when(col("s1") > col("s2"), (col("c1").cast(dec) * col("c2")).cast(dec))
          .otherwise(lit(0).cast(dec))).cast(LongType).as("n_concordant"),
        sum(when(col("s1") === col("s2"), (col("c1").cast(dec) * col("c2")).cast(dec))
          .otherwise(lit(0).cast(dec))).cast(LongType).as("n_score_ties"))
      .select(col("n_comparable"), col("n_concordant"), col("n_score_ties"),
        expr("""case when n_comparable = 0 then 0L else
                (2 * cast(n_concordant as decimal(38,0)) + n_score_ties) * 1000000
                div (2 * cast(n_comparable as decimal(38,0))) end""").as("c_micros"))
  }

  /** Two-sample log-rank (Mantel–Cox) test: does time-to-conversion
    * differ between the user-parity arms? The inferential companion of
    * [[survivalKaplanMeier]] — KM draws the curves, log-rank says whether
    * they differ. Same survival frame (duration to the first ≥$200
    * purchase, censored at last activity), arms user_id % 2.
    *
    * At each event time t: observed arm-1 deaths O₁(t)=d₁(t) vs the
    * hypergeometric expectation E₁(t)=d·n₁/n and variance
    * V(t)=d·n₁·(n−n₁)·(n−d) / (n²(n−1)); χ² = (ΣO₁−ΣE₁)²/ΣV vs the baked
    * χ²(1) 0.05 quantile. E and V are per-step rationals, so each step is
    * floored to micros BEFORE the sum (the [[cramersV]] floored-contribs
    * convention — exact integers, order-independent, engine-identical;
    * the ≤1e-6-per-step bias is far below any decision boundary). A
    * terminal step with n=1 carries V=0 (no information) but keeps its
    * O−E mass. decimal38 headroom: d·n₁·(n−n₁)·(n−d)·1e6 ≲ n⁴·1e6 stays
    * under 1e38 through ~3e7 users.
    *
    * Plan: one user-grain agg → the calendar-bounded duration frame
    * (≤ date-range rows) → two [[Prefix.runningSum]] at-risk passes →
    * one 1-row agg. Nothing corpus-sized past the first agg.
    */
  private val logRankTest: Q = (s, d) => {
    val e = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        col("event_type"), col("value"))
      .ckpt() // span + conversion branches
    val span = e.groupBy("user_id").agg(min("day").as("fd"), max("day").as("ld"))
    val conv = e.filter(col("event_type") === "purchase" && col("value") >= 200)
      .groupBy("user_id").agg(min("day").as("pd"))
    val units = span.join(conv, Seq("user_id"), "left")
      .select(
        when(col("pd").isNotNull, col("pd") - col("fd"))
          .otherwise(col("ld") - col("fd")).as("dur"),
        when(col("pd").isNotNull, 1L).otherwise(0L).as("death"),
        (col("user_id") % 2).cast(LongType).as("arm"))
      .ckpt() // duration frame + census
    val byDur = units.groupBy("dur").agg(
      count(lit(1)).cast(LongType).as("m"),
      sum("death").cast(LongType).as("dd"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).cast(LongType).as("m1"),
      sum(when(col("arm") === 1, col("death")).otherwise(0L)).cast(LongType).as("dd1"))
    // OPTIMIZATION r11: one range exchange for both at-risk CDFs
    // (runningSums), totals off the materialized cum frame — not a
    // second aggregation pass over the unit frame
    val cum = Prefix.runningSums(byDur, lit(0L), Seq(col("dur")),
      Seq(col("m") -> "cm", col("m1") -> "cm1"))
    val tot = cum.agg(sum("m").cast(LongType).as("tot"),
      sum("m1").cast(LongType).as("tot1"))
    val steps = cum.crossJoin(broadcast(tot))
      .withColumn("n", col("tot") - col("cm") + col("m"))
      .withColumn("n1", col("tot1") - col("cm1") + col("m1"))
      .filter(col("dd") > 0)
    val stepAgg = steps.agg(
      sum("dd1").cast(LongType).as("o1"),
      sum(expr("(cast(dd as decimal(38,0)) * n1 * 1000000) div n"))
        .cast(LongType).as("e1_micros"),
      sum(expr("""case when n > 1 then
                  (cast(dd as decimal(38,0)) * n1 * (n - n1) * (n - dd) * 1000000)
                  div (cast(n as decimal(38,0)) * n * (n - 1)) else 0L end"""))
        .cast(LongType).as("v_micros"))
    val census = units.agg(count(lit(1)).cast(LongType).as("n_total"),
      sum("death").cast(LongType).as("deaths_total"))
    census.crossJoin(broadcast(stepAgg))
      .select(col("n_total"), col("deaths_total"), col("o1"),
        col("e1_micros"), col("v_micros"),
        expr("""case when v_micros = 0 then 0L else
                (cast(o1 as decimal(38,0)) * 1000000 - e1_micros)
                * (cast(o1 as decimal(38,0)) * 1000000 - e1_micros)
                div v_micros end""").as("chi2_micros"))
      .withColumn("significant", (col("chi2_micros") > 3841459L).cast(LongType))
  }

  /** Friedman test — the blocked nonparametric k-sample test
    * [[kruskalWallis]] cannot replace: is any day-of-week systematically
    * higher once week-to-week level shifts are removed? Blocks = calendar
    * weeks (day div 7), treatments = the 7 weekdays, measured on daily
    * revenue cents. Only COMPLETE blocks (all 7 days present) enter, per
    * the test's definition; truncated boundary weeks drop out.
    *
    * Within-block ranks come from one sort_array over each ≤7-cell block
    * (no window at all — the block frame is calendar-bounded); ties in
    * daily cents are broken by weekday so the rank is total AND the group
    * is a function of the sort key (the [[kruskalWallis]] sf1 lesson).
    * χ²_F = 12·ΣR_j²/(b·k(k+1)) − 3b(k+1) is an exact rational over tiny
    * integers → exact micros via one integral division; verdict vs the
    * baked χ²(6) 0.05 quantile 12.591587.
    */
  private val friedmanTest: Q = (s, d) => {
    val (ranked, b) = weekdayBlockRanks(s, d)
    val rj = ranked.groupBy("dow").agg(sum("r").cast(LongType).as("r_sum"))
      .ckpt() // statistic fold + per-dow output rows
    val chi = rj.agg(sum(col("r_sum") * col("r_sum")).cast(LongType).as("ssq"))
      .crossJoin(broadcast(b))
      .select(col("b"),
        expr("(12 * ssq * 1000000 - 1344 * b * b * 1000000) div (56 * b)")
          .as("chi2_micros"))
    rj.crossJoin(broadcast(chi))
      .select(col("dow"), col("r_sum"), col("b"), col("chi2_micros"),
        (col("chi2_micros") > 12591587L).cast(LongType).as("significant"))
  }

  /** Within-block weekday ranks over complete calendar-week blocks of the
    * daily-revenue series, plus the block count — the shared frame behind
    * [[friedmanTest]] (any weekday effect) and [[pageTrendTest]] (a
    * MONOTONE weekday effect). Blocks = day div 7, treatments = the
    * epoch-anchored weekday pmod(day, 7) (day 0 = a Thursday — an
    * arbitrary but pinned week anchor, mirrored in the oracle); only
    * complete blocks (all 7 days present) enter, truncated boundary
    * weeks drop out. Ranks come from one sort_array per ≤7-cell block —
    * no window — with cents ties broken by weekday so the rank is total
    * and the group is a function of the sort key (the kruskal_wallis
    * sf1 lesson).
    */
  private def weekdayBlockRanks(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val daily = events(s, d)
      .select(
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").cast(LongType).as("rev"))
      .select(expr("day div 7").as("wk"),
        pmod(col("day"), lit(7L)).cast(LongType).as("dow"), col("rev"))
    val blocks = daily.groupBy("wk")
      .agg(count(lit(1)).cast(LongType).as("nd"),
        sort_array(collect_list(struct(col("rev"), col("dow")))).as("cells"))
      .filter(col("nd") === 7)
      .ckpt() // rank explode + block count
    val ranked = blocks
      .select(col("wk"), posexplode(col("cells")).as(Seq("pos", "c")))
      .select(col("c.dow").as("dow"), (col("pos") + 1).cast(LongType).as("r"))
    (ranked, blocks.agg(count(lit(1)).cast(LongType).as("b")))
  }

  /** Page's trend test — the ORDERED-alternative sibling of
    * [[friedmanTest]] on the same complete-week rank frame: Friedman asks
    * "any weekday differs", Page asks "do weekday levels RISE monotonically
    * through the week" (the dose order is the pinned epoch-anchored
    * weekday position 1..7), which is the sharper question when a drift
    * direction is hypothesized — exactly what [[trendTestArmitage]] is to
    * [[chi2Independence]] for proportions. L = Σ_j j·R_j is exact; with
    * k=7, E[L] = 112b and Var[L] = 392b/3, so z² = 3(L−112b)²/(392b) is
    * an exact rational → micros via one integral division (numerator
    * nonneg), verdict vs the baked χ²(1) 0.05 quantile.
    */
  private val pageTrendTest: Q = (s, d) => {
    val (ranked, b) = weekdayBlockRanks(s, d)
    ranked.agg(sum((col("dow") + 1) * col("r")).cast(LongType).as("l_stat"))
      .crossJoin(broadcast(b))
      .select(col("b"), col("l_stat"),
        expr("""case when b = 0 then 0L else
                (3 * (l_stat - 112 * b) * (l_stat - 112 * b) * 1000000)
                div (392 * b) end""").as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  /** Tukey HSD post-hoc after [[anovaOneway]]: WHICH return-flag pairs
    * differ in mean quantity, at a familywise 5 % (the question the
    * omnibus F cannot answer, and running three t-tests would answer with
    * inflated error — the multiple-comparison control [[bhFdrTests]] does
    * by FDR, done here the Tukey way). Same exact moment row as
    * [[anovaFold]]; per pair, |m̄_i − m̄_j| vs HSD = q·√(MSW/2·(1/n_i+1/n_j))
    * with the numerically-integrated studentized-range constant
    * q(0.05, k=3, df=∞) = 3.314493 baked (the χ²/F-constant convention);
    * the whole render is one pinned double chain per pair with the one
    * correctly-rounded sqrt, three rows by unioned projections of the
    * checkpointed 1-row frame.
    */
  private val tukeyHsd: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val m = lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast(LongType).as("q"))
      .agg(
        count(lit(1)).cast(LongType).as("n"),
        sum("q").cast(LongType).as("sx"),
        sum((col("q") * col("q")).cast(dec)).cast(dec).as("sxx"),
        sum(when(col("g") === "A", 1L).otherwise(0L)).cast(LongType).as("na"),
        sum(when(col("g") === "A", col("q")).otherwise(0L)).cast(LongType).as("sa"),
        sum(when(col("g") === "N", 1L).otherwise(0L)).cast(LongType).as("nn"),
        sum(when(col("g") === "N", col("q")).otherwise(0L)).cast(LongType).as("sn"),
        sum(when(col("g") === "R", 1L).otherwise(0L)).cast(LongType).as("nr"),
        sum(when(col("g") === "R", col("q")).otherwise(0L)).cast(LongType).as("sr"))
      .ckpt() // three pair projections below
    def term(sj: Column, nj: Column): Column =
      (sj.cast(dec) * sj.cast(dec)).cast(DoubleType) / nj.cast(DoubleType)
    val corr = term(col("sx"), col("n"))
    val ssb = term(col("sa"), col("na")) + term(col("sn"), col("nn")) +
      term(col("sr"), col("nr")) - corr
    val msw = ((col("sxx").cast(DoubleType) - corr) - ssb) /
      (col("n") - 3).cast(DoubleType)
    def pair(g1: String, s1: String, n1: String,
             g2: String, s2: String, n2: String): DataFrame = {
      val diff = col(s1).cast(DoubleType) / col(n1).cast(DoubleType) -
        col(s2).cast(DoubleType) / col(n2).cast(DoubleType)
      val hsd = lit(3.314493) * sqrt(msw * lit(0.5) *
        (lit(1.0) / col(n1).cast(DoubleType) + lit(1.0) / col(n2).cast(DoubleType)))
      m.select(lit(g1).as("g1"), lit(g2).as("g2"),
        floor(diff * lit(1e6)).cast(LongType).as("diff_micros"),
        floor(hsd * lit(1e6)).cast(LongType).as("hsd_micros"),
        (abs(diff) > hsd).cast(LongType).as("significant"))
    }
    pair("A", "sa", "na", "N", "sn", "nn")
      .unionByName(pair("A", "sa", "na", "R", "sr", "nr"))
      .unionByName(pair("N", "sn", "nn", "R", "sr", "nr"))
  }

  /** Quantile treatment effects at the deciles — the DISTRIBUTIONAL
    * companion to [[didEstimator]]/[[cupedAdjustment]]'s mean deltas: an
    * intervention that moves the p90 while leaving the median alone is
    * invisible to a mean contrast, and QTE is the standard way to see it.
    * Per-user total cents per parity arm, each arm's exact decile values
    * (rank ⌈d·n/10⌉ of the (cents, user_id) total order) from ONE
    * [[Quantile.rankPicks]] histogram pass per the outlier_mad machinery
    * — never a per-arm sort; the per-decile difference is exact cents.
    */
  private val qteDeciles: Q = (s, d) => {
    val users = events(s, d)
      .select(col("user_id"), (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("user_id").agg(sum("cents").cast(LongType).as("uc"))
      .select(col("user_id"), col("uc"), (col("user_id") % 2).cast(LongType).as("arm"))
    val picks = Quantile.rankPicks(
      users, col("arm"), col("uc"), Seq(col("user_id")),
      (1 to 9).map(dd => (s"d$dd", (n: Column) => idiv(n * dd + 9, 10))),
      "arm", "qv")
    val t = picks.filter(col("arm") === 1)
      .select(col("label"), col("qv").cast(LongType).as("q_treat_cents"))
    val c = picks.filter(col("arm") === 0)
      .select(col("label"), col("qv").cast(LongType).as("q_control_cents"))
    t.join(c, Seq("label"))
      .select(col("label").as("decile"), col("q_treat_cents"), col("q_control_cents"),
        (col("q_treat_cents") - col("q_control_cents")).as("qte_cents"))
  }

  /** Rank-biased overlap (RBO, Webber et al. 2010) between the top-20
    * supplier-nation revenue leaderboards of the two shipdate halves —
    * did the ranking PERSIST period-over-period, weighted so the head
    * matters most? (Nation grain, not part: the part space grows with
    * the corpus and two halves' top-20 PARTS are disjoint by sf0.01 —
    * probed, the lane returned an empty intersection — while the 25
    * bounded nations keep real overlap AND real churn at every scale.)
    * The principled top-weighted list-agreement metric next to
    * [[topkStabilityAudit]]'s flat Jaccard/displacement (which treats
    * rank 1 and rank 20 churn alike): RBO@20 = Σ_d w_d·X_d/d with
    * X_d = |prefix_d ∩ prefix_d| and the geometric weights
    * w_d = 0.1·0.9^(d−1) BAKED as twenty nano-scale integers (the nDCG
    * discount-table move — transcendental-free and engine-identical);
    * the truncated (depth-20, no extrapolation tail) form, documented.
    * Per-depth contributions floor to nanos before the sum (the cramers_v
    * convention). Each half is a hash agg + TakeOrderedAndProject with
    * ranks attached by the sort_array bounded trick; X_d comes from one
    * ≤20×20 grid of the joined 20-row frames.
    */
  private val rboLeaderboard: Q = (s, d) => {
    val sup = graft.Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey").cast(LongType).as("pk"))
    val li = lineitem(s, d).select(col("l_suppkey").as("s_suppkey"),
      floor(unix_millis(col("l_shipdate").cast("timestamp")) / lit(86400000.0))
        .cast(LongType).as("day"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
      .join(broadcast(sup), Seq("s_suppkey"))
    val mid = li.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val halves = li.crossJoin(broadcast(mid))
      .select(col("pk"), when(col("day") < col("mid"), 0L).otherwise(1L).as("h"),
        col("cents"))
      .groupBy("pk", "h").agg(sum("cents").cast(LongType).as("rev"))
      .ckpt() // two TakeOrdered branches
    def top(h: Int): DataFrame =
      halves.filter(col("h") === h)
        .orderBy(desc("rev"), asc("pk")).limit(20)
        .agg(sort_array(collect_list(struct((-col("rev")).as("nr"),
          col("pk").as("pk")))).as("rows"))
        .selectExpr("posexplode(rows) as (pos, r)")
        .select(col("r.pk").as("pk"), (col("pos") + 1).cast(LongType).as("rnk"))
    val joined = top(0).select(col("pk"), col("rnk").as("r1"))
      .join(top(1).select(col("pk"), col("rnk").as("r2")), Seq("pk"))
    // X_d = #common parts with both ranks <= d, for d = 1..20
    val xd = joined
      .select(explode(sequence(lit(1L), lit(20L))).as("dd"),
        greatest(col("r1"), col("r2")).as("mr"))
      .filter(col("mr") <= col("dd"))
      .groupBy("dd").agg(count(lit(1)).cast(LongType).as("x_d"))
    val w = "array(100000000L, 90000000L, 81000000L, 72900000L, 65610000L, " +
      "59049000L, 53144100L, 47829690L, 43046721L, 38742049L, 34867844L, " +
      "31381060L, 28242954L, 25418658L, 22876792L, 20589113L, 18530202L, " +
      "16677182L, 15009464L, 13508517L)"
    xd.select(col("x_d"), col("dd"),
      expr(s"(x_d * element_at($w, cast(dd as int))) div dd").as("contrib_nano"))
      .agg(
        max(when(col("dd") === 20, col("x_d"))).cast(LongType).as("x20"),
        sum("contrib_nano").cast(LongType).as("rbo_nano"))
  }

  /** Difference-in-differences estimator with a placebo check — the
    * pre/post causal design [[cupedAdjustment]]'s variance reduction sits
    * next to: treatment = the user-parity arm, periods split at the exact
    * calendar midpoint, and DiD = (ȳ₁−x̄₁) − (ȳ₀−x̄₀) over per-user
    * pre/post cents (the within-user change nets out user level, the
    * across-arm difference nets out the common time trend). The placebo
    * re-runs the same estimator INSIDE the pre-period at its own midpoint
    * — under parallel trends it should sit near zero, and reporting it is
    * what separates a DiD from a before/after. All sums exact int64
    * cents from one user-grain agg; the four means render through one
    * pinned IEEE double chain (the [[cupedAdjustment]] pattern).
    */
  private val didEstimator: Q = (s, d) => {
    val ev = events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / lit(86400000.0)).cast(LongType).as("day"),
        (dec2(col("value")) * 100).cast(LongType).as("cents"))
    val bounds = ev.agg(min("day").as("mn"), max("day").as("mx"))
      .select(expr("(mn + mx + 1) div 2").as("mid"), col("mn"))
      .select(col("mid"), expr("(mn + mid + 1) div 2").as("q1"))
    val users = ev.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        sum(when(col("day") < col("q1"), col("cents")).otherwise(0L))
          .cast(LongType).as("xa"),
        sum(when(col("day") >= col("q1") && col("day") < col("mid"), col("cents"))
          .otherwise(0L)).cast(LongType).as("xb"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L))
          .cast(LongType).as("y"))
      .select(col("xa"), col("xb"), (col("xa") + col("xb")).as("x"), col("y"),
        (col("user_id") % 2).cast(LongType).as("arm"))
    val m = users.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).cast(LongType).as("n1"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).cast(LongType).as("x1"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).cast(LongType).as("x0"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).cast(LongType).as("y1"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).cast(LongType).as("y0"),
      sum(when(col("arm") === 1, col("xa")).otherwise(0L)).cast(LongType).as("a1"),
      sum(when(col("arm") === 0, col("xa")).otherwise(0L)).cast(LongType).as("a0"),
      sum(when(col("arm") === 1, col("xb")).otherwise(0L)).cast(LongType).as("b1"),
      sum(when(col("arm") === 0, col("xb")).otherwise(0L)).cast(LongType).as("b0"))
    val n1d = col("n1").cast(DoubleType)
    val n0d = (col("n") - col("n1")).cast(DoubleType)
    val did = (col("y1").cast(DoubleType) / n1d - col("x1").cast(DoubleType) / n1d) -
      (col("y0").cast(DoubleType) / n0d - col("x0").cast(DoubleType) / n0d)
    val placebo = (col("b1").cast(DoubleType) / n1d - col("a1").cast(DoubleType) / n1d) -
      (col("b0").cast(DoubleType) / n0d - col("a0").cast(DoubleType) / n0d)
    m.select(col("n"), col("n1"),
      floor(did * lit(1e6)).cast(LongType).as("did_micros"),
      floor(placebo * lit(1e6)).cast(LongType).as("placebo_micros"))
  }

  /** Partial correlations among (quantity, price-cents, discount-cents):
    * the association that REMAINS between each pair once the third is
    * controlled for — the confounder-screen [[corrMatrix]]'s marginal
    * correlations cannot answer. In co-moment form (S_ab = n·Σab−Σa·Σb):
    *
    *   r_xy·z = (S_xy·S_zz − S_xz·S_yz) / √((S_xx·S_zz − S_xz²)(S_yy·S_zz − S_yz²))
    *
    * All nine moments are exact int64/decimal38 from ONE full-relation
    * agg (the [[corrMatrix]] shape); S-products would exceed decimal38 at
    * scale, so each S casts to double once and the quotient renders
    * through a pinned chain with the one correctly-rounded sqrt the house
    * rules allow. Output: three rows (each variable takes the controlled
    * role), marginal r alongside partial r so the confounding shift is
    * visible in one frame.
    */
  private val partialCorrelation: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val base = lineitem(s, d).select(
      col("l_quantity").cast(LongType).as("x"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("y"),
      (rate2(col("l_discount")) * 100).cast(LongType).as("z"))
    val m = base.agg(
      count(lit(1)).cast(LongType).as("n"),
      sum("x").cast(LongType).as("sx"),
      sum("y").cast(LongType).as("sy"),
      sum("z").cast(LongType).as("sz"),
      sum(col("x").cast(dec) * col("x")).cast(dec).as("sxx"),
      sum(col("y").cast(dec) * col("y")).cast(dec).as("syy"),
      sum(col("z").cast(dec) * col("z")).cast(dec).as("szz"),
      sum(col("x").cast(dec) * col("y")).cast(dec).as("sxy"),
      sum(col("x").cast(dec) * col("z")).cast(dec).as("sxz"),
      sum(col("y").cast(dec) * col("z")).cast(dec).as("syz"))
      .ckpt() // three projections below
    // n-scaled co-moment as a pinned double
    def s2(spAb: String, sA: String, sB: String): Column =
      (col("n").cast(dec) * col(spAb) -
        col(sA).cast(dec) * col(sB).cast(dec)).cast(DoubleType)
    def row(xn: String, yn: String, zn: String,
            sxy2: Column, sxz2: Column, syz2: Column,
            sxx2: Column, syy2: Column, szz2: Column): DataFrame = {
      val rMarg = sxy2 / sqrt(sxx2 * syy2)
      val rPart = (sxy2 * szz2 - sxz2 * syz2) /
        sqrt((sxx2 * szz2 - sxz2 * sxz2) * (syy2 * szz2 - syz2 * syz2))
      m.select(lit(xn).as("x_col"), lit(yn).as("y_col"), lit(zn).as("z_col"),
        floor(rMarg * lit(1e6)).cast(LongType).as("r_marginal_micros"),
        floor(rPart * lit(1e6)).cast(LongType).as("r_partial_micros"))
    }
    val sxx2 = s2("sxx", "sx", "sx"); val syy2 = s2("syy", "sy", "sy")
    val szz2 = s2("szz", "sz", "sz"); val sxy2 = s2("sxy", "sx", "sy")
    val sxz2 = s2("sxz", "sx", "sz"); val syz2 = s2("syz", "sy", "sz")
    row("qty", "price", "disc", sxy2, sxz2, syz2, sxx2, syy2, szz2)
      .unionByName(row("qty", "disc", "price", sxz2, sxy2, syz2, sxx2, szz2, syy2))
      .unionByName(row("price", "disc", "qty", syz2, sxy2, sxz2, syy2, szz2, sxx2))
  }

  /** Delete-one-group jackknife CI for a RATIO metric (revenue per
    * purchasing user) — the standard experimentation answer to "a ratio
    * of sums has no per-unit mean, so the t-interval is wrong"
    * ([[bootstrapCiMean]] covers the per-unit mean; this covers the
    * ratio). Users hash into g=20 portable buckets; each leave-one-bucket
    * -out ratio r_i=(S−s_i)/(N−n_i) is a pinned double from exact cents;
    * SE² = (g−1)/g · Σ(r_i−r̄)². The two Σ-over-buckets folds run over
    * the bucket-sorted array in pinned order (g doubles — a grouped SUM
    * would re-associate under re-planning), mirrored as ordered
    * list_reduce in the oracle. CI = ratio ± 1.96·SE with the one
    * correctly-rounded sqrt. One user-grain agg → 20-row frame →
    * 1-row output; nothing corpus-sized past the first agg.
    */
  private val jackknifeRatioCi: Q = (s, d) => {
    val perUser = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), (dec2(col("value")) * 100).cast(LongType).as("cents"))
      .groupBy("user_id").agg(sum("cents").cast(LongType).as("uc"))
      .select(pmod(graft.ext.Dedup.portableHash64(
        concat(lit("jk:"), col("user_id").cast(StringType))), lit(20L)).as("bucket"),
        col("uc"))
    val byBucket = perUser.groupBy("bucket").agg(
      sum("uc").cast(LongType).as("s_i"),
      count(lit(1)).cast(LongType).as("n_i"))
    val tot = byBucket.agg(sum("s_i").cast(LongType).as("s"),
      sum("n_i").cast(LongType).as("n"),
      count(lit(1)).cast(LongType).as("g"))
    byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), col("s"), col("n"), col("g"),
        when(col("n") === col("n_i"), lit(0.0)).otherwise(
          (col("s") - col("s_i")).cast(DoubleType) /
            (col("n") - col("n_i")).cast(DoubleType)).as("r_i"))
      .agg(min("s").as("s"), min("n").as("n"), min("g").as("g"),
        sort_array(collect_list(struct(col("bucket"), col("r_i")))).as("rs"))
      .withColumn("sum_r", expr("aggregate(rs, cast(0.0 as double), (a, x) -> a + x.r_i)"))
      .withColumn("mean_r", col("sum_r") / col("g").cast(DoubleType))
      .withColumn("ssq", expr(
        "aggregate(rs, cast(0.0 as double), (a, x) -> a + (x.r_i - mean_r) * (x.r_i - mean_r))"))
      .withColumn("ratio", col("s").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("se", sqrt((col("g") - 1).cast(DoubleType) / col("g").cast(DoubleType) * col("ssq")))
      .select(col("n"), col("g"),
        floor(col("ratio") * lit(1e6)).cast(LongType).as("ratio_micros"),
        floor(col("se") * lit(1e6)).cast(LongType).as("se_micros"),
        floor((col("ratio") - lit(1.96) * col("se")) * lit(1e6)).cast(LongType).as("lo_micros"),
        floor((col("ratio") + lit(1.96) * col("se")) * lit(1e6)).cast(LongType).as("hi_micros"))
  }

  /** Simpson's-paradox audit: does the pooled high-vs-low-priority
    * return-rate difference keep its sign inside every line-status
    * stratum? The aggregation-bias check a metrics review runs before
    * trusting any pooled rate comparison — a reversed stratum means the
    * pooled number is a mix artifact, not an effect. Rates never
    * materialize: the per-stratum difference is the exact cross-
    * multiplied integer ret_hi·n_lo − ret_lo·n_hi rendered as ppm via
    * one nonneg integral division (sign carried separately — Spark div
    * and DuckDB // agree only on nonnegative operands by probe). One
    * lineitem⋈orders equi-join, one ≤3-row stratum agg; the pooled row
    * folds from the same frame.
    */
  private val simpsonsParadoxAudit: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
      col("l_linestatus").as("stratum"))
    val hi = orders(s, d).select(col("o_orderkey").as("ok"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L).as("hi"))
    val byStr = li.join(hi, Seq("ok"))
      .groupBy("stratum").agg(
        sum(when(col("hi") === 1, 1L).otherwise(0L)).cast(LongType).as("n_hi"),
        sum(when(col("hi") === 1, col("ret")).otherwise(0L)).cast(LongType).as("ret_hi"),
        sum(when(col("hi") === 0, 1L).otherwise(0L)).cast(LongType).as("n_lo"),
        sum(when(col("hi") === 0, col("ret")).otherwise(0L)).cast(LongType).as("ret_lo"))
      .ckpt() // pooled row + per-stratum rows
    val pooled = byStr.agg(
      sum("n_hi").cast(LongType).as("n_hi"),
      sum("ret_hi").cast(LongType).as("ret_hi"),
      sum("n_lo").cast(LongType).as("n_lo"),
      sum("ret_lo").cast(LongType).as("ret_lo"))
      .select(lit("ALL").as("stratum"), col("n_hi"), col("ret_hi"),
        col("n_lo"), col("ret_lo"))
    val diffed = byStr.unionByName(pooled)
      .withColumn("num",
        (col("ret_hi").cast(DecimalType(38, 0)) * col("n_lo") -
          col("ret_lo").cast(DecimalType(38, 0)) * col("n_hi")))
      .withColumn("diff_ppm", expr(
        """case when n_hi = 0 or n_lo = 0 then 0L else
           case when num >= 0 then (num * 1000000) div (cast(n_hi as decimal(38,0)) * n_lo)
           else -((-num * 1000000) div (cast(n_hi as decimal(38,0)) * n_lo)) end end"""))
      .withColumn("sgn",
        when(col("diff_ppm") > 0, 1L).when(col("diff_ppm") < 0, -1L).otherwise(0L))
      .ckpt() // pooled-sign broadcast + output rows
    val psign = diffed.filter(col("stratum") === "ALL")
      .select(col("sgn").as("pooled_sgn"))
    diffed.crossJoin(broadcast(psign))
      .select(col("stratum"), col("n_hi"), col("ret_hi"), col("n_lo"), col("ret_lo"),
        col("diff_ppm"),
        when(col("stratum") =!= "ALL" && col("sgn") =!= 0 &&
          col("pooled_sgn") =!= 0 && col("sgn") === -col("pooled_sgn"), 1L)
          .otherwise(0L).as("reversed"))
  }

  /** Chapman capture–recapture estimate of corpus size from two
    * independent portable-hash "captures" — the coverage QA a crawl/dedup
    * pipeline runs when the true population is NOT observable (how many
    * documents exist, given two overlapping samples?). Here the truth IS
    * observable, so the lane is an audit: N̂ = (n_A+1)(n_B+1)/(m+1) − 1
    * (Chapman's bias-corrected Lincoln–Petersen, exact integer floor)
    * against the true count, error in signed ppm (sign carried outside
    * the nonneg division). Captures are 30 % md5 samples under distinct
    * salts — independent by construction, so the estimator's assumptions
    * hold by design. One projection + one 1-row agg; no shuffle at all
    * beyond the agg.
    */
  private val captureRecaptureAudit: Q = (s, d) => {
    val h = (salt: String) => pmod(graft.ext.Dedup.portableHash64(
      concat(lit(salt), col("doc_id").cast(StringType))), lit(10L)) < 3
    documents(s, d)
      .select(h("crA:").as("a"), h("crB:").as("b"))
      .agg(
        count(lit(1)).cast(LongType).as("n_true"),
        sum(when(col("a"), 1L).otherwise(0L)).cast(LongType).as("n_a"),
        sum(when(col("b"), 1L).otherwise(0L)).cast(LongType).as("n_b"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).cast(LongType).as("m_ab"))
      .select(col("n_true"), col("n_a"), col("n_b"), col("m_ab"),
        expr("(cast(n_a + 1 as decimal(38,0)) * (n_b + 1)) div (m_ab + 1) - 1")
          .as("chapman_est"))
      .withColumn("err_ppm", expr(
        """case when chapman_est >= n_true
           then (cast(chapman_est as decimal(38,0)) - n_true) * 1000000 div n_true
           else -((cast(n_true as decimal(38,0)) - chapman_est) * 1000000 div n_true)
           end"""))
  }

  /** Cochran–Mantel–Haenszel test over the SAME stratified 2×2 frame as
    * [[simpsonsParadoxAudit]] — the inferential follow-up the audit begs
    * for: after adjusting for the stratum, is the exposure→outcome
    * association real? (The audit shows per-stratum vs pooled DIRECTION;
    * CMH pools the per-stratum evidence without ever pooling the rows,
    * which is exactly what makes it immune to the paradox.) Per stratum:
    * T_k = a − r1·c1/n and V_k = r1·r2·c1·c2/(n²(n−1)), each floored to
    * micros with the sign-safe integral division (decimal38
    * cross-multiplication — per-stratum denominators never multiply
    * together, so nothing overflows at any SF); the statistic is
    * (ΣT)²/ΣV, one integral division, baked χ²(1) verdict. Bounded
    * frame: one hash aggregation to #strata rows, then scalar math.
    * The no-continuity-correction form is pinned (mirrored exactly).
    */
  private val cmhTest: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
      col("l_linestatus").as("stratum"))
    val hi = orders(s, d).select(col("o_orderkey").as("ok"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L).as("hi"))
    li.join(hi, Seq("ok"))
      .groupBy("stratum").agg(
        count(lit(1)).cast(LongType).as("n"),
        sum(col("hi")).cast(LongType).as("r1"),
        sum(col("ret")).cast(LongType).as("c1"),
        sum(when(col("hi") === 1, col("ret")).otherwise(0L)).cast(LongType).as("a"))
      .select(col("stratum"), col("n"), col("r1"), col("c1"), col("a"),
        expr("""case when n = 0 then 0L else
            case when cast(a as decimal(38,0)) * n - cast(r1 as decimal(38,0)) * c1 >= 0
            then (cast(a as decimal(38,0)) * n - cast(r1 as decimal(38,0)) * c1) * 1000000 div n
            else -(((cast(r1 as decimal(38,0)) * c1 - cast(a as decimal(38,0)) * n)) * 1000000 div n)
            end end""").as("t_u"),
        expr("""case when n <= 1 then 0L else
            (cast(r1 as decimal(38,0)) * (n - r1) * c1 * (n - c1) * 1000000)
              div (cast(n as decimal(38,0)) * n * (n - 1)) end""").as("v_u"))
      .agg(
        count(lit(1)).cast(LongType).as("n_strata"),
        sum("t_u").cast(LongType).as("t_micros"),
        sum("v_u").cast(LongType).as("v_micros"))
      .select(col("n_strata"), col("t_micros"), col("v_micros"),
        expr("""case when v_micros <= 0 then 0L else
            (cast(t_micros as decimal(38,0)) * t_micros) div v_micros end""")
          .as("cmh_micros"))
      .withColumn("significant", (col("cmh_micros") > 3841459L).cast(LongType))
  }

  /** Cochran's Q — the k-treatment extension of [[mcnemarTest]] on
    * related binary outcomes: does the per-user incidence of the k event
    * types differ, with each USER as their own block? x_ij = 1 iff user
    * i emitted ≥1 event of type j (absence is a measured 0 — every block
    * is complete by construction). The textbook Q = k(k−1)Σ(G_j−N/k)² /
    * (kΣL_i−ΣL_i²) multiplies out to the ALL-INTEGER form
    * (k−1)(kΣG²−N²) / (kN−ΣL²) — exact BIGINT cores from two hash
    * aggregations (per-type block counts G_j; per-block type counts
    * L_i), one integral division to micros. df = k−1 is data-dependent,
    * so the χ²(0.05) critical value is a baked ladder over df 1..8
    * (events carry a handful of types; a df past the ladder reports
    * significant = 0 with crit = 0 rather than inventing a constant —
    * pinned, oracle-mirrored). Degenerate all-complete blocks (kN = ΣL²)
    * report 0.
    */
  private val cochranQ: Q = (s, d) => {
    val ev = events(s, d).select(col("user_id"), col("event_type"))
    val cells = ev.distinct().ckpt() // G and L aggregations
    val g = cells.groupBy("event_type").agg(count(lit(1)).cast(LongType).as("gj"))
      .agg(count(lit(1)).cast(LongType).as("k"),
        sum("gj").cast(LongType).as("n_total"),
        sum(col("gj") * col("gj")).cast(LongType).as("sum_g2"))
    val l = cells.groupBy("user_id").agg(count(lit(1)).cast(LongType).as("li"))
      .agg(count(lit(1)).cast(LongType).as("n_blocks"),
        sum(col("li") * col("li")).cast(LongType).as("sum_l2"))
    val crit = "case k - 1 when 1 then 3841459L when 2 then 5991465L " +
      "when 3 then 7814728L when 4 then 9487729L when 5 then 11070498L " +
      "when 6 then 12591587L when 7 then 14067140L when 8 then 15507313L else 0L end"
    g.crossJoin(broadcast(l))
      .select(col("k"), col("n_blocks"), col("n_total"),
        expr(s"""case when cast(k as decimal(38,0)) * n_total - sum_l2 <= 0 then 0L else
            ((k - 1) * (cast(k as decimal(38,0)) * sum_g2 - cast(n_total as decimal(38,0)) * n_total) * 1000000)
              div (cast(k as decimal(38,0)) * n_total - sum_l2) end""").as("q_micros"),
        expr(crit).as("crit_micros"))
      .withColumn("significant",
        (col("crit_micros") > 0 && col("q_micros") > col("crit_micros")).cast(LongType))
  }

  /** Jonckheere–Terpstra ordered-alternative test across INDEPENDENT
    * groups — the unblocked complement of [[pageTrendTest]] (Page needs
    * complete blocks; JT only needs the groups ordered): do order totals
    * rise monotonically across the five priority classes? JT is the sum
    * of between-group Mann–Whitney counts for every ordered pair; at
    * scale it reduces to value-grain CDFs — one hash agg to (group,
    * cents) cells, the full cents×group grid (zero-filled so every CDF
    * is defined at every observed value), per-group running sums via
    * [[graft.ext.Prefix.runningSum]] (no single-reducer window), and a
    * bounded per-value suffix window over the ≤5 group rows. Ties count
    * ½ (tracked as integer 2·JT); the no-tie normal approximation is
    * pinned (ties are a vanishing fraction of price cents — the
    * tie-corrected variance is a documented refinement, not silently
    * approximated): z² = 9·(4JT−(n²−Σn_g²))² / (2·(n²(2n+3)−Σn_g²(2n_g+3)))
    * in one decimal38 chain, baked χ²(1) verdict, trend direction
    * reported signed.
    */
  private val jonckheereTerpstra: Q = (s, d) => {
    val cells = orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      .groupBy("grp", "cents").agg(count(lit(1)).cast(LongType).as("c"))
      .ckpt() // pivot + group-size consumers
    // r11 restructure (guide §2.3/§2.4): the groups are the ≤5 priority
    // classes, so pivot them to COLUMNS at the cents grain instead of
    // zero-filling a |cents|×|groups| grid. The old shape shuffled the
    // 5×-wider grid three times (grid join, per-group range CDF, a
    // per-cents suffix window); this one shuffles the |cents|-row wide
    // frame once into [[Prefix.runningSums]] (every group's CDF from the
    // SAME range exchange) and folds the suffix sums in-row. Group sizes
    // and the moment terms are driver-side BOUNDED scalars (≤|groups|
    // rows — the pagerank/signBucketBits class of model fetch), inlined
    // as literals. jt2 and every output column are value-identical:
    // same cells, same per-(cents, group) cdf/gt/tie terms, same
    // decimal(38) moment chain.
    val grps = cells.select("grp").distinct()
      .collect().map(_.getString(0)).sorted // Spark string order = UTF8 binary = Java compareTo on ASCII
    val ng = cells.groupBy("grp").agg(sum("c").cast(LongType).as("ng"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cg = grps.indices.map(i => s"c_$i")
    val wide = cells
      .groupBy("cents")
      .agg(
        coalesce(sum(when(col("grp") === grps.head, col("c"))), lit(0L)).as(cg.head),
        grps.drop(1).zipWithIndex.map { case (g, i) =>
          coalesce(sum(when(col("grp") === g, col("c"))), lit(0L)).as(cg(i + 1))
        }: _*)
    val cdf = Prefix.runningSums(
      wide, lit(0L), Seq(col("cents").asc),
      grps.indices.map(i => (col(cg(i)), s"cdf_$i")))
    // per-cents contribution, all in-row: for group i, the LATER groups
    // (lexicographically greater, exactly the old desc-ordered suffix
    // window) contribute gt_j = ng_j − cdf_j and ties c_j
    val jt2c = grps.indices.map { i =>
      val later = (i + 1) until grps.length
      val sGt = later
        .map(j => lit(ng(grps(j))) - col(s"cdf_$j"))
        .foldLeft(lit(0L): Column)(_ + _)
      val sTie = later
        .map(j => col(cg(j)))
        .foldLeft(lit(0L): Column)(_ + _)
      col(cg(i)) * (lit(2L) * sGt + sTie)
    }.reduce(_ + _)
    val contrib = cdf.select(jt2c.as("jt2c")).agg(sum("jt2c").cast(LongType).as("jt2"))
    // moments are pure functions of the bounded group sizes — exact
    // BigInt on the driver, inlined as decimal literals (same values the
    // old decimal(38) aggregate produced)
    val n = ng.values.map(BigInt(_)).sum
    val sumN2 = ng.values.map(v => BigInt(v) * v).sum
    val sumN23 = ng.values.map(v => BigInt(v) * v * (2 * v + 3)).sum
    val k4 = n * n - sumN2 // (n² − Σn_g²), the a4 subtrahend
    val dd = n * n * (2 * n + 3) - sumN23
    contrib
      .select(col("jt2"), lit(n.toLong).as("n"),
        expr(s"2 * cast(jt2 as decimal(38,0)) - cast('$k4' as decimal(38,0))").as("a4"))
      .select(col("jt2"), col("n"),
        expr("case when a4 > 0 then 1L when a4 < 0 then -1L else 0L end").as("trend_dir"),
        expr(s"""case when cast('$dd' as decimal(38,0)) <= 0 then 0L else
            (a4 * a4 * 9 * 1000000) div (2 * cast('$dd' as decimal(38,0))) end""")
          .cast(LongType).as("z2_micros"))
      .withColumn("significant", (col("z2_micros") > 3841459L).cast(LongType))
  }

  def queries: Map[String, Q] = Map(
    "cmh_test" -> cmhTest,
    "cochran_q" -> cochranQ,
    "jonckheere_terpstra" -> jonckheereTerpstra,
    "harrell_c_index" -> harrellCIndex,
    "page_trend_test" -> pageTrendTest,
    "tukey_hsd" -> tukeyHsd,
    "qte_deciles" -> qteDeciles,
    "rbo_leaderboard" -> rboLeaderboard,
    "log_rank_test" -> logRankTest,
    "friedman_test" -> friedmanTest,
    "did_estimator" -> didEstimator,
    "partial_correlation" -> partialCorrelation,
    "jackknife_ratio_ci" -> jackknifeRatioCi,
    "simpsons_paradox_audit" -> simpsonsParadoxAudit,
    "capture_recapture_audit" -> captureRecaptureAudit,
    "rolling_median_7d" -> rollingMedian7d,
    "cramers_v" -> cramersV,
    "corr_matrix" -> corrMatrix,
    "yuen_trimmed_t" -> yuenTrimmedT,
    "segmented_trend" -> segmentedTrend,
    "xcorr_daily" -> xcorrDaily,
    "embedding_power_iteration" -> embeddingPowerIteration,
    "bh_fdr_tests" -> bhFdrTests,
    "permutation_test_halves" -> permutationTestHalves,
    "k_anonymity_audit" -> kAnonymityAudit,
    "reach_7d" -> reach7d,
    "ndcg_bm25" -> ndcgBm25,
    "wilcoxon_signed_rank" -> wilcoxonSignedRank,
    "cliffs_delta" -> cliffsDelta,
    "hodges_lehmann" -> hodgesLehmann,
    "zipf_slope_bucketed" -> zipfSlopeBucketed,
    "attribution_ushape" -> attributionUshape,
    "kruskal_wallis" -> kruskalWallis,
    "anova_oneway" -> anovaOneway,
    "levene_brown_forsythe" -> leveneBrownForsythe,
    "trend_test_armitage" -> trendTestArmitage,
    "kendall_tau_daily" -> kendallTauDaily,
    "association_rules" -> associationRules,
    "calibration_bins" -> calibrationBins,
    "ltv_cumulative" -> ltvCumulative,
    "resurrection_rate" -> resurrectionRate,
    "mann_kendall_trend" -> mannKendallTrend,
    "cuped_adjustment" -> cupedAdjustment,
    "acf_daily" -> acfDaily,
    "runs_test" -> runsTest,
    "spearman_daily" -> spearmanDaily,
    "revenue_reconciliation" -> revenueReconciliation,
    "basket_triples" -> basketTriples,
    "clustering_coefficient" -> clusteringCoefficient,
    "weighted_median" -> weightedMedian,
    "chi2_independence" -> chi2Independence,
    "source_profile_cosine" -> sourceProfileCosine,
    "ks_two_sample" -> ksTwoSample,
    "bootstrap_ci_mean" -> bootstrapCiMean,
    "dq_expectations" -> dqExpectations,
    "ols_trend_exact" -> olsTrendExact,
    "vocab_coverage_curve" -> vocabCoverageCurve,
    "leaderboard_decayed" -> leaderboardDecayed,
    "graph_modularity" -> graphModularity,
    "topk_stability_audit" -> topkStabilityAudit,
    "embedding_centroid_drift" -> embeddingCentroidDrift,
    "window_funnel_depth" -> windowFunnelDepth,
    "survival_kaplan_meier" -> survivalKaplanMeier,
    "source_simpson_diversity" -> sourceSimpsonDiversity,
    "contrastive_negatives" -> contrastiveNegatives,
    "stickiness_dau_mau" -> stickinessDauMau,
    "benford_digit_audit" -> benfordDigitAudit,
    "changepoint_cusum" -> changepointCusum,
    "gini_user_revenue" -> giniUserRevenue,
    "conversion_rate_7d" -> conversionRate7d,
    "graph_assortativity" -> graphAssortativity,
    "term_lift_pairs" -> termLiftPairs,
    "max_drawdown" -> maxDrawdown,
    "attribution_linear" -> attributionLinear,
    "ab_test_proportions" -> abTestProportions,
    "gini_split_scores" -> giniSplitScores,
    "rfm_scores" -> rfmScores,
    "seasonal_naive_backtest" -> seasonalNaiveBacktest,
    "event_paths_top" -> eventPathsTop,
    "backlog_timeline" -> backlogTimeline,
    "anomaly_seasonal" -> anomalySeasonal,
    "theil_sen_slope" -> theilSenSlope,
    "embedding_quantize_audit" -> embeddingQuantizeAudit,
    "bfs_3hop" -> bfs3Hop,
    "link_predict_jaccard" -> linkPredictJaccard,
    "time_to_convert" -> timeToConvert,
    "inverted_index" -> invertedIndex,
    "winsorize_audit" -> winsorizeAudit,
    "kcore_peel" -> kcorePeel,
    "attribution_last_touch" -> attributionLastTouch,
    "item_item_jaccard" -> itemItemJaccard,
    "skyline_pareto" -> skylinePareto,
    "rrf_fusion" -> rrfFusion,
    "nucleus_select" -> nucleusSelect,
    "ewma_user" -> ewmaUser,
    "basket_pairs" -> basketPairs,
    "graph_triangles" -> graphTriangles,
    "bm25_topk" -> bm25TopK,
    "sample_weighted_pps" -> sampleWeightedPps,
    "source_tv_divergence" -> sourceTvDivergence)

  private val normSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  def oracle: Map[String, String] = Map(
    "cmh_test" ->
      """WITH j AS (SELECT l.l_linestatus AS stratum,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS hi,
        |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |st AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(hi) AS BIGINT) AS r1, CAST(SUM(ret) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN hi = 1 THEN ret ELSE 0 END) AS BIGINT) AS a
        |  FROM j GROUP BY stratum),
        |tv AS (SELECT
        |    CASE WHEN n = 0 THEN 0
        |      WHEN CAST(a AS HUGEINT) * n - CAST(r1 AS HUGEINT) * c1 >= 0
        |      THEN (CAST(a AS HUGEINT) * n - CAST(r1 AS HUGEINT) * c1) * 1000000 // n
        |      ELSE -((CAST(r1 AS HUGEINT) * c1 - CAST(a AS HUGEINT) * n) * 1000000 // n)
        |    END AS t_u,
        |    CASE WHEN n <= 1 THEN 0 ELSE
        |      (CAST(r1 AS HUGEINT) * (n - r1) * c1 * (n - c1) * 1000000)
        |        // (CAST(n AS HUGEINT) * n * (n - 1)) END AS v_u
        |  FROM st),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(t_u) AS BIGINT) AS t_micros, CAST(SUM(v_u) AS BIGINT) AS v_micros FROM tv)
        |SELECT n_strata, t_micros, v_micros,
        |  CAST(CASE WHEN v_micros <= 0 THEN 0 ELSE
        |    (CAST(t_micros AS HUGEINT) * t_micros) // v_micros END AS BIGINT) AS cmh_micros,
        |  CAST(CASE WHEN v_micros > 0 AND
        |    (CAST(t_micros AS HUGEINT) * t_micros) // v_micros > 3841459
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM ag""".stripMargin,
    "cochran_q" ->
      """WITH cells AS (SELECT DISTINCT user_id, event_type FROM events),
        |g0 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS gj FROM cells GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(gj) AS BIGINT) AS n_total,
        |    CAST(SUM(gj * gj) AS BIGINT) AS sum_g2 FROM g0),
        |l0 AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS li FROM cells GROUP BY 1),
        |l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(li * li) AS BIGINT) AS sum_l2 FROM l0)
        |SELECT k, n_blocks, n_total,
        |  CAST(CASE WHEN CAST(k AS HUGEINT) * n_total - sum_l2 <= 0 THEN 0 ELSE
        |    ((k - 1) * (CAST(k AS HUGEINT) * sum_g2 - CAST(n_total AS HUGEINT) * n_total) * 1000000)
        |      // (CAST(k AS HUGEINT) * n_total - sum_l2) END AS BIGINT) AS q_micros,
        |  CAST(CASE k - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465 WHEN 3 THEN 7814728
        |    WHEN 4 THEN 9487729 WHEN 5 THEN 11070498 WHEN 6 THEN 12591587
        |    WHEN 7 THEN 14067140 WHEN 8 THEN 15507313 ELSE 0 END AS BIGINT) AS crit_micros,
        |  CAST(CASE WHEN (CASE k - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465
        |      WHEN 3 THEN 7814728 WHEN 4 THEN 9487729 WHEN 5 THEN 11070498
        |      WHEN 6 THEN 12591587 WHEN 7 THEN 14067140 WHEN 8 THEN 15507313 ELSE 0 END) > 0
        |    AND (CASE WHEN CAST(k AS HUGEINT) * n_total - sum_l2 <= 0 THEN 0 ELSE
        |      ((k - 1) * (CAST(k AS HUGEINT) * sum_g2 - CAST(n_total AS HUGEINT) * n_total) * 1000000)
        |        // (CAST(k AS HUGEINT) * n_total - sum_l2) END) >
        |      (CASE k - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465 WHEN 3 THEN 7814728
        |        WHEN 4 THEN 9487729 WHEN 5 THEN 11070498 WHEN 6 THEN 12591587
        |        WHEN 7 THEN 14067140 WHEN 8 THEN 15507313 ELSE 0 END)
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM g, l""".stripMargin,
    "jonckheere_terpstra" ->
      """WITH cells AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |grid AS (SELECT v.cents, gg.grp, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT cents FROM cells) v
        |  CROSS JOIN (SELECT DISTINCT grp FROM cells) gg
        |  LEFT JOIN cells c ON c.cents = v.cents AND c.grp = gg.grp),
        |cdf AS (SELECT grp, cents, c,
        |    SUM(c) OVER (PARTITION BY grp ORDER BY cents) AS cdf FROM grid),
        |sizes AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS ng FROM cells GROUP BY grp),
        |gt AS (SELECT cdf.grp, cdf.cents, cdf.c, s.ng - cdf.cdf AS gt FROM cdf
        |  JOIN sizes s ON s.grp = cdf.grp),
        |suf AS (SELECT grp, cents, c,
        |    coalesce(SUM(gt) OVER (PARTITION BY cents ORDER BY grp DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_gt,
        |    coalesce(SUM(c) OVER (PARTITION BY cents ORDER BY grp DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_tie
        |  FROM gt),
        |jt AS (SELECT CAST(SUM(c * (2 * s_gt + s_tie)) AS BIGINT) AS jt2 FROM suf),
        |mo AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(ng * ng) AS BIGINT) AS sum_n2,
        |    SUM(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS sum_n23 FROM sizes),
        |ad AS (SELECT jt2, n,
        |    2 * CAST(jt2 AS HUGEINT) - (CAST(n AS HUGEINT) * n - sum_n2) AS a4,
        |    CAST(n AS HUGEINT) * n * (2 * n + 3) - sum_n23 AS dd
        |  FROM jt, mo)
        |SELECT jt2, n,
        |  CAST(CASE WHEN a4 > 0 THEN 1 WHEN a4 < 0 THEN -1 ELSE 0 END AS BIGINT) AS trend_dir,
        |  CAST(CASE WHEN dd <= 0 THEN 0 ELSE (a4 * a4 * 9 * 1000000) // (2 * dd) END AS BIGINT) AS z2_micros,
        |  CAST(CASE WHEN dd > 0 AND (a4 * a4 * 9 * 1000000) // (2 * dd) > 3841459
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM ad""".stripMargin,
    "harrell_c_index" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type, value
        |  FROM events),
        |u AS (SELECT user_id, MIN(day) AS fd, MAX(day) AS ld FROM e GROUP BY user_id),
        |cv AS (SELECT user_id, MIN(day) AS pd FROM e
        |       WHERE event_type = 'purchase' AND value >= 200 GROUP BY user_id),
        |sc AS (SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS sc
        |       FROM e JOIN u ON e.user_id = u.user_id AND e.day = u.fd
        |       GROUP BY e.user_id),
        |un AS (SELECT CASE WHEN pd IS NOT NULL THEN pd - fd ELSE ld - fd END AS dur,
        |         CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS death, sc.sc
        |       FROM u LEFT JOIN cv USING (user_id) JOIN sc USING (user_id)),
        |cl AS (SELECT dur, death, sc, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM un GROUP BY 1, 2, 3),
        |pr AS (SELECT i.sc AS s1, j.sc AS s2, CAST(i.c AS HUGEINT) * j.c AS w
        |       FROM (SELECT * FROM cl WHERE death = 1) i
        |       JOIN cl j ON i.dur < j.dur OR (i.dur = j.dur AND j.death = 0)),
        |ag AS (SELECT CAST(SUM(w) AS BIGINT) AS n_comparable,
        |         CAST(SUM(CASE WHEN s1 > s2 THEN w ELSE 0 END) AS BIGINT) AS n_concordant,
        |         CAST(SUM(CASE WHEN s1 = s2 THEN w ELSE 0 END) AS BIGINT) AS n_score_ties
        |       FROM pr)
        |SELECT n_comparable, n_concordant, n_score_ties,
        |  CASE WHEN n_comparable = 0 THEN 0 ELSE CAST(
        |    ((2 * CAST(n_concordant AS HUGEINT) + n_score_ties) * 1000000)
        |    // (2 * CAST(n_comparable AS HUGEINT)) AS BIGINT) END AS c_micros
        |FROM ag""".stripMargin,
    "page_trend_test" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |dd AS (SELECT day // 7 AS wk, day % 7 AS dow, rev FROM daily),
        |blk AS (SELECT wk, COUNT(*) AS nd FROM dd GROUP BY wk),
        |cw AS (SELECT wk FROM blk WHERE nd = 7),
        |rk AS (SELECT wk, dow,
        |         CAST(row_number() OVER (PARTITION BY wk ORDER BY rev, dow) AS BIGINT) AS r
        |       FROM dd WHERE wk IN (SELECT wk FROM cw)),
        |ls AS (SELECT CAST(SUM((dow + 1) * r) AS BIGINT) AS l_stat FROM rk),
        |bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM cw),
        |fin AS (SELECT b, l_stat,
        |    CASE WHEN b = 0 THEN 0 ELSE CAST(
        |      (3 * CAST(l_stat - 112 * b AS HUGEINT) * (l_stat - 112 * b) * 1000000)
        |      // (392 * b) AS BIGINT) END AS z2_micros
        |  FROM ls CROSS JOIN bb)
        |SELECT b, l_stat, z2_micros,
        |  CAST(z2_micros > 3841459 AS BIGINT) AS significant FROM fin""".stripMargin,
    "tukey_hsd" ->
      """WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sr
        |  FROM lineitem),
        |s AS (SELECT *,
        |    CAST(CAST(sa AS HUGEINT) * sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      + CAST(CAST(sn AS HUGEINT) * sn AS DOUBLE) / CAST(nn AS DOUBLE)
        |      + CAST(CAST(sr AS HUGEINT) * sr AS DOUBLE) / CAST(nr AS DOUBLE)
        |      - CAST(CAST(sx AS HUGEINT) * sx AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        |    CAST(CAST(sx AS HUGEINT) * sx AS DOUBLE) / CAST(n AS DOUBLE) AS corr
        |  FROM m),
        |w AS (SELECT *,
        |    ((CAST(sxx AS DOUBLE) - corr) - ssb) / CAST(n - 3 AS DOUBLE) AS msw FROM s)
        |SELECT 'A' AS g1, 'N' AS g2,
        |  CAST(floor((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000.0) AS BIGINT) AS diff_micros,
        |  CAST(floor(3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(na AS DOUBLE)
        |    + 1.0 / CAST(nn AS DOUBLE))) * 1000000.0) AS BIGINT) AS hsd_micros,
        |  CAST(abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)) >
        |    3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(na AS DOUBLE)
        |    + 1.0 / CAST(nn AS DOUBLE))) AS BIGINT) AS significant FROM w
        |UNION ALL
        |SELECT 'A', 'R',
        |  CAST(floor((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) * 1000000.0) AS BIGINT),
        |  CAST(floor(3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(na AS DOUBLE)
        |    + 1.0 / CAST(nr AS DOUBLE))) * 1000000.0) AS BIGINT),
        |  CAST(abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) >
        |    3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(na AS DOUBLE)
        |    + 1.0 / CAST(nr AS DOUBLE))) AS BIGINT) FROM w
        |UNION ALL
        |SELECT 'N', 'R',
        |  CAST(floor((CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
        |    - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) * 1000000.0) AS BIGINT),
        |  CAST(floor(3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(nn AS DOUBLE)
        |    + 1.0 / CAST(nr AS DOUBLE))) * 1000000.0) AS BIGINT),
        |  CAST(abs(CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
        |    - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) >
        |    3.314493 * sqrt(msw * 0.5 * (1.0 / CAST(nn AS DOUBLE)
        |    + 1.0 / CAST(nr AS DOUBLE))) AS BIGINT) FROM w""".stripMargin,
    "qte_deciles" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS arm,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS uc
        |  FROM events GROUP BY user_id),
        |r AS (SELECT arm, uc, user_id,
        |    row_number() OVER (PARTITION BY arm ORDER BY uc, user_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY arm) AS n FROM u),
        |g AS (SELECT unnest(generate_series(1, 9)) AS d),
        |p AS (SELECT g.d, r.arm, r.uc FROM r JOIN g ON r.rn = (r.n * g.d + 9) // 10)
        |SELECT 'd' || CAST(t.d AS VARCHAR) AS decile,
        |  t.uc AS q_treat_cents, c.uc AS q_control_cents,
        |  t.uc - c.uc AS qte_cents
        |FROM (SELECT d, uc FROM p WHERE arm = 1) t
        |JOIN (SELECT d, uc FROM p WHERE arm = 0) c USING (d)""".stripMargin,
    "rbo_leaderboard" ->
      """WITH li AS (SELECT CAST(s.s_nationkey AS BIGINT) AS pk,
        |    epoch_ms(l.l_shipdate) // 86400000 AS day,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM li),
        |hv AS (SELECT pk, CASE WHEN day < mid THEN 0 ELSE 1 END AS h,
        |    CAST(SUM(cents) AS BIGINT) AS rev FROM li CROSS JOIN mid GROUP BY 1, 2),
        |t0 AS (SELECT pk, CAST(row_number() OVER (ORDER BY rev DESC, pk) AS BIGINT) AS r1
        |  FROM hv WHERE h = 0 QUALIFY r1 <= 20),
        |t1 AS (SELECT pk, CAST(row_number() OVER (ORDER BY rev DESC, pk) AS BIGINT) AS r2
        |  FROM hv WHERE h = 1 QUALIFY r2 <= 20),
        |j AS (SELECT greatest(r1, r2) AS mr FROM t0 JOIN t1 USING (pk)),
        |grid AS (SELECT unnest(generate_series(1, 20)) AS dd),
        |xd AS (SELECT dd, CAST(COUNT(*) AS BIGINT) AS x_d
        |  FROM grid JOIN j ON j.mr <= grid.dd GROUP BY dd),
        |wt AS (SELECT * FROM (VALUES (1, 100000000), (2, 90000000), (3, 81000000),
        |    (4, 72900000), (5, 65610000), (6, 59049000), (7, 53144100), (8, 47829690),
        |    (9, 43046721), (10, 38742049), (11, 34867844), (12, 31381060),
        |    (13, 28242954), (14, 25418658), (15, 22876792), (16, 20589113),
        |    (17, 18530202), (18, 16677182), (19, 15009464), (20, 13508517))
        |  v(dd, w))
        |SELECT CAST(MAX(CASE WHEN xd.dd = 20 THEN x_d END) AS BIGINT) AS x20,
        |  CAST(SUM((x_d * w) // xd.dd) AS BIGINT) AS rbo_nano
        |FROM xd JOIN wt ON xd.dd = wt.dd""".stripMargin,
    "log_rank_test" ->
      """WITH u AS (SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS fd,
        |    MAX(epoch_ms(ts) // 86400000) AS ld FROM events GROUP BY user_id),
        |cv AS (SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS pd FROM events
        |       WHERE event_type = 'purchase' AND value >= 200 GROUP BY user_id),
        |uu AS (SELECT CASE WHEN pd IS NOT NULL THEN pd - fd ELSE ld - fd END AS dur,
        |         CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS death,
        |         user_id % 2 AS arm
        |       FROM u LEFT JOIN cv USING (user_id)),
        |bt AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(death) AS BIGINT) AS dd,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |         CAST(SUM(CASE WHEN arm = 1 THEN death ELSE 0 END) AS BIGINT) AS dd1
        |       FROM uu GROUP BY dur),
        |st AS (SELECT dur, m, dd, m1, dd1,
        |         SUM(m) OVER (ORDER BY dur) AS cm, SUM(m1) OVER (ORDER BY dur) AS cm1,
        |         (SELECT SUM(m) FROM bt) AS tot, (SELECT SUM(m1) FROM bt) AS tot1
        |       FROM bt),
        |sx AS (SELECT dd, dd1, tot - cm + m AS n, tot1 - cm1 + m1 AS n1
        |       FROM st WHERE dd > 0),
        |ag AS (SELECT CAST(SUM(dd1) AS BIGINT) AS o1,
        |         CAST(SUM((CAST(dd AS HUGEINT) * n1 * 1000000) // n) AS BIGINT) AS e1_micros,
        |         CAST(SUM(CASE WHEN n > 1 THEN
        |           (CAST(dd AS HUGEINT) * n1 * (n - n1) * (n - dd) * 1000000)
        |           // (CAST(n AS HUGEINT) * n * (n - 1)) ELSE 0 END) AS BIGINT) AS v_micros
        |       FROM sx),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |         CAST(SUM(death) AS BIGINT) AS deaths_total FROM uu),
        |fin AS (SELECT n_total, deaths_total, o1, e1_micros, v_micros,
        |         CASE WHEN v_micros = 0 THEN 0 ELSE CAST(
        |           (CAST(o1 AS HUGEINT) * 1000000 - e1_micros)
        |           * (CAST(o1 AS HUGEINT) * 1000000 - e1_micros) // v_micros AS BIGINT)
        |         END AS chi2_micros
        |       FROM nt CROSS JOIN ag)
        |SELECT n_total, deaths_total, o1, e1_micros, v_micros, chi2_micros,
        |  CAST(chi2_micros > 3841459 AS BIGINT) AS significant FROM fin""".stripMargin,
    "friedman_test" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |dd AS (SELECT day // 7 AS wk, day % 7 AS dow, rev FROM daily),
        |blk AS (SELECT wk, COUNT(*) AS nd FROM dd GROUP BY wk),
        |cw AS (SELECT wk FROM blk WHERE nd = 7),
        |rk AS (SELECT wk, dow,
        |         CAST(row_number() OVER (PARTITION BY wk ORDER BY rev, dow) AS BIGINT) AS r
        |       FROM dd WHERE wk IN (SELECT wk FROM cw)),
        |rj AS (SELECT CAST(dow AS BIGINT) AS dow, CAST(SUM(r) AS BIGINT) AS r_sum
        |       FROM rk GROUP BY dow),
        |bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM cw),
        |ch AS (SELECT b, CAST((12 * SUM(r_sum * r_sum) * 1000000
        |           - 1344 * b * b * 1000000) // (56 * b) AS BIGINT) AS chi2_micros
        |       FROM rj CROSS JOIN bb GROUP BY b)
        |SELECT dow, r_sum, b, chi2_micros,
        |  CAST(chi2_micros > 12591587 AS BIGINT) AS significant
        |FROM rj CROSS JOIN ch""".stripMargin,
    "did_estimator" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |bounds AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid,
        |    (MIN(day) + (MIN(day) + MAX(day) + 1) // 2 + 1) // 2 AS q1 FROM ev),
        |users AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN day < q1 THEN cents ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN day >= q1 AND day < mid THEN cents ELSE 0 END) AS BIGINT) AS xb,
        |    CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
        |  FROM ev CROSS JOIN bounds GROUP BY user_id),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN xa + xb ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN xa + xb ELSE 0 END) AS BIGINT) AS x0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS BIGINT) AS y0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN xa ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN xa ELSE 0 END) AS BIGINT) AS a0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN xb ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN xb ELSE 0 END) AS BIGINT) AS b0
        |  FROM users)
        |SELECT n, n1,
        |  CAST(floor(((CAST(y1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    - (CAST(y0 AS DOUBLE) / CAST(n - n1 AS DOUBLE)
        |    - CAST(x0 AS DOUBLE) / CAST(n - n1 AS DOUBLE))) * 1000000.0) AS BIGINT)
        |    AS did_micros,
        |  CAST(floor(((CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    - (CAST(b0 AS DOUBLE) / CAST(n - n1 AS DOUBLE)
        |    - CAST(a0 AS DOUBLE) / CAST(n - n1 AS DOUBLE))) * 1000000.0) AS BIGINT)
        |    AS placebo_micros
        |FROM m""".stripMargin,
    "partial_correlation" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y,
        |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS z FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(z) AS BIGINT) AS sz,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(z AS HUGEINT) * z) AS szz, SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * z) AS sxz, SUM(CAST(y AS HUGEINT) * z) AS syz
        |  FROM b),
        |s AS (SELECT
        |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS cxx,
        |    CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS cyy,
        |    CAST(CAST(n AS HUGEINT) * szz - CAST(sz AS HUGEINT) * sz AS DOUBLE) AS czz,
        |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS cxy,
        |    CAST(CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz AS DOUBLE) AS cxz,
        |    CAST(CAST(n AS HUGEINT) * syz - CAST(sy AS HUGEINT) * sz AS DOUBLE) AS cyz
        |  FROM m)
        |SELECT 'qty' AS x_col, 'price' AS y_col, 'disc' AS z_col,
        |  CAST(floor(cxy / sqrt(cxx * cyy) * 1000000.0) AS BIGINT) AS r_marginal_micros,
        |  CAST(floor((cxy * czz - cxz * cyz)
        |    / sqrt((cxx * czz - cxz * cxz) * (cyy * czz - cyz * cyz)) * 1000000.0)
        |    AS BIGINT) AS r_partial_micros FROM s
        |UNION ALL
        |SELECT 'qty', 'disc', 'price',
        |  CAST(floor(cxz / sqrt(cxx * czz) * 1000000.0) AS BIGINT),
        |  CAST(floor((cxz * cyy - cxy * cyz)
        |    / sqrt((cxx * cyy - cxy * cxy) * (czz * cyy - cyz * cyz)) * 1000000.0)
        |    AS BIGINT) FROM s
        |UNION ALL
        |SELECT 'price', 'disc', 'qty',
        |  CAST(floor(cyz / sqrt(cyy * czz) * 1000000.0) AS BIGINT),
        |  CAST(floor((cyz * cxx - cxy * cxz)
        |    / sqrt((cyy * cxx - cxy * cxy) * (czz * cxx - cxz * cxz)) * 1000000.0)
        |    AS BIGINT) FROM s""".stripMargin,
    "jackknife_ratio_ci" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS uc
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |bk AS (SELECT (CAST('0x' || substr(md5('jk:' || CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 20) AS bucket,
        |    CAST(SUM(uc) AS BIGINT) AS s_i, CAST(COUNT(*) AS BIGINT) AS n_i
        |  FROM pu GROUP BY 1),
        |tt AS (SELECT CAST(SUM(s_i) AS BIGINT) AS s, CAST(SUM(n_i) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS g FROM bk),
        |ri AS (SELECT s, n, g, bucket,
        |    CASE WHEN n = n_i THEN 0.0
        |      ELSE CAST(s - s_i AS DOUBLE) / CAST(n - n_i AS DOUBLE) END AS r_i
        |  FROM bk CROSS JOIN tt),
        |fold AS (SELECT MIN(s) AS s, MIN(n) AS n, MIN(g) AS g,
        |    list(r_i ORDER BY bucket) AS rs FROM ri),
        |st AS (SELECT s, n, g, rs,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rs), (a, x) -> a + x) AS sum_r
        |  FROM fold),
        |st2 AS (SELECT s, n, g,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(rs, x -> (x - sum_r / CAST(g AS DOUBLE))
        |        * (x - sum_r / CAST(g AS DOUBLE)))), (a, x) -> a + x) AS ssq
        |  FROM st),
        |fin AS (SELECT n, g, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ratio,
        |    sqrt(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE) * ssq) AS se FROM st2)
        |SELECT n, g,
        |  CAST(floor(ratio * 1000000.0) AS BIGINT) AS ratio_micros,
        |  CAST(floor(se * 1000000.0) AS BIGINT) AS se_micros,
        |  CAST(floor((ratio - 1.96 * se) * 1000000.0) AS BIGINT) AS lo_micros,
        |  CAST(floor((ratio + 1.96 * se) * 1000000.0) AS BIGINT) AS hi_micros
        |FROM fin""".stripMargin,
    "simpsons_paradox_audit" ->
      """WITH j AS (SELECT l.l_linestatus AS stratum,
        |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS hi
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |bs AS (SELECT stratum,
        |    CAST(SUM(hi) AS BIGINT) AS n_hi,
        |    CAST(SUM(CASE WHEN hi = 1 THEN ret ELSE 0 END) AS BIGINT) AS ret_hi,
        |    CAST(SUM(1 - hi) AS BIGINT) AS n_lo,
        |    CAST(SUM(CASE WHEN hi = 0 THEN ret ELSE 0 END) AS BIGINT) AS ret_lo
        |  FROM j GROUP BY stratum),
        |al AS (SELECT * FROM bs UNION ALL
        |  SELECT 'ALL', CAST(SUM(n_hi) AS BIGINT), CAST(SUM(ret_hi) AS BIGINT),
        |    CAST(SUM(n_lo) AS BIGINT), CAST(SUM(ret_lo) AS BIGINT) FROM bs),
        |df AS (SELECT *, CAST(ret_hi AS HUGEINT) * n_lo - CAST(ret_lo AS HUGEINT) * n_hi AS num
        |  FROM al),
        |dp AS (SELECT stratum, n_hi, ret_hi, n_lo, ret_lo,
        |    CASE WHEN n_hi = 0 OR n_lo = 0 THEN 0
        |      WHEN num >= 0 THEN CAST((num * 1000000) // (CAST(n_hi AS HUGEINT) * n_lo) AS BIGINT)
        |      ELSE -CAST(((-num) * 1000000) // (CAST(n_hi AS HUGEINT) * n_lo) AS BIGINT)
        |    END AS diff_ppm
        |  FROM df),
        |ps AS (SELECT CASE WHEN diff_ppm > 0 THEN 1 WHEN diff_ppm < 0 THEN -1 ELSE 0 END
        |    AS pooled_sgn FROM dp WHERE stratum = 'ALL')
        |SELECT stratum, n_hi, ret_hi, n_lo, ret_lo, diff_ppm,
        |  CAST(CASE WHEN stratum <> 'ALL' AND diff_ppm <> 0 AND pooled_sgn <> 0
        |    AND (CASE WHEN diff_ppm > 0 THEN 1 ELSE -1 END) = -pooled_sgn
        |    THEN 1 ELSE 0 END AS BIGINT) AS reversed
        |FROM dp CROSS JOIN ps""".stripMargin,
    "capture_recapture_audit" ->
      """WITH mk AS (SELECT
        |    (CAST('0x' || substr(md5('crA:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10) < 3 AS a,
        |    (CAST('0x' || substr(md5('crB:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10) < 3 AS b
        |  FROM documents),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS m_ab
        |  FROM mk),
        |es AS (SELECT *, CAST((CAST(n_a + 1 AS HUGEINT) * (n_b + 1)) // (m_ab + 1) - 1
        |    AS BIGINT) AS chapman_est FROM ag)
        |SELECT n_true, n_a, n_b, m_ab, chapman_est,
        |  CASE WHEN chapman_est >= n_true
        |    THEN CAST((CAST(chapman_est AS HUGEINT) - n_true) * 1000000 // n_true AS BIGINT)
        |    ELSE -CAST((CAST(n_true AS HUGEINT) - chapman_est) * 1000000 // n_true AS BIGINT)
        |  END AS err_ppm
        |FROM es""".stripMargin,
    "rolling_median_7d" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |w AS (SELECT d.day + k.k AS day, rev
        |  FROM daily d, (SELECT unnest(generate_series(0, 6)) AS k) k
        |  WHERE d.day + k.k IN (SELECT day FROM daily)),
        |g AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_window,
        |    list_sort(list(rev)) AS wl FROM w GROUP BY day)
        |SELECT day, n_window,
        |  CAST(wl[CAST((n_window + 1) // 2 AS INT)] AS BIGINT) AS median_rev
        |FROM g""".stripMargin,
    "cramers_v" ->
      """WITH obs AS (SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT l_returnflag, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
        |ct AS (SELECT l_linestatus, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
        |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS nc FROM obs),
        |cells AS (SELECT n, nr, nc,
        |    CAST(floor(
        |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) *
        |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) * 1000000.0 /
        |      (CAST(CAST(r AS HUGEINT) * c AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT) AS contrib
        |  FROM obs JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus) CROSS JOIN nt),
        |agg AS (SELECT MIN(n) AS n_total,
        |    CAST(LEAST(MIN(nr) - 1, MIN(nc) - 1) AS BIGINT) AS min_df,
        |    CAST(SUM(contrib) AS BIGINT) AS chi2_micros FROM cells)
        |SELECT n_total, min_df, chi2_micros,
        |  CAST(floor(sqrt(CAST(chi2_micros AS DOUBLE) / 1000000.0 /
        |    (CAST(n_total AS DOUBLE) * CAST(min_df AS DOUBLE))) * 1000000.0) AS BIGINT) AS v_micros
        |FROM agg""".stripMargin,
    "corr_matrix" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price,
        |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc,
        |    CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS tax
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(qty) AS BIGINT) AS s_qty, SUM(CAST(qty AS HUGEINT) * qty) AS ss_qty,
        |    CAST(SUM(price) AS BIGINT) AS s_price, SUM(CAST(price AS HUGEINT) * price) AS ss_price,
        |    CAST(SUM(disc) AS BIGINT) AS s_disc, SUM(CAST(disc AS HUGEINT) * disc) AS ss_disc,
        |    CAST(SUM(tax) AS BIGINT) AS s_tax, SUM(CAST(tax AS HUGEINT) * tax) AS ss_tax,
        |    SUM(CAST(qty AS HUGEINT) * price) AS sp_qty_price,
        |    SUM(CAST(qty AS HUGEINT) * disc) AS sp_qty_disc,
        |    SUM(CAST(qty AS HUGEINT) * tax) AS sp_qty_tax,
        |    SUM(CAST(price AS HUGEINT) * disc) AS sp_price_disc,
        |    SUM(CAST(price AS HUGEINT) * tax) AS sp_price_tax,
        |    SUM(CAST(disc AS HUGEINT) * tax) AS sp_disc_tax
        |  FROM b),
        |p(x_col, y_col) AS (VALUES ('qty','price'), ('qty','disc'), ('qty','tax'),
        |  ('price','disc'), ('price','tax'), ('disc','tax')),
        |e AS (SELECT x_col, y_col, n,
        |    CAST(n AS HUGEINT) * (CASE x_col || '_' || y_col
        |      WHEN 'qty_price' THEN sp_qty_price WHEN 'qty_disc' THEN sp_qty_disc
        |      WHEN 'qty_tax' THEN sp_qty_tax WHEN 'price_disc' THEN sp_price_disc
        |      WHEN 'price_tax' THEN sp_price_tax ELSE sp_disc_tax END) -
        |      CAST(CASE x_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END AS HUGEINT) *
        |      (CASE y_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END) AS snum,
        |    CAST(n AS HUGEINT) * (CASE x_col WHEN 'qty' THEN ss_qty WHEN 'price' THEN ss_price
        |      WHEN 'disc' THEN ss_disc ELSE ss_tax END) -
        |      CAST(CASE x_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END AS HUGEINT) *
        |      (CASE x_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END) AS sxx,
        |    CAST(n AS HUGEINT) * (CASE y_col WHEN 'qty' THEN ss_qty WHEN 'price' THEN ss_price
        |      WHEN 'disc' THEN ss_disc ELSE ss_tax END) -
        |      CAST(CASE y_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END AS HUGEINT) *
        |      (CASE y_col WHEN 'qty' THEN s_qty WHEN 'price' THEN s_price
        |        WHEN 'disc' THEN s_disc ELSE s_tax END) AS syy
        |  FROM p CROSS JOIN m)
        |SELECT x_col, y_col, n,
        |  (CASE WHEN snum < 0 THEN -1 ELSE 1 END) *
        |  CAST(floor(CAST(snum AS DOUBLE) * CAST(snum AS DOUBLE) * 1000000.0 /
        |    (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))) AS BIGINT) AS r2_signed_micros
        |FROM e""".stripMargin,
    "yuen_trimmed_t" ->
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |cm AS (SELECT q, c1, c2,
        |    CAST(SUM(c1) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2 FROM f),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1) // 5 AS BIGINT) AS g1, CAST(SUM(c2) // 5 AS BIGINT) AS g2 FROM f),
        |k AS (SELECT cm.*, n1, n2, g1, g2,
        |    GREATEST(0, LEAST(cum1, n1 - g1) - GREATEST(cum1 - c1, g1)) AS k1,
        |    GREATEST(0, LEAST(cum2, n2 - g2) - GREATEST(cum2 - c2, g2)) AS k2
        |  FROM cm CROSS JOIN t),
        |agg AS (SELECT MIN(n1) AS n1, MIN(n2) AS n2, MIN(g1) AS g1, MIN(g2) AS g2,
        |    SUM(CAST(q * k1 AS HUGEINT)) AS ts1, SUM(CAST(q * q * k1 AS HUGEINT)) AS tss1,
        |    SUM(CAST(q * k2 AS HUGEINT)) AS ts2, SUM(CAST(q * q * k2 AS HUGEINT)) AS tss2,
        |    MIN(CASE WHEN cum1 >= g1 + 1 THEN q END) AS vlo1,
        |    MIN(CASE WHEN cum1 >= n1 - g1 THEN q END) AS vhi1,
        |    MIN(CASE WHEN cum2 >= g2 + 1 THEN q END) AS vlo2,
        |    MIN(CASE WHEN cum2 >= n2 - g2 THEN q END) AS vhi2
        |  FROM k),
        |w AS (SELECT *, n1 - 2 * g1 AS h1, n2 - 2 * g2 AS h2,
        |    ts1 + CAST(g1 AS HUGEINT) * (vlo1 + vhi1) AS ws1,
        |    ts2 + CAST(g2 AS HUGEINT) * (vlo2 + vhi2) AS ws2,
        |    tss1 + CAST(g1 AS HUGEINT) * (vlo1 * vlo1 + vhi1 * vhi1) AS wss1,
        |    tss2 + CAST(g2 AS HUGEINT) * (vlo2 * vlo2 + vhi2 * vhi2) AS wss2
        |  FROM agg),
        |s AS (SELECT *, CAST(n1 AS HUGEINT) * wss1 - ws1 * ws1 AS ssw1,
        |    CAST(n2 AS HUGEINT) * wss2 - ws2 * ws2 AS ssw2 FROM w)
        |SELECT n1, n2, g1, g2, h1, h2,
        |  CAST(ts1 * 1000000 // h1 AS BIGINT) AS mt1_micros,
        |  CAST(ts2 * 1000000 // h2 AS BIGINT) AS mt2_micros,
        |  CAST(floor(
        |    (CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE) - CAST(ts2 AS DOUBLE) / CAST(h2 AS DOUBLE))
        |    * (CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE) - CAST(ts2 AS DOUBLE) / CAST(h2 AS DOUBLE))
        |    / (CAST(ssw1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(h1 AS DOUBLE) * CAST(h1 - 1 AS DOUBLE))
        |     + CAST(ssw2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(h2 AS DOUBLE) * CAST(h2 - 1 AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS t2_micros,
        |  CAST(CASE WHEN CAST(floor(
        |    (CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE) - CAST(ts2 AS DOUBLE) / CAST(h2 AS DOUBLE))
        |    * (CAST(ts1 AS DOUBLE) / CAST(h1 AS DOUBLE) - CAST(ts2 AS DOUBLE) / CAST(h2 AS DOUBLE))
        |    / (CAST(ssw1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(h1 AS DOUBLE) * CAST(h1 - 1 AS DOUBLE))
        |     + CAST(ssw2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(h2 AS DOUBLE) * CAST(h2 - 1 AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) > 3841459 THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM s""".stripMargin,
    "segmented_trend" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(rev) AS BIGINT) AS tot
        |  FROM daily),
        |dev AS (SELECT day, rev * n_days - tot AS dev FROM daily CROSS JOIN st),
        |cum AS (SELECT day, CAST(SUM(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS c FROM dev),
        |pk AS (SELECT MAX(abs(c)) AS max_abs FROM cum),
        |cp AS (SELECT CAST(MIN(day) AS BIGINT) AS cp_day FROM cum CROSS JOIN pk
        |  WHERE abs(c) = max_abs),
        |sides AS (SELECT CASE WHEN day <= cp_day THEN 1 ELSE 0 END AS pre,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(day) AS BIGINT) AS sx,
        |    SUM(CAST(day AS HUGEINT) * day) AS sxx, CAST(SUM(rev) AS BIGINT) AS sy,
        |    SUM(CAST(day AS HUGEINT) * rev) AS sxy, MIN(cp_day) AS cp_day
        |  FROM daily CROSS JOIN cp GROUP BY 1),
        |sl AS (SELECT pre, n, cp_day,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS snum,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS sden FROM sides),
        |sm AS (SELECT pre, n, cp_day,
        |    CASE WHEN sden = 0 THEN NULL
        |      ELSE CAST(floor(CAST(snum AS DOUBLE) * 1000000.0 / CAST(sden AS DOUBLE)) AS BIGINT)
        |    END AS slope_micros FROM sl),
        |f AS (SELECT CAST(MIN(cp_day) AS BIGINT) AS cp_day,
        |    MIN(CASE WHEN pre = 1 THEN n END) AS n_pre,
        |    MIN(CASE WHEN pre = 0 THEN n END) AS n_post,
        |    MIN(CASE WHEN pre = 1 THEN slope_micros END) AS slope_pre_micros,
        |    MIN(CASE WHEN pre = 0 THEN slope_micros END) AS slope_post_micros
        |  FROM sm)
        |SELECT cp_day, n_pre, n_post, slope_pre_micros, slope_post_micros,
        |  CAST(slope_post_micros - slope_pre_micros AS BIGINT) AS slope_shift_micros
        |FROM f""".stripMargin,
    "xcorr_daily" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS vol
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS sr,
        |    CAST(SUM(vol) AS BIGINT) AS sv FROM daily),
        |dev AS (SELECT day, CAST(n AS HUGEINT) * rev - sr AS dr,
        |    CAST(n AS HUGEINT) * vol - sv AS dv FROM daily CROSS JOIN t),
        |norms AS (SELECT SUM(dr * dr) AS nr, SUM(dv * dv) AS nv FROM dev),
        |lg AS (SELECT k.lag, day + k.lag AS day, dv AS dvs
        |  FROM dev, (SELECT unnest([-7, -1, 0, 1, 7]) AS lag) k),
        |pairs AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(lg.dvs * dev.dr) AS num
        |  FROM lg JOIN dev USING (day) GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |  CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) * 1000000.0 /
        |    (CAST(nr AS DOUBLE) * CAST(nv AS DOUBLE))) AS BIGINT) AS ccf2_signed_micros
        |FROM pairs CROSS JOIN norms""".stripMargin,
    "embedding_power_iteration" ->
      """WITH qq AS (SELECT vec_id, p.pos AS dim,
        |    CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS pos) p),
        |d0 AS (SELECT vec_id, CAST(SUM(q) AS BIGINT) AS dot0 FROM qq GROUP BY vec_id),
        |v1 AS (SELECT dim, SUM(CAST(q AS HUGEINT) * dot0) AS v1
        |  FROM qq JOIN d0 USING (vec_id) GROUP BY dim),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM embeddings),
        |w AS (SELECT dim, CAST(v1 // (CAST(nn AS HUGEINT) * 10000) AS BIGINT) AS w
        |  FROM v1 CROSS JOIN nn),
        |d1 AS (SELECT vec_id, CAST(SUM(q * w.w) AS BIGINT) AS dot1
        |  FROM qq JOIN w USING (dim) GROUP BY vec_id),
        |v2 AS (SELECT dim, SUM(CAST(q AS HUGEINT) * dot1) AS v2
        |  FROM qq JOIN d1 USING (vec_id) GROUP BY dim),
        |m AS (SELECT (SELECT MAX(abs(v1)) FROM v1) AS m1, (SELECT MAX(abs(v2)) FROM v2) AS m2),
        |g AS (SELECT CASE WHEN m1 = 0 THEN 1 ELSE m1 END AS d1g,
        |             CASE WHEN m2 = 0 THEN 1 ELSE m2 END AS d2g FROM m)
        |SELECT CAST(v1.dim AS BIGINT) AS dim,
        |  CAST(floor(CAST(v1 AS DOUBLE) * 1000.0 / CAST(d1g AS DOUBLE)) AS BIGINT) AS v1_rel_milli,
        |  CAST(floor(CAST(v2 AS DOUBLE) * 1000.0 / CAST(d2g AS DOUBLE)) AS BIGINT) AS v2_rel_milli
        |FROM v1 JOIN v2 USING (dim) CROSS JOIN g""".stripMargin,
    "bh_fdr_tests" ->
      """WITH dg AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS dig FROM orders),
        |dc AS (SELECT dig, CAST(COUNT(*) AS BIGINT) AS k FROM dg GROUP BY 1),
        |nt AS (SELECT CAST(SUM(k) AS BIGINT) AS nn FROM dc),
        |bp(dig, p) AS (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992),
        |  (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)),
        |bf AS (SELECT 'benford:' || CAST(dig AS VARCHAR) AS test_id,
        |    CAST(floor((CAST(k AS DOUBLE) - CAST(nn AS DOUBLE) * p)
        |      * (CAST(k AS DOUBLE) - CAST(nn AS DOUBLE) * p)
        |      / (CAST(nn AS DOUBLE) * p * (1 - p)) * 1000000.0) AS BIGINT) AS z2_micros
        |  FROM bp JOIN dc USING (dig) CROSS JOIN nt),
        |bs AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n1) AS BIGINT) AS bigN, CAST(SUM(k1) AS BIGINT) AS bigK FROM bs),
        |nr AS (SELECT 'nation:' || n_name AS test_id,
        |    CAST(k1 AS HUGEINT) * (bigN - n1) - CAST(bigK - k1 AS HUGEINT) * n1 AS num,
        |    (CAST(n1 AS HUGEINT) * (bigN - n1)) * (CAST(bigK AS HUGEINT) * (bigN - bigK)) AS den,
        |    bigN
        |  FROM bs JOIN nation ON c_nationkey = n_nationkey CROSS JOIN tt),
        |na AS (SELECT test_id,
        |    CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) * CAST(bigN AS DOUBLE)
        |      / CAST(den AS DOUBLE) * 1000000.0) AS BIGINT) AS z2_micros FROM nr),
        |fam AS (SELECT * FROM bf UNION ALL SELECT * FROM na),
        |rk AS (SELECT test_id, z2_micros,
        |    CAST(ROW_NUMBER() OVER (ORDER BY z2_micros DESC, test_id) AS BIGINT) AS t_rank FROM fam),
        |th(i, t) AS (VALUES
        |  (1, 10115107), (2, 8843604), (3, 8106054), (4, 7585993), (5, 7184661),
        |  (6, 6858201), (7, 6583277), (8, 6345988), (9, 6137384), (10, 5951366),
        |  (11, 5783589), (12, 5630851), (13, 5490721), (14, 5361315), (15, 5241139),
        |  (16, 5128990), (17, 5023886), (18, 4925013), (19, 4831693), (20, 4743348),
        |  (21, 4659490), (22, 4579696), (23, 4503602), (24, 4430889), (25, 4361278),
        |  (26, 4294524), (27, 4230408), (28, 4168737), (29, 4109337), (30, 4052053),
        |  (31, 3996744), (32, 3943284), (33, 3891557), (34, 3841458)),
        |j AS (SELECT rk.test_id, rk.z2_micros, rk.t_rank, CAST(t AS BIGINT) AS thresh_micros
        |  FROM rk JOIN th ON t_rank = i),
        |st AS (SELECT COALESCE(MAX(CASE WHEN z2_micros >= thresh_micros THEN t_rank END), 0) AS istar
        |  FROM j)
        |SELECT test_id, z2_micros, t_rank, thresh_micros,
        |  CAST(CASE WHEN t_rank <= istar THEN 1 ELSE 0 END AS BIGINT) AS rejected
        |FROM j CROSS JOIN st""".stripMargin,
    "permutation_test_halves" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    (MIN(day) + MAX(day) + 1) // 2 AS mid FROM daily),
        |obs AS (SELECT n_days, mid,
        |    CAST(SUM(CASE WHEN day < mid THEN rev END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN day >= mid THEN rev END) AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM daily CROSS JOIN b GROUP BY 1, 2),
        |obsd AS (SELECT *, CAST((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
        |    * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS obs_diff_micros FROM obs),
        |perm AS (SELECT bb.b, day, rev,
        |    ROW_NUMBER() OVER (PARTITION BY bb.b ORDER BY
        |      CAST('0x' || substr(md5(CAST(bb.b AS VARCHAR) || ':' || CAST(day AS VARCHAR)), 1, 15)
        |        AS BIGINT) ASC, day ASC) AS prk
        |  FROM daily CROSS JOIN (SELECT unnest(generate_series(1, 200)) AS b) bb),
        |diffs AS (SELECT b,
        |    CAST(SUM(CASE WHEN prk <= o.n1 THEN rev ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN prk > o.n1 THEN rev ELSE 0 END) AS BIGINT) AS s2,
        |    MIN(o.n1) AS n1, MIN(o.n2) AS n2
        |  FROM perm CROSS JOIN (SELECT n1, n2 FROM obsd) o GROUP BY b),
        |dm AS (SELECT b, CAST((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
        |    * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_micros FROM diffs),
        |tail AS (SELECT CAST(SUM(CASE WHEN abs(d_micros) >= (SELECT abs(obs_diff_micros) FROM obsd)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge FROM dm)
        |SELECT n_days, n1, n2, CAST(200 AS BIGINT) AS b_reps, obs_diff_micros, n_ge,
        |  CAST((1 + n_ge) * 1000 // 201 AS BIGINT) AS p_milli
        |FROM obsd CROSS JOIN tail""".stripMargin,
    "k_anonymity_audit" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(MIN(n) AS BIGINT) AS k_min, CAST(MIN(l) AS BIGINT) AS l_min,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k5,
        |  CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS rows_below_l3
        |FROM g""".stripMargin,
    "reach_7d" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |win AS (SELECT DISTINCT user_id, day + k AS day
        |  FROM ud, (SELECT unnest(generate_series(0, 6)) AS k)),
        |rc AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS reach_7d FROM win
        |       WHERE day IN (SELECT day FROM ud) GROUP BY 1),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
        |SELECT day, dau, reach_7d, dau * 1000000 // reach_7d AS dau_share_micros
        |FROM rc JOIN dau USING (day)""".stripMargin,
    "ndcg_bm25" -> {
      val discSql = ndcgDiscounts.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString("CASE i ", " ", " ELSE 0 END")
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS dl FROM n),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_tok FROM tokd),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |q AS (SELECT tf.doc_id, tf.tf, dfq.df, tokd.dl, st.n_docs, st.t_tok
        |      FROM tf JOIN dfq USING (term) JOIN tokd USING (doc_id) CROSS JOIN st
        |      WHERE tf.term IN ('dup', 'vector', 'merge')),
        |c AS (SELECT doc_id,
        |        ((22 * tf * t_tok * 1000000) // (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs))
        |          * (2 * n_docs - 2 * df + 1) // (2 * df + 1) AS contrib
        |      FROM q),
        |top AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micros,
        |        CAST(COUNT(*) AS BIGINT) AS rel
        |      FROM c GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 20),
        |dcg AS (SELECT CAST(SUM(rel * ($discSql)) AS BIGINT) AS dcg FROM
        |  (SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS i FROM top)),
        |idcg AS (SELECT CAST(SUM(rel * ($discSql)) AS BIGINT) AS idcg FROM
        |  (SELECT rel, CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS i FROM top))
        |SELECT dcg, idcg, dcg * 1000000 // idcg AS ndcg_micros
        |FROM dcg CROSS JOIN idcg""".stripMargin
    },
    "wilcoxon_signed_rank" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |df AS (SELECT b.day, b.rev - a.rev AS dd
        |  FROM daily a JOIN daily b ON a.day + 7 = b.day WHERE b.rev - a.rev <> 0),
        |rk AS (SELECT dd, CAST(ROW_NUMBER() OVER (ORDER BY abs(dd), day) AS BIGINT) AS r FROM df),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN dd > 0 THEN r ELSE 0 END) AS BIGINT) AS wplus FROM rk)
        |SELECT n, wplus,
        |  CASE WHEN n = 0 THEN 0 ELSE
        |    CAST(CAST(3 AS HUGEINT) * (4 * wplus - n * (n + 1)) * (4 * wplus - n * (n + 1))
        |      * 1000000 // (CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1)) AS BIGINT) END AS z2_micros,
        |  CASE WHEN (CASE WHEN n = 0 THEN 0 ELSE
        |    CAST(CAST(3 AS HUGEINT) * (4 * wplus - n * (n + 1)) * (4 * wplus - n * (n + 1))
        |      * 1000000 // (CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1)) AS BIGINT) END) > 3841459
        |    THEN 1 ELSE 0 END AS significant
        |FROM a""".stripMargin,
    "cliffs_delta" ->
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT q, c1, c2,
        |    CAST(SUM(c2) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2 FROM f),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM f),
        |a AS (SELECT SUM(CAST(c1 AS HUGEINT) * (cum2 - c2)) AS ngt,
        |        SUM(CAST(c1 AS HUGEINT) * (n2 - cum2)) AS nlt,
        |        MIN(n1) AS n1, MIN(n2) AS n2
        |      FROM c CROSS JOIN t)
        |SELECT n1, n2,
        |  CAST((ngt - nlt) * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS delta_micros
        |FROM a""".stripMargin,
    "hodges_lehmann" ->
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |pr AS (SELECT a.q - b.q AS d, a.q AS v1, CAST(a.c1 * b.c2 AS BIGINT) AS w
        |  FROM f a CROSS JOIN f b WHERE a.c1 > 0 AND b.c2 > 0),
        |c AS (SELECT d, CAST(SUM(w) OVER (ORDER BY d, v1 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM pr),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM pr)
        |SELECT MIN(CASE WHEN cw >= (wt + 1) // 2 THEN d END) AS hl_shift,
        |  MIN(wt) AS n_pairs
        |FROM c CROSS JOIN t""".stripMargin,
    "zipf_slope_bucketed" ->
      s"""WITH tk AS (SELECT unnest(string_split(coalesce($normSql, ''), ' ')) AS term FROM documents),
        |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM tk
        |       WHERE length(term) > 0 GROUP BY term),
        |rk AS (SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, term) AS BIGINT) AS r FROM tc),
        |xy AS (SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x,
        |         CAST(length(bin(f)) - 1 AS BIGINT) AS y FROM rk),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    CAST(SUM(y) AS BIGINT) AS sy, SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM xy)
        |SELECT n AS n_terms,
        |  CAST(FLOOR(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) * 1e6 /
        |       CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT) AS slope_micros,
        |  CAST(FLOOR(CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS DOUBLE) * 1e6 /
        |       CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT) AS intercept_micros
        |FROM m""".stripMargin,
    "attribution_ushape" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |c AS (SELECT *,
        |    FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER wpre AS first_t,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER wpre AS last_t,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_click,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_view,
        |    COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_signup,
        |    COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_error
        |  FROM e
        |  WINDOW wpre AS (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT *, c_click + c_view + c_signup + c_error AS n_touch FROM c
        |      WHERE event_type = 'purchase'),
        |multi AS (SELECT *, cents * 4 // 10 AS fcred, cents * 4 // 10 AS lcred,
        |    cents - 2 * (cents * 4 // 10) AS mtot, n_touch - 2 AS nmid
        |  FROM p WHERE n_touch >= 2),
        |credits AS (
        |  SELECT 'organic' AS channel, cents AS credit FROM p WHERE n_touch = 0
        |  UNION ALL SELECT first_t, cents FROM p WHERE n_touch = 1
        |  UNION ALL SELECT first_t, fcred FROM multi
        |  UNION ALL SELECT last_t, lcred FROM multi
        |  UNION ALL SELECT 'click', CASE WHEN nmid > 0 THEN mtot * (c_click - (CASE WHEN first_t = 'click' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'click' THEN 1 ELSE 0 END)) // nmid ELSE 0 END FROM multi
        |  UNION ALL SELECT 'view', CASE WHEN nmid > 0 THEN mtot * (c_view - (CASE WHEN first_t = 'view' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'view' THEN 1 ELSE 0 END)) // nmid ELSE 0 END FROM multi
        |  UNION ALL SELECT 'signup', CASE WHEN nmid > 0 THEN mtot * (c_signup - (CASE WHEN first_t = 'signup' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'signup' THEN 1 ELSE 0 END)) // nmid ELSE 0 END FROM multi
        |  UNION ALL SELECT 'error', CASE WHEN nmid > 0 THEN mtot * (c_error - (CASE WHEN first_t = 'error' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'error' THEN 1 ELSE 0 END)) // nmid ELSE 0 END FROM multi
        |  UNION ALL SELECT last_t, mtot -
        |    (CASE WHEN nmid > 0 THEN mtot * (c_click - (CASE WHEN first_t = 'click' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'click' THEN 1 ELSE 0 END)) // nmid ELSE 0 END
        |     + CASE WHEN nmid > 0 THEN mtot * (c_view - (CASE WHEN first_t = 'view' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'view' THEN 1 ELSE 0 END)) // nmid ELSE 0 END
        |     + CASE WHEN nmid > 0 THEN mtot * (c_signup - (CASE WHEN first_t = 'signup' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'signup' THEN 1 ELSE 0 END)) // nmid ELSE 0 END
        |     + CASE WHEN nmid > 0 THEN mtot * (c_error - (CASE WHEN first_t = 'error' THEN 1 ELSE 0 END) - (CASE WHEN last_t = 'error' THEN 1 ELSE 0 END)) // nmid ELSE 0 END)
        |  FROM multi)
        |SELECT channel, CAST(SUM(credit) AS BIGINT) AS credit_cents
        |FROM credits GROUP BY channel HAVING SUM(credit) > 0 ORDER BY channel""".stripMargin,
    "anova_oneway" ->
      """WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sn,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sr
        |  FROM lineitem),
        |t AS (SELECT n, na, nn, nr,
        |    CAST(CAST(sa AS HUGEINT) * sa AS DOUBLE) / CAST(na AS DOUBLE) AS ta,
        |    CAST(CAST(sn AS HUGEINT) * sn AS DOUBLE) / CAST(nn AS DOUBLE) AS tn,
        |    CAST(CAST(sr AS HUGEINT) * sr AS DOUBLE) / CAST(nr AS DOUBLE) AS tr,
        |    CAST(CAST(sx AS HUGEINT) * sx AS DOUBLE) / CAST(n AS DOUBLE) AS corr,
        |    CAST(sxx AS DOUBLE) AS sxxd
        |  FROM m),
        |f AS (SELECT n, na, nn, nr,
        |    ((ta + tn) + tr) - corr AS ssb,
        |    (sxxd - corr) - (((ta + tn) + tr) - corr) AS ssw
        |  FROM t),
        |r AS (SELECT n, na, nn, nr,
        |    CAST(FLOOR(((ssb / 2.0) * CAST(n - 3 AS DOUBLE)) / ssw * 1e6) AS BIGINT) AS f_micros
        |  FROM f)
        |SELECT n, na, nn, nr, f_micros,
        |  CASE WHEN f_micros > 2995732 THEN 1 ELSE 0 END AS significant FROM r""".stripMargin,
    "levene_brown_forsythe" ->
      """WITH b AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |rk AS (SELECT g, q, ROW_NUMBER() OVER (PARTITION BY g ORDER BY q) AS rn,
        |        COUNT(*) OVER (PARTITION BY g) AS cnt FROM b),
        |med AS (SELECT g, CAST(q AS BIGINT) AS m FROM rk WHERE rn = (cnt + 1) // 2),
        |z AS (SELECT b.g, abs(b.q - med.m) AS q FROM b JOIN med USING (g)),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sx,
        |    SUM(CAST(q AS HUGEINT) * q) AS sxx,
        |    CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 'A' THEN q ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN g = 'N' THEN q ELSE 0 END) AS BIGINT) AS sn,
        |    CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN g = 'R' THEN q ELSE 0 END) AS BIGINT) AS sr
        |  FROM z),
        |t AS (SELECT n, na, nn, nr,
        |    CAST(CAST(sa AS HUGEINT) * sa AS DOUBLE) / CAST(na AS DOUBLE) AS ta,
        |    CAST(CAST(sn AS HUGEINT) * sn AS DOUBLE) / CAST(nn AS DOUBLE) AS tn,
        |    CAST(CAST(sr AS HUGEINT) * sr AS DOUBLE) / CAST(nr AS DOUBLE) AS tr,
        |    CAST(CAST(sx AS HUGEINT) * sx AS DOUBLE) / CAST(n AS DOUBLE) AS corr,
        |    CAST(sxx AS DOUBLE) AS sxxd
        |  FROM mm),
        |f AS (SELECT n, na, nn, nr,
        |    ((ta + tn) + tr) - corr AS ssb,
        |    (sxxd - corr) - (((ta + tn) + tr) - corr) AS ssw
        |  FROM t),
        |r AS (SELECT n, na, nn, nr,
        |    CAST(FLOOR(((ssb / 2.0) * CAST(n - 3 AS DOUBLE)) / ssw * 1e6) AS BIGINT) AS f_micros
        |  FROM f)
        |SELECT n, na, nn, nr, f_micros,
        |  CASE WHEN f_micros > 2995732 THEN 1 ELSE 0 END AS significant FROM r""".stripMargin,
    "trend_test_armitage" ->
      """WITH j AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS rr,
        |    CAST(SUM(w) AS BIGINT) AS sw,
        |    SUM(CAST(w AS HUGEINT) * w) AS sww,
        |    SUM(CAST(w AS HUGEINT) * r) AS swr
        |  FROM j),
        |c AS (SELECT n, rr, sw,
        |    CAST(n AS HUGEINT) * swr - CAST(rr AS HUGEINT) * sw AS num,
        |    (CAST(rr AS HUGEINT) * (n - rr)) *
        |      (CAST(n AS HUGEINT) * sww - CAST(sw AS HUGEINT) * sw) AS den
        |  FROM m),
        |z AS (SELECT n, rr, sw,
        |    CAST(FLOOR(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) * CAST(n AS DOUBLE)
        |      / CAST(den AS DOUBLE) * 1e6) AS BIGINT) AS z2_micros
        |  FROM c)
        |SELECT n AS n_lines, rr AS n_returned, CAST(sw AS BIGINT) AS sum_dose, z2_micros,
        |  CASE WHEN z2_micros > 3841459 THEN 1 ELSE 0 END AS significant FROM z""".stripMargin,
    "kendall_tau_daily" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(a.rev - b.rev AS HUGEINT) * (a.cnt - b.cnt) AS prod
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |    CAST(SUM(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties
        |  FROM p)
        |SELECT n_pairs, concordant, discordant, ties,
        |  CAST((CAST(concordant AS HUGEINT) - discordant) * 1000000 // n_pairs AS BIGINT) AS tau_micros
        |FROM agg""".stripMargin,
    "association_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM items),
        |und AS (SELECT i.pk AS x, j.pk AS y, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items i JOIN items j ON i.ok = j.ok AND i.pk < j.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dir AS (SELECT x AS a, y AS b, n_ab FROM und
        |  UNION ALL SELECT y AS a, x AS b, n_ab FROM und),
        |deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS dv FROM items GROUP BY 1)
        |SELECT dir.a, dir.b, n_ab,
        |  CAST(n_ab * 1000000 // da.dv AS BIGINT) AS conf_micros,
        |  CAST(CAST(n_ab AS HUGEINT) * n_baskets * 1000000
        |    // (CAST(da.dv AS HUGEINT) * db.dv) AS BIGINT) AS lift_micros
        |FROM dir JOIN deg da ON da.pk = dir.a JOIN deg db ON db.pk = dir.b
        |  CROSS JOIN nb
        |ORDER BY lift_micros DESC, conf_micros DESC, a, b LIMIT 20""".stripMargin,
    "calibration_bins" ->
      """WITH sc AS (SELECT
        |    least(CAST(len(list_filter(toks, tk -> tk IN ('the','of','and','to','a','in'))) AS BIGINT)
        |      * 1000 // greatest(CAST(len(toks) AS BIGINT), 1), 1000) * 1000 AS pred,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM (SELECT lang,
        |          string_split(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''), ' ') AS toks
        |        FROM documents)),
        |b AS (SELECT CAST(least(pred // 100000, 9) AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_bin,
        |    CAST(SUM(pred) AS BIGINT) AS sum_pred,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1),
        |r AS (SELECT bin, n_bin, n_pos,
        |    CAST(sum_pred // n_bin AS BIGINT) AS mean_pred_micros,
        |    CAST(n_pos * 1000000 // n_bin AS BIGINT) AS obs_micros
        |  FROM b)
        |SELECT bin, n_bin, n_pos, mean_pred_micros, obs_micros,
        |  abs(mean_pred_micros - obs_micros) AS gap_micros,
        |  n_bin * abs(mean_pred_micros - obs_micros) AS ece_mass
        |FROM r ORDER BY bin""".stripMargin,
    "kruskal_wallis" ->
      """WITH rk AS (SELECT l_returnflag AS g,
        |    CAST(ROW_NUMBER() OVER (ORDER BY CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber, l_returnflag) AS BIGINT) AS r
        |  FROM lineitem),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 'A' THEN r ELSE 0 END) AS BIGINT) AS ra,
        |    CAST(SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN g = 'N' THEN r ELSE 0 END) AS BIGINT) AS rn,
        |    CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN g = 'R' THEN r ELSE 0 END) AS BIGINT) AS rr
        |  FROM rk),
        |h AS (SELECT n, na, nn, nr,
        |    CAST(FLOOR((12.0 * (
        |        CAST(CAST(ra AS HUGEINT) * ra AS DOUBLE) / CAST(na AS DOUBLE) +
        |        CAST(CAST(rn AS HUGEINT) * rn AS DOUBLE) / CAST(nn AS DOUBLE) +
        |        CAST(CAST(rr AS HUGEINT) * rr AS DOUBLE) / CAST(nr AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) -
        |      3.0 * CAST(n + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS h_micros
        |  FROM t)
        |SELECT n, na, nn, nr, h_micros,
        |  CASE WHEN h_micros > 5991465 THEN 1 ELSE 0 END AS significant FROM h""".stripMargin,
    "ltv_cumulative" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    (epoch_ms(ts) // 86400000) // 7 AS w,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |ch AS (SELECT user_id, CAST(MIN(w) AS BIGINT) AS cohort FROM ev
        |       WHERE event_type = 'purchase' AND cents >= 20000 GROUP BY 1),
        |act AS (SELECT cohort, w - cohort AS age, CAST(SUM(cents) AS BIGINT) AS rev
        |  FROM ev JOIN ch USING (user_id)
        |  WHERE event_type = 'purchase' AND w >= cohort GROUP BY 1, 2),
        |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users FROM ch GROUP BY 1),
        |cum AS (SELECT cohort, age, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev FROM act)
        |SELECT cohort, age, rev, cum_rev,
        |  CAST(CAST(cum_rev AS HUGEINT) * 1000000 // n_users AS BIGINT) AS ltv_micros,
        |  n_users
        |FROM cum JOIN sz USING (cohort)""".stripMargin,
    "resurrection_rate" ->
      """WITH um AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS m FROM events WHERE event_type = 'purchase'),
        |fm AS (SELECT user_id, CAST(MIN(m) AS BIGINT) AS fm FROM um GROUP BY 1),
        |j AS (SELECT a.user_id, a.m, fm.fm,
        |        CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS was_prev
        |      FROM um a JOIN fm ON a.user_id = fm.user_id
        |      LEFT JOIN um p ON a.user_id = p.user_id AND p.m = a.m - 1)
        |SELECT m, CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(SUM(CASE WHEN fm = m THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN was_prev = 1 AND fm < m THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN was_prev = 0 AND fm < m THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |  CAST(SUM(CASE WHEN was_prev = 0 AND fm < m THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS resurrect_micros,
        |  CAST(SUM(CASE WHEN was_prev = 1 AND fm < m THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS retain_micros
        |FROM j GROUP BY m""".stripMargin,
    "mann_kendall_trend" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
        |        WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s
        |      FROM daily a JOIN daily b ON a.day < b.day),
        |tc AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tc FROM
        |        (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |z AS (SELECT n, s,
        |    CASE WHEN s = 0 THEN 0 ELSE
        |      CAST((abs(s) - 1) * (abs(s) - 1) * CAST(18 AS HUGEINT) * 1000000
        |        // (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tc) AS BIGINT) END AS z2_micros
        |  FROM p CROSS JOIN tc CROSS JOIN nn)
        |SELECT n, s, z2_micros,
        |  CASE WHEN z2_micros > 3841459 THEN 1 ELSE 0 END AS significant FROM z""".stripMargin,
    "cuped_adjustment" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |md AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM ev),
        |u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 AS arm
        |  FROM ev CROSS JOIN md GROUP BY user_id),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
        |  FROM u)
        |SELECT n, n1,
        |  CAST(FLOOR(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1e6) AS BIGINT) AS theta_micros,
        |  CAST(FLOOR((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |    CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE)) * 1e6) AS BIGINT) AS delta_raw_micros,
        |  CAST(FLOOR(((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE)) -
        |    CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |      CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |    (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(sx - sx1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))) * 1e6) AS BIGINT) AS delta_adj_micros
        |FROM m""".stripMargin,
    "acf_daily" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev) AS BIGINT) AS s FROM daily),
        |dev AS (SELECT day, CAST(n AS HUGEINT) * rev - s AS dv FROM daily CROSS JOIN tot),
        |den AS (SELECT SUM(dv * dv) AS den FROM dev),
        |lags AS (SELECT unnest([1, 7, 14]) AS lag),
        |pr AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs, SUM(a.dv * b.dv) AS num
        |       FROM lags, dev a JOIN dev b ON a.day + lag = b.day
        |       GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CAST(num * 1000000 // den AS BIGINT) AS acf_micros
        |FROM pr CROSS JOIN den""".stripMargin,
    "runs_test" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |rr AS (SELECT day, rev, CAST(ROW_NUMBER() OVER (ORDER BY rev, day) AS BIGINT) AS rr FROM daily),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |md AS (SELECT MIN(CASE WHEN rr = (n + 1) // 2 THEN rev END) AS m FROM rr CROSS JOIN nn),
        |sg AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS r,
        |         CASE WHEN rev > m THEN 1 ELSE 0 END AS sg FROM daily CROSS JOIN md),
        |fl AS (SELECT CAST(SUM(CASE WHEN a.sg <> b.sg THEN 1 ELSE 0 END) AS BIGINT) AS fl
        |       FROM sg a JOIN sg b ON a.r + 1 = b.r),
        |mg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(sg) AS BIGINT) AS n1 FROM sg)
        |SELECT n, n1, n - n1 AS n0, fl + 1 AS runs,
        |  CASE WHEN n1 = 0 OR n - n1 = 0 THEN 0 ELSE
        |    CAST((CAST(fl + 1 AS HUGEINT) * n - 2 * CAST(n1 AS HUGEINT) * (n - n1) - n)
        |       * (CAST(fl + 1 AS HUGEINT) * n - 2 * CAST(n1 AS HUGEINT) * (n - n1) - n)
        |       * (n - 1) * 1000000
        |       // (2 * CAST(n1 AS HUGEINT) * (n - n1)
        |          * (2 * CAST(n1 AS HUGEINT) * (n - n1) - n)) AS BIGINT) END AS z2_micros,
        |  CASE WHEN (CASE WHEN n1 = 0 OR n - n1 = 0 THEN 0 ELSE
        |    CAST((CAST(fl + 1 AS HUGEINT) * n - 2 * CAST(n1 AS HUGEINT) * (n - n1) - n)
        |       * (CAST(fl + 1 AS HUGEINT) * n - 2 * CAST(n1 AS HUGEINT) * (n - n1) - n)
        |       * (n - 1) * 1000000
        |       // (2 * CAST(n1 AS HUGEINT) * (n - n1)
        |          * (2 * CAST(n1 AS HUGEINT) * (n - n1) - n)) AS BIGINT) END) > 3841459
        |    THEN 1 ELSE 0 END AS significant
        |FROM mg CROSS JOIN fl""".stripMargin,
    "spearman_daily" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY rev, day) AS BIGINT) AS ra,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cnt, day) AS BIGINT) AS rb
        |      FROM daily),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(CAST(ra - rb AS HUGEINT) * (ra - rb)) AS sd2 FROM r)
        |SELECT n, CAST(sd2 AS BIGINT) AS sum_d2,
        |  CAST((CAST(n AS HUGEINT) * (n * n - 1) - 6 * sd2) * 1000000
        |       // (CAST(n AS HUGEINT) * (n * n - 1)) AS BIGINT) AS rho_micros
        |FROM a""".stripMargin,
    "revenue_reconciliation" ->
      """WITH lg AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) *
        |      (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)) *
        |      (100 + CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT))) AS BIGINT) AS line_e4
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT abs(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000
        |        - line_e4) AS ad
        |      FROM orders JOIN lg ON o_orderkey = l_orderkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN ad = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(SUM(CAST(ad AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_abs_e4,
        |  CAST(MAX(ad) AS BIGINT) AS max_abs_e4
        |FROM j""".stripMargin,
    "basket_triples" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, c.pk AS p3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |          JOIN it c ON b.ok = c.ok AND b.pk < c.pk
        |GROUP BY 1, 2, 3 ORDER BY n DESC, p1, p2, p3 LIMIT 10""".stripMargin,
    "clustering_coefficient" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |und AS (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |          (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |o AS (SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS x,
        |             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS y
        |      FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
        |cl AS (SELECT w.x, w.y, w.z FROM
        |         (SELECT e1.x, e1.y, e2.y AS z FROM o e1 JOIN o e2 ON e1.y = e2.x) w
        |       JOIN o ON o.x = w.x AND o.y = w.z),
        |tri AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM
        |          (SELECT x AS v FROM cl UNION ALL SELECT y FROM cl UNION ALL SELECT z FROM cl)
        |        GROUP BY v),
        |nd AS (SELECT deg.deg, coalesce(tri.t, 0) AS t FROM deg LEFT JOIN tri ON deg.v = tri.v),
        |a AS (SELECT CAST(SUM(CASE WHEN deg >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes2,
        |        CAST(SUM(deg) AS BIGINT) AS sumdeg, CAST(SUM(t) AS BIGINT) AS sumt,
        |        CAST(SUM(CASE WHEN deg >= 2 THEN 2 * t * 1000000 // (deg * (deg - 1)) ELSE 0 END) AS BIGINT) AS sumcoef,
        |        SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS sumdd FROM nd)
        |SELECT n_nodes2 AS n_nodes, sumdeg // 2 AS n_edges, sumt // 3 AS n_triangles,
        |  sumcoef // n_nodes2 AS avg_local_micros,
        |  CAST(CAST(2 AS HUGEINT) * sumt * 1000000 // sumdd AS BIGINT) AS transitivity_micros
        |FROM a""".stripMargin,
    "weighted_median" ->
      """WITH grain AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT cents,
        |    CAST(SUM(w) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
        |  FROM grain),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM grain)
        |SELECT
        |  MIN(CASE WHEN cw >= (wt + 1) // 2 THEN cents END) AS median_cents,
        |  MIN(CASE WHEN cw >= (9 * wt + 9) // 10 THEN cents END) AS p90_cents,
        |  MIN(wt) AS w_total
        |FROM c CROSS JOIN t""".stripMargin,
    "chi2_independence" ->
      """WITH obs AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
        |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
        |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
        |         CAST(COUNT(DISTINCT source) AS BIGINT) AS ns FROM obs),
        |cell AS (SELECT n, nl, ns,
        |    CAST(FLOOR(CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) *
        |      CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE) * 1e6 /
        |      (CAST(CAST(r AS HUGEINT) * c AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT) AS contrib
        |  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN nt)
        |SELECT MIN(n) AS n_total, (MIN(nl) - 1) * (MIN(ns) - 1) AS df,
        |  CAST(SUM(contrib) AS BIGINT) AS chi2_micros
        |FROM cell""".stripMargin,
    "source_profile_cosine" ->
      s"""WITH tk AS (SELECT source,
        |    unnest(string_split(coalesce($normSql, ''), ' ')) AS term FROM documents),
        |tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |v AS (SELECT term FROM (SELECT term, CAST(SUM(c) AS BIGINT) AS t FROM tc GROUP BY 1)
        |      ORDER BY t DESC, term LIMIT 30),
        |prof AS (SELECT source, term, c FROM tc WHERE term IN (SELECT term FROM v)),
        |norms AS (SELECT source, SUM(CAST(c AS HUGEINT) * c) AS n2 FROM prof GROUP BY 1),
        |dots AS (SELECT a.source AS sa, b.source AS sb,
        |    SUM(CAST(a.c AS HUGEINT) * b.c) AS dot
        |  FROM prof a JOIN prof b ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, CAST(dot AS BIGINT) AS dot,
        |  CAST(FLOOR(CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) * 1e6 /
        |    (CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) AS BIGINT) AS cos2_micros
        |FROM dots JOIN norms na ON dots.sa = na.source
        |          JOIN norms nb ON dots.sb = nb.source
        |ORDER BY cos2_micros DESC, sa, sb LIMIT 20""".stripMargin,
    "ks_two_sample" ->
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT q,
        |    CAST(SUM(c1) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f1,
        |    CAST(SUM(c2) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f2
        |  FROM f),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM f),
        |d AS (SELECT q, abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1) AS d, n1, n2
        |      FROM c CROSS JOIN t)
        |SELECT q AS ks_at_q,
        |  CAST(d * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_micros, n1, n2
        |FROM d ORDER BY d DESC, q LIMIT 1""".stripMargin,
    "bootstrap_ci_mean" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |rk AS (SELECT rev, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i FROM daily),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rk),
        |grid AS (SELECT b, i FROM (SELECT unnest(generate_series(1, 200)) AS b)
        |         CROSS JOIN (SELECT i FROM rk)),
        |picks AS (SELECT b,
        |    (CAST('0x' || substr(md5(CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % n) + 1 AS pick
        |  FROM grid CROSS JOIN nn),
        |sums AS (SELECT b, CAST(SUM(rev) AS BIGINT) AS bsum
        |  FROM picks JOIN rk ON pick = i GROUP BY b),
        |f AS (SELECT MIN(CASE WHEN r2 = 5 THEN bsum END) AS losum,
        |        MIN(CASE WHEN r2 = 195 THEN bsum END) AS hisum
        |      FROM (SELECT b, bsum, ROW_NUMBER() OVER (ORDER BY bsum, b) AS r2 FROM sums)),
        |p AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, CAST(200 AS BIGINT) AS b_reps,
        |  CAST(CAST(tot AS HUGEINT) * 1000000 // n_days AS BIGINT) AS mean_micros,
        |  CAST(CAST(losum AS HUGEINT) * 1000000 // n_days AS BIGINT) AS lo_micros,
        |  CAST(CAST(hisum AS HUGEINT) * 1000000 // n_days AS BIGINT) AS hi_micros
        |FROM p CROSS JOIN f""".stripMargin,
    "dq_expectations" ->
      """WITH liagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS badqty,
        |    CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS dk FROM lineitem),
        |liord AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan,
        |    CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS shipviol
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |ordagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lk.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS childless,
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nocust
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) lk ON o.o_orderkey = lk.l_orderkey
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT 'lineitem_nonpositive_qty' AS "check", n AS n_checked, badqty AS n_violations FROM liagg
        |UNION ALL SELECT 'lineitem_dup_linenumber', n, n - dk FROM liagg
        |UNION ALL SELECT 'lineitem_order_fk', n, orphan FROM liord
        |UNION ALL SELECT 'ship_before_orderdate', n, shipviol FROM liord
        |UNION ALL SELECT 'order_has_lineitems', n, childless FROM ordagg
        |UNION ALL SELECT 'order_customer_fk', n, nocust FROM ordagg""".stripMargin,
    "ols_trend_exact" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(day) AS BIGINT) AS sx,
        |             SUM(CAST(day AS HUGEINT) * day) AS sxx,
        |             CAST(SUM(rev) AS BIGINT) AS sy,
        |             SUM(CAST(day AS HUGEINT) * rev) AS sxy,
        |             SUM(CAST(rev AS HUGEINT) * rev) AS syy
        |      FROM daily)
        |SELECT n AS n_days,
        |  CAST(FLOOR(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) * 1e6 /
        |       CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT) AS slope_micros,
        |  CAST(FLOOR(CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS DOUBLE) * 1e6 /
        |       CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT) AS intercept_cents_micros,
        |  CAST(FLOOR(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) *
        |       CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) * 1e6 /
        |       (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |        CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS BIGINT) AS r2_micros
        |FROM m""".stripMargin,
    "vocab_coverage_curve" ->
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tk AS (SELECT unnest(string_split(t, ' ')) AS term FROM n),
        |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk
        |       WHERE length(term) > 0 GROUP BY term),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM tc),
        |r AS (SELECT term, cnt,
        |        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
        |        CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM tc)
        |SELECT rank, term, cnt, cum_tokens,
        |  CAST(CAST(cum_tokens AS HUGEINT) * 1000000 // tot AS BIGINT) AS coverage_micros
        |FROM r CROSS JOIN tot WHERE rank IN (3, 10, 20)""".stripMargin,
    "leaderboard_decayed" ->
      """WITH li AS (SELECT l_partkey, epoch_ms(l_shipdate) // 86400000 AS day FROM lineitem),
        |mx AS (SELECT MAX(day) AS mxd FROM li),
        |wt AS (SELECT l_partkey,
        |    CASE WHEN (mxd - day) // 7 <= 8
        |      THEN CAST(1 AS BIGINT) << CAST(8 - (mxd - day) // 7 AS INT)
        |      ELSE 0 END AS wt
        |  FROM li CROSS JOIN mx),
        |ag AS (SELECT l_partkey, CAST(SUM(wt) AS BIGINT) AS score,
        |         CAST(COUNT(*) AS BIGINT) AS n_ships
        |       FROM wt GROUP BY l_partkey)
        |SELECT l_partkey, score, n_ships FROM ag WHERE score > 0
        |ORDER BY score DESC, l_partkey LIMIT 10""".stripMargin,
    "graph_modularity" ->
      """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_orderkey % 5 = 0),
        |ed AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a
        |       JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed),
        |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |       (SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed) GROUP BY v),
        |db AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS nodes,
        |         CAST(SUM(deg) AS BIGINT) AS d_c
        |       FROM dg JOIN part ON p_partkey = v GROUP BY p_brand),
        |ic AS (SELECT pa.p_brand, CAST(COUNT(*) AS BIGINT) AS e_c FROM ed
        |       JOIN part pa ON pa.p_partkey = ed.a
        |       JOIN part pb ON pb.p_partkey = ed.b
        |       WHERE pa.p_brand = pb.p_brand GROUP BY pa.p_brand)
        |SELECT db.p_brand, nodes, COALESCE(e_c, 0) AS e_c, d_c,
        |  CAST(floor(CAST(CAST(COALESCE(e_c, 0) AS HUGEINT) * 4 * mm.m
        |         - CAST(d_c AS HUGEINT) * d_c AS DOUBLE) * 1000000.0 /
        |       CAST(4 * CAST(mm.m AS HUGEINT) * mm.m AS DOUBLE)) AS BIGINT) AS contrib_micros
        |FROM db LEFT JOIN ic USING (p_brand) CROSS JOIN mm""".stripMargin,
    "topk_stability_audit" ->
      """WITH ra AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY rev DESC, pk) AS rank_a FROM
        |    (SELECT l_partkey AS pk,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |     FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1)
        |  QUALIFY rank_a <= 20),
        |rb AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY rev DESC, pk) AS rank_b FROM
        |    (SELECT l_partkey AS pk,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |     FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1)
        |  QUALIFY rank_b <= 20),
        |j AS (SELECT COALESCE(ra.pk, rb.pk) AS pk, rank_a, rank_b
        |      FROM ra FULL OUTER JOIN rb ON ra.pk = rb.pk)
        |SELECT
        |  CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST(COUNT(*) AS BIGINT) AS n_union,
        |  CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
        |        THEN ABS(rank_a - rank_b) ELSE 0 END) AS BIGINT) AS sum_rank_delta,
        |  CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS jaccard_micros
        |FROM j""".stripMargin,
    "embedding_centroid_drift" ->
      """WITH el AS (
        |  SELECT label, p.pos AS dim,
        |    CAST(floor(CAST(embedding[p.pos + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS pos) p),
        |bl AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sl,
        |         CAST(COUNT(*) AS BIGINT) AS cnt FROM el GROUP BY label, dim),
        |g AS (SELECT dim, CAST(SUM(sl) AS BIGINT) AS sg FROM bl GROUP BY dim),
        |ag AS (SELECT label, MAX(cnt) AS n_vecs,
        |    SUM(CAST(sl AS HUGEINT) * sg) AS dot,
        |    SUM(CAST(sl AS HUGEINT) * sl) AS na,
        |    SUM(CAST(sg AS HUGEINT) * sg) AS nb
        |  FROM bl JOIN g USING (dim) GROUP BY label)
        |SELECT CAST(label AS BIGINT) AS label, n_vecs,
        |  CAST(floor((CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)) * 1000000.0 /
        |       (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos2_micros
        |FROM ag""".stripMargin,
    "window_funnel_depth" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
        |t1 AS (SELECT user_id, MIN(ms) AS t1 FROM e WHERE event_type = 'signup'
        |       GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(ms) AS t2, MIN(t1.t1) AS t1 FROM e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE event_type = 'view' AND ms > t1 AND ms < t1 + 259200000
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(ms) AS t3 FROM e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE event_type = 'purchase' AND ms > t2.t2 AND ms < t2.t1 + 259200000
        |       GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
        |         WHEN t2.user_id IS NOT NULL THEN 2
        |         WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u LEFT JOIN t1 USING (user_id)
        |LEFT JOIN t2 ON u.user_id = t2.user_id
        |LEFT JOIN t3 ON u.user_id = t3.user_id
        |GROUP BY 1""".stripMargin,
    "survival_kaplan_meier" ->
      """WITH RECURSIVE u AS (SELECT user_id,
        |    MIN(epoch_ms(ts) // 86400000) AS fd, MAX(epoch_ms(ts) // 86400000) AS ld
        |  FROM events GROUP BY user_id),
        |cv AS (SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS pd FROM events
        |       WHERE event_type = 'purchase' AND value >= 200 GROUP BY user_id),
        |uu AS (SELECT CASE WHEN pd IS NOT NULL THEN pd - fd ELSE ld - fd END AS dur,
        |         CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS death
        |       FROM u LEFT JOIN cv USING (user_id)),
        |bt AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(death) AS BIGINT) AS dd
        |       FROM uu GROUP BY dur),
        |tt AS (SELECT CAST(SUM(m) AS BIGINT) AS tot FROM bt),
        |cm AS (SELECT dur, m, dd, SUM(m) OVER (ORDER BY dur) AS cmm FROM bt),
        |st AS (SELECT dur, CAST(tot - cmm + m AS BIGINT) AS n, dd,
        |         ROW_NUMBER() OVER (ORDER BY dur) AS rn
        |       FROM cm CROSS JOIN tt WHERE dd > 0),
        |km AS (
        |  SELECT dur, n, dd, rn, (1000000 * (n - dd)) // n AS s FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT st.dur, st.n, st.dd, st.rn, (km.s * (st.n - st.dd)) // st.n
        |  FROM km JOIN st ON st.rn = km.rn + 1)
        |SELECT dur, n AS n_risk, dd AS deaths, CAST(s AS BIGINT) AS surv_micros
        |FROM km""".stripMargin,
    "source_simpson_diversity" ->
      s"""WITH nm AS (SELECT source AS sid, coalesce($normSql, '') AS t FROM documents),
        |tk AS (SELECT sid, unnest(string_split(t, ' ')) AS term FROM nm),
        |bs AS (SELECT sid, term, CAST(COUNT(*) AS BIGINT) AS c FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |ag AS (SELECT sid, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |         CAST(SUM(c) AS BIGINT) AS t_s,
        |         SUM(CAST(c AS HUGEINT) * c) AS sq FROM bs GROUP BY sid)
        |SELECT sid AS source, n_terms, t_s,
        |  CAST(floor(CAST(sq AS DOUBLE) * 1000000.0 /
        |       (CAST(t_s AS DOUBLE) * CAST(t_s AS DOUBLE))) AS BIGINT) AS simpson_micros,
        |  CAST(floor(CAST(t_s AS DOUBLE) * CAST(t_s AS DOUBLE) * 1000.0 /
        |       CAST(sq AS DOUBLE)) AS BIGINT) AS eff_terms_milli
        |FROM ag""".stripMargin,
    "contrastive_negatives" ->
      """WITH rk AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rk),
        |cand AS (SELECT rk.doc_id, CAST(j AS BIGINT) AS j, r,
        |    ((r - 1 + CAST(j AS BIGINT) * (n // 5 + 1)) % n) + 1 AS nr
        |  FROM rk CROSS JOIN nn CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j))
        |SELECT cand.doc_id AS anchor_id, j, lk.doc_id AS neg_id
        |FROM cand JOIN rk lk ON lk.r = cand.nr
        |WHERE cand.nr <> cand.r""".stripMargin,
    "stickiness_dau_mau" ->
      """WITH e AS (SELECT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym,
        |    epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |d AS (SELECT ym, day, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY ym, day),
        |dd AS (SELECT ym, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(dau) AS BIGINT) AS sum_dau FROM d GROUP BY ym),
        |m AS (SELECT ym, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM e GROUP BY ym)
        |SELECT dd.ym, n_days, sum_dau, mau,
        |  CAST(sum_dau * 1000000 // (n_days * mau) AS BIGINT) AS stickiness_micros
        |FROM dd JOIN m ON dd.ym = m.ym""".stripMargin,
    "benford_digit_audit" ->
      """WITH exp AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS t(digit, expected_micros)),
        |obs AS (SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |          AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |        CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
        |SELECT CAST(exp.digit AS BIGINT) AS digit, COALESCE(obs.n, 0) AS n,
        |  CAST(COALESCE(obs.n, 0) * 1000000 // total AS BIGINT) AS observed_micros,
        |  CAST(expected_micros AS BIGINT) AS expected_micros,
        |  CAST(COALESCE(obs.n, 0) * 1000000 // total - expected_micros AS BIGINT) AS dev_micros
        |FROM exp LEFT JOIN obs ON exp.digit = obs.digit CROSS JOIN tot""".stripMargin,
    "changepoint_cusum" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(rev) AS BIGINT) AS tot
        |       FROM daily),
        |c AS (SELECT day, SUM(rev * n_days - tot) OVER (ORDER BY day) AS c
        |      FROM daily CROSS JOIN st),
        |mx AS (SELECT CAST(MAX(ABS(c)) AS BIGINT) AS max_abs_c FROM c)
        |SELECT CAST(MIN(day) AS BIGINT) AS cp_day, max_abs_c, n_days, tot AS total_cents
        |FROM c CROSS JOIN mx CROSS JOIN st
        |WHERE ABS(c) = max_abs_c GROUP BY max_abs_c, n_days, tot""".stripMargin,
    "gini_user_revenue" ->
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY user_id),
        |r AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, user_id) AS rnk FROM u),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(rev) AS BIGINT) AS total_cents,
        |        SUM(CAST(rnk AS HUGEINT) * rev) AS srx FROM r)
        |SELECT n_users, total_cents,
        |  CAST(floor(CAST(2 * srx - CAST(n_users + 1 AS HUGEINT) * total_cents AS DOUBLE) * 1000000.0 /
        |       CAST(CAST(n_users AS HUGEINT) * total_cents AS DOUBLE)) AS BIGINT) AS gini_micros
        |FROM s""".stripMargin,
    "conversion_rate_7d" ->
      """WITH su AS (SELECT user_id, MIN(epoch_ms(ts)) AS s_ms FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (SELECT user_id, epoch_ms(ts) AS p_ms FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT su.user_id,
        |    MAX(CASE WHEN pu.p_ms >= su.s_ms AND pu.p_ms < su.s_ms + 7 * 86400000
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM su LEFT JOIN pu ON pu.user_id = su.user_id GROUP BY su.user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted_7d,
        |  CAST(SUM(conv) * 1000000 // COUNT(*) AS BIGINT) AS rate_micros
        |FROM u""".stripMargin,
    "graph_assortativity" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |und AS (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS dv FROM
        |          (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |dir AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(da.dv) AS BIGINT) AS sx,
        |        CAST(SUM(da.dv * da.dv) AS BIGINT) AS sxx,
        |        CAST(SUM(da.dv * db.dv) AS BIGINT) AS sxy
        |      FROM dir JOIN deg da ON da.v = dir.a JOIN deg db ON db.v = dir.b)
        |SELECT n AS n_dir_edges,
        |  CAST(floor(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx AS DOUBLE) * 1000000.0 /
        |       CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS BIGINT)
        |    AS assortativity_micros
        |FROM s""".stripMargin,
    "term_lift_pairs" ->
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |ag AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |top AS (SELECT * FROM ag ORDER BY df DESC, term LIMIT 30),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM documents),
        |dt AS (SELECT tf.doc_id, tf.term FROM tf JOIN top ON tf.term = top.term),
        |p AS (SELECT a.term AS t1, b.term AS t2, CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
        |      GROUP BY 1, 2)
        |SELECT t1, t2, n_ab,
        |  CAST(n_ab * big_n * 1000000 // (ta.df * tb.df) AS BIGINT) AS lift_micros
        |FROM p JOIN top ta ON ta.term = p.t1 JOIN top tb ON tb.term = p.t2 CROSS JOIN nd
        |ORDER BY lift_micros DESC, t1, t2 LIMIT 20""".stripMargin,
    "max_drawdown" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |m AS (SELECT day, rev,
        |    MAX(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |d AS (SELECT day, peak, peak - rev AS dd FROM m),
        |wst AS (SELECT MAX(dd) AS mx FROM d)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
        |  (SELECT CAST(MAX(peak) AS BIGINT) FROM d) AS peak_rev_cents,
        |  CAST((SELECT mx FROM wst) AS BIGINT) AS max_dd_cents,
        |  (SELECT CAST(MIN(day) AS BIGINT) FROM d
        |   WHERE dd = (SELECT mx FROM wst)) AS dd_day""".stripMargin,
    "attribution_linear" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |c AS (SELECT *,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER wpre AS last_t,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_click,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_view,
        |    COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_signup,
        |    COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER wpre, 0) AS c_error
        |  FROM e
        |  WINDOW wpre AS (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT *, c_click + c_view + c_signup + c_error AS n_touch FROM c
        |      WHERE event_type = 'purchase'),
        |credits AS (
        |  SELECT 'click' AS channel, cents * c_click // n_touch AS credit FROM p WHERE n_touch > 0
        |  UNION ALL SELECT 'view', cents * c_view // n_touch FROM p WHERE n_touch > 0
        |  UNION ALL SELECT 'signup', cents * c_signup // n_touch FROM p WHERE n_touch > 0
        |  UNION ALL SELECT 'error', cents * c_error // n_touch FROM p WHERE n_touch > 0
        |  UNION ALL SELECT last_t,
        |    cents - (cents * c_click // n_touch + cents * c_view // n_touch
        |             + cents * c_signup // n_touch + cents * c_error // n_touch)
        |  FROM p WHERE n_touch > 0
        |  UNION ALL SELECT 'organic', cents FROM p WHERE n_touch = 0)
        |SELECT channel, CAST(SUM(credit) AS BIGINT) AS credit_cents
        |FROM credits GROUP BY channel HAVING SUM(credit) > 0 ORDER BY channel""".stripMargin,
    "ab_test_proportions" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 12
        |         THEN 1 ELSE 0 END AS conv,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
        |         FROM u GROUP BY arm),
        |a AS (SELECT n AS n1, c AS c1 FROM arms WHERE arm = 0),
        |b AS (SELECT n AS n2, c AS c2 FROM arms WHERE arm = 1),
        |t AS (SELECT n1, c1, n2, c2,
        |    CAST(c1 * n2 - c2 * n1 AS HUGEINT) * CAST(c1 * n2 - c2 * n1 AS HUGEINT) AS d2,
        |    CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS nn,
        |    38416 * CAST(c1 + c2 AS HUGEINT) * CAST(n1 + n2 - c1 - c2 AS HUGEINT) AS bp
        |  FROM a CROSS JOIN b),
        |qr AS (SELECT *, 10000 * CAST(n1 + n2 AS HUGEINT) * (d2 // nn) AS l1,
        |    10000 * CAST(n1 + n2 AS HUGEINT) * (d2 % nn) AS l2 FROM t)
        |SELECT n1, c1, n2, c2,
        |  CAST(CASE WHEN l1 > bp THEN 1
        |       WHEN l2 > (bp - l1) * nn THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM qr""".stripMargin,
    "gini_split_scores" ->
      """WITH cc AS (SELECT c_mktsegment AS seg, o_orderpriority AS cls,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |g AS (SELECT seg, CAST(SUM(c) AS BIGINT) AS n_orders,
        |        CAST(COUNT(*) AS BIGINT) AS n_classes,
        |        CAST(SUM(c * c) AS BIGINT) AS sum_c2 FROM cc GROUP BY seg)
        |SELECT seg, n_orders, n_classes,
        |  CAST(floor(CAST(n_orders * n_orders - sum_c2 AS DOUBLE) * 1000000.0 /
        |       CAST(n_orders * n_orders AS DOUBLE)) AS BIGINT) AS gini_micros
        |FROM g ORDER BY seg""".stripMargin,
    "rfm_scores" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |mx AS (SELECT MAX(ms) AS mx FROM ev),
        |u AS (SELECT user_id, MAX(ms) AS last_ms, CAST(COUNT(*) AS BIGINT) AS freq,
        |        CAST(SUM(cents) AS BIGINT) AS money FROM ev GROUP BY user_id),
        |sc AS (SELECT user_id,
        |    ntile(5) OVER (ORDER BY (mx - last_ms) // 86400000, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY money, user_id) AS m_score
        |  FROM u CROSS JOIN mx)
        |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(user_id) AS BIGINT) AS min_user
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "seasonal_naive_backtest" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cs
        |  FROM events GROUP BY 1),
        |j AS (SELECT a.n, a.cs, p.n AS pn, p.cs AS pcs
        |      FROM daily a JOIN daily p ON a.day = p.day + 7)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
        |  CAST(SUM(abs(n - pn)) AS BIGINT) AS total_abs_err_events,
        |  CAST(SUM(abs(cs - pcs)) AS BIGINT) AS total_abs_err_cents,
        |  CAST(SUM(abs(n - pn)) * 1000000 // COUNT(*) AS BIGINT) AS mae_events_micros
        |FROM j""".stripMargin,
    "event_paths_top" ->
      """WITH p AS (SELECT event_type || '>' ||
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) || '>' ||
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS path
        |  FROM events)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p WHERE path IS NOT NULL
        |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "backlog_timeline" ->
      """WITH opens AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    CAST(1 AS BIGINT) AS delta, o_orderkey AS ok FROM orders),
        |closes AS (SELECT epoch_ms(MAX(l_shipdate)) // 86400000 AS day,
        |    CAST(-1 AS BIGINT) AS delta, l_orderkey AS ok FROM lineitem GROUP BY l_orderkey),
        |ev AS (SELECT * FROM opens UNION ALL SELECT * FROM closes),
        |c AS (SELECT day, delta,
        |    SUM(delta) OVER (ORDER BY day, delta, ok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS backlog
        |  FROM ev),
        |pk AS (SELECT MAX(backlog) AS peak_backlog FROM c)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(delta) AS BIGINT) AS final_backlog,
        |  CAST((SELECT peak_backlog FROM pk) AS BIGINT) AS peak_backlog,
        |  CAST((SELECT MIN(day) FROM c WHERE backlog = (SELECT peak_backlog FROM pk)) AS BIGINT) AS peak_day
        |FROM c""".stripMargin,
    "anomaly_seasonal" ->
      """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
        |    CAST(isodow(ts) - 1 AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr
        |  FROM events),
        |g AS (SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
        |        CAST(SUM(v * v) AS BIGINT) AS sq FROM e GROUP BY dow, hr)
        |SELECT g.dow, g.hr, n,
        |  CAST(SUM(CASE WHEN CAST(v * n - sv AS HUGEINT) * CAST(v * n - sv AS HUGEINT)
        |                   > 9 * (CAST(n AS HUGEINT) * sq - CAST(sv AS HUGEINT) * sv)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        |FROM e JOIN g USING (dow, hr)
        |GROUP BY g.dow, g.hr, n ORDER BY 1, 2""".stripMargin,
    "theil_sen_slope" ->
      """WITH pts AS (SELECT epoch_ms(ts) // 86400000 AS x, CAST(COUNT(*) AS BIGINT) AS y
        |             FROM events GROUP BY 1),
        |pr AS (SELECT a.x AS x1, b.x AS x2,
        |         CAST(floor((b.y - a.y) * 1000000.0 / (b.x - a.x)) AS BIGINT) AS slope
        |       FROM pts a JOIN pts b ON a.x < b.x),
        |r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, x1, x2) AS rn FROM pr)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_points,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pr) AS n_pairs,
        |  (SELECT CAST(slope AS BIGINT) FROM r
        |   WHERE rn = (SELECT (COUNT(*) + 1) // 2 FROM pr)) AS median_slope_micros""".stripMargin,
    "embedding_quantize_audit" ->
      """WITH el AS (
        |  SELECT vec_id, p.pos AS pos, CAST(embedding[p.pos + 1] AS DOUBLE) AS x
        |  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS pos) p),
        |st AS MATERIALIZED (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM el GROUP BY pos),
        |q AS MATERIALIZED (SELECT el.pos, x, lo, hi,
        |        CASE WHEN hi = lo THEN 0
        |             ELSE LEAST(255, CAST(floor((x - lo) * 255 / (hi - lo)) AS BIGINT)) END AS code
        |      FROM el JOIN st USING (pos)),
        |e AS MATERIALIZED (SELECT pos, code,
        |        CAST(floor(abs(x - (lo + (CAST(code AS DOUBLE) * (hi - lo)) / 255)) * 1e6) AS BIGINT) AS err
        |      FROM q)
        |SELECT CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
        |  CAST(SUM(err) AS BIGINT) AS sum_err_micros,
        |  CAST(MAX(err) AS BIGINT) AS max_err_micros
        |FROM e GROUP BY pos ORDER BY pos""".stripMargin,
    "bfs_3hop" ->
      """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |und AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS MATERIALIZED (SELECT a AS y, b AS x FROM und UNION ALL SELECT b AS y, a AS x FROM und),
        |d0 AS MATERIALIZED (SELECT MIN(x) AS v, 0 AS d FROM adj),
        |d1 AS MATERIALIZED (SELECT DISTINCT a2.x AS v, 1 AS d FROM d0 JOIN adj a2 ON a2.y = d0.v
        |       WHERE a2.x NOT IN (SELECT v FROM d0)),
        |d2 AS MATERIALIZED (SELECT DISTINCT a2.x AS v, 2 AS d FROM d1 JOIN adj a2 ON a2.y = d1.v
        |       WHERE a2.x NOT IN (SELECT v FROM d0 UNION ALL SELECT v FROM d1)),
        |d3 AS MATERIALIZED (SELECT DISTINCT a2.x AS v, 3 AS d FROM d2 JOIN adj a2 ON a2.y = d2.v
        |       WHERE a2.x NOT IN (SELECT v FROM d0 UNION ALL SELECT v FROM d1
        |                          UNION ALL SELECT v FROM d2)),
        |al AS MATERIALIZED (SELECT * FROM d0 UNION ALL SELECT * FROM d1
        |       UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes, MIN(v) AS min_node
        |FROM al GROUP BY d ORDER BY d""".stripMargin,
    "link_predict_jaccard" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |und AS (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |d0 AS (SELECT v, COUNT(*) AS dv FROM
        |         (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |e AS (SELECT * FROM und
        |      WHERE a IN (SELECT v FROM d0 WHERE dv <= 64)
        |        AND b IN (SELECT v FROM d0 WHERE dv <= 64)),
        |adj AS (SELECT a AS y, b AS x FROM e UNION ALL SELECT b AS y, a AS x FROM e),
        |dg AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS dv FROM adj GROUP BY x),
        |w AS (SELECT a1.x AS x, a2.x AS z, CAST(COUNT(*) AS BIGINT) AS common
        |      FROM adj a1 JOIN adj a2 ON a1.y = a2.y AND a1.x < a2.x GROUP BY 1, 2
        |      HAVING COUNT(*) >= 2),
        |cand AS (SELECT w.* FROM w
        |         WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.z))
        |SELECT x, z, common,
        |  CAST(common * 1000000 // (dx.dv + dz.dv - common) AS BIGINT) AS jaccard_micros
        |FROM cand JOIN dg dx ON dx.v = cand.x JOIN dg dz ON dz.v = cand.z
        |ORDER BY jaccard_micros DESC, x, z LIMIT 20""".stripMargin,
    "time_to_convert" ->
      """WITH su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |cv AS (SELECT su.user_id, ANY_VALUE(su.s_ts) AS s_ts, MIN(e.ts) AS p_ts
        |       FROM su JOIN events e ON e.user_id = su.user_id
        |         AND e.event_type = 'purchase' AND e.ts >= su.s_ts
        |       GROUP BY su.user_id),
        |dd AS (SELECT user_id, CAST(epoch_ms(p_ts) - epoch_ms(s_ts) AS BIGINT) AS delta_ms FROM cv),
        |r AS (SELECT delta_ms, ROW_NUMBER() OVER (ORDER BY delta_ms, user_id) AS rn FROM dd)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
        |  CAST(MIN(delta_ms) AS BIGINT) AS min_ms,
        |  CAST(MAX(delta_ms) AS BIGINT) AS max_ms,
        |  (SELECT CAST(delta_ms AS BIGINT) FROM r
        |   WHERE rn = (SELECT (COUNT(*) + 1) // 2 FROM dd)) AS median_ms
        |FROM dd""".stripMargin,
    "inverted_index" ->
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |ag AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |         CAST(SUM(tf) AS BIGINT) AS total_tf FROM tf GROUP BY term),
        |top AS (SELECT * FROM ag ORDER BY df DESC, term LIMIT 30),
        |p AS (SELECT tf.term, tf.doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY tf.term ORDER BY tf.doc_id) AS rn
        |      FROM tf JOIN top ON tf.term = top.term),
        |pv AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_preview
        |       FROM p WHERE rn <= 5 GROUP BY term)
        |SELECT top.term, df, total_tf, postings_preview
        |FROM top JOIN pv ON top.term = pv.term
        |ORDER BY df DESC, top.term""".stripMargin,
    "winsorize_audit" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    l_orderkey, l_linenumber FROM lineitem),
        |nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY g),
        |r AS (SELECT g, cents,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents, l_orderkey, l_linenumber) AS rn
        |  FROM b),
        |pk AS (SELECT r.g,
        |    MAX(CASE WHEN rn = LEAST(nn.n, (5 * nn.n + 99) // 100) THEN cents END) AS lo,
        |    MAX(CASE WHEN rn = LEAST(nn.n, (95 * nn.n + 99) // 100) THEN cents END) AS hi
        |  FROM r JOIN nn USING (g) GROUP BY r.g)
        |SELECT b.g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  pk.lo AS p05_cents, pk.hi AS p95_cents,
        |  CAST(SUM(LEAST(GREATEST(cents, lo), hi)) AS BIGINT) AS winsor_sum_cents
        |FROM b JOIN pk USING (g)
        |GROUP BY b.g, pk.lo, pk.hi ORDER BY l_returnflag""".stripMargin,
    "kcore_peel" ->
      """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |d1 AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
        |       GROUP BY v HAVING COUNT(*) >= 2),
        |e1 AS MATERIALIZED (SELECT * FROM e0 WHERE a IN (SELECT v FROM d1) AND b IN (SELECT v FROM d1)),
        |d2 AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
        |       GROUP BY v HAVING COUNT(*) >= 2),
        |e2 AS MATERIALIZED (SELECT * FROM e1 WHERE a IN (SELECT v FROM d2) AND b IN (SELECT v FROM d2)),
        |d3 AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)
        |       GROUP BY v HAVING COUNT(*) >= 2),
        |e3 AS MATERIALIZED (SELECT * FROM e2 WHERE a IN (SELECT v FROM d3) AND b IN (SELECT v FROM d3))
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e3) AS n_edges,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_nodes
        |FROM (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)""".stripMargin,
    "attribution_last_touch" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |a AS (SELECT *, LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src
        |  FROM e)
        |SELECT COALESCE(src, 'organic') AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    "item_item_jaccard" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM e GROUP BY a, b
        |       HAVING COUNT(*) >= 2),
        |dg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS dv FROM it GROUP BY pk)
        |SELECT a, b, n_ab,
        |  CAST(n_ab * 1000000 // (da.dv + db.dv - n_ab) AS BIGINT) AS jaccard_micros
        |FROM pc JOIN dg da ON da.pk = pc.a JOIN dg db ON db.pk = pc.b
        |ORDER BY jaccard_micros DESC, a, b LIMIT 20""".stripMargin,
    "skyline_pareto" ->
      """WITH p AS (SELECT CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS size FROM part),
        |bp AS (SELECT price_cents, size, CAST(COUNT(*) AS BIGINT) AS n_parts
        |       FROM p GROUP BY price_cents, size),
        |mp AS (SELECT price_cents, MAX(size) AS zmax FROM bp GROUP BY price_cents),
        |f AS (SELECT price_cents, zmax FROM mp m
        |      WHERE NOT EXISTS (SELECT 1 FROM mp m2
        |        WHERE m2.price_cents < m.price_cents AND m2.zmax >= m.zmax))
        |SELECT f.price_cents, f.zmax AS size, bp.n_parts
        |FROM f JOIN bp ON bp.price_cents = f.price_cents AND bp.size = f.zmax
        |ORDER BY f.price_cents""".stripMargin,
    "rrf_fusion" ->
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS dl FROM n),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_tok FROM tokd),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |la AS (SELECT tf.doc_id, CAST(SUM(
        |          ((22 * tf * t_tok * 1000000) // (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs))
        |            * (2 * n_docs - 2 * df + 1) // (2 * df + 1)) AS BIGINT) AS sa
        |       FROM tf JOIN dfq USING (term) JOIN tokd USING (doc_id) CROSS JOIN st
        |       WHERE tf.term IN ('dup', 'vector', 'merge') GROUP BY tf.doc_id),
        |ra AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sa DESC, doc_id) AS ra FROM la),
        |rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dl DESC, doc_id) AS rb FROM tokd),
        |f AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |        COALESCE(1000000 // (60 + a.ra), 0) + COALESCE(1000000 // (60 + b.rb), 0) AS rrf_micros
        |      FROM (SELECT * FROM ra WHERE ra <= 100) a
        |      FULL OUTER JOIN (SELECT * FROM rb WHERE rb <= 100) b USING (doc_id))
        |SELECT doc_id, CAST(rrf_micros AS BIGINT) AS rrf_micros FROM f
        |ORDER BY rrf_micros DESC, doc_id LIMIT 20""".stripMargin,
    "nucleus_select" ->
      s"""WITH w0 AS (SELECT source, doc_id,
        |    CAST(len(string_split(coalesce($normSql, ''), ' ')) AS BIGINT) AS w
        |  FROM documents),
        |tot AS (SELECT source, CAST(SUM(w) AS BIGINT) AS ws FROM w0 GROUP BY source),
        |c AS (SELECT source, doc_id, w,
        |    CAST(SUM(w) OVER (PARTITION BY source ORDER BY w DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM w0)
        |SELECT c.source, ws, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(w) AS BIGINT) AS tok_kept, CAST(MIN(w) AS BIGINT) AS min_w_kept
        |FROM c JOIN tot ON c.source = tot.source
        |WHERE (cum - w) * 10 < 8 * ws
        |GROUP BY c.source, ws ORDER BY c.source""".stripMargin,
    "ewma_user" ->
      """WITH e AS (SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents, ts, event_id
        |  FROM events WHERE user_id % 10 = 0),
        |l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    list(cents ORDER BY ts, event_id) AS evs
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), evs),
        |    (x, y) -> (y + x) // 2) AS BIGINT) AS ewma_cents
        |FROM l ORDER BY user_id""".stripMargin,
    "basket_pairs" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT a, b, COUNT(*) AS n FROM e GROUP BY a, b
        |ORDER BY n DESC, a, b LIMIT 20""".stripMargin,
    "graph_triangles" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |und AS (SELECT DISTINCT a.pk AS a, b.pk AS b FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT v, COUNT(*) AS deg FROM
        |          (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
        |o AS (SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS x,
        |             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS y
        |      FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
        |w AS (SELECT e1.x, e1.y, e2.y AS z FROM o e1 JOIN o e2 ON e1.y = e2.x),
        |t AS (SELECT COUNT(*) AS n_triangles FROM w JOIN o ON o.x = w.x AND o.y = w.z)
        |SELECT (SELECT COUNT(*) FROM und) AS n_edges, n_triangles FROM t""".stripMargin,
    "bm25_topk" ->
      s"""WITH n AS (SELECT doc_id, coalesce($normSql, '') AS t FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS dl FROM n),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_tok FROM tokd),
        |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |q AS (SELECT tf.doc_id, tf.tf, dfq.df, tokd.dl, st.n_docs, st.t_tok
        |      FROM tf JOIN dfq USING (term) JOIN tokd USING (doc_id) CROSS JOIN st
        |      WHERE tf.term IN ('dup', 'vector', 'merge')),
        |c AS (SELECT doc_id,
        |        ((22 * tf * t_tok * 1000000) // (10 * tf * t_tok + 3 * t_tok + 9 * dl * n_docs))
        |          * (2 * n_docs - 2 * df + 1) // (2 * df + 1) AS contrib
        |      FROM q)
        |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micros,
        |       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        |FROM c GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 20""".stripMargin,
    "sample_weighted_pps" ->
      s"""WITH w0 AS (SELECT doc_id,
        |    CAST(len(string_split(coalesce($normSql, ''), ' ')) AS BIGINT) AS w,
        |    CAST('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS big_w FROM w0),
        |c AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM w0)
        |SELECT doc_id, w, (cum * 100) // big_w - ((cum - w) * 100) // big_w AS picks
        |FROM c CROSS JOIN t
        |WHERE (cum * 100) // big_w - ((cum - w) * 100) // big_w > 0
        |ORDER BY doc_id""".stripMargin,
    "source_tv_divergence" ->
      s"""WITH n AS (SELECT source AS sid, coalesce($normSql, '') AS t FROM documents),
        |tk AS (SELECT sid, unnest(string_split(t, ' ')) AS term FROM n),
        |bs AS (SELECT sid, term, CAST(COUNT(*) AS BIGINT) AS c FROM tk
        |       WHERE length(term) > 0 GROUP BY 1, 2),
        |stot AS (SELECT sid, CAST(SUM(c) AS BIGINT) AS t_s FROM bs GROUP BY sid),
        |corp AS (SELECT term, CAST(SUM(c) AS BIGINT) AS big_c FROM bs GROUP BY term),
        |tot AS (SELECT CAST(SUM(big_c) AS BIGINT) AS big_t FROM corp),
        |p AS (SELECT bs.sid, stot.t_s, tot.big_t,
        |        (abs(bs.c * tot.big_t - corp.big_c * stot.t_s) // stot.t_s) * 500000 // tot.big_t AS contrib,
        |        corp.big_c
        |      FROM bs JOIN corp USING (term) JOIN stot USING (sid) CROSS JOIN tot)
        |SELECT sid AS source, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(contrib) + ((ANY_VALUE(big_t) - SUM(big_c)) * 500000) // ANY_VALUE(big_t) AS BIGINT) AS tv_micros
        |FROM p GROUP BY sid ORDER BY source""".stripMargin)
}
