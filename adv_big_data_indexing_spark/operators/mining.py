"""Pattern-mining operators over the relational tables: market-basket
association rules, common-neighbor link prediction, and BFS reachability
over the order/part/supplier graph.

The reference has no mining surface at all (its graph-adjacent feature is
the parent/child join family, SURVEY §2.C); this module is part of the
mandated beyond-reference analytics tier (SURVEY §2.K). Design rules are
the repo-wide ones: candidate generation is always an inverted-index
equi-join (never all-pairs), counts/ratios are exact integers (ppm), and
every top-k is totally ordered so both engines cut the same boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.operators.advanced import consistent_materialize
from adv_big_data_indexing_spark.sources.catalog import load_table

def ordered_pairs_sql(alias1: str, alias2: str) -> str:
    """Map-side ordered-pair explode over a SORTED DISTINCT array: all
    (arr[i], arr[j]) with i < j as structs. The one tricky expression in
    the module (transform's lambda index is 0-based, slice's start is
    1-based, hence i + 2) — shared by ns_assoc_rules,
    ns_graph_link_prediction, and the property test so the index
    arithmetic has exactly one spelling."""
    return (
        "flatten(transform(arr, (x, i) ->"
        " transform(slice(arr, i + 2, size(arr) - i - 1),"
        f" y -> struct(x AS {alias1}, y AS {alias2}))))"
    )



# ---------------------------------------------------------------------------
# market-basket association rules (frequent pairs, support/confidence/lift)
# ---------------------------------------------------------------------------

#: Apriori-style minimum supports. The item prefilter is the scale lever:
#: pair candidates are generated only from items that are themselves
#: frequent, so the per-basket self-join runs on the pruned item set.
MIN_ITEM_SUP = 2
MIN_PAIR_SUP = 2

#: result cap — totally ordered by (lift, i1, i2) so the cut is exact.
ASSOC_TOP_K = 100


@query(
    "ns_assoc_rules",
    bench=True,
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS bask, l_partkey AS item FROM lineitem
    ),
    ic AS (
      SELECT item, count(*) AS cnt FROM items
      GROUP BY 1 HAVING count(*) >= {MIN_ITEM_SUP}
    ),
    fi AS (SELECT i.bask, i.item FROM items i JOIN ic ON ic.item = i.item),
    n AS (SELECT count(DISTINCT bask) AS n_baskets FROM items),
    pairs AS (
      SELECT a.item AS i1, b.item AS i2, count(*) AS pair_cnt
      FROM fi a JOIN fi b ON a.bask = b.bask AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {MIN_PAIR_SUP}
    )
    SELECT p.i1, p.i2, p.pair_cnt,
           CAST(1000000 * p.pair_cnt // c1.cnt AS BIGINT) AS conf1_ppm,
           CAST(1000000 * p.pair_cnt // c2.cnt AS BIGINT) AS conf2_ppm,
           CAST(1000000 * n.n_baskets * p.pair_cnt // (c1.cnt * c2.cnt)
                AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN ic c1 ON c1.item = p.i1
    JOIN ic c2 ON c2.item = p.i2
    CROSS JOIN n
    ORDER BY lift_ppm DESC, i1, i2 LIMIT {ASSOC_TOP_K}
    """,
    doc="NS market-basket association rules: frequent part pairs within "
    "orders with exact integer-ppm support/confidence/lift, top-100 by "
    "lift (totally ordered). Candidate pairs explode MAP-SIDE from the "
    "per-basket sorted item arrays (per-basket work is O(basket²), "
    "bounded by order width, never catalog width). The Apriori "
    "frequent-item filter COMMUTES with pair counting (a pair survives "
    "iff both items are frequent), so here it is applied by the inner "
    "item-count joins AFTER counting — on a skewed 100 TB corpus it "
    "moves into array_intersect against the frequent-item set BEFORE "
    "the explode, cutting candidate generation itself. "
    "Lift = N*pair/(c1*c2) stays in int64 up to ~1e15 basket-pairs.",
)
def ns_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle folds the per-basket dedup into collect_set; the sorted
    # item array then yields ordered pairs MAP-SIDE (per-basket work is
    # O(basket²) with basket size bounded by order width, never catalog
    # width) — replacing the naive self-join, whose sort-merge pays two
    # full sorts of the item-occurrence table. Checkpointed because both
    # the pair explode and the item-count rollup consume it.
    baskets = (
        li.select(F.col("l_orderkey").alias("bask"), F.col("l_partkey").alias("item"))
        .groupBy("bask")
        .agg(F.sort_array(F.collect_set("item")).alias("arr"))
        .transform(consistent_materialize)
    )
    ic = (
        baskets.select(F.explode("arr").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= MIN_ITEM_SUP)
    )
    n = baskets.select(F.count("*").alias("n_baskets"))
    # The Apriori item prefilter commutes with pair counting (a pair
    # survives iff BOTH its items are frequent), so it is applied by the
    # inner ic joins below instead of before candidate generation — the
    # sf corpora have no hot items to prune; at a skewed 100 TB the
    # prefilter moves into array_intersect against the broadcast
    # frequent-item set before the explode.
    pairs = (
        baskets.select(
            F.explode(F.expr(ordered_pairs_sql("i1", "i2"))).alias("p")
        )
        .select("p.i1", "p.i2")
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= MIN_PAIR_SUP)
    )
    c1 = ic.select(F.col("item").alias("i1"), F.col("cnt").alias("cnt1"))
    c2 = ic.select(F.col("item").alias("i2"), F.col("cnt").alias("cnt2"))
    # no broadcast hints: the item-count sides are catalog-scale (they
    # grow with SF past Spark's broadcast limit) — AQE broadcasts them
    # while they fit and falls back to a keyed shuffle when they don't
    return (
        pairs.join(c1, "i1")
        .join(c2, "i2")
        .crossJoin(F.broadcast(n))
        .select(
            "i1",
            "i2",
            "pair_cnt",
            F.expr("CAST(1000000 * pair_cnt DIV cnt1 AS BIGINT)").alias("conf1_ppm"),
            F.expr("CAST(1000000 * pair_cnt DIV cnt2 AS BIGINT)").alias("conf2_ppm"),
            F.expr(
                "CAST(1000000 * n_baskets * pair_cnt DIV (cnt1 * cnt2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "i1", "i2")
        .limit(ASSOC_TOP_K)
    )


# ---------------------------------------------------------------------------
# common-neighbor link prediction (supplier similarity via shared parts)
# ---------------------------------------------------------------------------

#: result cap — totally ordered by (jaccard, s1, s2).
LINKPRED_TOP_K = 50


@query(
    "ns_graph_link_prediction",
    oracle=f"""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    deg AS (SELECT s, count(*) AS d FROM sp GROUP BY 1),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, count(*) AS common
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT p.s1, p.s2, p.common,
           CAST(1000000 * p.common // (d1.d + d2.d - p.common) AS BIGINT)
             AS jaccard_ppm
    FROM pairs p JOIN deg d1 ON d1.s = p.s1 JOIN deg d2 ON d2.s = p.s2
    ORDER BY jaccard_ppm DESC, s1, s2 LIMIT {LINKPRED_TOP_K}
    """,
    doc="NS link prediction by common neighbors on the supplier—part "
    "bipartite graph: for supplier pairs sharing parts, exact "
    "neighborhood-Jaccard in integer ppm, top-50 totally ordered. "
    "Candidates come from the inverted index keyed on the shared part "
    "(join + groupBy), never a supplier cross join — the same "
    "candidates-only shape as the dedup family, so work is "
    "O(Σ_part deg²) not O(|suppliers|²). At 100 TB the known skew "
    "lever applies: cap or sample ultra-high-degree hub parts (they "
    "contribute near-zero Jaccard signal but quadratic candidates), "
    "as ns_dedup_ngram_jaccard does for hot shingles.",
)
def ns_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle builds the inverted index (part -> sorted supplier
    # set); candidate pairs then explode MAP-SIDE from each posting list
    # — O(deg²) per part with part degree the skew lever, vs the
    # self-join's two full sorts of the edge table. Checkpointed because
    # the degree rollup and the pair explode both consume it.
    parts = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .groupBy("p")
        .agg(F.sort_array(F.collect_set("s")).alias("arr"))
        .transform(consistent_materialize)
    )
    deg = (
        parts.select(F.explode("arr").alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("d"))
    )
    # Tiered posting-list expansion (r8): the former unconditional in-row
    # pair array built deg² structs in ONE row per part and OOM'd the
    # heap at sf10's hub-part degrees — the dedup family's hot-bucket
    # class. Small lists still expand in-row (cheapest); hub parts
    # expand row-per-member via the equi self-join, whose deg² pair rows
    # stream through a spillable shuffle instead of one heap array.
    # Both tiers are EXACT — no drop cap, identical pair multiset.
    from adv_big_data_indexing_spark.operators.dedup import (  # noqa: PLC0415
        BUCKET_INROW_CAP,
    )

    small_pairs = (
        parts.filter(F.size("arr") <= BUCKET_INROW_CAP)
        .select(F.explode(F.expr(ordered_pairs_sql("s1", "s2"))).alias("q"))
        .select("q.s1", "q.s2")
    )
    hot_members = parts.filter(F.size("arr") > BUCKET_INROW_CAP).select(
        "p", F.explode("arr").alias("s")
    )
    x, y = hot_members.alias("x"), hot_members.alias("y")
    hot_pairs = x.join(
        y, (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s"))
    ).select(F.col("x.s").alias("s1"), F.col("y.s").alias("s2"))
    pairs = (
        small_pairs.unionByName(hot_pairs)
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    # degree sides are supplier-catalog-scale: AQE picks the strategy
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "common",
            F.expr("CAST(1000000 * common DIV (d1 + d2 - common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy(F.desc("jaccard_ppm"), "s1", "s2")
        .limit(LINKPRED_TOP_K)
    )


# ---------------------------------------------------------------------------
# BFS hop distance over the supplier—part bipartite graph
# ---------------------------------------------------------------------------

#: BFS depth bound. The sf graph is dense (diameter ~4 through hub
#: parts), so 3 hops already separates the reachability shells.
BFS_MAX_HOPS = 3

#: source node: supplier 1 (exists at every SF). Node encoding packs the
#: bipartite id space into one bigint: part -> 2*key, supplier -> 2*key+1.
BFS_SOURCE_SUPPKEY = 1


@query(
    "ns_graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE sp AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT s * 2 + 1 AS src, p * 2 AS dst FROM sp
      UNION ALL
      SELECT p * 2 AS src, s * 2 + 1 AS dst FROM sp
    ),
    rec AS (
      SELECT CAST({BFS_SOURCE_SUPPKEY * 2 + 1} AS BIGINT) AS node, 0 AS hop
      UNION
      SELECT e.dst, r.hop + 1
      FROM rec r JOIN edges e ON e.src = r.node
      WHERE r.hop < {BFS_MAX_HOPS}
    )
    SELECT CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'part' END AS kind,
           node // 2 AS key,
           CAST(min(hop) AS BIGINT) AS hop
    FROM rec GROUP BY 1, 2
    """,
    doc="NS BFS shortest-hop distance from one supplier over the "
    "supplier—part bipartite graph (node space packed into one bigint: "
    "2k for parts, 2k+1 for suppliers). Spark runs layered frontier "
    "expansion: per hop, frontier ⋈ edges minus visited (left_anti) — "
    "each iteration is ONE shuffle keyed on node id, the loop state is "
    "the frontier (consistent_materialize truncates lineage exactly like "
    "connected_components/pagerank), and work per layer is "
    "O(frontier-adjacent edges), the textbook Pregel superstep. The "
    "DuckDB oracle is the recursive-UNION CTE (set semantics dedup "
    "(node,hop) pairs, min(hop) recovers the BFS layer).",
)
def ns_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    fwd = sp.select(
        (F.col("s") * 2 + 1).alias("src"), (F.col("p") * 2).alias("dst")
    )
    edges = fwd.unionAll(
        sp.select((F.col("p") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"))
    ).transform(consistent_materialize)

    src = BFS_SOURCE_SUPPKEY * 2 + 1
    # Only each hop's FRONTIER is eagerly checkpointed (it feeds the next
    # join); `visited` stays a lazy union of those checkpointed layers, so
    # the loop materializes one frontier-sized frame per hop, not the
    # growing visited set again.
    frontier = spark.createDataFrame(
        [(src, 0)], "node bigint, hop int"
    ).transform(consistent_materialize)
    layers = [frontier]
    for hop in range(1, BFS_MAX_HOPS + 1):
        visited_nodes = layers[0].select("node")
        for layer in layers[1:]:
            visited_nodes = visited_nodes.unionAll(layer.select("node"))
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited_nodes, "node", "left_anti")
            .select("node", F.lit(hop).alias("hop"))
            # lazy checkpoint: the count() below is the ONE action that
            # both materializes the checkpoint and sizes the frontier
            # (ADVICE r5: eager + isEmpty was two jobs per layer)
            .transform(consistent_materialize, eager=False)
        )
        if nxt.count() == 0:
            break
        layers.append(nxt)
        frontier = nxt
    visited = layers[0]
    for layer in layers[1:]:
        visited = visited.unionAll(layer)
    return visited.select(
        F.when(F.col("node") % 2 == 1, "supplier").otherwise("part").alias("kind"),
        F.expr("node DIV 2").alias("key"),
        F.col("hop").cast("bigint").alias("hop"),
    )


# ---------------------------------------------------------------------------
# spatial grid self-join (geohash-style bucketing, closest pairs)
# ---------------------------------------------------------------------------

#: world = GRID x GRID integer lattice; neighbors within radius R
#: (squared Euclidean <= R*R). Cell size = R, so all true pairs live in
#: the same or one of the 8 adjacent cells — the 2D analogue of
#: ext_range_join's bucket-and-probe.
SPATIAL_GRID = 1000
SPATIAL_R = 5
SPATIAL_TOP_K = 100

#: deterministic point synthesis from the customer key (Knuth + LCG
#: multipliers) — identical closed form in both engines. The key is
#: reduced mod 2^31 BEFORE the multiply so the product stays under
#: 2^63 at any key scale (2^31 * 2654435761 < 2^63); the intermediate
#: mod 2^32 then breaks the (k + GRID) periodicity a plain mod-GRID of
#: k*m would have (GRID*m ≡ 0 mod GRID).
_PX = f"(((c_custkey % 2147483648) * 2654435761) % 4294967296) % {SPATIAL_GRID}"
_PY = f"(((c_custkey % 2147483648) * 2246822519 + 12345) % 4294967296) % {SPATIAL_GRID}"


@query(
    "ns_spatial_grid_join",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id, {_PX} AS px, {_PY} AS py FROM customer
    ),
    cells AS (
      SELECT id, px, py, px // {SPATIAL_R} AS cx, py // {SPATIAL_R} AS cy
      FROM pts
    ),
    probes AS (
      SELECT c.id, c.px, c.py, c.cx + dx.d AS qx, c.cy + dy.d AS qy
      FROM cells c
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
    ),
    pairs AS (
      SELECT p.id AS a, b.id AS b,
             (p.px - b.px) * (p.px - b.px)
               + (p.py - b.py) * (p.py - b.py) AS dist_sq
      FROM probes p JOIN cells b ON b.cx = p.qx AND b.cy = p.qy
      WHERE p.id < b.id
    )
    SELECT a, b, CAST(dist_sq AS BIGINT) AS dist_sq
    FROM pairs WHERE dist_sq <= {SPATIAL_R * SPATIAL_R}
    ORDER BY dist_sq, a, b LIMIT {SPATIAL_TOP_K}
    """,
    doc="NS spatial self-join — closest point pairs on a 2D grid "
    "(points synthesized from customer keys by a closed-form hash both "
    "engines replay): geohash-style integer cells sized to the radius, "
    "one side exploded to its 3x3 neighborhood, EQUI-join on cell, "
    "exact integer squared-distance residual — the 2D analogue of the "
    "bucketed range join, linear in points + true-candidate count, "
    "never O(n²). a<b dedup works because every pair co-occurs in the "
    "probe of each side exactly once per shared cell window. At 100 TB "
    "the cell id is the shuffle key and skewed megacities salt exactly "
    "like hot keys.",
)
def ns_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        F.expr(_PX).alias("px"),
        F.expr(_PY).alias("py"),
    )
    cells = pts.select(
        "id",
        "px",
        "py",
        F.expr(f"px DIV {SPATIAL_R}").alias("cx"),
        F.expr(f"py DIV {SPATIAL_R}").alias("cy"),
    )
    probes = cells.select(
        F.col("id").alias("a"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        "cx",
        "cy",
    ).select(
        "a",
        "ax",
        "ay",
        (F.col("cx") + F.col("dx")).alias("qx"),
        F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        "cy",
    ).select("a", "ax", "ay", "qx", (F.col("cy") + F.col("dy")).alias("qy"))
    b = cells.select(
        F.col("id").alias("b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    pairs = (
        probes.join(b, (F.col("qx") == F.col("bcx")) & (F.col("qy") == F.col("bcy")))
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            )
            .cast("bigint")
            .alias("dist_sq"),
        )
        .filter(F.col("dist_sq") <= SPATIAL_R * SPATIAL_R)
    )
    return pairs.orderBy("dist_sq", "a", "b").limit(SPATIAL_TOP_K)


# ---------------------------------------------------------------------------
# deterministic negative sampling (contrastive-training pair construction)
# ---------------------------------------------------------------------------

#: negatives proposed per positive edge; proposals that collide with a
#: true edge are dropped (not resampled) — the standard "sampled
#: uniformly, filtered" scheme, kept deterministic.
NEG_PER_POS = 2


@query(
    "ns_negative_sampling",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    parts AS (
      SELECT p AS cand, row_number() OVER (ORDER BY p) - 1 AS idx
      FROM (SELECT DISTINCT p FROM edges)
    ),
    np AS (SELECT count(*) AS n_parts FROM parts),
    proposals AS (
      SELECT e.s, e.p,
             ((((e.s % 2147483648) * 2654435761) % 4294967296
               + (((e.p % 2147483648) * 2246822519) % 4294967296)
               + k.k * 40503)
              % 4294967296) % np.n_parts AS idx,
             k.k
      FROM edges e
      CROSS JOIN (SELECT unnest(generate_series(0, {NEG_PER_POS - 1})) AS k) k
      CROSS JOIN np
    ),
    cand AS (
      SELECT pr.s, pr.p AS pos_p, pr.k, pa.cand AS neg_p
      FROM proposals pr JOIN parts pa ON pa.idx = pr.idx
    )
    SELECT c.s, c.pos_p, c.k, c.neg_p
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM edges e2 WHERE e2.s = c.s AND e2.p = c.neg_p
    )
    """,
    doc="NS deterministic negative sampling — the contrastive-training "
    "pair construction (word2vec/SGNS, two-tower retrieval): for every "
    "true supplier—part edge, K hash-proposed part negatives, with "
    "proposals that hit a true edge DROPPED by an anti join (uniform "
    "proposal + rejection, the standard scheme — and the drop rate is "
    "edge-density-bounded, so no resampling loop is needed). The part "
    "index is a dense rank (ordered_rank over the distinct parts: one "
    "range shuffle, no single-partition window; the vocab table is "
    "broadcast); the proposal hash "
    "is closed-form in both engines, so the sample reproduces "
    "bit-for-bit. Scale shape: one edge scan + K map-side proposals + "
    "one broadcast index join + one keyed anti join.",
)
def ns_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # DISK_ONLY checkpoint blocks (r9 sf10 find): edges is data-sized
    # (~24M rows at sf10), and the default MEMORY_AND_DISK unroll ran in
    # the same tasks as the distinct's final hash-agg — the unroll held
    # the execution pool at zero and the agg died UNABLE_TO_ACQUIRE_MEMORY
    # under local[32]@8g. Disk blocks stream out; the 3 downstream
    # consumers re-read at disk bandwidth.
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(consistent_materialize, storage_level=StorageLevel.DISK_ONLY)
    )
    # vocab indexing via the distributed ordered_rank (one range
    # shuffle) — a catalog-scale vocabulary must not rank through a
    # single-partition row_number window
    from adv_big_data_indexing_spark.operators.advanced import (  # noqa: PLC0415
        ordered_rank,
    )

    parts = ordered_rank(edges.select("p").distinct(), ["p"]).select(
        F.col("p").alias("cand"), (F.col("_rank") - 1).alias("idx")
    )
    np_ = parts.agg(F.count("*").alias("n_parts"))
    ks = F.explode(F.array(*[F.lit(i) for i in range(NEG_PER_POS)])).alias("k")
    proposals = (
        edges.select("s", "p", ks)
        .crossJoin(F.broadcast(np_))
        .select(
            "s",
            F.col("p").alias("pos_p"),
            "k",
            # per-term mod-2^31 reduction before the multiply keeps every
            # product under 2^63 at any key scale (same guard as _PX/_PY)
            F.expr(
                "((((s % 2147483648) * 2654435761) % 4294967296"
                " + (((pos_p % 2147483648) * 2246822519) % 4294967296)"
                " + k * 40503)"
                " % 4294967296) % n_parts"
            ).alias("idx"),
        )
    )
    # vocab index is catalog-scale — AQE chooses broadcast vs shuffle
    cand = proposals.join(parts, "idx").select(
        "s", "pos_p", "k", F.col("cand").alias("neg_p")
    )
    true_edges = edges.select(
        F.col("s").alias("e_s"), F.col("p").alias("e_p")
    )
    return cand.join(
        true_edges,
        (F.col("s") == F.col("e_s")) & (F.col("neg_p") == F.col("e_p")),
        "left_anti",
    )
