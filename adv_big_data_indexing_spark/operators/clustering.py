"""Embedding clustering for semantic dedup (SemDeDup-style k-means).

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv:2303.09540): k-means the corpus
embeddings, then look for near-duplicate pairs ONLY within each cluster
— the clustering turns the O(n²) semantic-dedup problem into
O(Σ cᵢ²) with cluster sizes bounded by design (K grows with N, so
cᵢ ≈ N/K stays constant; the within-cluster stage never sees the whole
corpus). This module implements the full loop as batch dataframes:

- deterministic init (centroid j = quantized embedding of vec_id j),
- ``KMEANS_ITERS`` Lloyd iterations entirely in exact int64 arithmetic:
  distances are Σ(qᵢ−cᵢ)² over :func:`quantize_vec` integers, centroid
  updates are element-wise integer means computed as
  ``(s + OFFSET·n) // n − OFFSET`` so the floor division only ever sees
  non-negative operands (Python ``//`` floors, Spark ``DIV`` and DuckDB
  ``//`` truncate — all three identical on non-negatives, so the offset
  removes the sign from the problem),
- empty clusters carry their previous centroid forward (both engines,
  same rule),
- a final within-cluster pairwise stage: a BLOCKED exact matmul per
  cluster (Arrow ``applyInPandas``, the same vectorized backend and
  correctly-rounded cosine op order as ``ns_dedup_embedding_cosine``;
  see :func:`_cosine_row_blocks` for the r9 memory bound).

Every intermediate is an integer (bit-portable, merge-order-free — so
map-side partial aggregation is safe everywhere) except the final
cosine double.

Iteration state (r13 optimization round): the K·DIM centroid integers
live on the DRIVER and are folded per iteration from a bounded
collect of ≤ K·DIM partial-sum rows — the Spark-MLlib k-means
discipline (``KMeans.runAlgorithmWithWeight`` collects cluster
centers every Lloyd step). The per-row assignment and the per-batch
partial sums run in ONE Arrow kernel (``mapInArrow`` + exact int64
numpy), replacing the former 8-cluster × 64-dim unrolled SQL
expression whose Catalyst analysis alone cost ~8 s per bench run at
ANY data size (measured r13: build 9.7 s vs 0.8 s execute at sf0.1 —
guide §1.1 first-principles: the work was in the driver, not the
executors). Results are bit-identical: numpy int64 arithmetic is the
same exact arithmetic, ``argmin`` keeps the first (lowest-j) minimum
exactly like the oracle's ``ORDER BY d, cluster`` tie-break, and the
centroid fold applies the same offset-division and empty-cluster
carry-forward rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.operators.advanced import (
    consistent_materialize,
)
from adv_big_data_indexing_spark.functions.exact import DUCK_QUANTIZE, quantize_vec
from adv_big_data_indexing_spark.sources.catalog import load_table, spread

K_CLUSTERS = 8
KMEANS_ITERS = 2
DIM = 64
#: makes every centroid-mean division non-negative: |q_i| ≤ 10^6·max|x|
#: and the corpus embeddings are bounded well inside [-2, 2].
_OFFSET = 2_000_000
#: near-dup threshold for the within-cluster count. Calibrated to the
#: synthetic corpus (max pairwise cosine ≈ 0.51, no true near-dups);
#: production SemDeDup uses ~0.95+ — the CONSTANT is policy, the
#: machinery is the contract.
SEMDEDUP_TAU = 0.45

#: row-block budget for the within-cluster pairwise matmul: blocks of
#: b×n cosines keep peak task memory ~256 MB at ANY cluster size. The
#: r9 degenerate-cluster probe (VERDICT r8 item 4) is why: a corpus
#: whose embeddings collapse into ONE k-means cell at sf10 density
#: (200k members) would make the former whole-cluster ``mat @ mat.T``
#: a 320 GB allocation in one task — the r8 hot-group OOM class with
#: "cluster" as the hot group. Blocking bounds memory at O(b·n) while
#: keeping results EXACT; work stays Θ(n²) per cluster, which is the
#: SemDeDup contract's own bound (K grows with N, so a data-sized
#: cluster is a degenerate input, not the design point — it now
#: degrades to time, never to memory).
_PAIRWISE_BLOCK_ELEMS = 1 << 25  # 32M float64 ≈ 256 MB per block


def _cosine_row_blocks(mat_int, sq):
    """Yield ``(i0, i1, cos)`` where ``cos[r, j]`` is the cosine between
    rows ``i0 + r`` and ``j``, in row blocks of ``_PAIRWISE_BLOCK_ELEMS``
    — the square (a = b) instance of the ONE shared exact-cosine kernel
    (functions/cosine_kernel.py; the 2^53 BLAS-exactness guard and the
    in-place normalization live there, shared with the rectangular
    dedup embedding tier)."""
    from adv_big_data_indexing_spark.functions.cosine_kernel import (  # noqa: PLC0415
        cosine_blocks_exact,
    )

    yield from cosine_blocks_exact(mat_int, sq, mat_int, sq, _PAIRWISE_BLOCK_ELEMS)


#: row-block width for the Arrow assignment kernel: the (block × K × DIM)
#: int64 difference tensor stays ~16 MB per block at K=8, DIM=64, so a
#: wide Arrow batch never materializes a batch-sized 3-D intermediate.
_ASSIGN_BLOCK_ROWS = 4096


def _mat_of(col) -> "object":
    """pyarrow list<int64> column → (n, DIM) contiguous int64 ndarray.
    ``flatten()`` honors list offsets, so sliced/offset arrays are safe."""
    import numpy as np  # noqa: PLC0415

    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=np.int64).reshape(len(col), DIM)


def _np_assign(mat, cents):
    """Exact int64 Lloyd assignment: per row the squared L2 distance to
    every centroid and the argmin with ties broken toward the LOWEST
    centroid index (``np.argmin`` keeps the first minimum — the same
    rule as the oracle's ``ORDER BY d, cluster``). All arithmetic is
    int64: |q|,|c| ≤ 2·10⁶ so a squared difference is ≤ 1.6·10¹³ and
    the DIM-term sum ≤ ~10¹⁵ — far inside int64."""
    import numpy as np  # noqa: PLC0415

    n = len(mat)
    idx = np.empty(n, dtype=np.int64)
    dd = np.empty(n, dtype=np.int64)
    for i0 in range(0, n, _ASSIGN_BLOCK_ROWS):
        blk = mat[i0 : i0 + _ASSIGN_BLOCK_ROWS]
        diff = blk[:, None, :] - cents[None, :, :]
        d = np.einsum("ijk,ijk->ij", diff, diff)  # int64 in, int64 out
        a = d.argmin(axis=1)
        idx[i0 : i0 + len(blk)] = a
        dd[i0 : i0 + len(blk)] = d[np.arange(len(blk)), a]
    return idx, dd


_DUCK_D = (
    "CAST(list_sum(list_transform(generate_series(1, {dim}), "
    "i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT)"
).format(dim=DIM)


def _duck_iteration(it: int, cin: str) -> str:
    """One Lloyd iteration as CTE text: assignment under `cin`, centroid
    update, empty-cluster carry-forward into c{it+1}."""
    return f"""
    a{it} AS (
      SELECT vec_id, q, cluster, d FROM (
        SELECT vec_id, q, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT v.vec_id, v.q, c.j AS cluster, {_DUCK_D} AS d
              FROM qv v CROSS JOIN {cin} c)
      ) WHERE rn = 1
    ),
    s{it} AS (
      SELECT cluster, i AS pos, CAST(sum(q[i]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM a{it} CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
      GROUP BY 1, 2
    ),
    u{it} AS (
      SELECT cluster,
             list((s + {_OFFSET} * n) // n - {_OFFSET} ORDER BY pos) AS c
      FROM s{it} GROUP BY cluster
    ),
    c{it + 1} AS (
      SELECT p.j, coalesce(u.c, p.c) AS c
      FROM {cin} p LEFT JOIN u{it} u ON u.cluster = p.j
    )"""


_DUCK_COS = (
    "CAST(dot AS DOUBLE) / sqrt(CAST(nx AS DOUBLE)) / sqrt(CAST(ny AS DOUBLE))"
)

_N_ITER_CTES = ",".join(
    _duck_iteration(it, f"c{it}" if it else "cent0") for it in range(KMEANS_ITERS)
)
_FINAL_CIN = f"c{KMEANS_ITERS}" if KMEANS_ITERS else "cent0"


@query(
    "ns_semdedup_kmeans",
    bench=True,  # r12 headline-set refresh (VERDICT r11 item 2)
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, {DUCK_QUANTIZE.format(col="embedding")} AS q FROM embeddings
    ),
    cent0 AS (
      SELECT CAST(vec_id AS INTEGER) AS j, q AS c FROM qv WHERE vec_id < {K_CLUSTERS}
    ),
    {_N_ITER_CTES},
    af AS (
      SELECT vec_id, q, cluster, d FROM (
        SELECT vec_id, q, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT v.vec_id, v.q, c.j AS cluster, {_DUCK_D} AS d
              FROM qv v CROSS JOIN {_FINAL_CIN} c)
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT x.cluster,
             CAST(list_sum(list_transform(generate_series(1, {DIM}),
                  i -> x.q[i] * y.q[i])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(generate_series(1, {DIM}),
                  i -> x.q[i] * x.q[i])) AS BIGINT) AS nx,
             CAST(list_sum(list_transform(generate_series(1, {DIM}),
                  i -> y.q[i] * y.q[i])) AS BIGINT) AS ny
      FROM af x JOIN af y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    pstats AS (
      SELECT cluster,
             max({_DUCK_COS}) AS max_intra_cosine,
             CAST(sum(CASE WHEN {_DUCK_COS} >= {SEMDEDUP_TAU} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_pairs
      FROM pairs GROUP BY cluster
    )
    SELECT m.cluster,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(m.inertia_q AS BIGINT) AS inertia_q,
           p.max_intra_cosine,
           coalesce(p.n_dup_pairs, 0) AS n_dup_pairs
    FROM (SELECT cluster, count(*) AS n_members, sum(d) AS inertia_q
          FROM af GROUP BY cluster) m
    LEFT JOIN pstats p USING (cluster)
    """,
    doc="NS SemDeDup k-means (arXiv:2303.09540): deterministic-init Lloyd "
    f"iterations ({KMEANS_ITERS}×) in exact int64 over quantized embeddings, "
    "then within-cluster near-dup stats (max intra-cluster cosine, pair "
    "count ≥ τ) per final cluster. Scale shape: each iteration is one "
    "Arrow map stage (exact-int64 numpy assignment + per-batch partial "
    "sums) + one ≤ K·DIM-row aggregate; the pairwise stage is "
    "O(Σ cluster²) — bounded because K grows with N in the SemDeDup "
    "design, never O(corpus²). Iteration state is the K·DIM centroid "
    "integers folded on the driver from a BOUNDED collect — the "
    "Spark-MLlib k-means discipline (r13).",
)
def ns_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = kmeans_assign(spark, sf_dir)

    members = final.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("d").cast("bigint").alias("inertia_q"),
    )
    # Within-cluster pairwise as a BLOCKED exact matmul per cluster
    # (applyInPandas, same Arrow backend pattern as
    # ns_dedup_embedding_cosine). A row-expression self-join on `cluster`
    # computes the same thing ~25× slower: K keys force a sort-merge join
    # whose per-group buffering dominates, while BLAS batches the 64-dim
    # dots. Blocked via _cosine_row_blocks (r9): the former whole-cluster
    # n×n matrix OOMs on a degenerate corpus whose embeddings collapse
    # into one cell (320 GB at sf10 density) — memory is now O(block)
    # at any cluster size, results identical.
    def _cluster_stats(pdf):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        pdf = pdf.sort_values("vec_id")
        mat = np.array(list(pdf["q"]), dtype=np.int64)
        n2 = (mat * mat).sum(axis=1)
        sq = np.sqrt(n2.astype(np.float64))
        cluster = int(pdf["cluster"].iloc[0])
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"cluster": [cluster], "max_intra_cosine": [None], "n_dup_pairs": [0]}
            )
        # rows sorted by vec_id, upper triangle i<j → the divisor order
        # (sqrt of the SMALLER id's norm first) matches the oracle
        best = -np.inf
        n_dup = 0
        cols = np.arange(n)
        for i0, i1, cos in _cosine_row_blocks(mat, sq):
            upper = cols[None, :] > np.arange(i0, i1)[:, None]
            vals = cos[upper]
            if len(vals):
                best = max(best, float(vals.max()))
                n_dup += int((vals >= SEMDEDUP_TAU).sum())
        return pd.DataFrame(
            {
                "cluster": [cluster],
                "max_intra_cosine": [best],
                "n_dup_pairs": [n_dup],
            }
        )

    pstats = final.select("cluster", "vec_id", "q").groupBy("cluster").applyInPandas(
        _cluster_stats,
        schema="cluster int, max_intra_cosine double, n_dup_pairs long",
    )
    # both sides are ≤ K rows; the checkpointed lineage loses size stats
    # and the planner would otherwise pick a SortMergeJoin (r13 —
    # guide §3.1, K is a compile-time constant so the broadcast is
    # bounded at any corpus size)
    return members.join(F.broadcast(pstats), "cluster", "left").select(
        "cluster",
        "n_members",
        "inertia_q",
        "max_intra_cosine",
        F.coalesce("n_dup_pairs", F.lit(0).cast("bigint")).alias("n_dup_pairs"),
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Lloyd loop: returns the final (vec_id, q, cluster, d)
    assignment frame, checkpointed (it feeds multiple downstream stages).

    r13 optimization-round shape (guide §1.2 step 1 + §4.2): the
    centroid state (≤ K·DIM = 512 integers) lives on the driver —
    initialized from a bounded K-row collect, folded per iteration from
    a bounded ≤ K·DIM-row partial-sum collect (both inside the §2.I
    bounded-collect discipline, same class as the DIM² Gram collect) —
    and each pass over the data is ONE ``mapInArrow`` stage whose numpy
    kernel computes exact-int64 assignments and per-batch partial sums.
    The former formulation carried the centroids as a broadcast one-row
    frame and unrolled K×DIM distance terms into SQL text; Catalyst
    re-analysis of those ~2500-node trees per materialization was 9.7 s
    of an sf0.1 bench run that executes in 0.8 s — a data-size-invariant
    driver floor that the Arrow kernel removes (plan dumps
    ns_semdedup_kmeans_{before,after}.txt under plans/r13/ at commit
    de0daac). Per-batch partial sums also
    replace the 64× ``posexplode`` shuffle: only (cluster, dim) partial
    rows cross the exchange (guide §2.3 aggregate-before-shuffle)."""
    import numpy as np  # noqa: PLC0415

    e = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", quantize_vec(F.col("embedding")).alias("q"))
        # the quantized frame feeds 3+ downstream executions (each
        # assignment pass + the pairwise stage); materialize once. At
        # cluster scale this is persist(DISK) of the embeddings table —
        # the standard trade for any iterative algorithm.
        .transform(consistent_materialize)
    )

    # deterministic init — centroid j = quantized embedding of vec_id j,
    # present rows only (the oracle's cent0 CTE has exactly these rows).
    # Bounded collect: ≤ K rows.
    init = e.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("j"), "q"
    )
    init_rows = sorted(init.collect(), key=lambda r: r.j)
    cluster_ids = np.array([r.j for r in init_rows], dtype=np.int64)
    cents = np.array([r.q for r in init_rows], dtype=np.int64).reshape(
        len(init_rows), DIM
    )

    def partial_sums(c):
        """One Arrow pass: assign each row to its nearest centroid and
        emit per-batch (cluster, pos0, s, n) partial sums — the map-side
        combine of the centroid update."""
        cents_c = c.copy()
        ids_c = cluster_ids.copy()

        def gen(batches):
            import numpy as np  # noqa: PLC0415
            import pyarrow as pa  # noqa: PLC0415

            for b in batches:
                if b.num_rows == 0:
                    continue
                mat = _mat_of(b.column(0))
                idx, _ = _np_assign(mat, cents_c)
                cl_out, pos_out, s_out, n_out = [], [], [], []
                for j in np.unique(idx):
                    sel = mat[idx == j]
                    s = sel.sum(axis=0)
                    cl_out.extend([int(ids_c[j])] * DIM)
                    pos_out.extend(range(DIM))
                    s_out.extend(int(v) for v in s)
                    n_out.extend([len(sel)] * DIM)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cl_out, pa.int32()),
                        pa.array(pos_out, pa.int32()),
                        pa.array(s_out, pa.int64()),
                        pa.array(n_out, pa.int64()),
                    ],
                    names=["cluster", "pos0", "s", "n"],
                )

        return e.select("q").mapInArrow(
            gen, "cluster int, pos0 int, s long, n long"
        )

    for _ in range(KMEANS_ITERS):
        # bounded collect: ≤ K·DIM rows of exact int64 partial sums
        rows = (
            partial_sums(cents)
            .groupBy("cluster", "pos0")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        # centroid fold on the driver — same offset-division rule as the
        # oracle ((s + OFF·n) // n − OFF with non-negative operands, so
        # Python floor == Spark DIV == DuckDB //); clusters with no
        # members this round keep their previous centroid.
        new = cents.copy()
        pos_of = {int(j): i for i, j in enumerate(cluster_ids)}
        for r in rows:
            new[pos_of[r.cluster], r.pos0] = (
                r.s + _OFFSET * r.n
            ) // r.n - _OFFSET
        cents = new

    def assign_arrow(c):
        cents_c = c.copy()
        ids_c = cluster_ids.copy()

        def gen(batches):
            import pyarrow as pa  # noqa: PLC0415

            for b in batches:
                if b.num_rows == 0:
                    continue
                mat = _mat_of(b.column(1))
                idx, dd = _np_assign(mat, cents_c)
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(0),
                        b.column(1),
                        pa.array(ids_c[idx].astype("int32")),
                        pa.array(dd, pa.int64()),
                    ],
                    names=["vec_id", "q", "cluster", "d"],
                )

        return e.select("vec_id", "q").mapInArrow(
            gen, "vec_id bigint, q array<bigint>, cluster int, d bigint"
        )

    return assign_arrow(cents).transform(consistent_materialize)


@query(
    "ns_semdedup_prune",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, {DUCK_QUANTIZE.format(col="embedding")} AS q FROM embeddings
    ),
    cent0 AS (
      SELECT CAST(vec_id AS INTEGER) AS j, q AS c FROM qv WHERE vec_id < {K_CLUSTERS}
    ),
    {_N_ITER_CTES},
    af AS (
      SELECT vec_id, q, cluster, d FROM (
        SELECT vec_id, q, cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (SELECT v.vec_id, v.q, c.j AS cluster, {_DUCK_D} AS d
              FROM qv v CROSS JOIN {_FINAL_CIN} c)
      ) WHERE rn = 1
    ),
    drops AS (
      SELECT y.vec_id, CAST(min(x.vec_id) AS BIGINT) AS dup_of
      FROM af x JOIN af y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE CAST(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> x.q[i] * y.q[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(generate_series(1, {DIM}),
                   i -> x.q[i] * x.q[i])) AS DOUBLE))
            / sqrt(CAST(list_sum(list_transform(generate_series(1, {DIM}),
                   i -> y.q[i] * y.q[i])) AS DOUBLE))
            >= {SEMDEDUP_TAU}
      GROUP BY y.vec_id
    )
    SELECT af.vec_id, af.cluster,
           drops.dup_of IS NULL AS keep,
           drops.dup_of
    FROM af LEFT JOIN drops ON drops.vec_id = af.vec_id
    """,
    doc="NS SemDeDup prune verdict: per vector, KEEP unless a same-cluster "
    "vector with a lower vec_id is cosine-≥τ similar (greedy "
    "lowest-id-representative rule — deterministic, order-free); dropped "
    "rows carry dup_of = the lowest such representative. Same per-cluster "
    "Arrow matmul backend as ns_semdedup_kmeans — the verdict set is what "
    "a curation pipeline anti-joins against the corpus to materialize the "
    "deduplicated training set.",
)
def ns_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = kmeans_assign(spark, sf_dir)

    def _cluster_prune(pdf):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["q"]), dtype=np.int64)
        sq = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
        n = len(pdf)
        dup_of = np.full(n, -1, dtype=np.int64)
        if n >= 2:
            # rows sorted ascending by vec_id: for column j, candidate
            # representatives are rows i<j (divisor order matches oracle).
            # Blocked over rows i ascending (r9 — see _cosine_row_blocks):
            # the FIRST block whose row hits column j wins, and within a
            # block argmax finds the first hitting row — so dup_of[j] is
            # the minimum qualifying id, exactly the unblocked rule. In
            # the degenerate one-cluster case every column resolves in
            # block 0 and later blocks scan an all-False candidate mask.
            cols = np.arange(n)
            for i0, i1, cos in _cosine_row_blocks(mat, sq):
                hit = (cos >= SEMDEDUP_TAU) & (
                    cols[None, :] > np.arange(i0, i1)[:, None]
                )
                cand = np.nonzero(hit.any(axis=0) & (dup_of < 0))[0]
                for j in cand:
                    dup_of[j] = ids[i0 + int(hit[:, j].argmax())]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"],
                "keep": dup_of < 0,
                "dup_of": [None if d < 0 else int(d) for d in dup_of],
            }
        )

    return final.select("cluster", "vec_id", "q").groupBy("cluster").applyInPandas(
        _cluster_prune,
        schema="vec_id long, cluster int, keep boolean, dup_of long",
    )
