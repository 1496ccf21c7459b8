"""Repo-wide hot-group-expansion invariant (VERDICT r8 item 3).

The four real bugs the r8 sf10 campaign found were one class: a hot
group's quadratic expansion materializing in one task/row (simhash
chunk buckets OOM, link-prediction deg² OOM) or an inverted-index
self-join quadratic in duplicate-group size (exact-jaccard ENOSPC,
twice). test_plan_quality locks the rank-window class by scanning
physical plans; this module locks the expansion class by scanning the
SOURCE: every in-row group materialization (collect_list/collect_set),
every in-row quadratic pair expansion (ordered_pairs_sql), and every
pair self-join hot tier must appear in the classified inventory below
AND in docs/EXPANSION_SITES.md — introducing a new expansion site
without consciously picking a class (bounded / tiered / capped+audited
/ routed) fails this test.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

import pytest

PKG = os.path.join(os.path.dirname(__file__), "..", "adv_big_data_indexing_spark")
DOC = os.path.join(os.path.dirname(__file__), "..", "docs", "EXPANSION_SITES.md")

# (module-relative file, enclosing function) -> class, for every in-row
# group materialization. Mirror of docs/EXPANSION_SITES.md §"In-row".
EXPECTED_COLLECT_SITES = {
    ("operators/advanced.py", "ext_listagg"): "bounded-filtered",
    # r13: clustering.py:kmeans_assign's bounded-constant collect_list
    # (the per-iteration centroid row) is gone — the centroid fold moved
    # to the driver (bounded K·DIM collect; see the matmul table's
    # block-vs-centroids entry for the Arrow kernel)
    ("operators/dedup.py", "_banded"): "bounded-per-row",
    ("operators/dedup.py", "_lsh_pair_stats"): "tiered",
    ("operators/dedup.py", "ns_dedup_simhash"): "tiered",
    ("operators/documents.py", "synth_plans"): "document-shape",
    ("operators/mining.py", "ns_assoc_rules"): "bounded-per-row",
    ("operators/mining.py", "ns_graph_link_prediction"): "linear-in-group",
    ("operators/reconstruct.py", "reconstruct"): "document-shape",
    ("operators/relational.py", "op_c1_reconstruct_nested"): "document-shape",
    ("operators/relational.py", "ext_map_ops"): "bounded-domain",
    ("operators/similarity.py", "_buckets"): "bounded-constant",
    ("operators/similarity.py", "ns_ann_ivf"): "bounded-constant",
    ("operators/similarity.py", "ns_embed_outliers"): "bounded-constant",
    ("operators/sketches.py", "ext_bloom_semijoin"): "bounded-constant",
    ("operators/text.py", "ns_text_token_entropy"): "bounded-per-row",
}

# Every in-row quadratic pair expansion (C(group,2) structs in one row).
EXPECTED_PAIR_SQL_SITES = {
    ("operators/mining.py", "ns_assoc_rules"),
    ("operators/mining.py", "ns_graph_link_prediction"),
}

# Every pair self-join hot tier (x ⋈ y on the group key). These are the
# SAFE mechanism (row-per-member, shuffle spills) — enumerated so a new
# quadratic self-join still has to be classified.
EXPECTED_SELF_JOIN_SITES = {
    ("operators/dedup.py", "_lsh_pair_stats"),
    ("operators/dedup.py", "ns_dedup_simhash"),
    ("operators/mining.py", "ns_graph_link_prediction"),
    # wedge join (x,y)⋈(y,z): no in-row pair arrays; Σdeg² streams
    # through spillable shuffle — sf10-probed r8, exponent 0.31
    ("operators/graph.py", "ext_triangle_count"),
}

# Functions whose tier-1 in-row expansion must sit behind the
# BUCKET_INROW_CAP filter (the r8 OOM fixes, pinned at source level;
# plan-level assertions live in test_plan_quality).
TIERED_FUNCS = {
    ("operators/dedup.py", "_lsh_pair_stats"),
    ("operators/dedup.py", "ns_dedup_simhash"),
    ("operators/mining.py", "ns_graph_link_prediction"),
}


def _walk_sites():
    """Yield (relfile, func_name, call_name, func_source) for every
    collect_list/collect_set/ordered_pairs_sql call and every
    alias("x")/alias("y") self-join pattern in the package."""
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            src = open(path).read()
            tree = ast.parse(src)
            lines = src.splitlines()
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]

            def enclosing(lineno):
                cands = [f for f in funcs if f[0] <= lineno <= f[1]]
                return max(cands, key=lambda f: f[0]) if cands else None

            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = (
                    f.attr
                    if isinstance(f, ast.Attribute)
                    else (f.id if isinstance(f, ast.Name) else None)
                )
                if name in ("collect_list", "collect_set", "ordered_pairs_sql"):
                    enc = enclosing(node.lineno)
                    fn_name = enc[2] if enc else "<module>"
                    fn_src = (
                        "\n".join(lines[enc[0] - 1 : enc[1]]) if enc else src
                    )
                    yield rel, fn_name, name, fn_src


def _found():
    collect, pair_sql, sources = {}, set(), {}
    for rel, fn, call, fn_src in _walk_sites():
        key = (rel, fn)
        sources[key] = fn_src
        if call == "ordered_pairs_sql":
            pair_sql.add(key)
        else:
            collect[key] = call
    return collect, pair_sql, sources


# Every raw numpy matrix product in the package (r9 find #7's class in
# general form: a data-sized product materializes its full output in one
# task). The ONE allowlisted data-sized product is the shared blocked
# kernel; everything else must have a structurally bounded output.
# Mirror of docs/EXPANSION_SITES.md §"Raw numpy matmul sites".
EXPECTED_MATMUL_SITES = {
    # the shared blocked kernel itself (float64 fast path + int64
    # fallback): row blocks of block_elems float64s, 2^53 guard
    ("functions/cosine_kernel.py", "cosine_blocks_exact"): "blocked-kernel",
    # constant query panel × one Arrow batch — bounded by panel size
    ("operators/similarity.py", "gen"): "panel-vs-batch",
    # batchᵀ × batch → DIM×DIM; the data-sized axis is contracted away
    ("operators/similarity.py", "gram_partials"): "gram-accumulate",
    # position weights · one asset's decoded bytes — scalar per row
    ("operators/multimodal.py", "run"): "bounded-per-row",
    # r13: Lloyd assignment kernel — 4096-row block × K·DIM constant
    # centroid panel; the (block × K × DIM) int64 difference tensor is
    # ~16 MB and the einsum contracts DIM away, so peak memory is
    # O(block · K · DIM) at ANY corpus size
    ("operators/clustering.py", "_np_assign"): "block-vs-centroids",
}

#: the two wrappers every data-sized cosine product must route through
#: (the r9 consolidation made this a two-helper allowlist over the one
#: kernel in functions/cosine_kernel.py)
KERNEL_WRAPPERS = {
    ("operators/dedup.py", "_cosine_blocks_vs_broadcast"),
    ("operators/clustering.py", "_cosine_row_blocks"),
}

_MATMUL_CALL_NAMES = {
    "dot", "matmul", "einsum", "inner", "tensordot", "vdot", "outer"
}


def _matmul_sites():
    """(relfile, enclosing fn) for every ast.MatMult BinOp and every
    dot/matmul/einsum/... call in the package — the raw-product surface
    the blocked-kernel allowlist governs."""
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]

            def enclosing(lineno):
                cands = [f for f in funcs if f[0] <= lineno <= f[1]]
                return (
                    max(cands, key=lambda f: f[0])[2] if cands else "<module>"
                )

            for node in ast.walk(tree):
                if isinstance(node, ast.BinOp) and isinstance(
                    node.op, ast.MatMult
                ):
                    found.add((rel, enclosing(node.lineno)))
                elif isinstance(node, ast.Call):
                    f = node.func
                    name = (
                        f.attr
                        if isinstance(f, ast.Attribute)
                        else (f.id if isinstance(f, ast.Name) else None)
                    )
                    if name in _MATMUL_CALL_NAMES:
                        found.add((rel, enclosing(node.lineno)))
    return found


def test_every_matmul_site_is_classified():
    """VERDICT r9 item 2: the rectangular batch×broadcast matmul (find
    #7, a kernel OOM-kill at sf10) defined a memory-blowup class the
    collect/pair/self-join invariants did not cover. Every raw numpy
    product in the package must be classified — a new product on
    potentially data-sized operands must either route through the
    shared blocked kernel or justify a bounded-output class here AND in
    docs/EXPANSION_SITES.md."""
    found = _matmul_sites()
    expected = set(EXPECTED_MATMUL_SITES)
    new = found - expected
    assert not new, (
        f"NEW raw numpy product site(s) {sorted(new)} — a matmul on "
        "data-sized operands materializes its full output in one task "
        "(the r9 find-#7 OOM class). Route it through functions/"
        "cosine_kernel.py:cosine_blocks_exact (via _cosine_row_blocks / "
        "_cosine_blocks_vs_broadcast) or classify its bounded output in "
        "docs/EXPANSION_SITES.md and EXPECTED_MATMUL_SITES."
    )
    gone = expected - found
    assert not gone, f"classified matmul sites no longer in source: {sorted(gone)}"


def test_cosine_wrappers_delegate_to_the_one_kernel():
    """Both embedding-tier wrappers must call cosine_blocks_exact and
    contain NO raw product of their own (they are the allowlist; a raw
    @ inside one would bypass the kernel's block bound + 2^53 guard)."""
    for rel, fn in sorted(KERNEL_WRAPPERS):
        path = os.path.join(PKG, rel)
        tree = ast.parse(open(path).read())
        node = next(
            n
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == fn
        )
        calls = {
            (c.func.attr if isinstance(c.func, ast.Attribute) else
             (c.func.id if isinstance(c.func, ast.Name) else None))
            for c in ast.walk(node)
            if isinstance(c, ast.Call)
        }
        assert "cosine_blocks_exact" in calls, f"{rel}:{fn} bypasses the kernel"
        raw = [
            n for n in ast.walk(node)
            if isinstance(n, ast.BinOp) and isinstance(n.op, ast.MatMult)
        ]
        assert not raw, f"{rel}:{fn} contains a raw product of its own"


def test_doc_lists_every_matmul_site():
    doc = open(DOC).read()
    for cls in sorted(set(EXPECTED_MATMUL_SITES.values())):
        assert f"**{cls}**" in doc, f"matmul class {cls} undefined in doc"
    for rel, fn in EXPECTED_MATMUL_SITES:
        assert f"`{fn}`" in doc, f"doc missing matmul site {fn} ({rel})"


def test_every_inrow_group_materialization_is_classified():
    collect, _pair_sql, _src = _found()
    found = set(collect)
    expected = set(EXPECTED_COLLECT_SITES)
    new = found - expected
    assert not new, (
        f"NEW in-row group materialization site(s) {sorted(new)} — a "
        "collect_list/collect_set whose group might be data-sized is the "
        "exact mechanism behind the r8 sf10 OOMs. Classify each site in "
        "docs/EXPANSION_SITES.md (bounded / tiered / capped+audited / "
        "routed) and add it to EXPECTED_COLLECT_SITES."
    )
    gone = expected - found
    assert not gone, f"classified sites no longer in source: {sorted(gone)}"


def test_every_inrow_pair_expansion_is_classified():
    _collect, pair_sql, _src = _found()
    assert pair_sql == EXPECTED_PAIR_SQL_SITES, (
        f"in-row quadratic pair expansions changed: "
        f"new={sorted(pair_sql - EXPECTED_PAIR_SQL_SITES)} "
        f"gone={sorted(EXPECTED_PAIR_SQL_SITES - pair_sql)} — classify in "
        "docs/EXPANSION_SITES.md first."
    )


def test_every_pair_self_join_hot_tier_is_classified():
    found = set()
    pat = re.compile(r"\.alias\(\"x\"\).*\.alias\(\"y\"\)")
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            src = open(path).read()
            tree = ast.parse(src)
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for i, line in enumerate(src.splitlines(), 1):
                if pat.search(line):
                    cands = [f for f in funcs if f[0] <= i <= f[1]]
                    fn = max(cands, key=lambda f: f[0])[2] if cands else "<module>"
                    found.add((rel, fn))
    assert found == EXPECTED_SELF_JOIN_SITES, (
        f"pair self-join hot tiers changed: "
        f"new={sorted(found - EXPECTED_SELF_JOIN_SITES)} "
        f"gone={sorted(EXPECTED_SELF_JOIN_SITES - found)}"
    )


def test_tiered_sites_filter_on_inrow_cap_before_collect():
    """Each tiered site's in-row branch must be gated by the
    BUCKET_INROW_CAP filter — removing the gate re-creates the exact
    r8 OOM (one collect_list row holding a hot bucket)."""
    _collect, _pair_sql, sources = _found()
    for key in TIERED_FUNCS:
        src = sources[key]
        assert "BUCKET_INROW_CAP" in src, f"{key}: in-row tier gate missing"


def test_simhash_has_no_silent_drop_cap():
    """ADVICE r9 (medium): ns_dedup_simhash must not exclude buckets by
    an upper size cap — degenerate buckets route through the self-join
    tier, keeping the pigeonhole exactness claim true at every size."""
    _collect, _pair_sql, sources = _found()
    src = sources[("operators/dedup.py", "ns_dedup_simhash")]
    code_lines = [
        line.split("#", 1)[0] for line in src.splitlines()
    ]  # comments may (and do) explain the removed cap by name
    assert not any(
        "BUCKET_PAIR_CAP" in line for line in code_lines
    ), "simhash re-grew a drop cap — pairs above it vanish with no audit"


def test_doc_lists_every_site():
    doc = open(DOC).read()
    for _rel, fn in (
        set(EXPECTED_COLLECT_SITES)
        | EXPECTED_PAIR_SQL_SITES
        | EXPECTED_SELF_JOIN_SITES
    ):
        assert f"`{fn}`" in doc, f"docs/EXPANSION_SITES.md missing site {fn}"


@pytest.mark.parametrize(
    "cls",
    sorted(set(EXPECTED_COLLECT_SITES.values())),
)
def test_doc_defines_every_class(cls):
    doc = open(DOC).read()
    assert f"**{cls}**" in doc, f"class {cls} undefined in docs/EXPANSION_SITES.md"


def test_fuzzy_join_passjoin_matches_bruteforce(spark, tmp_path):
    """r9 sf10 sweep find follow-up: ext_fuzzy_join_levenshtein must
    stay EXACT whatever candidate strategy it uses (the r9 PassJoin
    experiment was reverted after measurement — the corpus's answer is
    itself Θ(n²/c), see the op's docstring — but this behavioral test
    is strategy-agnostic). Checked against a brute-force in-block
    reference on crafted edge cases: a front insertion (shifts every
    aligned segment), exactly-k and k+1 distances, short strings
    (< k+4 chars), identical names, cross-block twins."""
    from adv_big_data_indexing_spark.contract import registry

    rows = [
        (1, "abcdefghijkl", "B1", 1),
        (2, "Xabcdefghijkl", "B1", 1),   # 1 front insertion: all segments shift
        (3, "aXcdeYghijkZ", "B1", 1),    # 3 substitutions: dist == k
        (4, "WXcdeYghijkZV", "B1", 1),   # beyond k
        (5, "ab", "B1", 1),              # short branch
        (6, "abc", "B1", 1),             # short branch (dist 1 to "ab")
        (7, "abcdefghijkl", "B2", 1),    # identical name, different block
        (8, "abcdefghijkl", "B1", 2),    # identical name, different size
        (9, "abcdefghijkl", "B1", 1),    # identical name, same block (dist 0 excluded)
        (10, "abcdefghijkm", "B1", 1),   # dist 1 to 1/9
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, p_size int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    got = {
        (r.key_a, r.key_b, r.edit_dist)
        for r in registry()["ext_fuzzy_join_levenshtein"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    exp = set()
    for ka, na, ba, sa in rows:
        for kb, nb, bb, sb in rows:
            if ka < kb and ba == bb and sa == sb and na != nb:
                d = lev(na, nb)
                if d <= 3:
                    exp.add((ka, kb, d))
    assert got == exp
    # the crafted cases really exercise their branches
    assert (1, 2, 1) in exp and (1, 3, 3) in exp and (5, 6, 1) in exp
    assert (3, 4, 2) in exp  # a front-sub + tail-insert pair, dist 2
    assert (1, 4) not in {t[:2] for t in exp}  # 4 edits from key 1
    # identical-name twins in OTHER blocks never pair with anyone
    assert not any(k in (7, 8) for t in exp for k in t[:2])


# ---------------------------------------------------------------------------
# streaming state-fold loop inventory (VERDICT r10 item 2)
# ---------------------------------------------------------------------------

STREAMING = os.path.join(PKG, "streaming")

#: per-ROW Python loops inside an applyInPandasWithState ``update``
#: whose carry is genuinely order-dependent (each step feeds the next
#: through non-associative integer ops — no prefix-sum / masked-min /
#: segment closed form exists). Everything else was vectorized in r11;
#: docs/EXPANSION_SITES.md §"Per-row state folds" carries the A/B
#: numbers (tools/probe_fold_vectorization.py). Value: the number of
#: such loops, so a further loop in a listed function is not hidden.
ORDER_DEPENDENT_FOLDS = {
    # l,b carry: d = (x-l-b) DIV A; l += b+d; b += d DIV B — each step's
    # floor divisions feed the next level/trend, non-associative
    ("operators/timeseries.py", "holt_fold"): 1,
    # same recurrence plus the rotating seasonal register s[h % P]
    ("operators/timeseries.py", "holt_winters_fold"): 1,
}

#: non-per-row loops inside ``update`` functions, classified: iteration
#: count is output-, alarm-, bucket- or chunk-sized — NOT batch-row-sized.
#: Value: the number of such loops.
CLASSIFIED_FOLD_LOOPS = {
    # per-BLOCK outer loop, and one inner iteration per ALARM
    # (closed-form cumsum/runmin per segment; an alarm resets s to 0
    # and needs > h fresh drift to re-fire)
    ("operators/timeseries.py", "cusum_fold"): 2,
    # chain advance over DISTINCT buckets + gap emits (the emits ARE
    # the operator's output rows), incl. the pre-first prefix flush
    ("streaming/events.py", "locf_monitor"): 5,
}


#: module-level kernels a streaming ``update`` hands its batch rows to
#: (the batch twin runs the same kernel). Their loops are scanned like
#: ``update`` bodies; a loop over one of the kernel's parameters
#: iterates the batch rows and counts as per-row.
SHARED_FOLD_KERNELS = {
    ("operators/timeseries.py", "holt_fold"),
    ("operators/timeseries.py", "holt_winters_fold"),
    ("operators/timeseries.py", "cusum_fold"),
}


def _kernel_loops():
    """(relfile, kernel, kind, lineno) for every For/While loop and
    every iterrows/itertuples/apply call in SHARED_FOLD_KERNELS."""
    out = []
    for rel, fn in sorted(SHARED_FOLD_KERNELS):
        tree = ast.parse(open(os.path.join(PKG, rel)).read())
        node = next(
            (n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == fn),
            None,
        )
        assert node is not None, f"shared fold kernel {rel}:{fn} not found"
        params = {a.arg for a in node.args.args}
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call) and isinstance(
                sub.func, ast.Attribute
            ) and sub.func.attr in ("iterrows", "itertuples", "apply"):
                out.append((rel, fn, "pandas-row-api", sub.lineno))
            if isinstance(sub, (ast.For, ast.While)):
                src = sub.iter if isinstance(sub, ast.For) else sub.test
                names = {n.id for n in ast.walk(src) if isinstance(n, ast.Name)}
                kind = "per-row" if names & params else "other"
                out.append((rel, fn, kind, sub.lineno))
    return out


def _update_loops():
    """Yield (relfile, outer_fn, kind, lineno) for every For/While loop
    and every iterrows/itertuples/apply call inside an ``update``
    function in streaming modules, and in the shared fold kernels they
    call. kind: 'chunk' (over pdf_iter), 'per-row' (iterates a pdf
    column / pandas row API / a kernel's row parameter), 'other'."""
    out = _kernel_loops()
    for fname in sorted(os.listdir(STREAMING)):
        if not fname.endswith(".py"):
            continue
        rel = f"streaming/{fname}"
        tree = ast.parse(open(os.path.join(STREAMING, fname)).read())

        def outer_of(tree, target):
            stack, hits = [], []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    if node is target:
                        hits.append(
                            stack[0] if len(stack) > 1 else stack[-1]
                        )
                    self.generic_visit(node)
                    stack.pop()

            V().visit(tree)
            return hits[0]

        for node in ast.walk(tree):
            if not (isinstance(node, ast.FunctionDef) and node.name == "update"):
                continue
            outer = outer_of(tree, node)
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call) and isinstance(
                    sub.func, ast.Attribute
                ) and sub.func.attr in ("iterrows", "itertuples", "apply"):
                    out.append((rel, outer, "pandas-row-api", sub.lineno))
                if isinstance(sub, (ast.For, ast.While)):
                    src = ast.unparse(
                        sub.iter if isinstance(sub, ast.For) else sub.test
                    )
                    if src == "pdf_iter":
                        kind = "chunk"
                    elif re.search(r"\bpdf\b", src):
                        kind = "per-row"
                    else:
                        kind = "other"
                    out.append((rel, outer, kind, sub.lineno))
    return out


def test_every_state_fold_loop_is_classified():
    """VERDICT r10 item 2: a per-row Python loop in a streaming state
    fold is the same anti-pattern class as the r10 rate-flag iterrows
    (3099 ms → 0.8 ms) — at production batch sizes it serializes the
    whole batch through the interpreter. Every loop inside an
    applyInPandasWithState ``update``, or inside a shared kernel it
    hands its rows to, must be (a) chunk-level (over pdf_iter), (b) a
    documented ORDER-DEPENDENT recurrence, or (c) a classified
    non-row-sized loop (per-alarm / per-bucket / per-day).
    iterrows/itertuples/apply are banned outright — all eight r10 sites
    were vectorized bit-identically (tools/probe_fold_vectorization.py,
    16-127x)."""
    loops = _update_loops()
    row_api = [x for x in loops if x[2] == "pandas-row-api"]
    assert not row_api, (
        f"iterrows/itertuples/apply inside update(): {row_api} — "
        "vectorize (see docs/EXPANSION_SITES.md per-row-fold section)"
    )
    per_row = Counter((f, fn) for f, fn, k, _ in loops if k == "per-row")
    new_row = set(per_row) - set(ORDER_DEPENDENT_FOLDS)
    assert not new_row, (
        f"NEW per-row Python fold(s) {sorted(new_row)} — vectorize "
        "(prefix sums / masked mins / segment closed form; see "
        "tools/probe_fold_vectorization.py) or justify the "
        "order-dependent carry in ORDER_DEPENDENT_FOLDS and "
        "docs/EXPANSION_SITES.md"
    )
    other = Counter((f, fn) for f, fn, k, _ in loops if k == "other")
    new_other = set(other) - set(CLASSIFIED_FOLD_LOOPS)
    assert not new_other, (
        f"unclassified loop(s) in update(): {sorted(new_other)} — "
        "classify the iteration count (output/alarm/bucket-sized) in "
        "CLASSIFIED_FOLD_LOOPS and docs/EXPANSION_SITES.md"
    )
    # and the allowlists must not go stale
    gone = (set(ORDER_DEPENDENT_FOLDS) - set(per_row)) | (
        set(CLASSIFIED_FOLD_LOOPS) - set(other)
    )
    assert not gone, f"allowlisted fold loops no longer in source: {sorted(gone)}"
    # nor may a listed function grow a loop nobody classified
    recount = {
        key: (n, found[key])
        for listed, found in ((ORDER_DEPENDENT_FOLDS, per_row), (CLASSIFIED_FOLD_LOOPS, other))
        for key, n in listed.items()
        if found[key] != n
    }
    assert not recount, (
        f"loop count changed in classified fold(s) {recount} (listed, found) — "
        "classify each loop in ORDER_DEPENDENT_FOLDS/CLASSIFIED_FOLD_LOOPS "
        "and docs/EXPANSION_SITES.md"
    )


def test_doc_lists_every_fold_loop():
    doc = open(DOC).read()
    for _rel, fn in sorted(ORDER_DEPENDENT_FOLDS | CLASSIFIED_FOLD_LOOPS):
        assert f"`{fn}`" in doc, f"doc missing state-fold loop {fn}"
