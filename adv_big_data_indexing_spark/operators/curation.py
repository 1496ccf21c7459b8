"""End-to-end corpus curation: the composed training-data pipeline.

One declarative plan chaining the stages every pretraining corpus goes
through — quality gate → near-dup clustering → canonical selection →
deterministic split — and reporting the curated corpus shape. Each
stage exists standalone (text.py, dedup.py, graph.py, sampling.py);
this operator is the integration: proof the pieces compose into a
single lineage Catalyst can plan end-to-end (gate predicates push into
the scan; only gate SURVIVORS pay the shingle explosion and the
component closure).

Scale shape: the expensive stages (shingle inverted-index, CC rounds)
run on the quality-gated subset only; the final summary is a tiny
(split × lang) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adv_big_data_indexing_spark.contract import query
from adv_big_data_indexing_spark.functions.text import DUCK_TOKENS, tokens
from adv_big_data_indexing_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    duck_shingle_cte,
    routed_pairs,
    shingles_of,
)
from adv_big_data_indexing_spark.operators.graph import connected_components
from adv_big_data_indexing_spark.operators.sampling import (
    EVAL_LT,
    TRAIN_LT,
    duck_hash_bucket,
    split_assign,
)
from adv_big_data_indexing_spark.operators.text import _STOPWORDS, _duck_grams, _sql_list
from adv_big_data_indexing_spark.sources.catalog import load_table, table_rows

#: quality gate: minimum whitespace-token count (median corpus doc ≈ 56)
MIN_TOKENS = 40

_DUCK_NTOK = f"len({DUCK_TOKENS.format(col='text')})"

_CURATION_ORACLE = f"""
WITH RECURSIVE
  kept AS (
    SELECT doc_id, text, lang,
           CAST({_DUCK_NTOK} AS BIGINT) AS n_tokens
    FROM documents
    WHERE {_DUCK_NTOK} >= {MIN_TOKENS}
  ),
{duck_shingle_cte("kept")},
  inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
    FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
  ),
  pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sh_count na ON inter.doc_a = na.doc_id
    JOIN sh_count nb ON inter.doc_b = nb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter)
          >= {JACCARD_THRESHOLD}
  ),
  edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
  ),
  reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    WHERE e.v <> r.u
  ),
  comp AS (
    SELECT u AS doc_id, LEAST(u, MIN(v)) AS component_id
    FROM reach GROUP BY u
  ),
  canon AS (
    SELECT k.doc_id, k.lang, k.n_tokens
    FROM kept k LEFT JOIN comp c USING (doc_id)
    WHERE k.doc_id = COALESCE(c.component_id, k.doc_id)
  )
SELECT CASE WHEN {duck_hash_bucket("doc_id")} < {TRAIN_LT} THEN 'train'
            WHEN {duck_hash_bucket("doc_id")} < {EVAL_LT} THEN 'eval'
            ELSE 'holdout' END AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
FROM canon
GROUP BY 1, 2
"""


@query(
    "ns_corpus_curation",
    oracle=_CURATION_ORACLE,
    doc="NS end-to-end corpus curation: token-count quality gate → "
    "n-gram-Jaccard near-dup pairs on survivors → connected-component "
    "canonical selection → deterministic split → (split × lang) corpus "
    "shape. The integration query for the whole training-data path.",
)
def ns_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = d.select(
        "doc_id",
        "text",
        "lang",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= MIN_TOKENS)
    sh = shingles_of(kept.select("doc_id", "text"))
    # routed pair source (r8): the exact self-join ENOSPC'd here at sf10
    # exactly as in ns_dedup_components — same decision, filtered corpus
    pairs = routed_pairs(sh, table_rows(sf_dir, "documents"))
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    canon = (
        kept.join(cc, kept.doc_id == cc.node, "left")
        .filter(
            F.col("doc_id") == F.coalesce(F.col("component_id"), F.col("doc_id"))
        )
        .select("doc_id", "lang", "n_tokens")
    )
    return (
        split_assign(canon)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
        )
    )


# --- Decontamination (eval-set n-gram leakage scan) ------------------------

NGRAM_N = 8


@query(
    "ns_decontaminate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS.format(col="text")} AS toks,
             {duck_hash_bucket("doc_id")} AS b
      FROM documents
    ),
    g AS (
      SELECT doc_id, b, unnest(list_distinct({_duck_grams("toks", NGRAM_N)})) AS gram
      FROM t
    ),
    ev AS (SELECT doc_id, gram FROM g WHERE b >= {TRAIN_LT} AND b < {EVAL_LT}),
    tr AS (SELECT doc_id, gram FROM g WHERE b < {TRAIN_LT})
    SELECT ev.doc_id AS eval_doc_id,
           count(DISTINCT tr.doc_id) AS n_train_docs,
           count(*) AS n_shared_grams
    FROM ev JOIN tr ON ev.gram = tr.gram
    GROUP BY 1
    """,
    doc="NS decontamination: every eval-split document scanned for "
    f"{NGRAM_N}-gram overlap against the train split — the benchmark-"
    "leakage check run before any training job. Inverted-index equi-join "
    "on the gram (never a doc×doc product); the eval side is a ~5% hash "
    "slice, so at 100 TB its gram index broadcasts while train grams "
    "stream by. Composes the split operator (sampling.py) with the "
    "n-gram machinery (text.py).",
)
def ns_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.sampling import hash_bucket
    from adv_big_data_indexing_spark.operators.text import _grams

    from adv_big_data_indexing_spark.sources.catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    b = hash_bucket(F.col("doc_id"))
    t = d.select("doc_id", tokens("text").alias("toks"), b.alias("b"))
    # explode_outer + null filter: plain explode's inferred size>0 filter
    # would push the n-gram pipeline below the spread() repartition into
    # the scan (single-row-group parquet = one task, and the pipeline
    # feeds BOTH join sides, so it would also run twice single-core).
    g = t.select(
        "doc_id",
        "b",
        F.explode_outer(F.array_distinct(_grams(F.col("toks"), NGRAM_N))).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    # deliberately NOT checkpointed: the exploded gram frame is
    # corpus-sized, so materializing it costs O(grams) disk; the two
    # join sides instead re-run the cheap map-side tokenize+explode
    # pipeline, now parallelized by the spread() above
    ev = g.filter((F.col("b") >= TRAIN_LT) & (F.col("b") < EVAL_LT)).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    tr = g.filter(F.col("b") < TRAIN_LT).select(
        F.col("doc_id").alias("train_doc_id"), "gram"
    )
    # no broadcast hint: the exploded eval-gram frame grows with corpus
    # size — AQE broadcasts while it fits and shuffles when it doesn't
    return (
        ev
        .join(tr, "gram")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("train_doc_id").alias("n_train_docs"),
            F.count("*").alias("n_shared_grams"),
        )
    )


# --- Pattern-based masking (the PII-scrub step) ----------------------------

#: portable across Java regex (Spark) and RE2 (DuckDB): no lookarounds,
#: no backrefs — plain character classes and counted repetition only.
ID_PATTERN = "[0-9]{6,}"
ID_MASK = "######"


@query(
    "ns_pii_mask",
    oracle=f"""
    SELECT c_custkey,
           CAST(len(regexp_extract_all(c_name, '{ID_PATTERN}')) AS BIGINT) AS n_ids,
           regexp_replace(c_name, '{ID_PATTERN}', '{ID_MASK}', 'g') AS masked,
           len(regexp_extract_all(c_name, '{ID_PATTERN}')) > 0 AS has_id
    FROM customer
    """,
    doc="NS pattern-based masking — the scrub step of a curation pipeline "
    "(emails/phones/account numbers in a real corpus), demonstrated on "
    "the long-digit-run identifiers the test tables actually contain: "
    "per-record match count, masked text, and a detection flag. The "
    "pattern is deliberately restricted to the regex subset with "
    "identical semantics in Java regex and RE2, so both engines extract "
    "and replace the same spans. Map-only projection: scrubbing at "
    "100 TB is a scan-shaped pass with no shuffle and full column "
    "pruning; detection flags land in a column the quality gate can "
    "push down on.",
)
def ns_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    matches = F.regexp_extract_all("c_name", F.lit(ID_PATTERN), 0)
    return c.select(
        "c_custkey",
        F.size(matches).cast("bigint").alias("n_ids"),
        F.regexp_replace("c_name", ID_PATTERN, ID_MASK).alias("masked"),
        (F.size(matches) > 0).alias("has_id"),
    )


# ---------------------------------------------------------------------------
# Training-order shuffle + shard manifest
# ---------------------------------------------------------------------------

#: shards for the deterministic training-order shuffle
N_SHUFFLE_SHARDS = 16
_SHUF_SALT = "shuffle42"


@query(
    "ns_corpus_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5('{_SHUF_SALT}:' || CAST(doc_id AS VARCHAR)) AS h,
             {duck_hash_bucket("doc_id", salt=_SHUF_SALT)} % {N_SHUFFLE_SHARDS} AS shard
      FROM documents
    )
    SELECT doc_id,
           CAST(shard AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT)
             AS pos
    FROM h
    """,
    doc="NS deterministic training-order shuffle: every epoch's data order "
    "is (shard, pos) with shard = md5-bucket mod N and pos = rank of the "
    "full md5 within the shard — a total order that is reproducible from "
    "the seed alone (restartable training, auditable sampling), yet never "
    "computes a global sort OR a per-shard single-task rank: with N "
    "shards a Window.partitionBy(shard) frame is corpus/N rows through "
    "one task — ordered_rank (operators/advanced.py) grouped by shard "
    "range-partitions by (shard, h, doc_id) and reassembles exact "
    "per-shard positions from broadcast per-(partition, shard) offsets, "
    "so every task holds ~corpus/P rows regardless of shard count.",
)
def ns_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from adv_big_data_indexing_spark.operators.advanced import (  # noqa: PLC0415
        ordered_rank,
    )
    from adv_big_data_indexing_spark.operators.sampling import hash_bucket  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws(":", F.lit(_SHUF_SALT), F.col("doc_id").cast("string")))
    shard = (hash_bucket(F.col("doc_id"), salt=_SHUF_SALT) % N_SHUFFLE_SHARDS).cast("int")
    ranked = ordered_rank(
        d.select("doc_id", h.alias("h"), shard.alias("shard")),
        ["h", "doc_id"],
        group_cols=("shard",),
    )
    return ranked.select("doc_id", "shard", F.col("_rank").alias("pos"))


# ---------------------------------------------------------------------------
# Quality-curriculum deciles (exact quantiles via fixed-point histogram)
# ---------------------------------------------------------------------------


@query(
    "ns_quality_curriculum",
    oracle=f"""
    WITH per AS (
      SELECT doc_id,
             CAST((1000000 * len(list_filter({DUCK_TOKENS.format(col="text")},
                                             x -> x IN ({_sql_list(_STOPWORDS)})))) AS BIGINT)
               // CAST({_DUCK_NTOK} AS BIGINT) AS score_q
      FROM documents
    ),
    hist AS (
      SELECT score_q, count(*) AS c FROM per GROUP BY score_q
    ),
    cum AS (
      SELECT score_q,
             sum(c) OVER (ORDER BY score_q) AS cum_le,
             sum(c) OVER () AS n_total
      FROM hist
    ),
    dec AS (
      SELECT score_q,
             CAST((10 * cum_le + n_total - 1) // n_total AS INTEGER) AS decile
      FROM cum
    )
    SELECT per.doc_id, per.score_q, dec.decile
    FROM per JOIN dec USING (score_q)
    """,
    doc="NS quality-curriculum deciles by VALUE (ties stay together): "
    "score is an integer fixed-point stopword fraction "
    "((1e6·stop_cnt) div n_tokens — pure integer, bit-portable), and the "
    "decile is ceil(10·cum_le/N) from an exact histogram — NOT "
    "ntile/cume_dist over a global sort, which would serialize the whole "
    "corpus through one window task. The histogram aggregates map-side "
    "to |distinct scores| rows, its cumulative window runs on that tiny "
    "frame, and the decile map broadcasts back — the scale-correct way "
    "to get exact (not approx) quantile bins at 100 TB. Curriculum "
    "schedules then feed shards from decile d before d+1 (or mix per "
    "ns_mixture_weights); the stopword signal is one policy choice — "
    "swap the score expression, keep the shape.",
)
def ns_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window  # noqa: PLC0415

    d = load_table(spark, sf_dir, "documents")
    # tokenize once into a named column: the filter lambda and the size()
    # denominator share it (inlining the split twice re-tokenized every
    # row — 27% slower at sf1)
    toked = d.select("doc_id", tokens("text").alias("toks"))
    per = toked.select(
        "doc_id",
        # cast BEFORE multiplying: size() is INT, and 1e6 * stop_cnt wraps
        # int32 once a doc has >=2148 stopword tokens under non-ANSI Spark,
        # while the DuckDB oracle computes the product in int64. Casting the
        # count first makes the arithmetic int64 at any doc length.
        F.expr(
            "(1000000 * CAST(size(filter(toks, "
            f"x -> x IN ({', '.join(repr(s) for s in sorted(_STOPWORDS))}))) AS BIGINT))"
            " DIV size(toks)"
        ).alias("score_q"),
    )
    hist = per.groupBy("score_q").agg(F.count("*").alias("c"))
    w_cum = Window.orderBy("score_q").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # both windows run on the tiny histogram frame only
    dec = hist.select(
        "score_q",
        F.sum("c").over(w_cum).alias("cum_le"),
        F.sum("c").over(w_all).alias("n_total"),
    ).select(
        "score_q",
        F.expr("CAST((10 * cum_le + n_total - 1) DIV n_total AS INT)").alias("decile"),
    )
    return per.join(F.broadcast(dec), "score_q").select("doc_id", "score_q", "decile")


# ---------------------------------------------------------------------------
# Dataset snapshot diff (versioning / incremental refresh)
# ---------------------------------------------------------------------------

# Deterministic synthetic v2 of the documents snapshot, derived from the
# same table so the operator is testable without a second testdata dir:
# doc_id % 7 == 0 dropped (deletions), doc_id % 5 == 0 re-texted
# (changes), everything else untouched. The OPERATOR works on any two
# (doc_id, text) frames; the v2 rule only feeds the contract query.
_V2_DROP = 7
_V2_EDIT = 5


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Row-level diff of two document snapshots by content hash.

    Full outer join on the key; texts never compare directly — md5
    fingerprints do, so the shuffle carries (key, 32-byte hash), not
    documents. At 100 TB this is the standard incremental-refresh
    pattern: one co-partitionable equi-join, output drives which shards
    re-process."""
    o = old.select(F.col("doc_id"), F.md5("text").alias("h_old"))
    n = new.select(F.col("doc_id"), F.md5("text").alias("h_new"))
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"))


@query(
    "ns_dataset_diff",
    oracle=f"""
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % {_V2_EDIT} = 0 THEN text || ' [rev2]' ELSE text END) AS h
      FROM documents WHERE doc_id % {_V2_DROP} != 0
    ),
    d AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h = n.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM d GROUP BY status
    """,
    doc="NS dataset snapshot diff — the versioning/incremental-refresh "
    "primitive: which documents were added / removed / changed between "
    "two corpus snapshots, decided by content hash so the join shuffles "
    "32-byte fingerprints, never text. The contract query diffs the "
    "snapshot against a deterministic synthetic v2 (mod-7 deletions, "
    "mod-5 edits) and reports per-status counts; `snapshot_diff` itself "
    "takes any two (doc_id, text) frames. One full-outer equi-join — "
    "co-partitioned at 100 TB when both snapshots bucket by key.",
)
def ns_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = d.filter(F.col("doc_id") % _V2_DROP != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _V2_EDIT == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    diff = snapshot_diff(d, v2)
    return diff.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@query(
    "ns_dataset_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, md5(text) AS h,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  w -> w <> '')) AS BIGINT) AS n_toks,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT * FROM (
      SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM t
      UNION ALL
      SELECT 'n_tokens', CAST(sum(n_toks) AS BIGINT) FROM t
      UNION ALL
      SELECT 'n_chars', CAST(sum(n_chars) AS BIGINT) FROM t
      UNION ALL
      SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM t
      UNION ALL
      SELECT 'n_sources', CAST(count(DISTINCT source) AS BIGINT) FROM t
      UNION ALL
      SELECT 'mean_tokens_ppm', CAST(sum(n_toks) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) FROM t
      UNION ALL
      SELECT 'exact_dup_ppm',
             (CAST(count(*) AS BIGINT) - CAST(count(DISTINCT h) AS BIGINT)) * 1000000
               // CAST(count(*) AS BIGINT)
      FROM t
    )
    """,
    doc="NS dataset card: the one-glance corpus summary every released "
    "training set ships (docs, tokens, chars, languages, sources, mean "
    "length, exact-dup rate) as (metric, value) rows — all integer-exact "
    "(ppm ratios via truncating DIV on positive operands). ONE pass: a "
    "single multi-aggregate over a projected row (token count computed "
    "per row map-side; dup rate via count distinct of md5). The UNION "
    "shape is presentation only — Spark computes one aggregate row and "
    "unpivots it, so the corpus is scanned once.",
)
def ns_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.size(F.filter(tokens("text"), lambda w: w != F.lit("")))
        .cast("bigint")
        .alias("n_toks"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    row = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("h").cast("bigint").alias("n_hashes"),
    )
    return row.selectExpr(
        """stack(7,
             'n_docs', n_docs,
             'n_tokens', n_tokens,
             'n_chars', n_chars,
             'n_langs', n_langs,
             'n_sources', n_sources,
             'mean_tokens_ppm', n_tokens * 1000000 DIV n_docs,
             'exact_dup_ppm', (n_docs - n_hashes) * 1000000 DIV n_docs
           ) AS (metric, value)"""
    )


# ---------------------------------------------------------------------------
# preference-pair mining (DPO-style chosen/rejected construction)
# ---------------------------------------------------------------------------

#: pairs per source: i-th best zipped with i-th worst by quality rank.
PREF_PAIRS_PER_SOURCE = 3


@query(
    "ns_preference_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(1000000 * len(list_distinct(toks)) // len(toks) AS BIGINT)
               AS score_q
      FROM (SELECT doc_id, source, {DUCK_TOKENS.format(col="text")} AS toks
            FROM documents)
      WHERE len(toks) > 0
    ),
    ranked AS (
      SELECT doc_id, source, score_q,
             row_number() OVER (PARTITION BY source
                                ORDER BY score_q DESC, doc_id) AS r_top,
             row_number() OVER (PARTITION BY source
                                ORDER BY score_q ASC, doc_id) AS r_bot
      FROM scored
    )
    SELECT t.source, CAST(t.r_top AS INTEGER) AS pair_rank,
           t.doc_id AS chosen_doc_id, t.score_q AS chosen_score_q,
           b.doc_id AS rejected_doc_id, b.score_q AS rejected_score_q
    FROM (SELECT * FROM ranked WHERE r_top <= {PREF_PAIRS_PER_SOURCE}) t
    JOIN (SELECT * FROM ranked WHERE r_bot <= {PREF_PAIRS_PER_SOURCE}) b
      ON b.source = t.source AND b.r_bot = t.r_top
    WHERE t.doc_id <> b.doc_id AND t.score_q >= b.score_q
    """,
    doc="NS preference-pair mining — the DPO/RLHF-style (chosen, rejected) "
    "construction a data pipeline runs over scored generations: per "
    "source, the i-th most lexically-diverse doc (integer-ppm "
    "distinct-token ratio, fully tie-broken) is zipped with the i-th "
    "least diverse, i <= 3, self-pairs dropped. ONE corpus scan (r7): "
    "both directions pool per (source, slice) off one exchange — no "
    "data-sized per-source frame — and the chosen/rejected zip is an "
    "explode + tiny groupBy, not a self-join (a t JOIN b forks the plan "
    "and re-derives the scored subtree per branch; measured: two "
    "scans). The score column is pluggable — in production it is a "
    "reward-model output; the pairing machinery is what this op "
    "contracts.",
)
def ns_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = (
        d.select(
            "doc_id",
            "source",
            tokens("text").alias("toks"),
        )
        # ADVICE r5: an empty document would make score_q NULL (DIV 0)
        # and Spark/DuckDB NULL-ordering diverges — keep the op total
        # over any corpus by filtering zero-token docs on both sides
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(1000000 * CAST(size(array_distinct(toks)) AS BIGINT)"
                " DIV size(toks) AS BIGINT)"
            ).alias("score_q"),
        )
    )
    # r7: sources are LOW-cardinality, so the former per-source rank
    # windows pulled corpus/|sources| rows through one task each. Pool
    # BOTH directions in ONE corpus pass (grouped_topk twice would scan
    # and tokenize the corpus twice): two per-(source, slice) windows
    # share one exchange — the true per-source top-k/bottom-k sets are
    # contained in the union of per-slice top-k/bottom-k sets, and
    # because the pool rankings use the identical total orders, rows
    # that entered the pool for the OTHER direction can never steal a
    # rank <= k. No data-sized per-source frame anywhere.
    from pyspark.sql.window import Window  # noqa: PLC0415

    k = PREF_PAIRS_PER_SOURCE
    w_lt = Window.partitionBy("source", "_tk_slice").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    w_lb = Window.partitionBy("source", "_tk_slice").orderBy(
        F.asc("score_q"), F.asc("doc_id")
    )
    pooled = (
        scored.withColumn("_tk_slice", F.spark_partition_id())
        .withColumn("_lt", F.row_number().over(w_lt))
        .withColumn("_lb", F.row_number().over(w_lb))
        .filter((F.col("_lt") <= k) | (F.col("_lb") <= k))
        .drop("_tk_slice", "_lt", "_lb")
    )
    w_top = Window.partitionBy("source").orderBy(F.desc("score_q"), F.asc("doc_id"))
    w_bot = Window.partitionBy("source").orderBy(F.asc("score_q"), F.asc("doc_id"))
    ranked = pooled.select(
        "doc_id",
        "source",
        "score_q",
        F.row_number().over(w_top).alias("r_top"),
        F.row_number().over(w_bot).alias("r_bot"),
    )
    # Pair the i-th best with the i-th worst WITHOUT a self-join (a
    # t ⋈ b join forks the plan and Catalyst re-derives the whole
    # scored subtree per branch — measured: two corpus scans): each
    # pooled row explodes into up to two (rank, side) records and ONE
    # tiny groupBy(source, rank) zips the sides. Both sides exist for
    # every rank <= min(k, n_docs) by construction, so max(struct)
    # picks the single candidate per side.
    long = ranked.select(
        "source",
        "doc_id",
        "score_q",
        F.explode(
            F.array_compact(
                F.array(
                    F.when(
                        F.col("r_top") <= k,
                        F.struct(
                            F.col("r_top").cast("int").alias("pair_rank"),
                            F.lit(True).alias("is_chosen"),
                        ),
                    ),
                    F.when(
                        F.col("r_bot") <= k,
                        F.struct(
                            F.col("r_bot").cast("int").alias("pair_rank"),
                            F.lit(False).alias("is_chosen"),
                        ),
                    ),
                )
            )
        ).alias("e"),
    )
    zipped = long.groupBy("source", F.col("e.pair_rank").alias("pair_rank")).agg(
        F.max(
            F.when(F.col("e.is_chosen"), F.struct("doc_id", "score_q"))
        ).alias("c"),
        F.max(
            F.when(~F.col("e.is_chosen"), F.struct("doc_id", "score_q"))
        ).alias("r"),
    )
    return (
        zipped
        # the score guard matters for tiny sources (2-4 docs), where the
        # i-th best and i-th worst cross over and would emit an INVERTED
        # preference; dropped on both sides identically
        .filter(
            (F.col("c.doc_id") != F.col("r.doc_id"))
            & (F.col("c.score_q") >= F.col("r.score_q"))
        )
        .select(
            "source",
            "pair_rank",
            F.col("c.doc_id").alias("chosen_doc_id"),
            F.col("c.score_q").alias("chosen_score_q"),
            F.col("r.doc_id").alias("rejected_doc_id"),
            F.col("r.score_q").alias("rejected_score_q"),
        )
    )
