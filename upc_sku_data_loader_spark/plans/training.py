"""Training-pipeline operators: the steps between curated corpus and
training shards (reference file:line n/a — empty tree, SURVEY §0.1).

Extends the curation tier (plans/curation.py) with the operations that
turn a cleaned document corpus into model-ready data:

- k32 sequence packing — concat-then-split packing of documents into
  fixed-length context windows (the GPT-style packer: concatenate the
  corpus in doc order, cut every L tokens, report which docs overlap
  which packs).  The global running token offset is a *distributed
  prefix sum*: per-range-shard window cumsum + a tiny cross-shard
  offset relation — never a single global window over the fact table.
- k33 stratified sampling — exact n-per-stratum selection ordered by an
  md5 hash, so both engines pick the identical sample (no engine RNG).
- k34 Gopher-style quality rules — word-count bounds, mean word
  length, stopword fraction as hard filter flags (Rae et al. 2021,
  arXiv:2112.11446 §A1.1 — public paper), pure column expressions.
- k35 unigram log-prob scoring — a perplexity proxy: corpus unigram
  LM, per-doc mean token log-probability.  Two aggs + one broadcast
  join; the only transcendental (LN) is rounded to 6 dp on both
  engines before the exact decimal mean.
- k36 global chunk dedup — first-occurrence-wins dedup of 10-token
  chunks ACROSS the corpus (k30 dedups spans *within* a doc); one
  shuffle on chunk text, reconstruction via ordered string_agg.
- k37 dedup clusters — connected components over the near-duplicate
  pair graph (3-shingle Jaccard ≥ 0.5, same-language blocking), the
  step that turns pairwise near-dup hits into canonical-document
  groups.  Spark side: iterative min-label propagation (bounded, with
  lineage checkpoints); oracle: DuckDB recursive-CTE transitive
  closure — a genuinely iterative algorithm still hash-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import vectors as V
from ..functions.exprs import dsum, dsum_sql
from ..operators.dedup import dedup_clusters, unpersist_with
from ..registry import query

PACK_LEN = 256  # tokens per packed context window (k32)
CHUNK = 10  # tokens per dedup chunk (k36)

# Word-3-gram shingle set per doc, identical construction both engines.
_SHINGLE_EXPR = (
    "transform(sequence(1, greatest(size(t) - 2, 1)),"
    " i -> concat_ws(' ', slice(t, i, 3)))"
)
# 3-gram shingles as a 3-way zip of shifted slices: the lateral
# UNNEST(generate_series) form replicated the token list per shingle row
# and sliced O(n) per offset — O(n^2) on megabyte docs (r10 --megadoc
# sweep).  Docs shorter than 3 tokens keep their whole text as the one
# shingle, matching the GREATEST(n-2, 1) lateral semantics.
_SHINGLE_SQL = """
    SELECT DISTINCT doc_id, lang, s FROM (
      SELECT doc_id, lang,
             UNNEST(list_transform(list_zip(t[1:n-2], t[2:n-1], t[3:n]),
                    x -> concat(x[1], ' ', x[2], ' ', x[3]))) AS s
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n FROM documents)
      WHERE n >= 3
      UNION ALL
      SELECT doc_id, lang, array_to_string(t, ' ') AS s
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n FROM documents)
      WHERE n < 3
    )
"""


# --- K32: sequence packing (concat-then-split into context windows) -----------


@query(
    "k32_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
    ),
    c AS (
      SELECT doc_id, ntok,
             CAST(SUM(ntok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_end
      FROM d
    )
    SELECT doc_id, pack_id,
           CAST(LEAST(cum_end, (pack_id + 1) * {PACK_LEN})
                - GREATEST(cum_end - ntok, pack_id * {PACK_LEN})
                AS BIGINT) AS tok_in_pack
    FROM c, UNNEST(generate_series((cum_end - ntok) // {PACK_LEN},
                                   (cum_end - 1) // {PACK_LEN})) AS g(pack_id)
    """,
)
def k32_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split packing: documents concatenated in doc_id
    order, cut every PACK_LEN tokens; emits one row per (doc, pack)
    overlap with the token count the doc contributes to that pack.

    Scale design: the running offset is computed as a two-level prefix
    sum — dense doc_ids are range-sharded (contiguous id blocks), the
    cumsum runs per shard, and cross-shard offsets come from a
    #shards-row aggregate (the only single-partition window, O(shards)
    not O(rows)).  At 100 TB this is the textbook distributed scan
    pattern; a naive `ORDER BY doc_id` global window would serialize
    the whole corpus through one task (the oracle may do exactly that —
    DuckDB is single-node)."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
        .withColumn("shard", F.expr("doc_id div 64"))
    )
    w_local = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("local_end", F.sum("ntok").over(w_local))
    # Cross-shard offsets: tiny relation (one row per shard), exclusive
    # prefix over shard totals — single-partition window over #shards rows.
    totals = d.groupBy("shard").agg(F.sum("ntok").alias("shard_tot"))
    w_off = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        F.col("shard").alias("off_shard"),
        F.coalesce(F.sum("shard_tot").over(w_off), F.lit(0)).alias("offset"),
    )
    packed = (
        local.join(F.broadcast(offsets), F.col("off_shard") == F.col("shard"))
        .withColumn("cum_end", (F.col("local_end") + F.col("offset")).cast("long"))
        .withColumn("pack_id", F.explode(F.expr(
            f"sequence((cum_end - ntok) div {PACK_LEN},"
            f" (cum_end - 1) div {PACK_LEN})"
        )))
    )
    return packed.select(
        "doc_id",
        "pack_id",
        (
            F.least(F.col("cum_end"), (F.col("pack_id") + 1) * PACK_LEN)
            - F.greatest(F.col("cum_end") - F.col("ntok"), F.col("pack_id") * PACK_LEN)
        ).cast("long").alias("tok_in_pack"),
    )


# --- K33: stratified sampling (exact n per stratum, hash-ordered) -------------


@query(
    "k33_stratified_sample",
    oracle="""
    SELECT doc_id, lang, rk
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 20
    """,
)
def k33_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: 20 docs per language, selected by
    md5-hash rank so the sample is deterministic and engine-independent
    (the hash IS the random order — no RNG).  One shuffle on the
    stratum key.  Scale note: a stratum far larger than memory should
    first prune with an approximate hash-threshold (percentile of the
    hash at ~n/N) before the exact window — the window then sorts only
    the surviving sliver; the semantics here are the exact top-n."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 20)
    )


# --- K34: Gopher-style quality rules ------------------------------------------


@query(
    "k34_gopher_rules",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', ''))
               * 1.0 / len(string_split(text, ' ')) AS mwl,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a', 'of', 'and', 'in')))
               * 1.0 / len(string_split(text, ' ')) AS stop_frac
      FROM documents
    )
    SELECT doc_id, n_words,
           ROUND(mwl, 4) AS mean_word_len,
           ROUND(stop_frac, 4) AS stopword_frac,
           (n_words BETWEEN 20 AND 1000
            AND mwl BETWEEN 3 AND 10
            AND stop_frac >= 0.01) AS passes
    FROM sig
    """,
)
def k34_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule hard filters (word-count bounds, mean word length
    3–10, stopword fraction ≥ 1 %) as per-doc flags.  Pure JVM column
    expressions — map-only, no shuffle, whole-stage codegen; the rule
    comparisons run on the RAW doubles (identical arithmetic both
    engines), rounding applies only to the reported signal columns."""
    n_words = F.size(F.split("text", " "))
    mwl = F.length(F.translate("text", " ", "")) * 1.0 / n_words
    stop_frac = (
        F.expr(
            "size(filter(split(text, ' '),"
            " w -> w IN ('the', 'a', 'of', 'and', 'in')))"
        )
        * 1.0
        / n_words
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(stop_frac, 4).alias("stopword_frac"),
        (
            n_words.between(20, 1000)
            & mwl.between(3, 10)
            & (stop_frac >= 0.01)
        ).alias("passes"),
    )


# --- K35: unigram log-prob scoring (perplexity proxy) -------------------------


@query(
    "k35_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
    scored AS (
      SELECT t.doc_id,
             ROUND(LN(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)), 6)
               AS logp
      FROM tok t JOIN freq f ON f.w = t.w, tot
    )
    SELECT doc_id, COUNT(*) AS n_tok,
           ROUND({dsum_sql("logp", "s").replace(" AS s", "")} / COUNT(*), 4)
             AS logprob
    FROM scored GROUP BY doc_id
    """,
)
def k35_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity proxy: per-doc mean log-probability under the
    corpus's own unigram LM — the classic cheap quality score (low =
    rare-token soup).  Plan: explode → vocab count agg → broadcast the
    vocab back onto the token stream (the vocab is bounded by
    |unique tokens|, small even at 100 TB after Zipf truncation) → one
    per-doc agg.  LN is the only libm call; both sides round it to
    6 dp before the exact decimal sum, absorbing any last-ulp
    cross-engine drift."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 6
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(
            F.sum(F.col("logp").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("logprob"),
    )


# --- K36: global chunk dedup (first occurrence wins, cross-corpus) ------------


@query(
    "k36_chunk_dedup_global",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             (len(string_split(text, ' ')) + {CHUNK} - 1) // {CHUNK} AS nch
      FROM documents
    ),
    -- token-position zip + group by chunk index: the lateral
    -- list_slice form replicated the token list per chunk row —
    -- O(n^2/CHUNK) bytes on megabyte docs (r10 megadoc sweep)
    tok AS (
      SELECT doc_id, UNNEST(t) AS w,
             UNNEST(generate_series(0, len(t) - 1)) AS pos
      FROM d
    ),
    ch AS (
      SELECT doc_id, pos // {CHUNK} AS idx,
             string_agg(w, ' ' ORDER BY pos) AS chunk
      FROM tok GROUP BY doc_id, pos // {CHUNK}
    ),
    marked AS (
      SELECT doc_id, idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, idx) = 1 AS kept
      FROM ch
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY idx)
                        FILTER (WHERE kept), '')) AS dedup_text_md5
    FROM marked GROUP BY doc_id
    """,
)
def k36_chunk_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus chunk dedup: every 10-token chunk is kept only at
    its first global occurrence (min doc_id, then min offset) — the
    corpus-level complement of k30's within-document span dedup.  One
    shuffle on chunk text (the window's partition key); reconstruction
    is an ordered in-group concat.  At 100 TB the chunk column would be
    a 64-bit hash instead of the raw text (same plan shape, 8-byte
    shuffle key) with keeper resolution by (hash, doc_id, idx)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("t"),
    ).withColumn("nch", F.expr(f"(size(t) + {CHUNK} - 1) div {CHUNK}"))
    ch = d.select(
        "doc_id",
        F.explode(F.expr("sequence(0, nch - 1)")).alias("idx"),
        F.col("t"),
    ).select(
        "doc_id",
        "idx",
        F.expr(f"concat_ws(' ', slice(t, idx * {CHUNK} + 1, {CHUNK}))").alias("chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    marked = ch.withColumn("kept", F.row_number().over(w) == 1)
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        # md5 of the reassembled text (both sides) — the HASH of the string
        # is engine-canonical where raw long-string rendering is not; the
        # driver's value-hash then compares 32-char hex on both sides.
        F.md5(
            F.coalesce(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list(CASE WHEN kept THEN"
                        " struct(idx, chunk) END)), x -> x.chunk)"
                    ),
                ),
                F.lit(""),
            )
        ).alias("dedup_text_md5"),
    )


# --- K37: near-dup connected components (iterative ⇄ recursive-CTE oracle) ----


@query(
    "k37_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang
                         AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT da, db FROM pairs
      JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    ),
    sym AS (SELECT da AS a, db AS b FROM edges
            UNION ALL SELECT db, da FROM edges),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """,
)
def k37_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the pair
    graph (word-3-shingle Jaccard ≥ 0.5, same-language blocking), the
    step that converts pairwise near-dup hits into canonical groups
    (component id = min doc_id; singletons are their own component).

    Spark side is iterative min-label propagation: each round joins the
    label table to the symmetric edge list, takes the min neighbor
    label, and stops when no label changed — O(graph diameter) rounds,
    each a pair of keyed shuffles, with `localCheckpoint` truncating
    the growing lineage (the standard large-graph CC pattern; GraphX
    does the same under the hood).  The oracle proves the fixpoint with
    a recursive-CTE transitive closure — feasible single-node because
    closure size is Σ component², and near-dup components are tiny.
    Edge building is inverted-index based (docs sharing a shingle),
    never all-pairs."""
    docs = load(spark, sf_dir, "documents")
    # NULL-text docs form no shingles (operators/dedup.py convention:
    # concat_ws would silently shingle split(NULL) into [""]); they
    # re-enter below as their own singleton components, matching the
    # oracle's all-documents closure base.
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "lang", F.split("text", " ").alias("t"))
    )
    sh = toks.select(
        "doc_id", "lang", F.explode(F.expr(_SHINGLE_EXPR)).alias("s")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "lang", "s")
    b = sh.select(F.col("doc_id").alias("db"), F.col("lang").alias("lb"),
                  F.col("s").alias("sb"))
    pairs = (
        a.join(b, (F.col("s") == F.col("sb")) & (F.col("lang") == F.col("lb"))
               & (F.col("da") < F.col("db")))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    edges = (
        pairs.join(sizes.select(F.col("doc_id").alias("da"),
                                F.col("n").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("n").alias("nb")), "db")
        .filter(F.col("common") * 1.0
                / (F.col("na") + F.col("nb") - F.col("common")) >= 0.5)
        .select("da", "db")
    )
    # Component resolution via the shared pointer-doubling propagation
    # (operators/dedup.py:dedup_clusters): O(log diameter) rounds and a
    # loud RuntimeError on non-convergence — a silently non-minimal
    # fixpoint would emit wrong components.  dedup_clusters only labels
    # docs that appear in an edge; singletons rejoin as their own
    # component via the left join + coalesce.
    clustered = dedup_clusters(edges.select(F.col("da").alias("a"),
                                            F.col("db").alias("b")))
    labels = (
        docs.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_keeper", F.col("doc_id")).alias("component"),
        )
    )
    csize = labels.groupBy(F.col("component").alias("cc")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(F.broadcast(csize), F.col("cc") == F.col("component")).select(
        "doc_id", "component", "cluster_size"
    )


# --- K38: leakage-safe train/val/test split -----------------------------------


@query(
    "k38_leakage_safe_split",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN b < 10 THEN 'test'
                WHEN b < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(source), 1, 4) AS UBIGINT) % 100 AS b
      FROM documents
    )
    """,
)
def k38_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the GROUP (source), not the
    document: every doc from one source lands in the same split, so
    near-duplicates within a crawl/source can never straddle the
    train/eval boundary (the standard contamination guard).  The
    assignment is a pure hash of the group key — map-only, no shuffle,
    no RNG, stable under re-runs and engine-independent (md5 on both
    sides).  10 % test / 10 % val / 80 % train by hash bucket."""
    b = (
        F.conv(F.substring(F.md5(F.col("source").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(b < 10, "test").when(b < 20, "val").otherwise("train").alias("split"),
    )


# --- K39: temperature-weighted source resampling ------------------------------

_ALPHA = 0.5  # mixture temperature: weight_s ∝ count_s^0.5
_BUDGET = 200  # expected docs kept across the corpus


@query(
    "k39_source_temperature_sample",
    oracle=f"""
    WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    w AS (
      SELECT source, n_s, POW(n_s, {_ALPHA}) AS w_s,
             SUM(POW(n_s, {_ALPHA})) OVER () AS w_tot
      FROM n
    ),
    p AS (
      SELECT source, n_s,
             ROUND(LEAST(1.0, {_BUDGET} * w_s / w_tot / n_s), 6) AS p_keep
      FROM w
    )
    SELECT d.doc_id, d.source, p.p_keep
    FROM documents d JOIN p ON p.source = d.source
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS UBIGINT)
          / 16777216.0 < p.p_keep
    """,
)
def k39_source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture resampling: per-source keep
    probability p_s ∝ n_s^α / n_s (α = 0.5 flattens the source
    distribution, the standard multi-corpus rebalancing trick), scaled
    to an expected total budget and capped at 1.  The keep decision is
    a deterministic md5-fraction Bernoulli (hash(doc_id)/16^6 < p_s) —
    reproducible shard-for-shard, engine-independent, no RNG state.

    Plan: one tiny per-source agg (|sources| rows), its global weight
    sum via a single-partition window over that tiny relation, then a
    broadcast join back onto the fact table — map-only on the 100 TB
    side."""
    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = n.select(
        "source", "n_s", F.pow("n_s", _ALPHA).alias("w_s")
    ).withColumn("w_tot", F.sum("w_s").over(Window.partitionBy()))
    p = w.select(
        "source",
        F.round(
            F.least(F.lit(1.0), _BUDGET * F.col("w_s") / F.col("w_tot") / F.col("n_s")),
            6,
        ).alias("p_keep"),
    )
    frac = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
            16,
            10,
        ).cast("double")
        / 16777216.0
    )
    return (
        docs.join(F.broadcast(p), "source")
        .filter(frac < F.col("p_keep"))
        .select("doc_id", "source", "p_keep")
    )


# --- K40: size-balanced shard assignment (round-robin over size rank) ---------

_SHARDS = 8


@query(
    "k40_shard_assign",
    oracle=f"""
    SELECT doc_id, ntok,
           CAST((rk - 1) % {_SHARDS} AS BIGINT) AS shard_id
    FROM (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok,
             ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
                                doc_id) AS rk
      FROM documents
    )
    """,
)
def k40_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment: docs ranked by token count
    (desc) and dealt round-robin across shards — the longest-
    processing-time-first heuristic that keeps per-shard token totals
    within one max-doc of each other, so no training shard becomes a
    straggler.  Deterministic (ties broken by doc_id).

    Scale shape (NO single-task global sort): the global rank is built
    distributed — `repartitionByRange` on the rank order gives a
    range-partitioned sort (Spark's own distributed sort machinery);
    per-partition ranks come from a window keyed by the physical
    partition id; a #partitions-row exclusive prefix count (broadcast
    back) turns them global.  The rank — hence the output — is
    independent of where Spark's sampled range boundaries land."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
        .repartitionByRange(8, F.col("ntok").desc(), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("pid").alias("off_pid"),
            F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    w_local = Window.partitionBy("pid").orderBy(
        F.col("ntok").desc(), "doc_id"
    )
    return (
        d.join(F.broadcast(offsets), F.col("off_pid") == F.col("pid"))
        .withColumn(
            "shard_id",
            (
                (F.col("offset") + F.row_number().over(w_local) - 1)
                % _SHARDS
            ).cast("long"),
        )
        .select("doc_id", "ntok", "shard_id")
    )


# --- K41: semantic dedup (SemDeDup: cluster, then dedup within cluster) -------

_SEMD_C = 8  # centroids (SemDeDup uses 50k at 100M-doc scale; C ∝ corpus)
_SEMD_TAU = 0.35  # cosine threshold, chosen for this corpus's cosine range


@query(
    "k41_semdedup",
    oracle=f"""
    WITH fe AS (
      SELECT * FROM embeddings
      WHERE COALESCE(len(list_filter(embedding,
                    x -> x IS NULL OR NOT isfinite(x))) = 0, FALSE)
    ),
    seeds AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM fe ORDER BY vec_id LIMIT {_SEMD_C}
    ),
    assign AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, s.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({V.cosine_sql('e.embedding', 's.cemb')}, 6)
                            DESC,
                          s.cid
               ) AS rn
        FROM fe e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT y.vec_id
      FROM assign x
      JOIN assign y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN fe ex ON ex.vec_id = x.vec_id
      JOIN fe ey ON ey.vec_id = y.vec_id
      WHERE ROUND({V.cosine_sql('ex.embedding', 'ey.embedding')}, 6)
            >= {_SEMD_TAU}
    )
    SELECT a.vec_id, a.cluster,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    """,
)
def k41_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    semantic dedup that only ever compares embeddings INSIDE a cluster.
    Cluster assignment is nearest-centroid cosine; within each cluster,
    a vector is dropped when a lower-id member sits within cosine ≥ τ —
    greedy keep-first, the paper's rule made deterministic.

    r10 rewrite (guide §4.2: hand whole batches to vectorized native
    code): both the assignment and the within-cluster pair stage moved
    from interpreted ``zip_with`` cosine HOFs to the numpy float64
    block-matmul kernel family (operators/similarity.py) — the swap the
    r9 docstring already scoped.  Before: crossJoin(seeds) + per-vec_id
    ROW_NUMBER window + member join + cluster self-join + DISTINCT +
    left join = 5 Exchanges and ~n_pairs interpreted 64-dim cosine
    folds (15.1 s noop at sf0.1).  After: ONE map-side ``mapInPandas``
    assignment (centroid argmax against a C-row broadcast matrix) and
    ONE Exchange on the cluster key into a ``applyInPandas`` kernel
    that computes the pair stage as a normalized matmul (column-blocked
    to the similarity kernels' cell budget).  Values identical: cosine
    = dot of L2-normalized float64 rows rounded to 6 dp — the same
    kernel-vs-oracle contract k3/k4/k17 have held bit-exact through
    every parity/fuzz sweep since r6; argmax ties break to the lowest
    cid (np.argmax first-occurrence over ascending-cid columns = the
    old ORDER BY sim DESC, cid ASC); dropped[j] = any lower-id member
    with sim ≥ τ computed on the same rounded values.  Zero-norm
    vectors map to the engines' shared 0.0-cosine convention via
    ``_normalized`` (norms==0 → unit divisor).

    Scale design (unchanged): the pairwise stage is quadratic ONLY
    within a cluster — the whole point of SemDeDup; C grows with the
    corpus (50k clusters at 100M docs) so cluster populations stay
    bounded; the kernel's column blocking bounds per-task transient
    memory at the similarity-family budget.  Centroids are a
    deterministic bounded collect (C rows, like k16's IVF seeding).
    Finite-vector convention (functions/vectors.py): NaN/Inf vectors
    participate in neither seeding, assignment, nor the pair stage —
    enforced numpy-side by ``_finite_rows``, the exact twin of
    ``finite_vec``."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.vectors import finite_vec
    from ..operators.similarity import (
        _TOPK_CELL_BUDGET,
        _finite_rows,
        _normalized,
    )

    e = load(spark, sf_dir, "embeddings")
    seed_rows = (
        e.filter(finite_vec("embedding"))
        .orderBy("vec_id")
        .limit(_SEMD_C)
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "vec_id long, cluster long, kept int"
    if not seed_rows:
        # no finite vectors at all (empty sweep): no assignments exist
        return spark.createDataFrame([], out_schema)
    cids = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    cmat_t = _normalized(
        np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    ).T  # (d, C); cids ascend because seeds are ordered by vec_id

    def assign_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mat = _finite_rows(pdf)
            if len(ids) == 0:
                continue
            sims = np.round(_normalized(mat) @ cmat_t, 6)
            # ties → first max = lowest cid (columns ascend by cid)
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cluster": cids[best],
                    "emb": [row.tolist() for row in mat],
                }
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign_fn, "vec_id long, cluster long, emb array<double>"
    )

    def pair_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        nm = _normalized(
            np.vstack(pdf["emb"].to_numpy()[order]).astype(np.float64)
        )
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        if n > 1:
            # column blocks bound the sims transient to the shared
            # similarity-kernel cell budget (cluster sizes are the one
            # dimension SemDeDup does not cap per-row)
            step = max(64, _TOPK_CELL_BUDGET // n)
            for j0 in range(0, n, step):
                j1 = min(n, j0 + step)
                sims = np.round(nm @ nm[j0:j1].T, 6)  # (n, j1-j0)
                # witness rows are the STRICTLY-lower-id members only
                lower = np.arange(n)[:, None] < np.arange(j0, j1)[None, :]
                dropped[j0:j1] = ((sims >= _SEMD_TAU) & lower).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].iloc[0],
                "kept": (~dropped).astype(np.int32),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(pair_fn, out_schema)


# --- K42: distributed k-means (Lloyd iterations over embeddings) --------------

_KM_K = 8  # clusters; grows with corpus like SemDeDup's C
_KM_ITERS = 2  # fixed unrolled iterations so the SQL twin can mirror them


def _km_sqdist(v: F.Column, c: F.Column) -> F.Column:
    """Squared L2 between two double arrays, rounded to 6 dp so argmin
    ties cannot diverge across engines' reduction order."""
    return F.round(
        F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _km_assign(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Map-side nearest-centroid assignment: centroids enter the plan as
    LITERAL arrays (k×d doubles — bytes, not data), so assignment is a
    pure projection: transform → struct(d2, cid) → array_min picks min
    distance with ties to the smallest cid.  Zero shuffle, zero Python."""
    carr = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(x)) for x in vec]).alias("cemb"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, vec in cents
        ]
    )
    best = F.array_min(
        F.transform(
            carr,
            lambda s: F.struct(
                _km_sqdist(F.col("v"), s["cemb"]).alias("d2"), s["cid"].alias("cid")
            ),
        )
    )
    return e.select("vec_id", "v", best["cid"].alias("cluster"))


_KM_ASSIGN_SQL = """
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_sum(list_transform(
                        list_zip(e.v, c.cemb), p -> (p[1]-p[2])*(p[1]-p[2]))), 6),
                      c.cid
           ) AS rn
    FROM {E} e CROSS JOIN {C} c
  ) WHERE rn = 1
"""

_KM_UPDATE_SQL = """
  SELECT cid, list(ROUND(m, 6) ORDER BY pos) AS cemb FROM (
    SELECT a.cluster AS cid, i AS pos, AVG(a.v[i]) AS m
    FROM {A} a, UNNEST(generate_series(1, 64)) AS u(i)
    GROUP BY a.cluster, i
  ) GROUP BY cid
"""


@query(
    "k42_kmeans",
    oracle=f"""
    WITH fe AS (SELECT * FROM embeddings
                WHERE {V.finite_vec_sql('embedding')}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM fe),
    c0 AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM fe ORDER BY vec_id LIMIT {_KM_K}
    ),
    a1 AS ({_KM_ASSIGN_SQL.format(E="e", C="c0")}),
    c1 AS ({_KM_UPDATE_SQL.format(A="a1")}),
    a2 AS ({_KM_ASSIGN_SQL.format(E="e", C="c1")})
    SELECT vec_id, cluster FROM a2
    """,
)
def k42_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd): the clustering backbone behind
    SemDeDup-style curation and IVF index builds, run for a FIXED
    two iterations so a DuckDB twin can unroll the identical
    steps CTE-by-CTE — an iterative ML algorithm that is still
    value-hash-checked, assignment for assignment.

    Scale design: per iteration the only shuffle is the centroid
    update — posexplode to (cluster, pos, x) then groupBy avg, which
    partial-aggregates map-side down to k×d rows per partition before
    the exchange.  Assignment never shuffles: centroids travel into
    the plan as k×d literal doubles (k16's bounded-collect pattern —
    the collect is k×d numbers, independent of corpus size) and the
    argmin is transform → array_min over struct(d2, cid), whole-stage
    codegen with ties to the smallest cid.  Distances and updated
    centroid means round to 6 dp on both engines so reduction-order
    ulps cannot flip an argmin or a mean.  Init is the deterministic
    first-k rows by vec_id (seeding strategy is orthogonal — k-means++
    would slot in as one extra bounded pass).  Finite-vector convention
    (functions/vectors.py): NULL/NaN/Inf vectors join neither seeding
    nor assignment — a NULL vector would crash the driver-side seed
    materialization outright (--nulls sweep)."""
    # persist(): e is read by the seed collect, by each iteration's
    # centroid-update action and by the final assignment — 3 full
    # scan+cast+finite-filter passes without it (r11, guide §5;
    # measured interleaved noop min-of-5 at sf0.1: 1.78 → 1.56 s).
    # Small by construction (n_vecs × d doubles); lifetime plan-bound
    # via unpersist_with below.
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(V.finite_vec("embedding"))
        .select("vec_id", V.as_double(F.col("embedding")).alias("v"))
        .persist()
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in e.orderBy("vec_id").limit(_KM_K).collect()
    ]
    if not cents:  # empty table: a zero-element literal array is VOID
        e.unpersist()
        return spark.createDataFrame([], "vec_id bigint, cluster int")
    assigned = _km_assign(e, cents)
    for _ in range(_KM_ITERS - 1):
        cent_df = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster",
                F.transform("pm", lambda s: F.round(s["m"], 6)).alias("cemb"),
            )
        )
        cents = [  # bounded: k rows × d doubles
            (int(r["cluster"]), [float(x) for x in r["cemb"]])
            for r in cent_df.collect()
        ]
        assigned = _km_assign(e, cents)
    result = assigned.select("vec_id", "cluster")
    unpersist_with(result, e)
    return result


# --- K43: PageRank as a corpus-quality prior (unrolled power iteration) -------

_PR_ITERS = 3  # fixed unrolled iterations, mirrored CTE-for-CTE in the oracle
_PR_OFF = 1_000_000  # supplier node-id offset keeps the bipartite ids disjoint

#: Driver power-iteration gate for k43: symmetrized edge counts at or
#: below this run the fixed-point iteration as a numpy kernel on the
#: driver (2M edges ≈ 32 MB of int64 Arrow buffers); above it the
#: distributed join loop runs — the same bytes-gated driver-kernel
#: class as operators/dedup._CC_DRIVER_MAX_EDGES.
_PR_DRIVER_MAX_EDGES = 2_000_000

_PR_SCALE = 1_000_000_000_000  # fixed-point pico-rank units

_PR_STEP_SQL = """
  SELECT nodes.node,
         ((3 * CAST({S} AS BIGINT)) // (20 * n.n))
           + ((COALESCE(m.mass, 0) * 17) // 20) AS pri
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst, SUM(r.pri // d.deg) AS mass
    FROM edges e
    JOIN {R} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) m ON m.dst = nodes.node
"""


@query(
    "k43_graph_pagerank",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + {_PR_OFF} AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) // n.n AS pri
           FROM nodes CROSS JOIN n),
    it1 AS ({_PR_STEP_SQL.format(R="r0", S=_PR_SCALE)}),
    it2 AS ({_PR_STEP_SQL.format(R="it1", S=_PR_SCALE)}),
    it3 AS ({_PR_STEP_SQL.format(R="it2", S=_PR_SCALE)})
    SELECT node, CAST(pri AS DOUBLE) / {_PR_SCALE} AS pr FROM it3
    """,
)
def k43_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer–supplier interaction graph — the
    link-graph quality prior a web-corpus pipeline computes over the
    crawl's host graph (Common Crawl publishes exactly this ranking)
    to weight or filter documents by source importance.  Power
    iteration with damping 0.85 (= 17/20), run for a FIXED 3 iterations
    and mirrored CTE-for-CTE by the DuckDB twin, so an iterative graph
    algorithm is value-hash-checked rank for rank.

    The iteration runs in FIXED-POINT INTEGER pico-rank units
    (pr × 1e12): floor-div contributions (pri div deg), integer mass
    sums, 3/20 teleport and 17/20 damping as integer division.  The
    first cut rounded doubles to 10 dp per iteration — cross-engine
    ROUND(double) differs at manufactured half-boundaries, and one of
    15999 ranks flipped its final 8-dp digit at sf0.1 (round-6 parity
    sweep).  Integer recurrences are bit-identical on both engines in
    any reduction order; the quantization error (≤ deg ulps of 1e-12
    per node per iteration, identical on both sides) is far below any
    use of a rank prior.

    Scale design: each iteration is one fact-sized join (edges ⋈
    ranks on src — both sides hash-partitioned on the same key, so
    consecutive iterations reuse the partitioning) and one groupBy(dst)
    sum that partial-aggregates map-side before its exchange.  The
    degree relation is computed once and reused.  Edges are
    symmetrized, so no dangling-mass term is needed: every node has
    out-degree ≥ 1 by construction.  Per-iteration arithmetic is
    integer, so any reduction order is bit-identical.

    r11 (guide §1.2, the dedup_clusters driver-kernel class): the
    (c, s) pair table is localCheckpoint-ed once — it is read 7+ times
    across the count and the 3 unrolled iterations, and checkpointing
    truncates the deeply nested iteration plan (§3.3: planning time on
    a tree that re-expands the join per iteration) — and when the
    SYMMETRIZED edge count fits ``_PR_DRIVER_MAX_EDGES`` (2M edges ≈
    32 MB of int64 via Arrow) the fixed-point power iteration runs as
    a numpy kernel on the driver: bincount
    degrees, ``np.add.at`` integer mass sums, the same ``div``
    recurrences.  All values are non-negative so trunc-div (Spark),
    floor-div (numpy) and DuckDB ``//`` agree exactly; int64 cannot
    overflow (mass ≤ total rank mass ≈ 1e12, ×17 ≪ 2^63).  Above the
    gate the distributed loop runs unchanged off the same checkpoint —
    the right plan at 100 TB.  Both paths pinned equal by a
    gate-zeroing pytest (tests/test_training.py).  Measured
    (noop min-of-5, sf0.1, interleaved): 6.74 s loop → 4.53 s
    checkpointed loop → 1.94 s driver kernel."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + F.lit(_PR_OFF)).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_pairs = pairs.count()  # the checkpoint already materialized this
    if 2 * n_pairs <= _PR_DRIVER_MAX_EDGES:
        out = _pagerank_driver(spark, pairs)
        pairs.unpersist()
        return out
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # bounded: one scalar
    if n == 0:  # empty graph: no nodes, no ranks (and // 0 below)
        return spark.createDataFrame([], "node bigint, pr double")
    base = (3 * _PR_SCALE) // (20 * n)  # teleport term, integer
    ranks = nodes.withColumn("pri", F.lit(_PR_SCALE // n).cast("long"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("pri div deg")).alias("mass"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr("(coalesce(mass, 0) * 17) div 20")
            ).cast("long").alias("pri"),
        )
    result = ranks.select(
        "node", (F.col("pri") / F.lit(float(_PR_SCALE))).alias("pr")
    )
    unpersist_with(result, pairs)
    return result


def _pagerank_driver(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Driver-side fixed-point power iteration over the collected
    (c, s) pair table (gated by the caller: ≤ _PR_DRIVER_MAX_EDGES
    symmetrized edges ≈ 32 MB of int64 Arrow buffers).  Bit-identical
    to the distributed loop: same integer recurrences, every quantity
    non-negative so numpy floor-div equals Spark trunc-div, and the
    final pri/1e12 is the same int64→double IEEE division."""
    import numpy as np
    import pandas as pd

    tbl = pairs.toArrow()
    c = tbl["c"].to_numpy()
    s = tbl["s"].to_numpy()
    src = np.concatenate([c, s])
    dst = np.concatenate([s, c])
    nodes, src_idx = np.unique(src, return_inverse=True)
    n = len(nodes)
    if n == 0:  # empty graph — same contract as the distributed path
        return spark.createDataFrame([], "node bigint, pr double")
    dst_idx = np.searchsorted(nodes, dst)  # node set is symmetric
    deg = np.bincount(src_idx, minlength=n).astype(np.int64)
    base = (3 * _PR_SCALE) // (20 * n)
    pri = np.full(n, _PR_SCALE // n, dtype=np.int64)
    for _ in range(_PR_ITERS):
        contrib = pri[src_idx] // deg[src_idx]
        mass = np.zeros(n, dtype=np.int64)
        np.add.at(mass, dst_idx, contrib)  # exact int64 scatter-add
        pri = base + (mass * 17) // 20
    out = pd.DataFrame({"node": nodes, "pr": pri / float(_PR_SCALE)})
    return spark.createDataFrame(out, "node bigint, pr double")


# --- K47: farthest-point coreset selection (k-center greedy) ------------------

_FPS_SQL_DIST = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


@query(
    "k47_coreset_fps",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE {V.finite_vec_sql('embedding')}
    ),
    p0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (
      SELECT e.vec_id, e.v,
             ROUND({_FPS_SQL_DIST.format(a="e.v", b="p0.v")}, 6) AS dmin
      FROM e, p0 WHERE e.vec_id != p0.vec_id
    ),
    p1 AS (SELECT vec_id, v FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT d1.vec_id, d1.v,
             LEAST(d1.dmin,
                   ROUND({_FPS_SQL_DIST.format(a="d1.v", b="p1.v")}, 6)) AS dmin
      FROM d1, p1 WHERE d1.vec_id != p1.vec_id
    ),
    p2 AS (SELECT vec_id, v FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT d2.vec_id, d2.v,
             LEAST(d2.dmin,
                   ROUND({_FPS_SQL_DIST.format(a="d2.v", b="p2.v")}, 6)) AS dmin
      FROM d2, p2 WHERE d2.vec_id != p2.vec_id
    ),
    p3 AS (SELECT vec_id, v FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1),
    centers AS (
      SELECT 0 AS cid, vec_id, v FROM p0
      UNION ALL SELECT 1, vec_id, v FROM p1
      UNION ALL SELECT 2, vec_id, v FROM p2
      UNION ALL SELECT 3, vec_id, v FROM p3
    ),
    assign AS (
      SELECT vec_id, center_id, dist_r FROM (
        SELECT e.vec_id, c.vec_id AS center_id,
               ROUND({_FPS_SQL_DIST.format(a="e.v", b="c.v")}, 6) AS dist_r,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({_FPS_SQL_DIST.format(a="e.v", b="c.v")}, 6),
                          c.vec_id) AS rn
        FROM e, centers c
      ) WHERE rn = 1
    )
    SELECT a.vec_id, a.center_id, a.dist_r,
           a.vec_id IN (SELECT vec_id FROM centers) AS is_center
    FROM assign a
    """,
)
def k47_coreset_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy (farthest-point / Gonzalez) coreset selection
    over the embedding table — the diversity-sampling backbone used for
    coreset-based data pruning: pick 4 centers (seed = min vec_id, then
    thrice the point farthest from its nearest selected center), then
    assign every vector to its nearest center.

    Scale shape: each greedy round is one distributed argmax
    (TakeOrdered of 1 row — a bounded collect, as k42's centroids) plus
    a MAP-ONLY running-min update against the single new literal
    center; k rounds → k scans, zero shuffles beyond the argmax
    reduction.  Each round's running-min state is eagerly
    ``localCheckpoint``-ed (the operators/dedup.py iterative idiom) so
    round r reads round r-1's materialized rows instead of re-deriving
    every earlier round from the parquet scan — without it the greedy
    loop is O(k²) scans and the sf1 spot-check measured 26× wall at 10×
    rows; with it, k rounds → k scans as documented.  Final assignment
    is the k42 literal-centroid argmin — map-only.  All distances are
    rounded to 6 dp before every argmax / argmin / LEAST so greedy
    choices cannot diverge across engines.  Finite-vector convention
    (functions/vectors.py): NULL/NaN/Inf vectors are neither candidate
    centers nor assignees — a NULL vector would crash the driver-side
    seed row (--nulls sweep)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(V.finite_vec("embedding"))
        .select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    )
    seed = e.orderBy("vec_id").limit(1).collect()
    if not seed:  # empty table: no centers, no assignment
        return spark.createDataFrame(
            [], "vec_id bigint, center_id bigint, dist_r double, is_center boolean"
        )
    first = seed[0]
    centers = [(0, first["vec_id"], first["v"])]
    cur = (
        e.filter(F.col("vec_id") != first["vec_id"])
        .withColumn(
            "dmin",
            _km_sqdist(F.col("v"), F.array([F.lit(x) for x in first["v"]])),
        )
        .localCheckpoint(eager=True)
    )
    for cid in (1, 2, 3):
        rows = cur.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).collect()
        if not rows:  # fewer vectors than centers: stop early
            break
        top = rows[0]
        centers.append((cid, top["vec_id"], top["v"]))
        if cid < 3:  # the post-final-pick state is never read
            cur = (
                cur.filter(F.col("vec_id") != top["vec_id"])
                .withColumn(
                    "dmin",
                    F.least(
                        F.col("dmin"),
                        _km_sqdist(
                            F.col("v"), F.array([F.lit(x) for x in top["v"]])
                        ),
                    ),
                )
                .localCheckpoint(eager=True)
            )
    center_ids = {vid for _, vid, _ in centers}
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _km_sqdist(F.col("v"), F.array([F.lit(x) for x in cv])).alias(
                        "d"
                    ),
                    F.lit(vid).alias("center_id"),
                )
                for _, vid, cv in centers
            ]
        )
    )
    return e.select(
        "vec_id",
        best["center_id"].alias("center_id"),
        best["d"].alias("dist_r"),
        F.col("vec_id").isin(list(center_ids)).alias("is_center"),
    )


# --- K48: sequence-length bucketing / padding-waste audit ---------------------

_LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _bucket_case_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in _LEN_BUCKETS[:-1]
    )
    return f"CASE {whens} ELSE {_LEN_BUCKETS[-1]} END"


@query(
    "k48_length_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
    ),
    b AS (
      SELECT CAST({_bucket_case_sql("ntok")} AS BIGINT) AS bucket_len,
             ntok
      FROM d
    ),
    agg AS (
      SELECT bucket_len, COUNT(*) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS total_tokens
      FROM b GROUP BY bucket_len
    )
    SELECT bucket_len, n_docs, total_tokens,
           CAST(n_docs * bucket_len AS BIGINT) AS padded_tokens,
           CAST(((n_docs * bucket_len - total_tokens) * 2000000
                 + n_docs * bucket_len) // (2 * n_docs * bucket_len)
                AS BIGINT) AS waste_micro
    FROM agg
    """,
)
def k48_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing audit: assign each document to the
    smallest power-of-two context bucket that fits it and report the
    padding waste per bucket — the measurement that decides between
    padded batching and k32's sequence packing (waste ≈ 0 for packing;
    this table quantifies what padding would burn instead).

    Map-only bucket assignment (integer CASE ladder, no log/float) +
    one tiny keyed agg with map-side partials; output cardinality =
    #buckets.  Waste fractions are integer half-up micro-units."""
    buckets = F.expr(_bucket_case_sql("ntok")).cast("bigint")
    d = load(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("ntok")
    )
    return (
        d.select(buckets.alias("bucket_len"), "ntok")
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") * F.col("bucket_len"))
            .cast("bigint")
            .alias("padded_tokens"),
            F.expr(
                "((n_docs * bucket_len - total_tokens) * CAST(2000000 AS BIGINT)"
                " + n_docs * bucket_len) div (2 * n_docs * bucket_len)"
            ).alias("waste_micro"),
        )
    )


# --- K49: language-balanced curriculum interleave -----------------------------


@query(
    "k49_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    -- lang NULLS FIRST pins Spark's ASC default for the NULL-language
    -- stratum (--nulls sweep); rk and doc_id are never NULL
    SELECT doc_id, lang, rk AS round,
           ROW_NUMBER() OVER (ORDER BY rk, lang NULLS FIRST, doc_id)
             AS position
    FROM ranked
    """,
)
def k49_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order scheduling: a deterministic language-balanced
    interleave — docs are md5-shuffled WITHIN each language, then
    round-robin merged across languages (round k holds every language's
    k-th doc), yielding a global curriculum position where no language
    is front- or back-loaded.

    Scale shape (NO global single-task window): per-language rank is
    one keyed shuffle (stratum window, as k33); the global position is
    then two-level, the k32 prefix-count pattern — (a) per-round doc
    counts (≤ #langs rows per round, output cardinality = #rounds =
    metadata-scale), (b) an exclusive prefix sum over that tiny rounds
    relation, (c) broadcast the offsets back and rank within each
    round's ≤ #langs rows.  Every data-scale stage is keyed; the only
    ordered window runs over #rounds rows.  The md5 order makes both
    engines emit the identical schedule — no RNG."""
    w_lang = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.row_number().over(w_lang).alias("round")
    )
    # (a) tiny per-round counts; (b) exclusive prefix over rounds only
    w_off = Window.orderBy("round").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("round")
        .agg(F.count(F.lit(1)).alias("n_in_round"))
        .select(
            F.col("round").alias("off_round"),
            F.coalesce(F.sum("n_in_round").over(w_off), F.lit(0)).alias(
                "offset"
            ),
        )
    )
    # (c) rank inside each round (≤ #langs rows per partition)
    w_in_round = Window.partitionBy("round").orderBy("lang", "doc_id")
    return (
        d.join(F.broadcast(offsets), F.col("off_round") == F.col("round"))
        .withColumn(
            "position",
            (F.col("offset") + F.row_number().over(w_in_round)).cast("long"),
        )
        .select("doc_id", "lang", "round", "position")
    )


# --- K53: Johnson-Lindenstrauss random projection (deterministic signs) -------

_RP_DIMS = 16  # target dimensionality


@query(
    "k53_random_projection",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS s(i)
      WHERE COALESCE(len(list_filter(embedding,
                    y -> y IS NULL OR NOT isfinite(y))) = 0, FALSE)
    ),
    proj AS (
      SELECT x.vec_id, j,
             CAST(SUM(CAST(
               x.v * (CASE WHEN CAST(CONCAT('0x',
                        substr(md5('rp:' || CAST(x.i - 1 AS VARCHAR)
                                   || ':' || CAST(j AS VARCHAR)), 1, 1))
                      AS INT) < 8 THEN 1.0 ELSE -1.0 END)
             AS DECIMAL(30,12))) AS DOUBLE) AS comp
      FROM x, UNNEST(generate_series(0, {_RP_DIMS - 1})) AS t(j)
      GROUP BY x.vec_id, j
    )
    SELECT vec_id, j, ROUND(comp, 6) AS comp
    FROM proj
    """,
)
def k53_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection (Achlioptas 2003):
    project each embedding to 16 dimensions with a dense ±1
    matrix derived from md5 — fully deterministic, no engine RNG, and
    the same matrix on any engine/cluster, so projections computed in
    different jobs are comparable (the property SimHash/LSH pipelines
    rely on).

    Shape: posexplode (map-only fan-out d×), broadcast the d×k sign
    matrix (built from a `spark.range` lateral, bytes-sized), one
    shuffle keyed (vec_id, j) with map-side partial decimal sums.  At
    100 TB the projection partitions by vector — the sign matrix never
    shuffles.  The per-component sum uses the decimal-cast trick
    (order-independent, cross-engine exact); output is long-format
    (vec_id, j, comp) to stay array-free, rounded once (6 dp).
    Finite-vector convention (functions/vectors.py): NaN/Inf vectors
    are excluded — their projections would be non-finite in every
    component and the decimal partial sums would throw.
    """
    from ..functions.vectors import finite_vec

    e = load(spark, sf_dir, "embeddings").filter(finite_vec("embedding"))
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "vf")
    ).withColumn("v", F.col("vf").cast("double"))
    dims = e.select(F.size("embedding").alias("d")).limit(1)
    signs = (
        dims.crossJoin(spark.range(_RP_DIMS).withColumnRenamed("id", "j"))
        .select("j", F.explode(F.sequence(F.lit(0), F.col("d") - 1)).alias("i"))
        .withColumn(
            "sgn",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("rp:"),
                                F.col("i").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("int")
                < 8,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
    )
    return (
        x.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(
            F.sum((F.col("v") * F.col("sgn")).cast("decimal(30,12)"))
            .cast("double")
            .alias("comp")
        )
        .select("vec_id", "j", F.round("comp", 6).alias("comp"))
    )


# --- K55: smoothed bigram-LM log-probability (perplexity proxy, order 2) ------


@query(
    "k55_bigram_logprob",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    -- zipped UNNESTs of shifted slices, O(n) once per doc: the lateral
    -- t[i] form replicates the token list per row — O(n^2) bytes on
    -- megabyte docs (--megadoc sweep finding, r10)
    bg AS (
      SELECT doc_id, UNNEST(t[1:n-1]) AS w1, UNNEST(t[2:n]) AS w2
      FROM d WHERE n >= 2
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2),
    uni AS (SELECT w1, COUNT(*) AS c_x FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM bg),
    scored AS (
      SELECT bg.doc_id,
             ROUND(LN((big.c_xy + 1.0) / (uni.c_x + v.vocab)), 6) AS logp
      FROM bg
      JOIN big ON big.w1 = bg.w1 AND big.w2 = bg.w2
      JOIN uni ON uni.w1 = bg.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(logp AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*), 4) AS logprob
    FROM scored
    GROUP BY doc_id
    """,
)
def k55_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 perplexity proxy: per-doc mean log-probability under the
    corpus's own add-one-smoothed bigram LM, P(w2|w1) = (c(w1,w2)+1) /
    (c(w1·)+|V|) — sharper than k35's unigram score at separating
    fluent text from shuffled-token soup (word ORDER now matters).

    Plan: one adjacent-pair explode (map-only), bigram/left-marginal
    count aggs (vocabulary-scale after Zipf — broadcast back onto the
    bigram stream), scalar |V| via a 1-row broadcast cross join, one
    per-doc agg.  Same float discipline as k35: LN rounded 6 dp both
    sides, then exact decimal mean rounded 4 dp.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
    )
    bg = (
        d.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.col("n") - 1),
                    F.slice(F.col("t"), 2, F.col("n") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_x"))
    v = bg.agg(F.countDistinct("w2").alias("vocab"))
    scored = (
        bg.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("c_xy") + 1.0)
                    / (F.col("c_x") + F.col("vocab"))
                ),
                6,
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("logp").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("logprob"),
    )


# --- K58: shard manifest with order-independent content checksums -------------


@query(
    "k58_shard_manifest",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, ntok,
             CAST((rk - 1) % 8 AS BIGINT) AS shard_id
      FROM (
        SELECT doc_id, len(string_split(text, ' ')) AS ntok,
               ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
                                  doc_id) AS rk
        FROM documents
      )
    )
    SELECT a.shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(a.ntok) AS BIGINT) AS n_tokens,
           -- '0x' || …: NULL-propagating (see k46's note; --nulls)
           bit_xor(CAST('0x' || substr(md5(d.text), 1, 15)
                        AS BIGINT)) AS content_checksum
    FROM assigned a JOIN documents d USING (doc_id)
    GROUP BY a.shard_id
    """,
)
def k58_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard integrity manifest: per shard (k40's LPT-style
    assignment), doc/token counts plus an ORDER-INDEPENDENT content
    checksum — XOR-fold of an md5-derived 60-bit integer per document.
    This is the artifact a dataloader validates before training and a
    re-shard compares against after migration; XOR (both engines'
    `bit_xor` aggregate) commutes and never overflows, so the checksum
    is stable under any partitioning/arrival order at any corpus size
    (a SUM-based checksum overflows past ~2^63 mass; XOR does not).

    Shape: reuses the registered k40 plan (distributed rank, no
    single-task sort), one hash join back to the corpus for the text
    digest, one #shards-group agg with map-side partial XOR folds.
    """
    from ..registry import QUERIES as _Q

    assigned = _Q["k40_shard_assign"](spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return (
        assigned.join(d, "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.expr("bit_xor(h)").alias("content_checksum"),
        )
    )


# --- K68: BPE merge learning (first 3 merges, exactly) ------------------------
# Byte-pair-encoding tokenizer training (Sennrich et al. 2016,
# arXiv:1508.07909): repeatedly count adjacent symbol pairs over the
# frequency-weighted vocabulary and merge the most frequent pair.
# Symbol sequences ride a DOUBLE-DELIMITED string ('|a||b||c|') so one
# engine-portable replace('|l||r|','|lr|') applies a merge to ALL
# non-overlapping occurrences at once — consecutive merge sites share
# no characters in this encoding (measured: '|a||b||a||b|' → two
# merges in one pass on both engines), and a pattern can never match
# inside a multi-char symbol because symbols carry their own pipes.

_BPE_MERGES = 3
_BPE_TOPK = 10


def _bpe_pairs_sql(src: str) -> str:
    """CTE body: frequency-weighted adjacent-pair counts over `src`.

    Parallel UNNESTs of two shifted slices (the k55/k86 zip shape,
    linear in len(syms)): the original lateral
    ``UNNEST(generate_series) … syms[i]`` subscripted the WHOLE symbol
    list per index row — O(n²) time/memory on the megadoc fixture's
    1M-char single-token word (the r10 full --megadoc sweep hit 113 GB
    RSS in this oracle before being killed).  Row set is identical:
    UNNESTs of equal-length lists zip row-wise, giving
    (syms[i], syms[i+1]) for i = 1..n-1; n = 1 yields no rows from
    both shapes."""
    return f"""
      SELECT l, r, SUM(f) AS cnt FROM (
        SELECT UNNEST(syms[1:len(syms) - 1]) AS l,
               UNNEST(syms[2:len(syms)]) AS r, f
        FROM (SELECT string_split(substr(seq, 2, length(seq) - 2), '||')
                       AS syms, f
              FROM {src})
      ) GROUP BY l, r
    """


def _bpe_ctes() -> list[str]:
    """Shared CTE chain: vocabulary build + the 3 learned-merge stages
    (s0 … s{_BPE_MERGES}); reused by the k68 (merge report) and k69
    (corpus encode) oracles."""
    ctes = [
        """
    wf AS (
      SELECT w, COUNT(*) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w NOT LIKE '%|%' GROUP BY w
    ),
    s0 AS (
      SELECT w, f,
             '|' || array_to_string(string_split(w, ''), '||') || '|' AS seq
      FROM wf
    )"""
    ]
    for i in range(1, _BPE_MERGES + 1):
        ctes.append(f"p{i} AS ({_bpe_pairs_sql(f's{i - 1}')})")
        ctes.append(
            f"m{i} AS (SELECT l, r, cnt FROM p{i} "
            f"ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"""s{i} AS (
      SELECT w, f,
             replace(seq,
                     '|' || (SELECT l FROM m{i}) || '||'
                         || (SELECT r FROM m{i}) || '|',
                     '|' || (SELECT l FROM m{i})
                         || (SELECT r FROM m{i}) || '|') AS seq
      FROM s{i - 1}
    )"""
        )
    return ctes


def _bpe_oracle() -> str:
    ctes = _bpe_ctes()
    ctes.append(f"pfinal AS ({_bpe_pairs_sql(f's{_BPE_MERGES}')})")
    merge_rows = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS stage, l AS sym_left, r AS sym_right, "
        f"CAST(cnt AS BIGINT) AS pair_count, 1 AS rk FROM m{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return f"""
    WITH {','.join(ctes)}
    {merge_rows}
    UNION ALL
    SELECT {_BPE_MERGES + 1} AS stage, sym_left, sym_right, pair_count, rk
    FROM (
      SELECT l AS sym_left, r AS sym_right, CAST(cnt AS BIGINT) AS pair_count,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, l, r) AS rk
      FROM pfinal
    ) WHERE rk <= {_BPE_TOPK}
    """


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    syms = F.split(
        F.expr("substr(seq, 2, length(seq) - 2)"), r"\|\|"
    )
    s = state.select(F.col("f"), syms.alias("syms")).withColumn(
        "n", F.size("syms")
    )
    return (
        s.filter(F.col("n") >= 2)
        .select(
            "f",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.col("n") - 1),
                    F.slice(F.col("syms"), 2, F.col("n") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("f").alias("cnt"))
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame, DataFrame]:
    """Run the merge-learning loop; returns the chosen merges (as
    (stage, l, r, cnt, 1) rows), the post-merge vocabulary state
    (w, f, seq), and the PERSISTED base state the caller must tie to
    its returned plan (``unpersist_with(result, base)``)."""
    wf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(~F.col("w").contains("|"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # r10 (guide §5): every merge round's 1-row argmax collect — and
    # the caller's final pair-count pass — re-executed the corpus
    # explode → word-count groupBy from scratch (4 full corpus passes
    # for 3 merges; 3.5 s noop at sf0.1).  The vocabulary state is
    # DISTINCT-WORD-sized, so persist the base state once; each round
    # replans as i replace-projections over the cached relation.  The
    # caller owns the cache through the returned state's lifetime.
    state = wf.withColumn(
        "seq",
        F.concat(
            F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
        ),
    ).persist()
    base = state
    merges = []
    for i in range(1, _BPE_MERGES + 1):
        rows = (
            _bpe_pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not rows:  # vocabulary exhausted (or empty corpus): stop early
            break
        best = rows[0]
        merges.append((i, best["l"], best["r"], best["cnt"], 1))
        pat = f"|{best['l']}||{best['r']}|"
        rep = f"|{best['l']}{best['r']}|"
        state = state.withColumn(
            "seq", F.replace("seq", F.lit(pat), F.lit(rep))
        )
    return merges, state, base


@query("k68_bpe_merges", oracle=_bpe_oracle())
def k68_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 3 BPE merges over the corpus vocabulary
    (Sennrich et al. 2016) and report them plus the top-10 remaining
    pair counts — the tokenizer-training step every LLM data pipeline
    runs before k12's tokenization can exist.

    Plan per round: ONE keyed (l, r) aggregation over the DISTINCT
    vocabulary (frequency-weighted — the corpus-scale word count
    happened once, up front), then a 1-ROW bounded collect of the
    argmax pair (the k42-kmeans discipline: centroid-sized driver
    state only) drives a map-only double-delimited replace.  Rounds
    are O(#merges), each a vocabulary-scale job — at 100 TB the
    vocabulary relation is sublinear in corpus size (Heaps' law), and
    a production 32k-merge run would batch this loop with
    localCheckpoint lineage truncation exactly as k42 does.
    """
    merges, state, bpe_base = _bpe_learn(spark, sf_dir)
    merge_df = spark.createDataFrame(
        merges, "stage int, sym_left string, sym_right string, "
        "pair_count bigint, rk int"
    )
    from pyspark.sql.window import Window as _W

    final = (
        _bpe_pair_counts(state)
        .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
        .limit(_BPE_TOPK)
        .withColumn(
            "rk",
            F.row_number().over(
                _W.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            ),
        )
        .select(
            F.lit(_BPE_MERGES + 1).alias("stage"),
            F.col("l").alias("sym_left"),
            F.col("r").alias("sym_right"),
            F.col("cnt").alias("pair_count"),
            "rk",
        )
    )
    result = merge_df.unionByName(final)
    unpersist_with(result, bpe_base)
    return result


# --- K69: BPE encoding of the corpus with the learned merges ------------------


def _bpe_encode_oracle() -> str:
    ctes = _bpe_ctes()
    return f"""
    WITH {','.join(ctes)},
    wn AS (
      SELECT w,
             len(string_split(substr(seq, 2, length(seq) - 2), '||'))
               AS nsym
      FROM s{_BPE_MERGES}
    ),
    wtok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(wn.nsym) AS BIGINT) AS n_bpe_tokens,
           CAST((1000000 * SUM(wn.nsym)) // COUNT(*) AS BIGINT) AS tokens_per_word_micro
    FROM wtok t JOIN wn ON wn.w = t.w
    GROUP BY t.doc_id
    """


@query("k69_bpe_encode", oracle=_bpe_encode_oracle())
def k69_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the 3-merge
    BPE vocabulary k68 learned, reporting per-doc word count, BPE
    token count, and integer-micro tokens-per-word (the fertility
    metric tokenizer evaluations track) — closing the loop from
    tokenizer training (k68) to the token-counting surface (k12/k46)
    that budgets real pretraining runs.

    Plan: the merge loop runs on the DISTINCT vocabulary (k68, bounded
    1-row collects), then encoding is a BROADCAST hash join of the
    corpus token stream against the (word → symbol count) vocabulary —
    the token stream never re-tokenizes per document, and the only
    data-scale shuffle is the per-doc agg.  Fertility is integer
    micro-units (`div` ≡ `//`), no floats anywhere.
    """
    _, state, bpe_base = _bpe_learn(spark, sf_dir)
    wn = state.select(
        "w",
        F.size(
            F.split(F.expr("substr(seq, 2, length(seq) - 2)"), r"\|\|")
        ).alias("nsym"),
    )
    wtok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    result = (
        wtok.join(F.broadcast(wn), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nsym").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.expr("(1000000 * n_bpe_tokens) div n_words").alias(
                "tokens_per_word_micro"
            ),
        )
    )
    unpersist_with(result, bpe_base)
    return result


# --- K76: BPE round-trip proof (decode(encode(w)) == w, corpus-wide) ----------


def _bpe_roundtrip_oracle() -> str:
    ctes = _bpe_ctes()
    return f"""
    WITH {','.join(ctes)},
    decoded AS (
      SELECT w,
             replace(substr(seq, 2, length(seq) - 2), '||', '') AS w_decoded
      FROM s{_BPE_MERGES}
    ),
    wtok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN d.w_decoded = t.w THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_roundtrip_exact,
           COUNT(*) = SUM(CASE WHEN d.w_decoded = t.w THEN 1 ELSE 0 END)
             AS lossless
    FROM wtok t JOIN decoded d ON d.w = t.w
    GROUP BY t.doc_id
    """


@query("k76_bpe_roundtrip", oracle=_bpe_roundtrip_oracle())
def k76_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer LOSSLESSNESS proof: decode every word's learned BPE
    symbol sequence (strip the boundary markers, drop the separators)
    and verify it reproduces the original word, aggregated per
    document — the invariant every production tokenizer deployment
    gates on (a merge table that drops or duplicates a byte corrupts
    the corpus silently; detokenize(tokenize(x)) == x is the guard).

    Both engines run their OWN merge loops (Spark: k68's broadcast
    iterative kernel; DuckDB: the recursive CTE chain) and then their
    own reassembly, so a hash match certifies the two independently-
    derived vocabularies agree symbol-for-symbol AND the encoding is
    invertible.  Shape: identical to k69 — bounded vocab loop, one
    broadcast join over the word stream, one per-doc agg."""
    _, state, bpe_base = _bpe_learn(spark, sf_dir)
    decoded = state.select(
        "w",
        F.expr(
            "replace(substr(seq, 2, length(seq) - 2), '||', '')"
        ).alias("w_decoded"),
    )
    wtok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    exact = F.sum(
        F.when(F.col("w_decoded") == F.col("w"), 1).otherwise(0)
    ).alias("n_roundtrip_exact")
    result = (
        wtok.join(F.broadcast(decoded), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"), exact)
        .select(
            "doc_id",
            "n_words",
            "n_roundtrip_exact",
            (F.col("n_words") == F.col("n_roundtrip_exact")).alias("lossless"),
        )
    )
    unpersist_with(result, bpe_base)
    return result


# --- K86: trigram stupid-backoff scorer ---------------------------------------


@query(
    "k86_trigram_backoff",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    -- zipped UNNESTs of three shifted slices (O(n) once per doc; the
    -- lateral t[i] form is O(n^2) on megabyte docs — r10 megadoc sweep)
    tg AS (
      SELECT doc_id, UNNEST(t[1:n-2]) AS w1, UNNEST(t[2:n-1]) AS w2,
             UNNEST(t[3:n]) AS w3
      FROM d WHERE n >= 3
    ),
    c3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY w1, w2, w3),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM tg GROUP BY w1, w2),
    c2b AS (SELECT w2, w3, COUNT(*) AS c FROM tg GROUP BY w2, w3),
    c1 AS (SELECT w2, COUNT(*) AS c FROM tg GROUP BY w2),
    c1b AS (SELECT w3, COUNT(*) AS c FROM tg GROUP BY w3),
    nn AS (SELECT COUNT(*) AS total FROM tg),
    scored AS (
      SELECT tg.doc_id,
             ROUND(CASE
               WHEN c3.c IS NOT NULL
                 THEN CAST(c3.c AS DOUBLE) / c2.c
               WHEN c2b.c IS NOT NULL
                 THEN 0.4 * CAST(c2b.c AS DOUBLE) / c1.c
               ELSE 0.16 * CAST(c1b.c AS DOUBLE) / nn.total
             END, 6) AS s
      FROM tg
      LEFT JOIN c3 ON c3.w1 = tg.w1 AND c3.w2 = tg.w2 AND c3.w3 = tg.w3
      JOIN c2 ON c2.w1 = tg.w1 AND c2.w2 = tg.w2
      LEFT JOIN c2b ON c2b.w2 = tg.w2 AND c2b.w3 = tg.w3
      JOIN c1 ON c1.w2 = tg.w2
      JOIN c1b ON c1b.w3 = tg.w3
      CROSS JOIN nn
    )
    SELECT doc_id,
           COUNT(*) AS n_trigrams,
           CAST(ROUND(CAST(SUM(CAST(s AS DECIMAL(30,6))) AS DOUBLE)
                      / COUNT(*) * 1000000) AS BIGINT) AS backoff_micro
    FROM scored
    GROUP BY doc_id
    """,
)
def k86_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 'stupid backoff' scorer (Brants et al. 2007, the LM
    Google used for web-scale MT): S(w₃|w₁w₂) = c₃/c₂ when the trigram
    was seen, else 0.4·c₂(w₂w₃)/c₁(w₂), else 0.4²·c₁(w₃)/N — no
    normalization, which is exactly why it scales.  Completes the
    per-doc LM-quality ladder (k35 unigram, k55 bigram): trigram
    context separates fluent word ORDER from locally-plausible soup.

    Within-corpus trigram hit rate is near-1, so the backoff tiers
    mostly exercise the seen path on the fixtures — the unseen tiers
    are exercised in pytest with a held-out construction.  All ratios
    are exact-integer divisions rounded at 6 dp, summed as exact
    decimals.  Plan: one adjacent-triple explode, Zipf-sized count
    tables broadcast back onto the trigram stream, one per-doc agg —
    the k55 shape one order higher.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
    )
    tg = (
        d.filter(F.col("n") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 2), "
                    "i -> struct(t[i-1] as w1, t[i] as w2, t[i+1] as w3))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2", "g.w3")
    )
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    c2 = tg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c2b = (
        tg.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("c2b"))
    )
    c1 = tg.groupBy("w2").agg(F.count(F.lit(1)).alias("c1"))
    c1b = tg.groupBy("w3").agg(F.count(F.lit(1)).alias("c1b"))
    nn = tg.agg(F.count(F.lit(1)).alias("total"))
    s = F.round(
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2"),
        )
        .when(
            F.col("c2b").isNotNull(),
            0.4 * F.col("c2b").cast("double") / F.col("c1"),
        )
        .otherwise(0.16 * F.col("c1b").cast("double") / F.col("total")),
        6,
    )
    scored = (
        tg.join(F.broadcast(c3), ["w1", "w2", "w3"], "left")
        .join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c2b), ["w2", "w3"], "left")
        .join(F.broadcast(c1), ["w2"])
        .join(F.broadcast(c1b), ["w3"])
        .crossJoin(F.broadcast(nn))
        .select("doc_id", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(
            F.sum(F.col("s").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
            * 1e6
        )
        .cast("bigint")
        .alias("backoff_micro"),
    )
