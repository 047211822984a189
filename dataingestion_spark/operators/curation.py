"""Training-dataset curation operators: deterministic splits, benchmark
decontamination, sequence packing, and vocabulary extraction.

These are the dataset-assembly steps a large-scale LLM training pipeline
runs AFTER ingestion/dedup (the reference pipeline stops at the lake write;
/root/reference/consumer/src/main/scala/com/example/consumer/Phase2Job.scala
hands the merged table to downstream consumers - these operators ARE that
downstream, re-expressed Spark-first):

- ``hash_split``: content-addressed train/val/test assignment. Seeded md5
  of the key, NOT ``rand()``, so the split is reproducible across reruns,
  engines, cluster sizes, and row order - a doc never migrates between
  splits when the corpus is re-ingested.
- ``decontaminate``: flag training docs sharing word n-grams with an eval/
  benchmark set (the standard n-gram-overlap decontamination used for LLM
  training corpora). The eval set is small by construction, so its distinct
  gram hashes broadcast; the scan side never shuffles.
- ``pack_sequences``: concat-and-chunk assignment of docs to fixed token-
  budget packs (each doc goes to the pack where its first token lands) -
  a single window cumsum, partitioned by a shard column so no global sort.
- ``top_ngrams``: corpus vocabulary - map-side-combinable counts + a
  distributed top-k (TakeOrderedAndProject), never a full sort.

Every math step here has an exact DuckDB twin (portable md5 hashing, the
same tokenizer as operators/text.py) so each operator is oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataingestion_spark.operators.text import tokens_expr

# Hex width 15 => 60-bit hash, fits signed int64 in any engine.
_HEX_W = 15


def _md5_long(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, base-16 -> int64.
    Identical in DuckDB as (('0x' || substring(md5(x),1,15)))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_W), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# deterministic hash split
# ---------------------------------------------------------------------------

SPLIT_BUCKETS = 10_000


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 42,
    out: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashing ``seed:key`` into
    [0, 10000) and cutting at cumulative-weight thresholds (insertion
    order of ``weights``). Pure projection - no shuffle, no RNG state -
    so the assignment is stable under reruns, repartitioning, and
    incremental appends: a new batch lands in the same splits the old
    rows got, which ``rand()``-based splitting cannot guarantee."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bucket = _md5_long(
        F.format_string(f"{seed}:%s", F.col(key_col).cast("string"))
    ) % SPLIT_BUCKETS
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cut = int(round(acc * SPLIT_BUCKETS))
        arm = F.when(bucket < cut, F.lit(name))
        expr = arm if expr is None else expr.when(bucket < cut, F.lit(name))
    last = F.lit(names[-1])
    return df.withColumn(out, last if expr is None else expr.otherwise(last))


def hash_split_sql(key_col: str, weights: dict[str, float], seed: int = 42) -> str:
    """DuckDB twin of hash_split's CASE expression (for oracle SQL)."""
    total = float(sum(weights.values()))
    b = (
        f"((('0x' || substring(md5('{seed}:' || CAST({key_col} AS VARCHAR)),"
        f" 1, {_HEX_W})))::BIGINT % {SPLIT_BUCKETS})"
    )
    names = list(weights)
    arms, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        arms.append(f"WHEN {b} < {int(round(acc * SPLIT_BUCKETS))} THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


# ---------------------------------------------------------------------------
# word n-grams + benchmark decontamination
# ---------------------------------------------------------------------------


def word_ngrams(
    df: DataFrame, col: str = "text", n: int = 3, id_col: str = "doc_id", out: str = "gram"
) -> DataFrame:
    """Explode each doc into its word ``n``-grams (space-joined windows of
    the whitespace tokenizer from operators/text.py). Docs shorter than
    ``n`` tokens yield no rows (explode drops empty arrays). Everything is
    built-in Column expr - codegen'd, scan reads only (id_col, col)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens_expr(col)
    grams = F.when(
        F.coalesce(F.size(toks), F.lit(0)) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    return df.select(F.col(id_col), F.explode(grams).alias(out))


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training docs that share >= ``min_overlap`` DISTINCT word
    n-grams with the eval/benchmark corpus (standard LLM training-set
    decontamination; real corpora use n of 8-13 - tests here use n=3
    because the synthetic vocabulary is tiny).

    Scale shape: the eval side collapses to its distinct 60-bit gram
    hashes - benchmark suites are millions of grams at most, so the join
    broadcasts them explicitly (``F.broadcast``; the join key is an int64,
    not the gram string). The doc side is one scan + explode with NO
    shuffle on the raw grams; only the per-doc distinct-overlap count
    aggregates, and that input is already filtered to eval hits.

    Returns ``docs`` annotated with ``overlap`` (distinct shared grams,
    0 for clean docs) and boolean ``contaminated``."""
    doc_grams = word_ngrams(docs, col=col, n=n, id_col=id_col).select(
        id_col, _md5_long(F.col("gram")).alias("gram_h")
    )
    eval_grams = (
        word_ngrams(eval_docs, col=col, n=n, id_col=id_col)
        .select(_md5_long(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram_h", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("gram_h").alias("overlap"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("overlap", F.coalesce(F.col("overlap"), F.lit(0).cast("long")))
        .withColumn("contaminated", F.col("overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    part_cols: list[str],
    order_cols: list[str],
    out: str = "pack_id",
) -> DataFrame:
    """Concat-and-chunk pack assignment: within each ``part_cols`` shard,
    docs are laid out in ``order_cols`` order and the token stream is cut
    every ``budget`` tokens; a doc belongs to the pack where its FIRST
    token lands (pack_id = floor(tokens_before / budget)) - the standard
    pretraining packing layout, and exactly a window cumsum, so both
    engines compute it identically (no greedy sequential state).

    Scale shape: one exchange on ``part_cols`` + an in-partition sort.
    ``part_cols`` MUST be a real shard key (language, source, bucket...)
    - an empty partition list would funnel 100 TB through one task, so
    it is rejected. ``order_cols`` must be unique per shard for a
    deterministic layout."""
    if not part_cols:
        raise ValueError("part_cols is required: a global pack order cannot scale")
    if budget < 1:
        raise ValueError("budget must be >= 1")
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    before = F.sum(tok).over(w) - tok
    return df.withColumn(out, F.floor(before / budget))


# ---------------------------------------------------------------------------
# vocabulary / top-k n-grams
# ---------------------------------------------------------------------------


def top_ngrams(
    df: DataFrame,
    col: str = "text",
    n: int = 1,
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by frequency, ties broken by
    gram text ascending (fully deterministic). Counts are map-side
    combinable (partial HashAggregate before the single shuffle) and the
    top-k is Spark's distributed TakeOrderedAndProject - per-partition
    heads only, never a full sort of the vocabulary. The rank window
    runs on k rows, not the corpus."""
    counts = (
        word_ngrams(df, col=col, n=n, id_col=id_col)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topk = counts.orderBy(F.desc("cnt"), F.asc("gram")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("gram"))
    return topk.withColumn("rnk", F.row_number().over(w))


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    key_col: str,
    rates: dict[str, float] | float,
    stratum_col: str | None = None,
    seed: int = 7,
    out: str = "sampled",
) -> DataFrame:
    """Content-addressed stratified sampling: keep a row iff the seeded
    md5 bucket of its key falls below the stratum's rate threshold.

    ``rates`` is either one global rate or a per-stratum dict keyed by
    ``stratum_col`` values (data mixing: e.g. downsample common-crawl to
    10% but keep 100% of wiki). Unlisted strata default to rate 0.0 -
    an explicit mix spec, never a silent keep.

    Like hash_split (same hash stream family, different seed column so
    the two decisions are independent), this is a pure projection: no
    shuffle, no RNG state, stable under reruns / repartitioning /
    incremental appends, and a given doc is kept or dropped consistently
    across engines - which `df.sample()` (partition-index-seeded RNG)
    cannot guarantee. At 100 TB this runs inside the scan stage and
    composes with predicate pushdown on the stratum column."""
    bucket = _md5_long(
        F.format_string(f"sample:{seed}:%s", F.col(key_col).cast("string"))
    ) % SPLIT_BUCKETS
    if isinstance(rates, dict):
        if stratum_col is None:
            raise ValueError("stratum_col is required with per-stratum rates")
        cut = None
        for name, rate in rates.items():
            arm = F.when(
                F.col(stratum_col) == name,
                F.lit(int(round(float(rate) * SPLIT_BUCKETS))),
            )
            cut = arm if cut is None else cut.when(
                F.col(stratum_col) == name,
                F.lit(int(round(float(rate) * SPLIT_BUCKETS))),
            )
        cut = F.lit(0) if cut is None else cut.otherwise(F.lit(0))
    else:
        cut = F.lit(int(round(float(rates) * SPLIT_BUCKETS)))
    return df.withColumn(out, bucket < cut)


def stratified_sample_sql(
    key_col: str,
    rates: dict[str, float] | float,
    stratum_col: str | None = None,
    seed: int = 7,
) -> str:
    """DuckDB twin of stratified_sample's boolean expression."""
    b = (
        f"((('0x' || substring(md5('sample:{seed}:' ||"
        f" CAST({key_col} AS VARCHAR)), 1, {_HEX_W})))::BIGINT"
        f" % {SPLIT_BUCKETS})"
    )
    if isinstance(rates, dict):
        arms = " ".join(
            f"WHEN {stratum_col} = '{name}'"
            f" THEN {int(round(float(rate) * SPLIT_BUCKETS))}"
            for name, rate in rates.items()
        )
        cut = f"(CASE {arms} ELSE 0 END)"
    else:
        cut = str(int(round(float(rates) * SPLIT_BUCKETS)))
    return f"({b} < {cut})"


def rare_token_filter(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    max_rare_frac: float = 0.2,
) -> DataFrame:
    """Vocabulary-coverage quality gate: the fraction of a document's
    token OCCURRENCES whose corpus-wide unigram frequency is <=
    ``min_count`` (rare/garbage vocabulary - OCR noise, mojibake, random
    ids score high; clean prose scores low). The integer-exact sibling of
    a unigram-LM log-likelihood filter: counts and fractions are plain
    integer arithmetic plus ONE final rounded division, so the score is
    bit-identical across engines (no transcendental log whose last-ulp
    placement differs by backend - the lesson of the round-3 sessionize
    FP-fragility finding).

    Scale shape (three map-side-combinable aggregates, no all-occurrence
    join): occurrences reduce to per-(doc, token) counts first - one
    shuffle keyed (doc, token), bounded by distinct pairs, not
    occurrences; per-token corpus totals aggregate FROM that relation
    (second, much smaller shuffle); the totals join back on token
    (distinct pairs again) and fold to per-doc stats. Repetitive docs -
    exactly the ones a quality gate exists for - collapse in the first
    aggregate instead of being carried through the join. Docs with no
    tokens keep ``keep=false`` with null fraction: unassessable is not
    clean."""
    toks = word_ngrams(df, col=col, n=1, id_col=id_col)
    dg = toks.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("k"))
    g = dg.groupBy("gram").agg(F.sum("k").alias("cnt"))
    scored = (
        dg.join(g, "gram")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("cnt") <= min_count, F.col("k")).otherwise(F.lit(0))
            ).cast("long").alias("n_rare"),
        )
    )
    out = df.select(id_col).join(scored, id_col, "left")
    n_tokens = F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
    rare_frac = F.when(
        n_tokens > 0, F.round(F.col("n_rare") / n_tokens, 6)
    )
    return out.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.coalesce(F.col("n_rare"), F.lit(0).cast("long")).alias("n_rare"),
        rare_frac.alias("rare_frac"),
        ((n_tokens > 0) & (rare_frac <= max_rare_frac)).alias("keep"),
    )
