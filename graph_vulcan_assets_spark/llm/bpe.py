"""Byte-pair-encoding tokenizer training and encoding, distributed.

Tokenizer training is the canonical pre-training corpus job the repo's
token-count estimators (llm/text.py q_token_count) approximate: learn the
top merge rules from corpus statistics, then tokenize with them. Classic
BPE (Sennrich et al. 2016) is a greedy loop — count adjacent symbol pairs
weighted by word frequency, merge the most frequent pair, repeat — and
shards naturally:

- The symbol table is the DISTINCT-WORD table with counts, not the corpus:
  every count and every merge applies per distinct word once, weighted by
  its frequency. At 100 TB the corpus is huge but the distinct-word table
  is vocabulary-sized; only the initial word count ever scans the corpus.
- Each training iteration is ONE job: a partial-aggregated shuffle on the
  pair (map-side combine does the heavy lifting) whose 1-row argmax
  returns to the driver — the winning pair is a bounded model artifact
  (the same merge list ``bpe_encode_words`` already consumes), exactly
  like the k·d centroid matrix llm/kmeans.py collects per Lloyd
  iteration. The vocab is persisted lazily, so the argmax job doubles as
  the materialization of the current vocab: each iteration folds exactly
  one merge from the previous iteration's cache — no fold-chain replay
  between checkpoints, no per-iteration broadcast build job. (History:
  round 12 measured the scalar-subquery attach and REJECTED it ~1.4x
  slower; the broadcast-crossJoin attach + checkpoint-every-2 cadence it
  kept still paid a broadcast build job per iteration plus a replayed
  fold chain per checkpoint window — round 13 replaced both with the
  collect-and-literal form.) Merging is a pure fold expression over each
  word's symbol array, guarded by an O(len) adjacency scan so only words
  that contain the winning pair pay the quadratic fold; no Python touches
  a row.
- Encoding joins documents' words against the trained distinct-word
  tokenization — an equi-join on the word, never re-running merges per
  occurrence. The learned merge list itself is a model artifact
  (n_merges rows), fetched once to parameterize the encoder.

Greedy left-to-right fold semantics match the reference algorithm:
"abab" under merge (a,b) becomes [ab, ab]; "aaa" under (a,a) becomes
[aa, a].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_vulcan_assets_spark.registry import query
from graph_vulcan_assets_spark.plans.temporal import tuned_for_batch
from graph_vulcan_assets_spark.tables import input_size_bytes, load_table

# Lineage truncation cadence for bpe_encode_words' literal-merge loop
# (kmeans idiom). bpe_train itself no longer checkpoints: since round 13
# each argmax job caches the current vocab (persist), so no job ever
# replays more than one fold. (Round-12 history, measured on the 12-merge
# train at sf0.1: checkpoint every 2 -> 4.45 s, 3 -> 4.79, 4 -> 4.93-5.11,
# 6 -> 8.07, 1 -> 4.74; a persist-per-iteration variant nested 12
# BROADCAST builds recursively and hung — the round-13 form has no
# broadcasts to nest, which is what makes persist-per-iteration work.)
_CHECKPOINT_EVERY = 2


# Pre-token length cap, the same bound real BPE trainers apply (e.g.
# HuggingFace tokenizers' max_token_length): the per-merge symbol rewrite
# is a Catalyst array fold whose repeated-concat cost is QUADRATIC in word
# length, so one pathological unbroken run (a 100 KB base64 blob, a
# minified-JS line) would stall training for the whole corpus (round-5
# hostile sweep: a single 100k-char word hung q_bpe_merges). 256 chars is
# ~30x the longest real word; dropped words are noise, not vocabulary.
MAX_WORD_CHARS = 256


def word_counts(docs: DataFrame) -> DataFrame:
    """(w, cnt): distinct whitespace words with corpus frequencies.
    Words longer than :data:`MAX_WORD_CHARS` are dropped (see above)."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where((F.length("w") > 0) & (F.length("w") <= MAX_WORD_CHARS))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _pair_explode_expr() -> Column:
    """The exploded adjacent-pair column over ``syms`` — built ONCE and
    reused across training iterations: Column objects are unresolved
    expression trees, and constructing this one costs ~30 py4j
    round-trips + two lambda conversions (~0.1 s measured), which at a
    12-iteration train is pure per-iteration driver overhead."""
    syms = F.col("syms")
    idx = F.sequence(F.lit(1), F.size(syms) - 1)
    return F.explode(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        )
    ).alias("p")


def pair_counts(vocab: DataFrame, pair_expr: Column | None = None) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair totals over (syms, cnt) vocab."""
    pairs = vocab.where(F.size(F.col("syms")) >= 2).select(
        "cnt", pair_expr if pair_expr is not None else _pair_explode_expr()
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").alias("cnt")
    )


def _merge_expr(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into a+b via a fold.

    The fold appends each symbol unless the accumulator currently ends
    with ``a`` and the incoming symbol is ``b`` — then the tail is
    replaced by the merged symbol. A just-merged tail CAN serve as the
    left side of the next match (correct: "abab" -> [ab, ab]).

    Guarded (round 12): the fold's repeated array concat is O(len²) in
    copies, but on any given iteration the vast majority of vocab words
    do not contain the winning pair at all — an O(len) adjacency scan
    (zip_with each symbol with its successor, exists) skips the fold for
    them. Words that do contain the pair fold exactly as before, so the
    result is identical; zip_with pads the successor array's tail with
    NULL, whose (x==a)&(NULL==b) term is NULL — ignored by the
    any-true exists semantics."""
    has_pair = F.exists(
        F.zip_with(
            syms,
            F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
            lambda x, y: (x == a) & (y == b),
        ),
        lambda t: t,
    )
    folded = F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(a, b))),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.when(has_pair, folded).otherwise(syms)


def bpe_train(docs: DataFrame, n_merges: int) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merge rules from the corpus, fully in
    DataFrames.

    Returns (merges, vocab): merges as a (rank, left, right, cnt)
    DataFrame in learned order; vocab as the final (w, cnt, syms)
    distinct-word table tokenized under all learned merges. Ties break on
    (count desc, a asc, b asc), a total order, so training is
    deterministic corpus-wide. If pairs exhaust early the remaining ranks
    simply don't appear (and the vocab stays at its fixed point).

    Round 13 shape: ONE job per iteration. The 1-row argmax is collected
    (TakeOrderedAndProject — the merge list is a bounded driver artifact
    by design), and because each vocab generation is a LAZY
    localCheckpoint, that same job materializes the current generation:
    iteration i+1's fold reads iteration i's checkpointed rows instead of
    replaying the fold chain from the last eager checkpoint. Lazy
    localCheckpoint (not ``persist``) deliberately: each call wraps a
    fresh RDD, so nothing is shared between INVOCATIONS through the SQL
    cache-manager's plan matching (every bench rep recomputes from the
    parquet inputs), and released references are context-cleaned exactly
    like the previous eager checkpoints.
    """
    spark = docs.sparkSession
    merge_rows: list[tuple[int, str, str, int]] = []
    # hoisted expression trees: the fold and the pair explode are built
    # once per train (each costs ~0.1 s of py4j construction — measured
    # round 13; the fold binds the winning pair through the __ma/__mb
    # columns so the SAME tree serves every iteration's literals)
    pair_expr = _pair_explode_expr()
    merge_col = _merge_expr(F.col("syms"), F.col("__ma"), F.col("__mb"))
    # input-scaled initial shuffle partitions + no AQE for the tiny
    # per-iteration jobs (temporal.tuned_for_batch by bytes; saturates to
    # the session default at corpus scale) — each iteration's shuffle
    # carries only the aggregated pair table, and per-stage fixed cost
    # dominates it
    with tuned_for_batch(spark, n_bytes=input_size_bytes(docs)):
        vocab = (
            word_counts(docs)
            .withColumn("syms", F.split(F.col("w"), ""))
            .localCheckpoint(eager=False)
        )
        for it in range(n_merges):
            rows = (
                pair_counts(vocab, pair_expr)
                .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            if not rows:
                break
            a, b, cnt = rows[0]["a"], rows[0]["b"], int(rows[0]["cnt"])
            merge_rows.append((it, a, b, cnt))
            vocab = (
                vocab.withColumns({"__ma": F.lit(a), "__mb": F.lit(b)})
                .withColumn("syms", merge_col)
                .drop("__ma", "__mb")
                .localCheckpoint(eager=False)
            )
    merges = spark.createDataFrame(
        merge_rows, schema="rank int, left string, right string, cnt long"
    )
    return merges, vocab


def bpe_encode_words(vocab: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize a (w, cnt, syms) word table under an ordered merge list
    (driver-known model artifact, e.g. ``merges_df.collect()``)."""
    out = vocab
    for it, (a, b) in enumerate(merges):
        out = out.withColumn("syms", _merge_expr(F.col("syms"), F.lit(a), F.lit(b)))
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            out = out.localCheckpoint(eager=True)
    return out


_Q_BPE_MERGES = 12


@query(
    "q_bpe_pairs",
    oracle=f"""
    WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS (SELECT w, count(*) AS cnt FROM words
           WHERE len(w) >= 2 AND len(w) <= {MAX_WORD_CHARS} GROUP BY w),
    pairs AS (SELECT substr(w, i, 2) AS pair, cnt
              FROM wc, unnest(range(1, len(w))) AS u(i))
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration-0 BPE statistics: adjacent character-pair frequencies
    weighted by word counts — the exact table the first merge argmaxes
    over. Oracle-checked; the iterative loop itself is q_bpe_merges."""
    d = load_table(spark, sf_dir, "documents")
    vocab = word_counts(d).withColumn("syms", F.split(F.col("w"), ""))
    return pair_counts(vocab).select(
        F.concat("a", "b").alias("pair"), F.col("cnt").cast("long").alias("cnt")
    )


@query("q_bpe_merges")
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 12 learned BPE merges (rows-only: the greedy argmax loop is
    not SQL-expressible; determinism + correctness are pinned against a
    pure-Python reference implementation in tests/test_bpe.py)."""
    d = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(d, _Q_BPE_MERGES)
    return merges.select(
        "rank", "left", "right", F.concat("left", "right").alias("merged"), "cnt"
    )


@query("q_bpe_encode")
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts under the learned merges (rows-only).

    Encodes the DISTINCT-word table during training, then aggregates per
    document through an equi-join on the word — the corpus text is never
    re-tokenized per occurrence. Output: (doc_id, n_tokens_bpe,
    n_tokens_char) — the char count is the merge-free baseline, so the
    learned tokenizer's compression is visible per row.

    Words over :data:`MAX_WORD_CHARS` are excluded from TRAINING (the
    quadratic-fold cap) but must still COUNT here: the join is a LEFT
    join with a char-length fallback (exactly what BPE yields on a word
    none of the learned merges apply to), so a pathological token makes
    its document's counts conservative instead of silently deleting the
    document's row — a row loss a downstream doc_id join would never
    detect."""
    d = load_table(spark, sf_dir, "documents")
    _, vocab = bpe_train(d, _Q_BPE_MERGES)
    # shuffle-hash hint: the checkpointed vocab reports default stats, so
    # the planner would pick a sort-merge join and SORT the exploded
    # corpus words. A broadcast would be wrong the other way — the
    # distinct-word table grows with the corpus (Heaps' law), and a
    # forced broadcast dies at Spark's 8 GB limit on a crawl-scale
    # corpus. Shuffle-hash sorts nothing and builds its hash table
    # per-partition (vocab/N per task), so it survives any vocab size.
    encoded = vocab.select("w", F.size("syms").alias("n_bpe")).hint("shuffle_hash")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") > 0)
    return (
        words.join(encoded, "w", "left")
        .select(
            "doc_id",
            F.coalesce("n_bpe", F.length("w")).alias("n_bpe"),
            F.length("w").alias("n_char"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_bpe").cast("long").alias("n_tokens_bpe"),
            F.sum("n_char").cast("long").alias("n_tokens_char"),
        )
    )
