"""BPE merge training as relational algebra (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units",
arXiv:1508.07909 — public).

Byte-pair-encoding tokenizers are trained by repeatedly (1) counting
adjacent symbol pairs across the corpus vocabulary weighted by word
frequency, (2) merging the most frequent pair everywhere.  Step (1) is
exactly a groupBy-sum over an exploded pair relation — map-side
combinable, the corpus-scale stage; step (2) is a per-word left-to-right
fold, a map-only higher-order function.  The only driver involvement is
the per-round 1-row argmax (``num_merges`` bounded collects — the same
bounded-training-step contract as IVF centroid training), and ties break
lexicographically so the trained merge table is deterministic on any
engine — which is what lets a DuckDB oracle retrain it and value-check
every merge.

Scale note: rounds operate on the WORD-FREQUENCY vocabulary, not the
corpus — after the single corpus tokenize+count, per-round cost is
O(|vocab| · word_len) regardless of corpus size.  Lineage is cut per
round (``localCheckpoint``) so the fold chain does not nest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.text_analysis import tokens
from openai_vector_search_demo_spark.session import local_frame

__all__ = ["train_bpe_merges", "bpe_segment_stats"]


def _apply_merge(left: str, right: str) -> F.Column:
    """Left-to-right non-overlapping merge of (left, right) over the
    symbol list column ``s`` — the classic BPE apply: a symbol created by
    this round's merge is not re-eligible as ``left`` within the pass."""
    merged = left + right
    init = F.slice("s", 1, 1)
    rest = F.when(F.size("s") >= 2,
                  F.expr("slice(s, 2, size(s) - 1)")) \
            .otherwise(F.array().cast("array<string>"))
    return F.aggregate(
        rest, init,
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.lit(left)) & (x == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(merged))))
        .otherwise(F.concat(acc, F.array(x))))


def train_bpe_merges(df: DataFrame, text_col: str = "text",
                     num_merges: int = 5) -> DataFrame:
    """Train the first ``num_merges`` BPE merges on a corpus.  Returns
    ``(round, left, right, merged, cnt)`` — one row per learned merge in
    training order, ``cnt`` the frequency-weighted pair count that won
    the round (ties to the lexicographically smallest pair).  Words are
    whitespace tokens, symbols start as characters (no end-of-word
    marker — merges act within words; the marker variant is a column
    append away and changes no plan shape)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    spark: SparkSession = df.sparkSession
    vocab = (df.select(F.explode(tokens(text_col)).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    cur = (vocab.select(
        F.filter(F.split("word", ""), lambda x: x != "").alias("s"), "c")
        .localCheckpoint(eager=True))

    pair_structs = F.when(
        F.size("s") >= 2,
        F.expr("transform(sequence(1, size(s) - 1), "
               "i -> struct(s[i - 1] AS l, s[i] AS r))")
    ).otherwise(F.expr(
        "cast(array() as array<struct<l: string, r: string>>)"))

    out_rows: list[tuple] = []
    for rnd in range(1, num_merges + 1):
        counts = (cur.select(F.explode(pair_structs).alias("p"), "c")
                  .groupBy("p.l", "p.r").agg(F.sum("c").alias("cnt")))
        top = (counts.orderBy(F.col("cnt").desc(), F.col("l").asc(),
                              F.col("r").asc()).limit(1).collect())
        if not top:
            break
        left, right, cnt = top[0].l, top[0].r, int(top[0].cnt)
        out_rows.append((rnd, left, right, left + right, cnt))
        cur = (cur.select(_apply_merge(left, right).alias("s"), "c")
               .localCheckpoint(eager=True))
    return local_frame(
        spark, out_rows, "round int, left string, right string, "
                         "merged string, cnt long")


def bpe_segment_stats(df: DataFrame, text_col: str = "text",
                      num_merges: int = 5) -> DataFrame:
    """Train ``num_merges`` merges, then SEGMENT the corpus with them and
    account for the effect: ``(n_words, chars_total, symbols_after,
    compression)`` — one row.  ``compression`` = symbols after merging /
    starting characters (weighted by word frequency): the number a
    tokenizer's vocabulary buy-down is judged by.  Segmentation is the
    same fold as training's apply step, run once per learned merge in
    training order — exactly how a trained BPE vocabulary tokenizes new
    text."""
    merges = [(r.left, r.right)
              for r in train_bpe_merges(df, text_col, num_merges)
                       .orderBy("round").collect()]
    vocab = (df.select(F.explode(tokens(text_col)).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    cur = vocab.select(
        F.filter(F.split("word", ""), lambda x: x != "").alias("s"), "c")
    chars = cur.select(
        F.sum(F.size("s") * F.col("c")).alias("chars_total"),
        F.sum("c").alias("n_words"))
    for left, right in merges:
        cur = cur.select(_apply_merge(left, right).alias("s"), "c")
    after = cur.select(F.sum(F.size("s") * F.col("c")).alias("symbols_after"))
    return (chars.crossJoin(after)
            .select("n_words", "chars_total", "symbols_after",
                    F.round(F.col("symbols_after")
                            / F.col("chars_total").cast("double"), 6)
                    .alias("compression")))
