"""Byte-pair-encoding merge learning (SURVEY §2.9 X3 — vocabulary
induction for the training-data pipeline).

BPE training (Sennrich et al., public algorithm) iterates: count
adjacent symbol pairs over the word-frequency table, take the most
frequent pair, fuse it everywhere. The expensive part — pair counting
— is a perfectly parallel aggregate over the DISTINCT-word table, not
the corpus: that is what makes BPE trainable at 100 TB (the word-freq
table is millions of rows, the corpus is trillions). This module keeps
every per-word fuse JVM-side with a higher-order ``aggregate`` fold —
no Python UDF, no explode-per-character.

Scale design per iteration: one map-side-combined pair count, ONE
bounded driver pull (the argmax row — k=1, never data-sized), one
map-only fold over the vocab, checkpointed by ``blocks.advance`` to
truncate the iterative lineage (same rule as operators/clusters.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_geotab_spark.blocks import advance

MERGES_SCHEMA = (
    "step INT, left STRING, right STRING, merged STRING, pair_count BIGINT"
)


def word_freq_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the only corpus-sized pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _fuse(syms_col, left: str, right: str):
    """JVM fold: replace every adjacent (left, right) with left+right,
    greedy left-to-right non-overlapping (standard BPE semantics)."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        hit = (acc["pend"] == F.lit(left)) & (x == F.lit(right))
        flushed = F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
        return F.when(
            hit,
            F.struct(acc["out"].alias("out"), F.lit(merged).alias("pend")),
        ).otherwise(F.struct(flushed.alias("out"), x.alias("pend")))

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms_col, init, step, finish)


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str,
    num_merges: int = 6,
    end_token: str = "</w>",
) -> DataFrame:
    """Learn the first ``num_merges`` BPE merge rules from the corpus.

    Returns (step, left, right, merged, pair_count) — the merge table
    a tokenizer ships with. Deterministic argmax: pair count desc,
    then (left, right) lexicographic.
    """
    spark = docs.sparkSession
    vocab = word_freq_table(docs, text_col).withColumn(
        "syms",
        F.concat(F.split(F.col("w"), ""), F.array(F.lit(end_token))),
    )
    vocab = vocab.localCheckpoint()

    merges = []
    for step_i in range(1, num_merges + 1):
        pairs = vocab.where(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("l"),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("r"),
                )
            ).alias("p"),
        )
        cnt = pairs.groupBy(
            F.col("p.l").alias("left"), F.col("p.r").alias("right")
        ).agg(F.sum("freq").alias("n"))
        # bounded driver pull: exactly one row (the argmax), never data
        best = cnt.orderBy(F.desc("n"), "left", "right").limit(1).collect()
        if not best:
            break
        b = best[0]
        merges.append((step_i, b.left, b.right, b.left + b.right, b.n))
        # iterative op ⇒ truncate lineage each round (clusters.py rule)
        fused = vocab.withColumn("syms", _fuse(F.col("syms"), b.left, b.right))
        vocab, _ = advance(vocab, fused)

    return spark.createDataFrame(merges, MERGES_SCHEMA)


def pure_python_bpe(
    word_freqs: dict[str, int], num_merges: int, end_token: str = "</w>"
) -> list[tuple[int, str, str, str, int]]:
    """Reference implementation for the pytest gate — the classic
    dict-based BPE trainer, same tiebreak."""
    vocab = {
        tuple(list(w) + [end_token]): f for w, f in word_freqs.items()
    }
    out = []
    for step_i in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((step_i, left, right, left + right, n))
        new_vocab = {}
        for syms, f in vocab.items():
            fused, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    fused.append(left + right)
                    i += 2
                else:
                    fused.append(syms[i])
                    i += 1
            new_vocab[tuple(fused)] = new_vocab.get(tuple(fused), 0) + f
        vocab = new_vocab
    return out
