"""Deduplication operators (SURVEY §2 A1, X1).

Reference parity: the reference's only reduce-like structure is
``Map.set`` keyed by id — "last row per key wins" (task.ts:221-229).
``dedup_latest`` is that operator done scalably: a single hash
aggregate with ``max_by`` (map-side partial agg, one shuffle on the
key, no window sort needed).

The near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) is the
north-star LLM-pipeline extension. Scale notes per operator below —
the shared theme: never materialize the O(n²) pair space; always go
through a band/bucket equi-join so Spark shuffles on the bucket key.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from etl_geotab_spark.functions.text import tokenize, word_shingles
from etl_geotab_spark.session import per_jvm


def dedup_latest(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the 'latest' row per key — faithful port of the reference's
    ``Map.set`` overwrite semantics (task.ts:221-224), made deterministic
    with explicit tiebreaks (the reference relies on API response order).

    Implementation: ``max_by(struct(all), struct(order, tiebreaks...))``
    = one hash aggregate. Cheaper at scale than the window-function
    formulation (no per-partition sort, partial aggregation map-side).
    """
    agg_col, unpack = _latest_row_columns(
        tuple(df.columns), order_col, tuple(tiebreak_cols or ())
    )
    return df.groupBy(*key_cols).agg(agg_col).select(*unpack)


@per_jvm
def _latest_row_columns(
    columns: tuple[str, ...], order_col: str, tiebreaks: tuple[str, ...]
) -> tuple[Column, tuple[Column, ...]]:
    """``dedup_latest``'s ``max_by`` aggregate and the projection that
    unpacks its struct, built once per JVM for each row shape."""
    order_struct = F.struct(*[F.col(c) for c in [order_col, *tiebreaks]])
    row = F.max_by(F.struct(*[F.col(c) for c in columns]), order_struct)
    return row.alias("_row"), tuple(F.col(f"_row.{c}").alias(c) for c in columns)


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct content.
    Hash aggregate on the content column; at 100 TB pre-hash long text
    with sha2 to shrink shuffle width (group on digest, not raw text).
    """
    digest = F.sha2(F.col(content_col), 256).alias("_digest")
    return (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .drop("_digest")
        .join(df, on=id_col, how="inner")
        .select(*df.columns)
    )


# ---------------------------------------------------------------- MinHash


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) params for the universal hash family
    h_i(x) = (a_i * x + b_i) mod p. Seeded LCG so runs are reproducible
    without Math.random (same trick as Spark MLlib's MinHashLSH, which
    seeds per-hash params from a fixed seed)."""
    p = (1 << 31) - 1
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (p - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % p
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """id → array<long> MinHash signature over word-k-shingles.

    ONE Arrow-batched pandas UDF does tokenize → k-shingle hash
    (crc32-combine, vectorized) → all ``num_hashes`` permutation
    minimums (``((h[:,None]*a + b) % p).min(axis=0)``). This is the
    documented "UDFs are the slow path" exception: the pure-expression
    formulations were measured 3-5x slower because nested higher-order
    functions run interpreted with per-element allocation (and a
    per-hash-function column formulation re-shingles 64x — Catalyst
    does no CSE across HOF lambdas). The UDF is a narrow map stage, no
    shuffle, scales linearly with corpus size.

    Tokenization (lower + whitespace-split) matches functions.text.
    tokenize, so the signature space corresponds 1:1 with the string
    shingle sets the verification stage compares.
    """
    p = (1 << 31) - 1
    params = _minhash_params(num_hashes, seed)
    a_vec = [a for a, _ in params]
    b_vec = [b for _, b in params]

    @F.pandas_udf(ArrayType(LongType()))
    def text_sig(t: pd.Series) -> pd.Series:
        a = np.asarray(a_vec, dtype=np.int64)
        b = np.asarray(b_vec, dtype=np.int64)

        def sig(text):
            if not text:
                return None
            toks = text.lower().split()
            if not toks:
                return None
            th = (
                np.asarray([zlib.crc32(w.encode()) for w in toks], dtype=np.int64)
                % p
            )
            if len(th) >= shingle_k:
                hs = np.zeros(len(th) - shingle_k + 1, dtype=np.int64)
                for j in range(shingle_k):
                    mult = 1000003 ** (shingle_k - 1 - j) % p
                    # mod each step: th<p<2^31, mult<p ⇒ products <2^62,
                    # +hs<p stays well inside int64
                    hs = (hs + th[j : len(th) - shingle_k + 1 + j] * mult) % p
            else:
                hs = th  # short doc: each token is its own shingle
            hs = np.unique(hs)
            return ((hs[:, None] * a + b) % p).min(axis=0)

        return t.apply(sig)

    # r18 (guide §4.4): the .where(signature IS NOT NULL) below references
    # the UDF's output column, and the optimizer pushes that filter BELOW
    # the projection by duplicating the UDF — the physical plan carried
    # TWO chained ArrowEvalPython nodes both computing text_sig(text), so
    # every signature row paid the full shingle+permutation pass twice
    # (plans/r18/minhash_near_dup_{before,after}.txt). Marking the UDF
    # non-deterministic forbids the duplication; the filter then runs
    # once, above a single evaluation. Values are unchanged (the function
    # is pure; the marker only constrains the optimizer).
    text_sig_once = text_sig.asNondeterministic()
    return df.select(
        F.col(id_col), text_sig_once(text_col).alias("signature")
    ).where(F.col("signature").isNotNull())


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with
    exact shingle-set Jaccard. Returns (id_a, id_b, jaccard), id_a<id_b.

    Scale path: signatures are map-only; banding explodes each doc into
    ``bands`` (band_idx, band_hash) rows; the self-equi-join on the
    band key is a shuffle on band_hash — candidate pairs only, never
    O(n²). Verification re-joins the shingle sets for candidates only.
    """
    rows_per_band = num_hashes // bands
    # persist: the band table feeds BOTH sides of the self-join; without
    # it Spark re-runs the whole signature pipeline per side. At 100 TB
    # the signature table is materialized (written out) for the same
    # reason — it is reused across dedup rounds.
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, seed
    ).persist()

    band_entries = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )

    left = band_entries.alias("l")
    right = band_entries.alias("r")
    candidates = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )

    # Verify ONLY candidate docs: semi-restrict before shingling, so
    # the exact-Jaccard stage shingles |candidate ids| docs, not the
    # whole corpus (at 100 TB the candidate set is orders of magnitude
    # smaller than the corpus).
    candidates = candidates.persist()
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingle_sets = (
        df.join(cand_ids, on=id_col, how="left_semi")
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
        )
        .persist()
    )
    a = shingle_sets.alias("a")
    b = shingle_sets.alias("b")
    verified = (
        candidates.join(a, candidates.id_a == F.col(f"a.{id_col}"))
        .join(b, candidates.id_b == F.col(f"b.{id_col}"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.size(F.array_union("a.sh", "b.sh")).cast("double"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------- SimHash


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """id → 64-bit SimHash over whitespace tokens.

    Hybrid like MinHash: per-token xxhash64 as a JVM expression, then
    the per-bit vote/sign fold as one vectorized pandas UDF — numpy
    unpacks all 64 bit-planes at once (``(h[:,None] >> arange(64)) &
    1``), sums ±1 votes down the token axis, packs sign bits back into
    one int64. Same result as the expression-only fold, ~10x faster
    (interpreted HOF overhead dominates otherwise)."""
    @F.pandas_udf(LongType())
    def sign_fold(h: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)

        def fp(hs):
            if len(hs) == 0:
                return 0
            hs = np.asarray(hs, dtype=np.int64).view(np.uint64)
            planes = (hs[:, None] >> shifts) & np.uint64(1)  # (n_tokens, bits)
            votes = planes.astype(np.int64) * 2 - 1
            signs = votes.sum(axis=0) > 0  # bit i set iff positive vote
            val = int((signs.astype(object) * (1 << shifts.astype(object))).sum())
            return val - (1 << 64) if val >= (1 << 63) else val  # → signed i64

        return h.apply(fp)

    hashed = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokenize(F.col(text_col))), lambda t: F.xxhash64(t)
        ).alias("_h"),
    )
    return hashed.select(F.col(id_col), sign_fold("_h").alias("simhash"))


def _popcount64(col: Column) -> Column:
    """Hamming weight of a 64-bit long via bit_count (Spark 3.3+)."""
    return F.bit_count(col)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs where hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into
    ``num_blocks`` 16-bit blocks; any pair within hamming d <
    num_blocks must agree exactly on ≥1 block → equi-join per block,
    verify hamming on candidates. Shuffles on (block_idx, block_value),
    never O(n²)."""
    assert max_hamming < num_blocks, "pigeonhole needs max_hamming < num_blocks"
    block_bits = 64 // num_blocks
    # persist: feeds both sides of the self-join (see minhash_lsh_pairs)
    sh = simhash(df, text_col, id_col).persist()
    mask = (1 << block_bits) - 1
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * block_bits).bitwiseAND(F.lit(mask))
                    for i in range(num_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.block_idx") == F.col("r.block_idx"),
                F.col("l.block_val") == F.col("r.block_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", _popcount64(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ------------------------------------------------------- n-gram Jaccard


def _hashed_grams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram) table with grams as xxhash64 BIGINTs, not strings.

    The gram VALUE never reaches any operator output — grams are only
    equi-join keys and count inputs — so hashing at explode time is
    semantics-preserving while shrinking every downstream persist and
    shuffle ~5x (8-byte fixed keys vs ~40-byte UTF-8 n-grams). This is
    the same engineering trade MinHash makes explicitly; 64-bit
    collisions over even a 10^9-gram corpus (~2.7e-2 birthday odds for
    one colliding PAIR of grams, which then still has to co-occur in
    the same join neighborhood to matter) are noise next to the
    shuffle-width win at 100 TB. The sf0.01 oracle runs on exact
    strings and stays value-equal — fixture gram counts are ~10^5, so
    collision probability there is ~1e-9."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(word_shingles(F.col(text_col), n), lambda g: F.xxhash64(g))
            )
        ).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs above a threshold.

    Prefix-sharing candidate generation: explode distinct n-grams,
    equi-join on the n-gram (docs sharing ≥1 n-gram are candidates),
    count shared grams per pair in the SAME aggregation (no second
    join for the intersection), then Jaccard = shared/(|a|+|b|-shared).
    Shuffle keys: n-gram, then (id_a,id_b) — bounded by the true
    candidate set.

    ``max_doc_freq`` is the 100 TB skew guard: n-grams appearing in
    more than that many documents are removed before the self-join —
    a gram in D docs contributes D² join rows, so one stop-phrase gram
    at corpus scale would dwarf everything else. The hot-gram list is
    found with one aggregation and removed with a broadcast anti-join
    (the list is tiny by construction). Sizes are computed on the
    FILTERED gram space, so Jaccard stays internally consistent —
    semantically this is Jaccard over informative grams, the standard
    dedup-pipeline trade. None disables the cut (exact, oracle-equal).
    """
    # persist the PRE-cut gram table: it feeds the self-join (twice),
    # the per-doc size aggregate AND the hot-gram guard — 4 consumers of
    # one expensive tokenize+shingle projection. r17: the persist used
    # to sit AFTER the df-cut, so the hot-gram aggregate (a consumer of
    # the uncut table) re-ran the whole shingle pipeline a second time
    # inside the broadcast build. Post-cut consumers now re-apply only a
    # cheap broadcast anti-probe over the cached scan. Grams are
    # xxhash64 BIGINTs (_hashed_grams) so the persisted table is
    # 16 bytes/row and the self-join shuffles fixed-width keys.
    grams = _hashed_grams(df, text_col, id_col, n).persist()
    if max_doc_freq is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), on="gram", how="left_anti")
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    l, r = grams.alias("l"), grams.alias("r")
    shared = (
        l.join(r, on=[F.col("l.gram") == F.col("r.gram"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    return _jaccard_from_shared(shared, sizes, id_col, threshold)


def _jaccard_from_shared(shared, sizes, id_col: str, threshold: float) -> DataFrame:
    """Shared tail of the exact-Jaccard operators: join per-doc sizes
    onto the (id_a, id_b, shared) candidate counts and keep pairs at or
    above the threshold. ONE definition so the probe ground truth can
    never silently diverge from the operator it measures."""
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("shared")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_probe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    probe_ids: list,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs INCIDENT to a bounded probe set — the
    scale-safe ground truth for recall evaluation (round-3 verdict:
    whole-corpus exact ground truth is O(n²) and dies first at 100×).

    Only grams of probe documents join against the corpus gram table,
    so cost is O(|probe| × gram-collision fan-out) — linear in corpus,
    quadratic only in the fixed probe size. Pairs with BOTH endpoints
    in the probe appear once per direction, so the shared-gram count
    uses countDistinct. ``probe_ids`` is a driver-side list because it
    is bounded by construction (the same contract as IVF probe ids).
    """
    grams = _hashed_grams(df, text_col, id_col, n).persist()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    l = grams.where(F.col(id_col).isin(probe_ids)).alias("l")
    r = grams.alias("r")
    shared = (
        l.join(r, on=[F.col("l.gram") == F.col("r.gram"), F.col(f"l.{id_col}") != F.col(f"r.{id_col}")])
        .groupBy(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_b"),
        )
        .agg(F.count_distinct(F.col("l.gram")).alias("shared"))
    )
    return _jaccard_from_shared(shared, sizes, id_col, threshold)


def ngram_jaccard_cross(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact cross-corpus Jaccard: (incoming_id, corpus_id, jaccard)
    for every new-batch document within ``threshold`` of an EXISTING
    corpus document — the incremental-dedup primitive. A production
    crawl pipeline dedups each incoming batch against the indexed
    corpus instead of re-pairing the corpus with itself: the join is
    batch-grams ⋈ corpus-grams, so cost is O(|batch| × gram fan-out) —
    LINEAR in corpus size where the self-join square would be. In
    production the corpus gram side is a stored, bucketed gram index
    (pay the explode once, amortize per batch — io.write_bucketed).

    The ``max_doc_freq`` skew guard measures document frequency on the
    CORPUS side (the batch cannot know global frequencies) and prunes
    the hot grams from BOTH sides so Jaccard stays internally
    consistent. Ids must be disjoint across the two frames (an id on
    both sides would pair with itself)."""
    # r17: persist the PRE-cut gram tables (see ngram_jaccard_pairs) —
    # the corpus-side hot-gram aggregate used to re-run the corpus
    # shingle pipeline a second time inside the broadcast build; now it
    # reads the cached scan, and the post-cut consumers re-apply only
    # the broadcast anti-probe.
    g_in = _hashed_grams(incoming, text_col, id_col, n).persist()
    g_c = _hashed_grams(corpus, text_col, id_col, n).persist()
    if max_doc_freq is not None:
        hot = (
            g_c.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("gram")
        )
        g_in = g_in.join(F.broadcast(hot), on="gram", how="left_anti")
        g_c = g_c.join(F.broadcast(hot), on="gram", how="left_anti")
    sz_in = g_in.groupBy(id_col).agg(F.count("*").alias("n_in"))
    sz_c = g_c.groupBy(id_col).agg(F.count("*").alias("n_c"))
    shared = (
        g_in.alias("l")
        .join(g_c.alias("r"), on=[F.col("l.gram") == F.col("r.gram")])
        .groupBy(
            F.col(f"l.{id_col}").alias("incoming_id"),
            F.col(f"r.{id_col}").alias("corpus_id"),
        )
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_in") + F.col("n_c") - F.col("shared")
    ).cast("double")
    return (
        shared.join(sz_in, F.col("incoming_id") == sz_in[id_col])
        .join(sz_c, F.col("corpus_id") == sz_c[id_col])
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("incoming_id", "corpus_id", "jaccard")
    )
