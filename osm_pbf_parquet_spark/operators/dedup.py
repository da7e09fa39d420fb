"""Deduplication operators for large-scale training-data pipelines.

Five dedup families, all expressed as declarative DataFrame plans.
Shingling and gram hashing are Catalyst expressions (codegen'd,
SQL-expressible for the DuckDB oracle). The signature folds have two
bit-identical implementations: an Arrow-vectorized pandas_udf (default —
Catalyst higher-order lambdas are interpreted per element, numpy is
faster) and the pure-SQL fold the oracle mirrors; a test pins equality.

- **exact**        content-hash groupBy; keep-first per group.
- **MinHash+LSH**  shingle → k minhashes (projection, no shuffle) → banded
                   bucket join (the only shuffle) → exact-jaccard verify.
- **SimHash**      bitwise-majority fingerprint (projection) → pigeonhole
                   band join → exact hamming verify.
- **n-gram Jaccard** shared-gram pair generation → set-overlap verify
                   (the exact-but-quadratic baseline the LSH paths bound).
- **embedding cosine** normalized-dot near-dup pairs (see similarity.py
                   for the ANN/top-k variants).

Scale posture (100 TB): signature computation is per-row projection work —
embarrassingly parallel, no shuffle. The only shuffles are the band-bucket
joins whose keys are (band_idx, signature) — high cardinality, naturally
balanced; skew appears only when thousands of docs share a band signature,
which is exactly the degenerate duplicate-cluster case AQE skew-join
splits. Verification joins are narrow (pair keys + gram arrays).

Determinism: hash seeds are module constants; all hashing is md5-derived
integer arithmetic mod a Mersenne prime — reproducible across engines.
"""

from __future__ import annotations

from hashlib import md5 as _md5

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import spread_compute as _spread_compute

# LCG-style deterministic seed table for minhash permutations
MERSENNE31 = 2_147_483_647
N_MINHASH = 32
LSH_BANDS = 8  # 8 bands × 4 rows
SHINGLE_K = 3


def _seeds(n: int = N_MINHASH) -> list[tuple[int, int]]:
    out = []
    for i in range(n):
        a = (i * 2_654_435_761 + 1) % MERSENNE31
        b = (i * 40_503 + 7) % MERSENNE31
        out.append((a or 1, b))
    return out


def shingle_expr(text_col: str, k: int = SHINGLE_K) -> str:
    """Distinct word k-shingles as a Spark SQL expression. Short docs
    (< k words) fall back to the whole text as one shingle."""
    words = f"split({text_col}, ' ')"
    return (
        f"CASE WHEN size({words}) < {k} THEN array({text_col}) "
        f"ELSE array_distinct(transform(sequence(0, size({words}) - {k}), "
        f"i -> concat_ws(' ', slice({words}, i + 1, {k})))) END"
    )


GRAM_HASH = (
    "transform({grams}, x -> pmod(cast(conv(substring(md5(x), 1, 15), 16, 10) "
    f"AS BIGINT), {MERSENNE31}))"
)


def with_grams(df: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """Attach `grams` (distinct shingles) and `gram_hashes` (int64 in
    [0, p)) — pure projection."""
    df = df.withColumn("grams", F.expr(shingle_expr(text_col, k)))
    return df.withColumn("gram_hashes", F.expr(GRAM_HASH.format(grams="grams")))


def _gram_hash_vec(t: str, k: int) -> np.ndarray:
    """One document's distinct-shingle gram hashes as int64 — the Python
    twin of ``with_grams``'s expressions, BIT-IDENTICAL by construction:
    str.split(' ') == Spark split(limit=-1) (both keep empty tokens),
    dict.fromkeys == array_distinct (first-occurrence order), and
    int(md5hex[:15], 16) % p == pmod(conv(substring(md5(x),1,15),16,10), p)
    (60 bits, no overflow, both non-negative)."""
    words = t.split(" ")
    if len(words) < k:
        grams = [t]
    else:
        grams = list(
            dict.fromkeys(
                " ".join(words[i:i + k]) for i in range(len(words) - k + 1)
            )
        )
    return np.fromiter(
        (
            int(_md5(x.encode("utf-8")).hexdigest()[:15], 16) % MERSENNE31
            for x in grams
        ),
        dtype=np.int64,
        count=len(grams),
    )


def gram_hash_arrays(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    k: int = SHINGLE_K, out_col: str = "gram_hashes",
) -> DataFrame:
    """(key, gram_hashes) per doc via the vectorized ``_gram_hash_vec``
    kernel — the narrow two-column frame every gram consumer starts
    from. One Arrow batch per task; only the text column crosses the
    Python boundary. Values are the exact ``with_grams`` arrays
    (string-distinct shingles, md5-mod-p, first-occurrence order)."""
    @F.pandas_udf("array<long>")
    def _gh(texts: pd.Series) -> pd.Series:
        return pd.Series([_gram_hash_vec(t, k) for t in texts])

    # asNondeterministic: guide §4.4 — consumers explode this array, and
    # InferFiltersFromGenerate pushes an inferred size(..)>0 filter BELOW
    # the projection, duplicating the whole kernel (two ArrowEvalPython
    # nodes per side observed in the decontaminate plan: every doc paid
    # the md5 chain twice). The values are deterministic; the marker only
    # stops the optimizer from cloning/pushing past the eval.
    return df.select(
        F.col(key), _gh.asNondeterministic()(text_col).alias(out_col)
    )


def grams_exploded(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    k: int = SHINGLE_K, impl: str = "arrow",
) -> DataFrame:
    """Distinct (key, gh) shingle rows.

    ``arrow`` (default, r12): explode ``gram_hash_arrays``'s per-doc
    kernel output. The per-doc dedup happens INSIDE the kernel (string
    ``dict.fromkeys``), so the corpus-wide ``dropDuplicates`` shuffle of
    the sql form disappears outright and the md5 chain runs in
    hashlib's C core instead of codegen'd conv/substring/concat_ws
    (measured 19.8 CPU-s for one corpus pass at the 10× tier).
    String-distinct ≡ the sql form's h60-distinct except under a
    within-doc md5-60-bit collision of distinct grams (~g²/2⁶¹ per
    doc); the parity test pins exact multiset equality with the
    ``with_grams`` arrays, whose semantics the oracle replays.

    ``sql``: the pre-r12 flat codegen form — POSITION EXPLODE of k-gram
    starts, slice+concat+md5 flat projections (whole-stage codegen, no
    interpreted lambdas), then one per-doc distinct SHUFFLE on the
    60-bit hash (8-byte rows, measured narrower than gram strings:
    45.5 MB vs 76.7 MB at the 10× tier). Kept as the oracle-mirrored
    expression form (the ``minhash_signatures`` two-impl contract)."""
    if impl == "arrow":
        return gram_hash_arrays(df, text_col, key, k, out_col="_gha").select(
            key, F.explode("_gha").alias("gh")
        )
    w = df.select(F.col(key), F.col(text_col), F.split(text_col, " ").alias("_ws"))
    pos = w.select(
        key, text_col, "_ws",
        F.explode(
            F.expr(
                f"CASE WHEN size(_ws) < {k} THEN array(-1) "
                f"ELSE sequence(1, size(_ws) - {k} + 1) END"
            )
        ).alias("_i"),
    )
    gram = F.when(F.col("_i") == -1, F.col(text_col)).otherwise(
        F.expr(f"concat_ws(' ', slice(_ws, _i, {k}))")
    )
    # distinct on h60 — the 8-byte BIGINT already derived from md5 (top
    # 60 bits) that fully determines gh — NOT the raw gram string: the
    # per-doc distinct is a shuffle, and a k-word gram string (or the
    # 32-char md5 hex) is several times wider than one int64. Unlike
    # deduping on gh itself (mod 2^31, where within-doc birthday
    # collisions are real at ~50k grams and would drop rows the oracle
    # keeps), a 60-bit collision is ~n^2/2^61 per doc — and the oracle
    # list_distincts the SAME h60 values, so both engines agree
    # bit-exactly even then.
    h60 = (
        "cast(conv(substring(md5(_gram), 1, 15), 16, 10) AS BIGINT)"
    )
    flat = (
        pos.withColumn("_gram", gram)
        .select(key, F.expr(h60).alias("_h60"))
        .dropDuplicates([key, "_h60"])
    )
    return flat.select(
        key, F.expr(f"pmod(_h60, {MERSENNE31})").alias("gh")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeping the
    lowest key; n_copies records cluster size. One shuffle on the content
    hash (md5 — no length cap issues, no collision handling needed at
    training-data scale: 2^-64 per pair)."""
    w = Window.partitionBy("content_hash").orderBy(key)
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_copies", F.count("*").over(Window.partitionBy("content_hash"))
        )
        .filter(F.col("_rn") == 1)
        .select(F.col(key), "content_hash", "n_copies")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_MINHASH,
    k: int = SHINGLE_K, impl: str = "arrow",
) -> DataFrame:
    """MinHash signature per doc as a single projection (no shuffle):
    sig[i] = min over grams of (a_i * h(gram) + b_i) mod p.

    Two implementations with BIT-IDENTICAL output (pure int64 math, no
    overflow: a,g < 2^31 so a*g+b < 2^63; equality is pinned by a test):

    - ``arrow`` (default): gram md5-hashing stays a JVM expression, then
      one vectorized pandas_udf computes the (n_grams × n_hashes) min
      per row in numpy. Catalyst higher-order lambdas are interpreted
      per element — at 32 seeds × ~50 grams/doc that's ~1600 allocating
      lambda evals per row; the Arrow hop is cheaper (2× at sf0.1, more
      on longer documents).
    - ``sql``: the single-fold zip_with form — fully SQL-expressible
      (it is also what the DuckDB oracle mirrors). The naive
      transform-per-seed form would re-evaluate the inlined md5 chain
      32× after CollapseProject; the fold avoids that.
    """
    seeds = _seeds(n_hashes)
    if impl == "arrow":
        A = np.array([a for a, _ in seeds], dtype=np.int64)
        B = np.array([b for _, b in seeds], dtype=np.int64)
        p = MERSENNE31

        # r12: the FULL signature chain — shingle, ordered-distinct,
        # md5-mod-p, minhash fold — in one vectorized kernel
        # (``_gram_hash_vec`` + numpy fold). The pre-r12 arrow impl
        # still built grams/gram_hashes with ``with_grams``'s Catalyst
        # higher-order lambdas (interpreted per element — the dominant
        # cost of dedup_minhash_lsh's signature stage at the 10× tier);
        # here the shingling is plain Python + hashlib's C md5 and only
        # the fold is numpy. Values are BIT-identical (test-pinned vs
        # the sql impl on minhash AND gram_hashes).
        @F.pandas_udf("struct<gram_hashes: array<long>, minhash: array<long>>")
        def _sig(texts: pd.Series) -> pd.DataFrame:
            ghs, mhs = [], []
            for t in texts:
                g = _gram_hash_vec(t, k)
                ghs.append(g)
                mhs.append(((g[:, None] * A + B) % p).min(axis=0))
            return pd.DataFrame({"gram_hashes": ghs, "minhash": mhs})

        # asNondeterministic: guide §4.4 — without it the optimizer
        # collapses the projection and evaluates the kernel once PER
        # EXTRACTED STRUCT FIELD (two ArrowEvalPython nodes per side in
        # the uncached sf-tier plans: every doc shingled+folded twice)
        return df.withColumn(
            "_sig", _sig.asNondeterministic()(text_col)
        ).select(
            *df.columns,
            F.col("_sig.gram_hashes").alias("gram_hashes"),
            F.col("_sig.minhash").alias("minhash"),
        )
    base = with_grams(df, text_col, k)
    seed_arr = ", ".join(f"named_struct('a', {a}L, 'b', {b}L)" for a, b in seeds)
    sig = (
        f"aggregate(gram_hashes, "
        f"array_repeat(cast({MERSENNE31} AS BIGINT), {n_hashes}), "
        f"(acc, g) -> zip_with(acc, array({seed_arr}), "
        f"(m, s) -> least(m, pmod(s.a * g + s.b, {MERSENNE31}))))"
    )
    return base.withColumn("minhash", F.expr(sig))


def _band_sig_expr(bands: int, rows: int) -> str:
    """THE band-signature encoding shared by every banded-minhash
    consumer (batch LSH, batch incremental, streaming incremental):
    band b = comma-joined slice of the minhash array. One definition so
    the three paths — which share oracles — can never drift."""
    return (
        f"transform(sequence(0, {bands - 1}), b -> "
        f"concat_ws(',', slice(minhash, b * {rows} + 1, {rows})))"
    )


def lsh_candidate_pairs(
    sigs: DataFrame, key: str = "doc_id", bands: int = LSH_BANDS,
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidate pairs.
    The band explode is narrow; the self-join shuffles on (band_idx, sig)."""
    band_expr = _band_sig_expr(bands, n_hashes // bands)
    banded = (
        sigs.withColumn("_bands", F.expr(band_expr))
        .select(key, F.posexplode("_bands").alias("band_idx", "band_sig"))
    )
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b"))
        .distinct()
    )


def _verified_jaccard(pairs: DataFrame, grams: DataFrame, key: str,
                      threshold: float) -> DataFrame:
    """Exact set-overlap verification on the docs' GRAM-HASH sets
    (``with_grams``'s int64 ``gram_hashes``), not the raw gram strings:
    the two verify joins then shuffle 8-byte elements instead of k-word
    strings (~4× narrower) and intersect/union compare int64s. Both
    array_intersect/array_union (Spark) and list_intersect/list_distinct
    (DuckDB oracle) are set-semantic, and the oracle hashes with the
    SAME md5-mod-p arithmetic, so the two engines agree bit-exactly —
    including in the ~n²/2³¹-per-pair birthday-collision case where the
    hashed jaccard differs from the raw-string jaccard by one gram."""
    ga = grams.select(
        F.col(key).alias("doc_a"), F.col("gram_hashes").alias("gh_a")
    )
    gb = grams.select(
        F.col(key).alias("doc_b"), F.col("gram_hashes").alias("gh_b")
    )
    # spread the per-PAIR set-overlap work across the cluster: the
    # candidate distinct's output is a few MB at the bench tiers, so
    # AQE's byte-targeted coalesce packs it into ~2 post-shuffle tasks —
    # but the verify cost is n_pairs × |gram set| hash-set work, per ROW
    # not per byte (the image-near-dup bucket-kernel lesson, guide §2.5
    # inverted). One explicit exchange of the narrow (doc_a, doc_b)
    # frame spreads the scoring. Keyed on doc_a — the FIRST verify
    # join's key — so that when that join is planned as SMJ/SHJ (sigs
    # too big to broadcast: the soak tier, and any real corpus) this
    # exchange SATISFIES the join's required distribution and replaces
    # the join's own pair-side exchange instead of stacking under it
    # (measured: keying it off the join key added a second 7M-row
    # exchange at the soak tier); when the verify joins broadcast (the
    # 10× tier), nothing follows and the scoring runs at full
    # parallelism either way. Not keyed (doc_a, doc_b): that is the
    # distinct's own partitioning and the optimizer strips it as
    # redundant, putting the scoring back on the coalesced read.
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "doc_a"
    )
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("gh_a", "gh_b"))
                / F.size(F.array_union("gh_a", "gh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    threshold: float = 0.8, n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
    k: int = SHINGLE_K, cache=None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from banded buckets,
    verified with exact jaccard. At 100 TB the verify join touches only
    candidate pairs (LSH bounds them), never the quadratic pair space."""
    from ..functions.caching import owned_set, tie_release

    ps, owned = owned_set(cache)
    # the signature table feeds both candidate generation and the verify
    # join — materialize it once (at warehouse scale this is the persisted
    # signature table every incremental dedup run reuses)
    # persist (key, gram_hashes, minhash) — int64 arrays only; the raw
    # gram strings never enter the cache or the verify-join shuffles
    sigs = ps.persist(
        minhash_signatures(_spread_compute(df), text_col, n_hashes, k).select(
            key, "gram_hashes", "minhash"
        )
    )
    # materialize the cache BEFORE the self-join fans out: otherwise both
    # join branches race the unpopulated cache and each recomputes the
    # full md5+fold signature chain (visible as "Block already exists"
    # warnings and ~2x signature cost)
    sigs.count()
    pairs = lsh_candidate_pairs(sigs, key, bands, n_hashes)
    return tie_release(
        _verified_jaccard(
            pairs, sigs.select(key, "gram_hashes"), key, threshold
        ),
        ps, owned,
    )


def ngram_jaccard_dedup(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    threshold: float = 0.8, k: int = SHINGLE_K, max_df: int = 50,
) -> DataFrame:
    """n-gram Jaccard near-dup: pair generation via shared-gram equi-join
    over df-capped posting lists, then exact set-overlap verification on
    the FULL gram sets.

    ``max_df`` drops grams appearing in more than that many docs from the
    *candidate* index (classic posting-list pruning from similarity-join
    literature): a gram shared by thousands of docs generates a quadratic
    pair blow-up while carrying no discriminative signal. High-jaccard
    pairs share many grams including rare ones, so recall loss only
    occurs for pairs ALL of whose shared grams are ubiquitous — at
    threshold ≥ 0.8 that requires pathological corpora. Verification
    uses the complete GRAM-HASH sets (``_verified_jaccard``): exact set
    overlap up to md5-mod-p birthday collisions, bit-identical to the
    oracle either way."""
    grams = with_grams(df, text_col, k).select(key, "grams", "gram_hashes")
    exploded = grams.select(key, F.explode("grams").alias("gram"))
    # ubiquitous grams are FEW by definition (bounded by n_grams/max_df)
    # → broadcast anti-join; the rare majority streams through untouched
    common = (
        exploded.groupBy("gram")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") > max_df)
        .select("gram")
    )
    posting = exploded.join(F.broadcast(common), "gram", "left_anti")
    pairs = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("doc_a"), F.col(f"b.{key}").alias("doc_b"))
        .distinct()
    )
    return _verified_jaccard(pairs, grams, key, threshold)


def contamination_check(
    train: DataFrame, eval_df: DataFrame, text_col: str = "text",
    key: str = "doc_id", k: int = SHINGLE_K, min_overlap: int = 2,
) -> DataFrame:
    """Train/eval contamination sweep (benchmark decontamination): flag
    training docs sharing ≥``min_overlap`` distinct k-word shingles with
    any eval doc — the standard pretraining hygiene step that removes
    eval-set leakage before training.

    Scale shape: eval benchmarks are dimension-sized by construction, so
    the exploded eval gram table is BROADCAST; the train side explodes
    grams in its map stage and hash-joins on the int64 gram hash without
    ever shuffling raw documents. The shuffles are the train side's
    per-doc gram distinct and the partial-count merge on
    (train_id, eval_id) — safe at 100 TB of training text. Matching is
    on the md5-derived gram hash (same arithmetic as ``with_grams``),
    which a SQL oracle replicates bit-exactly. BOTH sides shingle via
    ``grams_exploded`` (codegen'd flat projection): beyond the ~4×
    interpreted-lambda saving, exploding an expensive-expression array
    directly is a trap — InferFiltersFromGenerate clones the whole
    transform into a pushed-down size()>0 filter that runs TWICE per row
    below the exchange, serializing on the scan tasks (measured: the 25k
    eval docs took 19s on ONE task that way)."""
    tg = grams_exploded(train, text_col, key, k).select(
        F.col(key).alias("train_id"), "gh"
    )
    eg = grams_exploded(eval_df, text_col, key, k).select(
        F.col(key).alias("eval_id"), "gh"
    )
    return (
        tg.join(F.broadcast(eg), "gh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


# --- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # pigeonhole: hamming <= 3 -> at least one band equal


def simhash_expr() -> str:
    """32-bit simhash over gram_hashes: bit b set iff the majority of gram
    hashes have bit b set. Single projection, no shuffle.

    One fold over gram_hashes accumulating all 32 per-bit counters at
    once (zip_with), then a second tiny fold over the counters — the
    per-bit-outer-loop form would re-evaluate the md5 gram hashing per
    bit (see minhash_signatures)."""
    bits = SIMHASH_BITS
    return (
        f"aggregate(zip_with("
        f"aggregate(gram_hashes, array_repeat(0L, {bits}), "
        f"(acc, g) -> zip_with(acc, sequence(0, {bits - 1}), "
        "(a, b) -> a + 2 * ((g >> b) & 1) - 1)), "
        f"sequence(0, {bits - 1}), "
        "(cnt, b) -> CASE WHEN cnt >= 0 THEN shiftleft(1L, b) ELSE 0L END), "
        "0L, (acc, x) -> acc + x)"
    )


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       k: int = SHINGLE_K, impl: str = "arrow") -> DataFrame:
    """Same two-implementation contract as ``minhash_signatures``:
    ``arrow`` computes the bit-majority in numpy (exact integer match of
    the SQL fold); ``sql`` keeps the oracle-mirrored expression form.

    r12: the arrow impl fuses shingling into the kernel too
    (``_gram_hash_vec``) instead of feeding on ``with_grams``'s
    interpreted higher-order lambdas — same change as
    ``minhash_signatures``; consumers only read (key, simhash).
    ``_gram_hash_vec`` never returns an empty array (short docs
    contribute the whole text as one gram), matching the SQL fold's
    domain."""
    if impl == "arrow":
        bits = SIMHASH_BITS
        shifts = np.arange(bits, dtype=np.int64)

        @F.pandas_udf("long")
        def _sh(texts: pd.Series) -> pd.Series:
            out = np.empty(len(texts), dtype=np.int64)
            for j, t in enumerate(texts):
                g = _gram_hash_vec(t, k)
                b = (g[:, None] >> shifts) & 1
                cnt = (2 * b - 1).sum(axis=0)
                out[j] = int(((cnt >= 0).astype(np.int64) << shifts).sum())
            return pd.Series(out)

        # asNondeterministic: same §4.4 duplication guard as _sig
        return df.withColumn("simhash", _sh.asNondeterministic()(text_col))
    return with_grams(df, text_col, k).withColumn("simhash", F.expr(simhash_expr()))


def _pigeonhole_guard(bands: int, max_distance: int) -> None:
    """Exact-recall precondition shared by every banded-Hamming caller."""
    if max_distance >= bands:
        raise ValueError(
            f"max_distance={max_distance} needs < bands={bands} for exact "
            "recall (pigeonhole); raise bands or lower the threshold"
        )


def _swar_bucket_pairs(k, h, max_distance: int):
    """ONE bucket's all-pairs Hamming enumeration, vectorized: XOR the
    bucket's fingerprints as a blocked outer product in numpy and
    popcount with the SWAR folds (uint64, wrap-around multiply is
    exactly the mod-2⁶⁴ SWAR needs). ``k`` must be sorted ascending so
    the row<col emission yields doc_a < doc_b. Yields each block's
    survivor arrays ``(doc_a, doc_b, hamming)``. Blocked so peak memory
    is ~block × bucket_rows × 8 B even on a degenerate hot bucket."""
    n = len(k)
    cols = np.arange(n, dtype=np.int64)
    block = max(1, min(1024, 8_000_000 // n))
    for i0 in range(0, n - 1, block):
        i1 = min(i0 + block, n)
        x = h[i0:i1, None] ^ h[None, :]
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333))
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        d = (x * np.uint64(0x0101010101010101)) >> np.uint64(56)
        hit = (d <= max_distance) & (
            cols[None, :] > np.arange(i0, i1)[:, None])
        r, c = np.nonzero(hit)
        if r.size:
            yield k[r + i0], k[c], d[r, c].astype(np.int32)


# Pairs one kernel output frame holds before it is yielded: the frame
# bound on degenerate all-equal corpora. Checked after every block, so a
# frame holds at most this plus one block's pairs, even within one bucket.
_PAIRS_PER_FRAME = 4_000_000


def _pairs_frame(out_a, out_b, out_d) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_a": np.concatenate(out_a) if out_a else np.empty(0, np.int64),
        "doc_b": np.concatenate(out_b) if out_b else np.empty(0, np.int64),
        "hamming": np.concatenate(out_d) if out_d else np.empty(0, np.int32),
    })


def _bucket_pairs_map_kernel(max_distance: int):
    """Per-PARTITION form of the bucket kernel (mapInPandas over rows
    hash-partitioned by (band, bits) — every bucket is complete within
    one partition, so splitting the partition on bucket boundaries and
    enumerating each bucket with the shared SWAR core emits EXACTLY the
    per-group kernel's rows. One Python call and one Arrow round-trip
    per partition instead of one per bucket, and no grouped sort
    (lexsort inside the kernel replaces it). A frame is yielded as soon
    as it holds more than ``_PAIRS_PER_FRAME`` pairs."""

    def _pairs(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            yield _pairs_frame([], [], [])
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
        band = pdf["_band"].to_numpy(np.int64)
        bits = pdf["_bits"].to_numpy(np.int64)
        k = pdf["_k"].to_numpy(np.int64)
        h = pdf["_h"].to_numpy(np.int64)
        order = np.lexsort((k, bits, band))
        band, bits = band[order], bits[order]
        k = k[order]
        h = h[order].view(np.uint64)
        edge = np.nonzero(
            (band[1:] != band[:-1]) | (bits[1:] != bits[:-1])
        )[0] + 1
        starts = np.concatenate(([0], edge))
        ends = np.concatenate((edge, [len(k)]))
        out_a, out_b, out_d = [], [], []
        emitted = 0
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            for a, b, d in _swar_bucket_pairs(k[s:e], h[s:e], max_distance):
                out_a.append(a)
                out_b.append(b)
                out_d.append(d)
                emitted += a.size
                if emitted > _PAIRS_PER_FRAME:
                    yield _pairs_frame(out_a, out_b, out_d)
                    out_a, out_b, out_d = [], [], []
                    emitted = 0
        yield _pairs_frame(out_a, out_b, out_d)

    return _pairs


# Adaptive bucket-kernel dispatch thresholds (banded_hamming_pairs with
# an ``n_rows`` observation). Under uniform band hashing the expected
# in-bucket candidate volume is bands·n²/(2·keyspace); below ~4M pairs
# the codegen'd join probe costs well under a second of stage CPU and a
# Python stage's fixed overhead (worker round-trips, the extra
# exchange) is never paid back — r12's unconditional kernel regressed
# the driver's small-tier wall 1.70 → 2.93 s exactly this way (VERDICT
# r12 #1). Per-task pair budget sizes the explicit repartition so the
# kernel stage neither serializes onto AQE's byte-coalesced 2-4 tasks
# (the work is n² in rows, not bytes) nor fans tiny slices across every
# core for nothing.
KERNEL_MIN_PAIRS = 4_000_000
KERNEL_PAIRS_PER_TASK = 4_000_000


def banded_hamming_pairs(
    sigs: DataFrame,
    key: str,
    hash_col: str,
    n_bits: int,
    bands: int,
    max_distance: int,
    bucket_kernel: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Banded Hamming near-duplicate pairs over an int64 fingerprint —
    THE shared core of ``simhash_dedup`` (text) and
    ``phash.dhash_near_pairs`` (images). Returns ``(doc_a, doc_b,
    hamming)`` with doc_a < doc_b and hamming ≤ ``max_distance``.

    Split the fingerprint into ``bands`` contiguous bit-bands of
    ceil(n_bits/bands) bits; candidate pairs share ≥1 exact band;
    survivors have popcount(xor) ≤ ``max_distance``. Recall is EXACT
    (not approximate) when ``max_distance < bands``: by pigeonhole,
    ≤ bands−1 differing bits cannot touch every band, so every
    qualifying pair shares an intact band — which is what lets a direct
    all-pairs oracle match the banded plan value-for-value.

    Scale: the only wide op is the equi-join on (band index, band
    bits) — candidate volume is Σ per-bucket n², never all-pairs — and
    the Hamming verify lives IN the join condition, so candidates are
    filtered during the probe and never materialize into the distinct's
    shuffle (candidates dwarf survivors ~500× at the 50k-image tier;
    moving the verify into the probe measured 19.0s → 2.5s there).
    Callers persist ``sigs`` first: both sides of the self-join re-read
    it. ``key``/``hash_col`` must be plain column names (they are
    interpolated into expressions).

    ``bucket_kernel=True`` swaps the self-join for a vectorized
    partition kernel: shuffle the exploded (band, bits, key, hash) rows
    ONCE by bucket and enumerate each bucket's pairs in numpy (blocked
    XOR outer product + SWAR popcount — ``_bucket_pairs_map_kernel``).
    Same candidate set — all in-bucket pairs — same verify, same
    distinct; emitted pairs are identical. Use it when the band
    keyspace is NARROW relative to the corpus (e.g. a 28-bit hash in
    7-bit bands: ≤128 buckets/band, so buckets hold hundreds of rows
    and candidates number in the tens of millions; probing them
    row-at-a-time through the join was 22 of the image gate's 24
    stage-CPU-seconds at the 10× tier — guide §4.2's
    hand-batches-to-native rule). The join form stays the default for
    wide-band fingerprints (64-bit SimHash: 65k-value bands hash-spread
    the corpus, so per-bucket candidates are few and the codegen'd
    probe is already the cheap path).

    ``n_rows`` (the caller's observed corpus row count — dhash callers
    already count the persisted input to populate its cache) makes the
    kernel dispatch ADAPTIVE (r13, VERDICT r12 #1): the expected
    candidate volume bands·n²/(2·keyspace) picks kernel vs join at
    runtime (below ``KERNEL_MIN_PAIRS`` the join probe is cheaper than
    any Python stage's fixed overhead — identical output either way),
    and bounds the explicit repartition width to
    est_pairs/``KERNEL_PAIRS_PER_TASK`` tasks instead of a blanket
    defaultParallelism fan-out. Without ``n_rows`` the flag is honored
    as given (the property test forces both physical strategies)."""
    _pigeonhole_guard(bands, max_distance)
    width = (n_bits + bands - 1) // bands
    mask = (1 << width) - 1
    par = sigs.sparkSession.sparkContext.defaultParallelism
    kernel_tasks = par
    if bucket_kernel and n_rows is not None:
        est_pairs = bands * n_rows * n_rows / (2.0 * (mask + 1))
        if est_pairs < KERNEL_MIN_PAIRS:
            bucket_kernel = False
        else:
            kernel_tasks = max(
                2, min(par, int(est_pairs / KERNEL_PAIRS_PER_TASK) + 1)
            )
    bandvals = sigs.select(
        F.col(key).alias("_k"),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftright({hash_col}, {i * width}) & {mask}")
                    for i in range(bands)
                ]
            )
        ).alias("_band", "_bits"),
    )
    if bucket_kernel:
        # explicit repartition on the bucket keys: the exploded frame is
        # only a few MiB, so AQE would coalesce the exchange to a
        # handful of tasks — but this stage's cost is n² in ROWS per
        # bucket, not bytes (observed: 32 -> 4 tasks, 5.3 s serialized
        # kernel wall). A pinned width survives AQE; every (band, bits)
        # bucket lands complete in one partition, which is the map
        # kernel's only requirement.
        return (
            bandvals.repartition(kernel_tasks, "_band", "_bits")
            .mapInPandas(
                _bucket_pairs_map_kernel(max_distance),
                "doc_a long, doc_b long, hamming int",
            )
            .distinct()
        )
    right = bandvals.select(
        F.col("_k").alias("_k2"), F.col("_h").alias("_h2"),
        F.col("_band").alias("_band2"), F.col("_bits").alias("_bits2"),
    )
    pairs = bandvals.join(
        right,
        (F.col("_band") == F.col("_band2"))
        & (F.col("_bits") == F.col("_bits2"))
        & (F.col("_k") < F.col("_k2"))
        & (F.expr("bit_count(_h ^ _h2)") <= max_distance),
    )
    return pairs.select(
        F.col("_k").alias("doc_a"),
        F.col("_k2").alias("doc_b"),
        F.expr("bit_count(_h ^ _h2)").cast("int").alias("hamming"),
    ).distinct()


def simhash_dedup(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    max_hamming: int = 3, k: int = SHINGLE_K, cache=None,
) -> DataFrame:
    """SimHash near-dup: banded candidate join (4 × 8-bit bands — by
    pigeonhole, any pair within hamming ≤ 3 shares at least one band, so
    the banded result EQUALS the full pairwise result after the exact
    hamming filter) + bit_count verification inside the join probe —
    the shared ``banded_hamming_pairs`` core. Scales like LSH: the only
    shuffle is on (band_idx, band_bits), and candidates never reach the
    distinct's shuffle."""
    from ..functions.caching import owned_set, tie_release

    ps, owned = owned_set(cache)
    # persist: both sides of the banded self-join would otherwise re-run
    # the full gram-hash + majority-fold chain
    sigs = ps.persist(
        simhash_signatures(_spread_compute(df), text_col, k).select(key, "simhash")
    )
    pairs = banded_hamming_pairs(
        sigs, key, "simhash", SIMHASH_BITS, SIMHASH_BANDS, max_hamming
    )
    sigs.count()  # populate the cache before the self-join branches race it
    return tie_release(pairs, ps, owned)


# --- duplicate clustering (connected components) ------------------------------


def duplicate_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iters: int = 25
) -> DataFrame:
    """Group near-dup PAIRS into duplicate clusters: ``(doc_id,
    canonical_id, component_size)`` with canonical = MIN doc id in the
    connected component.

    The pipeline use: the near-dup detectors (minhash/simhash/ngram/
    embedding) emit pairs, but keep-one-per-cluster needs the transitive
    closure — a chain a~b~c must collapse to ONE canonical even when
    (a,c) itself is below threshold. Iterative min-label propagation
    (the DataFrame form of map-reduce hash-to-min): each round every node
    takes the min label among itself and its neighbors; converges in
    O(log diameter) rounds, and near-dup clusters are shallow (diameter
    ≲ 4), so 2-3 rounds are typical.

    Scale design: each round is one equi-join on ``node`` plus one
    groupBy-min — both shuffle on the same key, so AQE reuses/coalesces
    the exchange. ``localCheckpoint`` truncates lineage every round:
    without it round N's plan embeds rounds 1..N-1 (the classic
    iterative-DataFrame plan blowup; on a multi-node cluster prefer
    ``setCheckpointDir`` + reliable ``checkpoint`` for executor-loss
    resilience). Convergence is a LIMIT-1 existence probe on strictly
    decreased labels, not a full count. Beyond-reference operator (no
    reference analog).
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint()  # reused every round — materialize once
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nxt = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
            .union(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            nxt.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))  # labels only decrease
            .limit(1)
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        F.count("*").over(Window.partitionBy("label")).alias("component_size"),
    )


def duplicate_spans(
    df: DataFrame, k: int = 8, text_col: str = "text", key: str = "doc_id"
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN detection: find every maximal
    token span of a document that is covered by k-token shingles
    occurring more than once in the corpus (including within the same
    document). Doc-level dedup (minhash/jaccard) misses partially-copied
    documents; span-level detection is what the "Deduplicating Training
    Data Makes Language Models Better" recipe removes.

    Plan shape at 100 TB: per-position shingle hashes are a per-row
    projection + explode (no shuffle); the occurrence count is one keyed
    groupBy on the 32-byte md5; the count flows back via a hash join on
    the same key; interval merge is a per-document window (partitioned by
    doc — no global sort). Suffix arrays do this with less memory on one
    machine; the shingle-hash form is the join-friendly distributed
    equivalent.

    Returns one row per maximal span: (key, span_id, start, span_end,
    n_tokens, n_shingles), positions 1-based in token units.
    """
    d = df.select(F.col(key), F.split(F.col(text_col), " ").alias("_w"))
    # positions first, hash flat: exploding an expensive inline transform
    # would let InferFiltersFromGenerate clone the whole expression into a
    # pushed-down filter (2x eval below the exchange); the bare integer
    # sequence keeps the inferred filter trivial and the md5/slice work in
    # whole-stage codegen (same lesson as grams_exploded).
    # r12: h is unhex(md5) BINARY — bijective with the hex string, half
    # the bytes on the h-keyed exchange (the oracle keeps grouping the
    # hex; counts per shingle are identical either way).
    e = (
        d.select(
            F.col(key), "_w",
            F.explode(
                F.expr(
                    f"CASE WHEN size(_w) >= {k} THEN "
                    f"sequence(1, size(_w) - {k - 1}) ELSE "
                    "array() END"
                )
            ).alias("pos"),
        )
        .select(
            key, "pos",
            F.expr(
                f"unhex(md5(concat_ws(' ', slice(_w, pos, {k}))))"
            ).alias("h"),
        )
    )
    # r12 (guide §2.3/§2.4): occurrence count as ONE window over the
    # h-partitioned rows instead of groupBy(h) + equi-join back — the
    # old plan exchanged the corpus-sized (key, pos, h) frame by h TWICE
    # (once partial-agged for the counts, once raw for the join: 72 + 22
    # MB at the 10× tier); the window form moves it once. Identical
    # rows: count(*) over (partition by h) > 1 keeps exactly the shingle
    # occurrences whose hash count exceeds one.
    dup = (
        e.withColumn(
            "_n_occ", F.count("*").over(Window.partitionBy("h"))
        )
        .filter(F.col("_n_occ") > 1)
        .select(key, "pos")
    )
    w = Window.partitionBy(key).orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a new span starts only when coverage is NON-contiguous: pos may
    # exceed the previous covered end by one (abutting coverage — the
    # duplicated region continues) without breaking the span
    flagged = dup.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy(key, "span_id").agg(
        F.min("pos").cast("int").alias("start"),
        (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
        (F.max("pos") + (k - 1) - F.min("pos") + 1).cast("int").alias("n_tokens"),
        F.count("*").cast("int").alias("n_shingles"),
    ).withColumn("span_id", F.col("span_id").cast("int"))


def incremental_minhash_dedup(
    incoming: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Incremental near-dup dedup: flag INCOMING documents that
    near-duplicate an already-ingested corpus, WITHOUT touching
    corpus×corpus pairs — the warehouse steady state, where each new
    batch checks against the persisted signature table
    (``minhash_signatures`` output: key, gram_hashes, minhash) instead
    of re-deduping 100 TB from scratch.

    Plan shape: signatures for the (small) incoming batch only; banded
    LSH join incoming-bands × corpus-bands — the shuffle is
    |incoming|·bands + |corpus|·bands keyed rows, linear in corpus size
    and embarrassingly smaller than the full self-join; gram-hash-set
    jaccard verify on candidates only; per-incoming best match by
    (jaccard desc, corpus key asc). Returns one row per flagged
    incoming doc: (key, dup_of, jaccard)."""
    inc_sigs = minhash_signatures(incoming, text_col, n_hashes, k).select(
        key, "gram_hashes", "minhash"
    )
    band_expr = _band_sig_expr(bands, n_hashes // bands)

    def banded(sigs: DataFrame, out: str) -> DataFrame:
        return (
            sigs.withColumn("_bands", F.expr(band_expr))
            .select(
                F.col(key).alias(out),
                F.posexplode("_bands").alias("band_idx", "band_sig"),
            )
        )

    cand = (
        banded(inc_sigs, "new_id")
        .join(banded(corpus_sigs, "old_id"), ["band_idx", "band_sig"])
        .select("new_id", "old_id")
        .distinct()
    )
    ga = inc_sigs.select(
        F.col(key).alias("new_id"), F.col("gram_hashes").alias("gh_a")
    )
    gb = corpus_sigs.select(
        F.col(key).alias("old_id"), F.col("gram_hashes").alias("gh_b")
    )
    scored = (
        cand.join(ga, "new_id")
        .join(gb, "old_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("gh_a", "gh_b"))
                / F.size(F.array_union("gh_a", "gh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.col("old_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias(key),
            F.col("old_id").alias("dup_of"),
            "jaccard",
        )
    )


def incremental_minhash_dedup_stream(
    incoming: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    k: int = SHINGLE_K,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """STREAMING form of ``incremental_minhash_dedup``: flag documents
    arriving ON A STREAM that near-duplicate the persisted corpus
    signature table — the warehouse steady state run continuously
    instead of per-batch. Same rows as the batch operator on the same
    input (one per flagged doc: key, dup_of, jaccard), so the two share
    one oracle.

    Restructured stream-safe, three deliberate departures from the
    batch plan:

    1. Gram-hash arrays RIDE the banded explode (bands× wider shuffle
       rows) instead of the batch op's candidates-rejoin-signatures
       step — that re-join's probe side derives from the stream, which
       would make it a stream-stream join (watermark-range machinery,
       unbounded buffering on the signature side). Stream ⋈ static is
       the only join left.
    2. NO candidate distinct: a pair matching on m bands is scored m
       times with the IDENTICAL jaccard and collapses in the final
       aggregation — trading ≤ bands× duplicate verify arithmetic for
       ZERO deduplication state.
    3. Best-match per incoming doc via a lexicographic
       min(struct(−jaccard, old_id)) stateful aggregation — identical
       argmax semantics to the batch row_number over (jaccard DESC,
       old_id ASC), which streams do not support. Negating the (always
       numeric) similarity instead of the corpus key keeps the
       tiebreak KEY-TYPE-AGNOSTIC: string doc ids stream through the
       same path as the batch operator's orderable-key contract.
       State: one small row per flagged doc.

    ``watermark=(col, delay)`` attaches an event-time watermark on the
    incoming side before signatures are computed, so update-mode
    deployments can evict state for emitted keys; the gate runs
    complete-mode into a memory sink, where the result equals the batch
    operator row-for-row.
    """
    if watermark is not None:
        incoming = incoming.withWatermark(*watermark)
    inc_sigs = minhash_signatures(incoming, text_col, n_hashes, k).select(
        key, "gram_hashes", "minhash"
    )
    band_expr = _band_sig_expr(bands, n_hashes // bands)
    a = inc_sigs.withColumn("_bands", F.expr(band_expr)).select(
        F.col(key).alias("new_id"),
        F.col("gram_hashes").alias("gh_a"),
        F.posexplode("_bands").alias("band_idx", "band_sig"),
    )
    b = corpus_sigs.withColumn("_bands", F.expr(band_expr)).select(
        F.col(key).alias("old_id"),
        F.col("gram_hashes").alias("gh_b"),
        F.posexplode("_bands").alias("band_idx", "band_sig"),
    )
    scored = (
        a.join(b, ["band_idx", "band_sig"])
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("gh_a", "gh_b"))
                / F.size(F.array_union("gh_a", "gh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = (
        scored.groupBy(F.col("new_id").alias(key))
        .agg(
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("nj"),
                    F.col("old_id").alias("oid"),
                )
            ).alias("_b")
        )
        .select(
            key,
            F.col("_b.oid").alias("dup_of"),
            (-F.col("_b.nj")).alias("jaccard"),
        )
    )
    return best


def prefix_jaccard_join(
    df: DataFrame, text_col: str = "text", key: str = "doc_id",
    threshold: float = 0.8, k: int = SHINGLE_K, cache=None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin candidate generation: Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): all pairs whose k-shingle gram-hash sets have Jaccard ≥
    ``threshold`` — same output contract as ``ngram_jaccard_dedup`` but
    PROVABLY LOSSLESS. That operator's ``max_df`` posting-list pruning
    trades recall for speed (a pair ALL of whose shared grams are
    corpus-common is missed — its documented contract); here the
    candidate filter is the prefix principle instead, which drops no
    qualifying pair:

      order every doc's distinct gram hashes by one global total order
      (ascending document frequency, ties by hash — rarest first); a
      doc with s grams exposes only its first s − ceil(t·s) + 1 as join
      keys. If J(A,B) ≥ t then |A∩B| ≥ t·|A∪B| ≥ ceil(t·max(|A|,|B|)),
      and two sets with that much overlap MUST collide inside these
      prefixes (PPJoin Lemma 1) — so the posting join over prefixes
      alone sees every qualifying pair, while each doc's most common
      (quadratic-fanout) grams never enter the index.

    ceil(t·s) is EXACT integer arithmetic (parts-per-million numerator,
    never an IEEE product: float ceil(0.8·5) can land on 5, silently
    shortening the prefix below the lemma's bound). The ppm threshold
    is nudged down 100 (1e-4) so completeness also covers the
    verifier's round(·, 4) acceptances just below t. Verification is
    the same exact set-overlap jaccard as ``_verified_jaccard``, over
    each doc's DISTINCT hash set (array_union/intersect are
    set-semantic, so identical to the oracle's
    ``list_distinct(a || b)`` on the raw arrays — including in the
    mod-p birthday-collision case, where both engines agree on the
    SAME hashed sets).

    Two further PPJoin filters ride the candidate join itself, both
    prune-only (the property test pins completeness with them on):

    - LENGTH: J ≥ t ⟹ min(|A|,|B|)·10⁶ ≥ tnum·max(|A|,|B|).
    - POSITIONAL (any-match semantics): a qualifying pair's FIRST
      common token in the global order sits in both prefixes (the
      lemma), and every other common token sorts later in BOTH sets,
      so overlap ≤ 1 + min(remaining suffixes) at that match row;
      requiring that bound to clear α = ceil(t·(|A|+|B|)/(1+t)) —
      exact ppm integers again — prunes a match row without ever
      dropping a qualifying pair (it always survives via its
      first-common-token row).

    Measured at the 10× bench tier (50k docs, heavy duplication —
    adversarial for a bare prefix filter since every gram's df ≥ 10):
    the filters cut distinct candidates 11.05M → 1.25M against 248.6k
    true pairs, and warm wall 18.4s → ~4.5s; the verify join, not the
    posting join, was the first-cut bottleneck (183s of a cold 197s
    materializing 11M gram-array pairs). Shingling rides
    ``grams_exploded`` (flat codegen'd projection), not ``with_grams``
    — the higher-order transform+md5 lambda is interpreted per element
    (its docstring pins the same ~4× on the other consumers).

    Plan/scale: the per-doc distinct (inside ``grams_exploded``) and
    ONE corpus-sized shuffle to attach per-gram document frequency,
    then a keyed re-agg builds each doc's frequency-sorted set ONCE —
    the prefix slice AND the verify arrays both project from that
    persisted frame; the candidate join's posting lists hold ONLY
    prefix grams — the rarest slice of each doc — so fanout stays
    output-bound, not vocabulary-bound. Worst case (near-identical
    corpus) is inherently quadratic in the OUTPUT for any exact join;
    no silent cap. No Python, no collect, no cartesian.
    """
    from ..functions.caching import owned_set, tie_release

    ps, owned = owned_set(cache)
    # shingle+hash the corpus ONCE (vectorized kernel, narrow persisted
    # arrays); both the dfreq arm and the doc_sets arm explode the SAME
    # cached frame instead of each re-running the corpus pass (two md5
    # passes + two per-doc-distinct shuffles before r12). Materialized
    # eagerly so a broadcast-exchange thread can't race the cold cache.
    # r12: the gram hashes are md5-mod-p with p = 2³¹−1, so every value
    # fits INT32 exactly (max p−1 = int32 max − 1) — narrowing the
    # arrays at the cache boundary halves every downstream byte: the
    # persisted sets, the gh/posting exchanges, and above all the
    # verify kernel's Arrow transfer (1.25M candidate pairs × two
    # ~50-element arrays ≈ 1 GB at the 10× tier as int64; the kernel
    # compares values for equality only, and int32 equality is the
    # same relation). Guide §2.3: narrower types, provably safe.
    gha = ps.persist(
        gram_hash_arrays(df, text_col, key, k).select(
            key,
            F.col("gram_hashes").cast("array<int>").alias("gram_hashes"),
        )
    )
    gha.count()
    flat = gha.select(key, F.explode("gram_hashes").alias("gh"))
    # each doc's distinct hash set, sorted by the global (df, gh)
    # order — computed once, consumed by prefix slice AND verify.
    # r12: _df rides a WINDOW over the gh-partitioned shingle rows
    # instead of groupBy(gh) + equi-join back (the duplicate_spans
    # lesson): the join form exchanged the corpus-sized flat frame a
    # second time — and the planner actually BROADCAST the 2.65M-row
    # exploded side (192 MiB) at the 10× tier, the opposite of
    # scale-safe. One exchange by gh, one by key, no join.
    # array_distinct matters: the kernel dedups per doc on the gram
    # STRING, so an intra-doc mod-p collision (~g²/2³¹ per doc — real
    # at corpus scale) leaves a duplicate gh here; an inflated size
    # would feed the length/positional filters a multiset count while
    # the verifier's jaccard is set-semantic, pruning a qualifying
    # pair at the exact threshold boundary (pinned by the
    # crafted-collision test). Duplicates share their gh's df, so they
    # sort adjacent and the dedup is a pure projection — no extra
    # shuffle; the df ordering itself may count a collided gh twice,
    # which only perturbs the global total order CONSISTENTLY (any
    # fixed order satisfies the prefix lemma).
    wdf = flat.withColumn(
        "_df",
        F.count(F.lit(1)).over(Window.partitionBy("gh")).cast("long"),
    )
    doc_sets = ps.persist(
        wdf.groupBy(key)
        .agg(
            F.expr(
                "array_distinct(transform("
                "sort_array(collect_list(struct(_df, gh))), x -> x.gh))"
            ).alias("_set")
        )
    )
    # ppm threshold, minus the round(·,4) guard band
    tnum = int(round(threshold * 1_000_000)) - 100
    # prefix postings carry (1-based position, set size) for the
    # length + positional filters below
    pre = doc_sets.select(
        key,
        F.size("_set").cast("long").alias("_s"),
        F.posexplode(
            F.expr(
                "slice(_set, 1, "
                f"size(_set) - ((cast({tnum} as bigint) * size(_set)"
                " + 999999) div 1000000) + 1)"
            )
        ).alias("_i0", "_gh"),
    ).select(key, "_s", (F.col("_i0") + 1).alias("_i"), "_gh")
    pa = pre.select(
        F.col(key).alias("doc_a"), F.col("_s").alias("_sa"),
        F.col("_i").alias("_ia"), "_gh",
    )
    pb = pre.select(
        F.col(key).alias("doc_b"), F.col("_s").alias("_sb"),
        F.col("_i").alias("_ib"), F.col("_gh").alias("_ghb"),
    )
    # α = minimum overlap a qualifying pair must have, from
    # J = o/(sa+sb-o) ≥ t ⟹ o ≥ t·(sa+sb)/(1+t) — exact ppm ceil
    alpha = F.expr(
        f"(cast({tnum} as bigint) * (_sa + _sb) + {1_000_000 + tnum} - 1)"
        f" div {1_000_000 + tnum}"
    )
    pairs = (
        pa.join(
            pb,
            (F.col("_gh") == F.col("_ghb"))
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: J ≥ t ⟹ min(sa,sb) ≥ t·max(sa,sb)
            & (
                F.least("_sa", "_sb") * F.lit(1_000_000)
                >= F.greatest("_sa", "_sb") * F.lit(tnum)
            )
            # positional filter (any-match semantics): at a pair's FIRST
            # common token — which the lemma puts in both prefixes — every
            # other common token sorts later in BOTH sets, so overlap ≤
            # 1 + min(remaining suffix lengths); a qualifying pair always
            # survives via that match row, junk is pruned unless some
            # match row's bound clears α (prune-only, never drops truth)
            & (
                F.lit(1) + F.least(
                    F.col("_sa") - F.col("_ia"),
                    F.col("_sb") - F.col("_ib"),
                )
                >= alpha
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # r12: the set-overlap counting runs in a vectorized kernel — the
    # codegen'd array_intersect/array_union pair builds two hash sets
    # PER ROW and was the query's single hottest span (37 CPU-s for
    # 1.25M candidate pairs at the 10× tier, ~30µs/pair vs ~2µs for
    # Python frozenset ops on the same 50-element arrays). Only the
    # two int counts come back; the jaccard DIVISION and round(·,4)
    # stay in Spark, bit-identical to the size(array_intersect)/
    # size(array_union) form: both _set arrays are distinct, so
    # |A∪B| = |A| + |B| − |A∩B| exactly, and size() is an INT there
    # too, making the int/int → double promotion the same arithmetic.
    @F.pandas_udf("struct<i: int, u: int>")
    def _ovl(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        ii = np.empty(len(sa), dtype=np.int32)
        uu = np.empty(len(sa), dtype=np.int32)
        for j, (a, b) in enumerate(zip(sa, sb)):
            A = frozenset(a)
            i = len(A.intersection(b))
            ii[j] = i
            uu[j] = len(A) + len(b) - i
        return pd.DataFrame({"i": ii, "u": uu})

    out = (
        pairs.join(
            doc_sets.select(F.col(key).alias("doc_a"), F.col("_set").alias("_sa")),
            "doc_a",
        )
        .join(
            doc_sets.select(F.col(key).alias("doc_b"), F.col("_set").alias("_sb")),
            "doc_b",
        )
        .withColumn("_iu", _ovl.asNondeterministic()("_sa", "_sb"))
        .withColumn("jaccard", F.round(F.col("_iu.i") / F.col("_iu.u"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return tie_release(out, ps, owned)
