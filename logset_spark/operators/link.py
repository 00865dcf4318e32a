"""Stage 2 — entity linking: exact (broadcast/salted hash join) + fuzzy
(MinHash-LSH blocking, n-gram Jaccard verify).

Reference behavior: a Python dict lookup inside per-file loops
(PK:src/handcoded.py).  At 10^12 turns that becomes:

* exact: `mentions ⋈ broadcast(dictionary)` on the normalized surface —
  the dictionary is small (≤ millions of rows), the fact side huge, so
  broadcast kills the shuffle entirely.  For hot keys a salted variant is
  provided (explode the dim side R ways, salt the fact side) — with a
  broadcast dim the salt is unnecessary, but the same mention stream also
  feeds shuffle joins downstream, and AQE skew-join only fixes *shuffle*
  skew, so both knobs exist (BASELINE.json: "AQE + key salting").
* fuzzy: char-3-gram MinHash signatures (numpy matrix math inside a pandas
  UDF), banded LSH -> candidate pairs via an equi-join on (band, band_hash)
  -- only intra-bucket pairs are ever compared -- then exact n-gram Jaccard
  verify with native higher-order array functions, best match per form by
  window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# exact linking
# ---------------------------------------------------------------------------


def normalize_form(col):
    """Surface normalization — lower/trim/strip outer punctuation. Native."""
    return F.regexp_replace(F.lower(F.trim(col)), r"^[^a-z0-9]+|[^a-z0-9]+$", "")


def best_surface_dictionary(dictionary: DataFrame) -> DataFrame:
    """Collapse the dictionary to one canonical row per NORMALIZED surface
    (max weight, tie-break lexicographically smallest canon_uri) so the
    link join is 1:1 and never fans out.

    The surface is normalized with the SAME normalize_form the mention
    side applies before joining: a raw-surface dictionary entry like
    'GitHub' or ' mainframe ' could otherwise never exact-match any
    normalized mention — it would silently fall through to the fuzzy
    stage on every occurrence.  Two raw surfaces collapsing to one
    normalized form resolve by the same (weight, canon_uri) election."""
    w = Window.partitionBy("surface").orderBy(
        F.desc("weight"), F.asc("canon_uri")
    )
    return (
        dictionary.withColumn("surface", normalize_form(F.col("surface")))
        # a surface that normalizes to '' (pure punctuation) would
        # exact-link every punctuation-only mention to an arbitrary
        # entity — drop it rather than elect a winner for nothing
        .where(F.col("surface") != "")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("surface", "canon_uri", F.col("weight").alias("score"))
    )


def exact_link(
    mentions: DataFrame, dictionary: DataFrame, keep_norm: bool = False
) -> DataFrame:
    """Left broadcast join mention.form -> dictionary.surface.

    Output keeps every mention; canon_uri/score are null when unlinked
    (those flow to the fuzzy stage).  keep_norm=True retains the
    normalized surface as `norm_form` so a later stage can re-join fuzzy
    links without recomputing the normalization."""
    dim = best_surface_dictionary(dictionary)
    m = mentions.withColumn("norm_form", normalize_form(F.col("form")))
    out = m.join(F.broadcast(dim), m.norm_form == dim.surface, "left").drop("surface")
    return out if keep_norm else out.drop("norm_form")


def temporal_surface_dictionary(dictionary: DataFrame) -> DataFrame:
    """Collapse a TEMPORAL dictionary (rows carry `valid_from`) to
    disjoint per-surface validity intervals, each with its elected
    winner — so the temporal link join stays at-most-1:1 per mention.

    An alias row is a candidate from its valid_from onward (no explicit
    end: a surface's meaning changes by a NEW row shadowing the old via
    the election, the dictionary idiom the synth fixture and SCD2-style
    feeds share).  Boundaries = the surface's distinct valid_from values;
    for each interval [b_i, b_i+1) the winner among rows already valid is
    elected by the SAME (weight DESC, canon_uri ASC) total order the
    untimed election uses — so a dictionary whose rows are all valid
    from epoch produces exactly best_surface_dictionary's output (tested).

    All window work here is dictionary-scale (dimension), never data-
    scale.  Output: (surface, canon_uri, score, valid_from, valid_to
    [null = open])."""
    d = dictionary.select(
        normalize_form(F.col("surface")).alias("surface"),
        "canon_uri",
        "weight",
        "valid_from",
    ).where(F.col("surface") != "")  # same guard as the untimed election
    bounds = (
        d.select("surface", "valid_from")
        .distinct()
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("surface").orderBy("valid_from")
            ),
        )
        .withColumnRenamed("valid_from", "iv_from")
    )
    cand = bounds.join(d, "surface").where(
        F.col("valid_from") <= F.col("iv_from")
    )
    w = Window.partitionBy("surface", "iv_from").orderBy(
        F.desc("weight"), F.asc("canon_uri")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "surface",
            "canon_uri",
            F.col("weight").alias("score"),
            F.col("iv_from").alias("valid_from"),
            "valid_to",
        )
    )


def exact_link_temporal(
    mentions: DataFrame,
    dictionary: DataFrame,
    ts_col: str = "ts",
    keep_norm: bool = False,
) -> DataFrame:
    """exact_link honoring alias validity: a mention links only to the
    dictionary winner whose interval covers the mention's timestamp —
    mentions BEFORE a surface's first valid_from stay unlinked (they
    flow to the fuzzy stage like any unknown form).

    Join shape: broadcast HASH join on the normalized surface (the dim
    fans out by intervals-per-surface, a dictionary-bounded constant),
    with the interval containment as the join residual — never a nested-
    loop.  Intervals are disjoint, so at most one row survives per
    mention and the output is 1:1 like the untimed path."""
    dim = temporal_surface_dictionary(dictionary)
    m = mentions.withColumn("norm_form", normalize_form(F.col("form")))
    ts = F.col(ts_col)
    cond = (
        (m.norm_form == dim.surface)
        & (ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (ts < dim.valid_to))
    )
    out = m.join(F.broadcast(dim), cond, "left").drop(
        "surface", "valid_from", "valid_to"
    )
    return out if keep_norm else out.drop("norm_form")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
    n_salts: int = 8,
) -> DataFrame:
    """Generic skew-safe equi-join: fact gets a random-ish (but
    deterministic) salt from its own row identity, dim is exploded xR.
    Join key becomes (key, salt) so a hot key spreads over R reducers.
    Use when the dim is too big to broadcast and the fact key is skewed.

    `how` is restricted to inner/left: under right/full outer an
    unmatched dim row would surface once PER SALT COPY (n_salts
    duplicate output rows) — rejected rather than silently wrong."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', not {how!r}: an "
            "unmatched exploded dim row would duplicate n_salts times "
            "under an outer join preserving the dim side")
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*fact.columns), F.lit(n_salts)).cast("int"),
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_fact.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")


# ---------------------------------------------------------------------------
# fuzzy linking: MinHash-LSH
# ---------------------------------------------------------------------------

NGRAM = 3

_SPLITMIX_C = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_M2 = np.uint64(0x94D049BB133111EB)


def _minhash_seeds(num_hashes: int, seed: int = 7) -> np.ndarray:
    """One independent 64-bit seed per 'permutation'.  A shared linear
    permutation family (a*x+b mod p) is only 2-universal, NOT min-wise
    independent — on the small gram sets of short surface forms it biases
    the Jaccard estimate badly (observed 0.15 vs true 0.43), so each slot
    gets its own strongly-mixed hash instead (see _splitmix below);
    collision probability is then ~J per slot, the unbiased estimator."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)


def _splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche 64-bit mixer, pure uint64
    wraparound math: deterministic across numpy versions and platforms
    (SURVEY §7 hard-part 3)."""
    x = x + _SPLITMIX_C
    x ^= x >> np.uint64(30)
    x *= _SPLITMIX_M1
    x ^= x >> np.uint64(27)
    x *= _SPLITMIX_M2
    x ^= x >> np.uint64(31)
    return x


def _gram_hashes(txt: str, n: int = NGRAM) -> np.ndarray:
    """Stable 32-bit hashes of the char-n-gram set (crc32: identical on
    driver, executors, and across Python runs — unlike builtin hash)."""
    from zlib import crc32

    s = f"^{txt}$"
    grams = {s[i: i + n] for i in range(len(s) - n + 1)}
    return np.fromiter(
        (crc32(g.encode("utf-8")) for g in grams), dtype=np.int64, count=len(grams)
    )


def _shingle_hashes(txt: str, n: int = 3) -> np.ndarray:
    """Word-n-shingle hashes: the dedup unit for *documents* (char grams
    are for short surface forms — on full docs over a small vocabulary
    they saturate and every pair looks similar)."""
    from zlib import crc32

    toks = txt.lower().split()
    if len(toks) < n:
        sh = {" ".join(toks)} if toks else set()
    else:
        sh = {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}
    return np.fromiter(
        (crc32(s.encode("utf-8")) for s in sh), dtype=np.int64, count=len(sh)
    )


def _signature(gram_hashes: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """sig_j = min_x splitmix64(x ^ seed_j); returned as int64 view for
    Spark LongType."""
    with np.errstate(over="ignore"):
        mixed = _splitmix(gram_hashes.astype(np.uint64)[None, :] ^ seeds[:, None])
    return mixed.min(axis=1).view(np.int64)


def make_minhash_udf(num_hashes: int = 32, seed: int = 7, unit: str = "char"):
    """pandas UDF: Series[str] -> Series[list[long]] — k independent-hash
    MinHash.  unit='char' (3-grams; short surface forms) or 'word'
    (3-shingles; documents)."""
    seeds = _minhash_seeds(num_hashes, seed)
    grams = _gram_hashes if unit == "char" else _shingle_hashes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            # None, not a sentinel signature: an all-zero signature would
            # put EVERY empty/gram-less string in the same bucket of every
            # band — O(n_empty^2) candidate pairs that all verify to 0.0.
            # band_signatures drops null signatures, so empties are simply
            # never candidates (their true similarity to anything is 0).
            if not txt:
                out.append(None)
                continue
            hv = grams(txt)
            if hv.size == 0:
                out.append(None)
                continue
            out.append(_signature(hv, seeds).tolist())
        return pd.Series(out)

    # asNondeterministic is a pushdown FENCE, not a semantics statement
    # (the signature is fully deterministic): band_signatures filters on
    # `_sig IS NOT NULL`, and Catalyst pushes a deterministic filter —
    # UDF INCLUDED — through joins and aggregates toward the scan.
    # Measured on the KG pipeline: the null-check landed BELOW the
    # distinct-forms aggregate, running MinHash once per mention
    # OCCURRENCE (20.9M rows) instead of once per distinct form (100) —
    # a 12x fuzzy-stage regression.  Nondeterministic expressions are
    # never pushed, so the UDF stays exactly where the operator put it:
    # above the dedup, evaluated once per distinct input.
    return minhash.asNondeterministic()


def band_signatures(
    df: DataFrame, text_col: str, num_hashes: int = 32, bands: int = 8,
    seed: int = 7, unit: str = "char",
) -> DataFrame:
    """Attach MinHash and explode into (band, band_hash) LSH keys.
    rows-per-band r = num_hashes // bands; two strings collide in a band
    iff all r signature slots match, so band_hash = xxhash64 of the slice."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    mh = make_minhash_udf(num_hashes, seed, unit)
    # null signature = empty/gram-less text -> not bandable (see the UDF)
    sig = df.withColumn("_sig", mh(F.col(text_col))).where(
        F.col("_sig").isNotNull()
    )
    banded = sig.select(
        *df.columns,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("_sig"), i * r + 1, r),
            )
        ).alias("band", "band_slice"),
    )
    return banded.withColumn(
        "band_hash", F.xxhash64(F.concat_ws(",", F.transform("band_slice", lambda x: x.cast("string"))), F.col("band"))
    ).drop("band_slice")


def char_ngrams(col, n: int = NGRAM):
    """Native char-n-gram array (distinct) of '^text$' — used for the exact
    Jaccard verify so no Python runs on the candidate pairs."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0)))
    return F.array_distinct(
        F.filter(
            F.transform(idx, lambda i: padded.substr(i + 1, F.lit(n))),
            lambda g: F.length(g) == n,
        )
    )


def jaccard(col_a, col_b):
    inter = F.size(F.array_intersect(col_a, col_b))
    union = F.size(F.array_union(col_a, col_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def fuzzy_link(
    unlinked_forms: DataFrame,
    dictionary: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.55,
) -> DataFrame:
    """forms: DataFrame[form] (distinct unlinked surfaces) ->
    DataFrame[form, canon_uri, score] for best fuzzy match over threshold.

    Plan shape: both sides get banded LSH keys; equi-join on
    (band, band_hash) yields only intra-bucket candidates; exact n-gram
    Jaccard (native array ops) verifies; window keeps the best match.
    Dedup BEFORE hashing: the expensive UDF runs once per distinct form,
    not once per mention occurrence (SURVEY §4 'dedup before expensive')."""
    forms = unlinked_forms.select("form").distinct()
    dim = best_surface_dictionary(dictionary)

    fb = band_signatures(forms, "form", num_hashes, bands).select(
        "form", "band", "band_hash"
    )
    db = band_signatures(dim, "surface", num_hashes, bands).select(
        "surface", "canon_uri", F.col("score").alias("weight"),
        "band", "band_hash",
    )

    cand = (
        fb.join(db, ["band", "band_hash"])
        .select("form", "surface", "canon_uri", "weight")
        .distinct()
    )
    verified = cand.withColumn(
        "score", jaccard(char_ngrams(F.col("form")), char_ngrams(F.col("surface")))
    ).where(F.col("score") >= threshold)

    w = Window.partitionBy("form").orderBy(
        F.desc("score"), F.desc("weight"), F.asc("canon_uri")
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("form", "canon_uri", "score")
    )

