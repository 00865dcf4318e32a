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
* fuzzy: char-3-gram MinHash signatures, one native expression per row
  (crc32 per gram, wrapping splitmix64 per seed on bigint limbs — no
  Python worker), banded LSH -> candidate pairs via an equi-join on (band,
  band_hash) -- only intra-bucket pairs are ever compared -- then exact
  n-gram Jaccard verify with native higher-order array functions, best
  match per form by window.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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

# Python's str.split() separators (exactly the code points with
# str.isspace()); Java's \s is ASCII-only, so a `\s+` split would keep
# "alpha\u00a0beta" as one token where Python yields two.
WHITESPACE_CLASS = (
    r"[\t-\r\x1c-\x20\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f"
    r"\u205f\u3000]"
)

_SPLITMIX_C = 0x9E3779B97F4A7C15
_SPLITMIX_M1 = 0xBF58476D1CE4E5B9
_SPLITMIX_M2 = 0x94D049BB133111EB
_M32 = 0xFFFFFFFF


def _minhash_seeds(num_hashes: int, seed: int = 7) -> np.ndarray:
    """One independent 64-bit seed per 'permutation'.  A shared linear
    permutation family (a*x+b mod p) is only 2-universal, NOT min-wise
    independent — on the small gram sets of short surface forms it biases
    the Jaccard estimate badly (observed 0.15 vs true 0.43), so each slot
    gets its own strongly-mixed hash instead (splitmix64, see
    _splitmix_sql); collision probability is then ~J per slot, the
    unbiased estimator."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)


def _bind(value: str, var: str, body: str) -> str:
    """SQL `let var = value in body`: the value is evaluated once per row
    however often body names it.  Without it each splitmix step repeats
    its whole input tree (hundreds of copies by the last step).  Spelled
    as an aggregate over an empty array, whose finish lambda runs once on
    the start value: unlike element_at(transform(array(value), ...), 1)
    it allocates no arrays (~25% less time on 20k forms)."""
    return f"aggregate(array(), {value}, (_acc, _x) -> _acc, {var} -> {body})"


def _mul64_sql(x: str, m: int) -> str:
    """(x * m) mod 2^64 for a bound bigint `x` and a 64-bit constant `m`.
    ANSI mode raises on bigint overflow, so the product is built from the
    32-bit halves of x and the 16-bit limbs of m: every partial product
    and sum stays below 2^50, and only shiftleft (which wraps) and `|`
    join the two words."""
    ml0, ml1 = m & 0xFFFF, (m >> 16) & 0xFFFF
    mh0, mh1 = (m >> 32) & 0xFFFF, m >> 48
    xh = f"shiftrightunsigned({x}, 32)"
    # _mo = low 32 bits of x times m plus a carry above them (< 2^49)
    low = f"_ml * {ml0} + shiftleft((_ml * {ml1}) & 65535, 16)"
    high = (  # the high word, plus harmless bits above 2^32
        f"shiftrightunsigned(_mo, 32) + shiftrightunsigned(_ml * {ml1}, 16)"
        f" + {xh} * {ml0} + shiftleft(({xh} * {ml1}) & 65535, 16)"
        f" + _ml * {mh0} + shiftleft((_ml * {mh1}) & 65535, 16)"
    )
    return _bind(f"{x} & {_M32}", "_ml", _bind(
        low, "_mo", f"shiftleft({high}, 32) | (_mo & {_M32})"))


def _splitmix_sql(v: str) -> str:
    """splitmix64 finalizer of a NON-NEGATIVE bigint expression `v`, as
    wrapping 64-bit math: full avalanche, identical to the uint64 numpy
    version bit for bit.  v + C cannot overflow: v >= 0 and C, read as a
    signed bigint, is negative."""
    c = _SPLITMIX_C - (1 << 64)
    return _bind(
        f"(({v}) + {c}L) ^ shiftrightunsigned(({v}) + {c}L, 30)", "_mh_b",
        _bind(_mul64_sql("_mh_b", _SPLITMIX_M1), "_mh_c",
              _bind("_mh_c ^ shiftrightunsigned(_mh_c, 27)", "_mh_d",
                    _bind(_mul64_sql("_mh_d", _SPLITMIX_M2), "_mh_e",
                          "_mh_e ^ shiftrightunsigned(_mh_e, 31)"))))


def word_shingles(col, n: int = 3):
    """Distinct word-n-shingles of lower(text), split like Python's
    str.split(): the dedup unit for *documents* (char grams are for short
    surface forms — on full docs over a small vocabulary they saturate and
    every pair looks similar).  Fewer than n tokens -> one shingle of all
    of them; no tokens -> empty array; null text -> null.  The MinHash
    stage and the near-dup verify both use this one expression."""
    toks = F.filter(
        F.split(F.lower(col), WHITESPACE_CLASS + "+"), lambda t: t != ""
    )
    return F.transform(F.array(toks), lambda ts: F.when(
        F.size(ts) > 0, F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(ts, i + 1, n)),
        ))
    ).when(ts.isNotNull(), F.array().cast("array<string>")))[0]


def _has_units(col, unit: str):
    """Cheap exact test for "text has at least one MinHash unit": any
    char for char grams, any non-separator char for word shingles."""
    if unit == "char":
        return F.length(col) > 0
    return col.rlike("[^" + WHITESPACE_CLASS[1:])


def with_minhash(
    df: DataFrame, text_col: str, num_hashes: int = 32, seed: int = 7,
    unit: str = "char", out: str = "_sig",
) -> DataFrame:
    """Attach the k-slot MinHash signature of `text_col` as array<bigint>
    `out`, computed natively: units are char_ngrams (unit='char') or
    word_shingles (unit='word'), each hashed with crc32 of its UTF-8 bytes
    (== zlib.crc32, stable everywhere, unlike Python's hash), and slot j
    is min over units of splitmix64(h ^ seed_j) taken as UNSIGNED 64-bit
    ints (the sign bit is flipped around array_min) — returned as the
    same bits read signed.  Null when the text has no units."""
    units = char_ngrams(F.col(text_col)) if unit == "char" else word_shingles(
        F.col(text_col))
    seeds = ", ".join(f"{int(s)}L" for s in _minhash_seeds(num_hashes, seed))
    sign = "-9223372036854775808L"
    sig = _bind(
        "_mh_units", "_mh_hs",
        f"IF(size(_mh_hs) > 0, transform(array({seeds}), _mh_s -> "
        f"array_min(transform(_mh_hs, _mh_h -> "
        f"{_splitmix_sql('_mh_h ^ _mh_s')} ^ {sign})) ^ {sign}), NULL)",
    )
    return (
        df.withColumn(
            "_mh_units", F.transform(units, lambda u: F.crc32(u.cast("binary")))
        )
        .withColumn(out, F.expr(sig))
        .drop("_mh_units")
    )


def band_signatures(
    df: DataFrame, text_col: str, num_hashes: int = 32, bands: int = 8,
    seed: int = 7, unit: str = "char",
) -> DataFrame:
    """Attach MinHash and explode into (band, band_hash) LSH keys.
    rows-per-band r = num_hashes // bands; two strings collide in a band
    iff all r signature slots match, so band_hash = xxhash64 of the slice.

    Text without units (null, empty, or whitespace-only for 'word') is
    dropped: a sentinel signature would put every such row in the same
    bucket of every band — O(n_empty^2) candidate pairs that all verify
    to 0.0.  The drop filters on a cheap equivalent of "has units", not
    on the signature: Catalyst pushes a deterministic filter through
    joins and aggregates toward the scan, and a `_sig IS NOT NULL`
    filter would land below the caller's distinct, hashing once per
    mention OCCURRENCE (20.9M rows) instead of once per distinct form."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = with_minhash(
        df.where(_has_units(F.col(text_col), unit)), text_col, num_hashes,
        seed, unit,
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
    """Native char-n-gram array (distinct) of '^text$' — the MinHash unit
    for short surface forms and the exact Jaccard verify's set, so no
    Python runs on the forms or the candidate pairs."""
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
    Dedup BEFORE hashing: the MinHash expression runs once per distinct
    form, not once per mention occurrence (SURVEY §4 'dedup before
    expensive'; band_signatures keeps its filter cheap so nothing pushes
    the hashing below the distinct)."""
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

