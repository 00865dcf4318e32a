"""Deterministic synthetic fixtures (FIXTURES.md §B): transcripts,
entity_dictionary, tool_vocab.

Everything is a pure function of (seed, size knobs) — numpy PCG64 streams,
no wall clock, no external data (BASELINE.json:15).  The reference's
equivalent is its checked-in sample Turtle catalogs (PK:etc/, SURVEY §5.1);
here the fixtures are generated because the input shape is mandated by the
north rule's input_hint:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Skew is built in: turns-per-conversation follows a truncated Zipf so hot
conv_ids exist (exercises AQE + salting, SURVEY §2 J3), and one "hot"
entity surface appears in a large share of turns (hot dictionary key).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SEED = 42
EPOCH = np.datetime64("2025-01-01T00:00:00")

_WORDS = (
    "alpha bravo canyon delta ember falcon granite harbor indigo juniper "
    "krypton lumen mesa nimbus onyx prairie quartz ridge summit tundra "
    "umbra vortex willow xenon yonder zephyr basalt cirrus dune ficus"
).split()

_FILLER = (
    "the a then so and now we it they this that ran saw got did made took "
    "found used wrote read sent asked told while before after during since"
).split()

TOOLS = [
    "search", "browser", "calculator", "compiler", "scheduler", "profiler",
    "linter", "notebook", "terminal", "debugger", "translator", "planner",
]

ROLES = np.array(["user", "assistant", "tool", "system"])

HOT_SURFACE = "mainframe"       # deliberately hot dictionary key (skew fixture)
HOT_URI = "ent:hot/mainframe"


def _base_names(n: int, rng: np.random.Generator) -> np.ndarray:
    a = rng.choice(_WORDS, size=n)
    b = rng.choice(_WORDS, size=n)
    return np.array([f"{x}_{y}_{i:04d}" for i, (x, y) in enumerate(zip(a, b))])


def _typo(form: str) -> str:
    """Deterministic 'vowel dropped' noisy variant — near-duplicate in
    char-ngram Jaccard space but NOT in the dictionary (fuzzy-link fixture)."""
    for v in "aeiou":
        idx = form.find(v, 1)
        if idx > 0:
            return form[:idx] + form[idx + 1:]
    return form + "x"


def entity_dictionary_pdf(n_entities: int = 100, seed: int = SEED) -> pd.DataFrame:
    """canon_uri, surface, kind, weight, valid_from — 2 dictionary surfaces
    per entity (canonical + dash alias); the typo variant is generated into
    transcript text but intentionally absent here."""
    rng = np.random.default_rng(seed)
    names = _base_names(n_entities, rng)
    kinds = rng.choice(["person", "system", "file", "topic"], size=n_entities)
    rows = []
    for i, (name, kind) in enumerate(zip(names, kinds)):
        canon = f"ent:{kind}/{name}"
        valid_from = EPOCH + np.timedelta64(int(rng.integers(0, 60)), "D")
        rows.append((canon, name, kind, 1.0, valid_from))
        rows.append((canon, name.replace("_", "-"), kind, 0.8, valid_from))
    rows.append((HOT_URI, HOT_SURFACE, "system", 1.0, EPOCH))
    return pd.DataFrame(
        rows, columns=["canon_uri", "surface", "kind", "weight", "valid_from"]
    )


def typo_map(dictionary: pd.DataFrame) -> pd.DataFrame:
    """surface -> typo variant used when noising text (test oracle helper)."""
    canon = dictionary[dictionary.weight == 1.0]
    return pd.DataFrame(
        {"surface": canon.surface.values,
         "typo": [_typo(s) for s in canon.surface.values],
         "canon_uri": canon.canon_uri.values}
    )


def transcripts_pdf(
    n_convs: int = 100,
    seed: int = SEED,
    mean_turns: int = 8,
    zipf_a: float = 1.6,
    max_turns: int = 400,
    gap_rate: float = 0.05,
    alias_noise_rate: float = 0.15,
    hot_rate: float = 0.10,
    n_entities: int = 100,
    span_days: int = 14,
) -> pd.DataFrame:
    """The pipeline input table. Vectorized; ~1M turns in a few seconds.

    * turns/conv ~ mean_turns * Zipf(zipf_a), truncated at max_turns (skew)
    * ts monotone within conv; gap > 30 min at gap_rate (session fixture)
    * each turn text embeds 0-2 entity mentions (typo variant at
      alias_noise_rate, hot surface at hot_rate), a tool name on tool turns,
      and an ISO timestamp token on ~20%% of turns
    """
    rng = np.random.default_rng(seed)
    dictionary = entity_dictionary_pdf(n_entities, seed)
    tmap = typo_map(dictionary)
    canon_surfaces = tmap.surface.values
    typo_surfaces = tmap.typo.values

    n_turns_per_conv = np.minimum(
        (rng.zipf(zipf_a, size=n_convs) * mean_turns // 2 + 1), max_turns
    ).astype(np.int64)
    total = int(n_turns_per_conv.sum())

    conv_ids = np.repeat(
        np.array([f"conv-{i:06d}" for i in range(n_convs)]), n_turns_per_conv
    )
    turn_idx = np.concatenate([np.arange(n) for n in n_turns_per_conv]).astype(np.int32)

    role_pick = rng.random(total)
    roles = np.where(
        turn_idx % 2 == 0, "user",
        np.where(role_pick < 0.25, "tool",
                 np.where(role_pick < 0.30, "system", "assistant")),
    )

    tool_choice = rng.choice(TOOLS, size=total)
    tools = np.where(roles == "tool", tool_choice, None)

    # timestamps: conv start spread over span_days; steps 10s-5min, with
    # >30-min gaps injected at gap_rate (never on turn 0)
    conv_start = rng.integers(0, span_days * 86400, size=n_convs)
    step = rng.integers(10, 300, size=total)
    gap = (rng.random(total) < gap_rate) & (turn_idx > 0)
    step = step + gap * rng.integers(1860, 7200, size=total)
    start_rep = np.repeat(conv_start, n_turns_per_conv)
    cum = np.cumsum(step)
    conv_first = np.concatenate([[0], np.cumsum(n_turns_per_conv)[:-1]])
    base = np.repeat(cum[conv_first] - step[conv_first], n_turns_per_conv)
    ts = EPOCH + ((start_rep + cum - base) * np.timedelta64(1, "s")).astype(
        "timedelta64[s]"
    )

    # mentions: slot A always an entity surface (canonical / typo / hot);
    # slot B present on ~40% of turns
    pick = rng.integers(0, len(canon_surfaces), size=total)
    noise = rng.random(total)
    m1 = np.where(
        noise < hot_rate, HOT_SURFACE,
        np.where(noise < hot_rate + alias_noise_rate,
                 typo_surfaces[pick], canon_surfaces[pick]),
    )
    pick2 = rng.integers(0, len(canon_surfaces), size=total)
    has_m2 = rng.random(total) < 0.4
    m2 = np.where(has_m2, canon_surfaces[pick2], "")

    iso_token = np.where(
        rng.random(total) < 0.2,
        np.datetime_as_string(ts, unit="s"),
        "",
    )
    lead = rng.choice(_FILLER, size=total)
    mid = rng.choice(_FILLER, size=total)
    tail = rng.choice(_FILLER, size=total)

    text = pd.Series(lead).str.cat(
        [
            pd.Series(m1), pd.Series(mid),
            pd.Series(np.where(roles == "tool",
                               np.char.add("via ", tool_choice.astype("U")), mid)),
            pd.Series(m2), pd.Series(iso_token), pd.Series(tail),
        ],
        sep=" ",
    ).str.replace(r"\s+", " ", regex=True).str.strip()

    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": roles,
            "text": text.values,
            "tool": tools,
            "ts": ts.astype("datetime64[us]"),
        }
    )


# ---- Spark wrappers ---------------------------------------------------------

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
DICT_SCHEMA = (
    "canon_uri string, surface string, kind string, weight double, "
    "valid_from timestamp"
)


def transcripts_df(spark, n_convs: int = 100, seed: int = SEED, **kw):
    pdf = transcripts_pdf(n_convs=n_convs, seed=seed, **kw)
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).repartition(
        n_parts, "conv_id"
    )


def dictionary_df(spark, n_entities: int = 100, seed: int = SEED):
    return spark.createDataFrame(
        entity_dictionary_pdf(n_entities, seed), schema=DICT_SCHEMA
    )
