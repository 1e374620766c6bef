"""Seeded transcript corpora for the end-to-end benchmark.

Nothing here imports the engine, so a change to the package cannot change
the benchmark's inputs. The same (shape, seed) always gives the same rows.

A corpus has ``shape.turns`` turns in total. All but ``PROBE_TURNS`` of them
are drawn from the seed: conversations of geometric length, turn lengths
from a clipped lognormal, and terms from a Zipf law over a synthetic
vocabulary of consonant-vowel words (a few upper-cased, a few ending in a
digit) joined by spaces and punctuation. A handful of turns carry no token
at all, so documents of length 0 are present.

The other turns form two fixed conversations that hold the only
occurrences of ``PROBE_TERM``. They sort first and last by conv_id, so
their docIDs are 1..12 and the last 13 of the corpus, whatever the seed.
Twelve early turns and twelve late ones hold the term once in a 3-token
turn, so all 24 score exactly alike; one late turn holds it twice. The
exact top-10 for the query ``[PROBE_TERM]`` is therefore the late
double-hit turn followed by docIDs 1..9, decided entirely by the doc_id
tie-break between equal scores in different doc_id buckets.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["bash", "search", "browser", "python"], dtype=object)
_SEPS = np.array([" "] * 12 + [", ", ". ", "? ", " - ", ": ", "! ", "\n"], dtype=object)
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]

PROBE_TERM = "tieprobe"  # "ie" never occurs in a consonant-vowel word
PROBE_FILL = "probefill"
PROBE_TURNS = 25
LO_PROBE_CONV = "0-probe-lo"  # sorts before every "conv-…" id
HI_PROBE_CONV = "zz-probe-hi"  # sorts after every "conv-…" id


@dataclass(frozen=True)
class CorpusShape:
    turns: int
    vocab: int
    zipf_s: float = 1.05
    turns_per_conv: float = 8.0
    len_median: float = 16.0
    len_sigma: float = 0.85
    max_len: int = 160
    files: int = 8


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lower-case words of 2-4 consonant-vowel syllables;
    about 4% end in a digit."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if rng.random() < 0.04:
            w += str(int(rng.integers(0, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _probe_rows() -> list[tuple[str, int, str]]:
    single = f"{PROBE_TERM} {PROBE_FILL} {PROBE_FILL}."
    rows = [(LO_PROBE_CONV, i, single.capitalize()) for i in range(12)]
    rows += [(HI_PROBE_CONV, i, single) for i in range(12)]
    rows.append((HI_PROBE_CONV, 12, f"{PROBE_TERM.upper()} {PROBE_TERM} {PROBE_FILL}!"))
    return rows


def make_corpus(shape: CorpusShape, seed: int) -> pd.DataFrame:
    """Transcript rows (conv_id, turn_idx, role, text, tool, ts), shuffled."""
    rng = np.random.default_rng([seed, shape.turns, shape.vocab])
    n = shape.turns - PROBE_TURNS
    words = vocabulary(rng, shape.vocab)
    shout = rng.random(shape.vocab) < 0.01
    words_shown = np.where(shout, np.char.upper(words.astype(str)).astype(object), words)

    # conversation lengths: geometric, trimmed so the turns add up to n
    lens = rng.geometric(1.0 / shape.turns_per_conv, size=n)
    ends = np.cumsum(lens)
    n_convs = int(np.searchsorted(ends, n)) + 1
    lens = lens[:n_convs]
    lens[-1] -= int(ends[n_convs - 1]) - n
    conv_of = np.repeat(np.arange(n_convs), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    turn_idx = np.arange(n) - np.repeat(starts, lens)
    hexes = rng.choice(16**9, size=n_convs * 2, replace=False)[:n_convs]
    conv_names = np.array([f"conv-{h:09x}" for h in hexes], dtype=object)

    # turn lengths and Zipf term draws
    tok_len = np.clip(
        np.rint(rng.lognormal(np.log(shape.len_median), shape.len_sigma, n)), 1, shape.max_len
    ).astype(np.int64)
    tok_len[rng.random(n) < 0.002] = 0  # token-free turns ("...")
    p = 1.0 / np.arange(1, shape.vocab + 1) ** shape.zipf_s
    cdf = np.cumsum(p / p.sum())
    total = int(tok_len.sum())
    ids = np.minimum(np.searchsorted(cdf, rng.random(total)), shape.vocab - 1)
    seps = _SEPS[rng.integers(0, len(_SEPS), total)]
    toks = words_shown[ids]

    texts = np.empty(n, dtype=object)
    pos = 0
    for i, m in enumerate(tok_len.tolist()):
        if m == 0:
            texts[i] = "..."
            continue
        t = toks[pos : pos + m].tolist()
        s = seps[pos : pos + m].tolist()
        pos += m
        t[0] = t[0].capitalize()
        s[-1] = "."
        texts[i] = "".join(a + b for a, b in zip(t, s)).rstrip("\n ")

    roles = ROLES[turn_idx % 4]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, len(TOOLS), n)], None)
    base = np.datetime64("2026-01-01T00:00:00")
    ts = base + (rng.integers(0, 60, n).cumsum()).astype("timedelta64[s]")

    probe = _probe_rows()
    pdf = pd.DataFrame(
        {
            "conv_id": np.concatenate((conv_names[conv_of], [r[0] for r in probe])),
            "turn_idx": np.concatenate((turn_idx, [r[1] for r in probe])).astype(np.int32),
            "role": np.concatenate((roles, ["user"] * len(probe))),
            "text": np.concatenate((texts, [r[2] for r in probe])),
            "tool": np.concatenate((tools, [None] * len(probe))),
            "ts": np.concatenate((ts, [base] * len(probe))).astype("datetime64[us]"),
        }
    )
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def write_corpus(pdf: pd.DataFrame, path: Path, files: int) -> None:
    """Write ``pdf`` as ``files`` parquet parts under ``path``, atomically."""
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    per = -(-len(pdf) // files)
    for i in range(files):
        part = pdf.iloc[i * per : (i + 1) * per]
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(table, tmp / f"part-{i:03d}.parquet")
    tmp.rename(path)
