"""Seeded inputs for the benchmark: a transcripts corpus, its mutation
batches, and the query streams.

The benchmark owns these generators on purpose: the engine's own
``synth`` module may change with the program, and a workload must not
change with it. Everything here is a pure function of the seed.
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd

# The corpus has the shape of the engine's own synthesizer
# (indexer_spark/synth.py, gen_transcripts defaults), which bench.py and
# BASELINE.json measure: these values are copied, not imported, so an edit
# there cannot change a workload. The traffic is synthetic; no value here
# is fitted to real transcripts.
VOCAB_SIZE = 2000  # lowercase ASCII words of 3-10 letters
ZIPF_S = 1.1
MEAN_TURN_WORDS = 40  # Poisson, clipped to TURN_WORDS
TURN_WORDS = (5, 200)
MEAN_CONV_TURNS = 8  # geometric
TOMBSTONE_SHARE = 0.1  # edited turns whose new text is '' (the engine's delete)
ROLES = np.array(["user", "assistant", "system", "tool"])
_LETTERS = np.array(list(string.ascii_lowercase))


def make_vocab(rng: np.random.Generator) -> np.ndarray:
    """Distinct words of 3-10 random lowercase letters."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


class Generator:
    """All inputs of one run, drawn from one seed.

    Conversation ids embed the batch number, so every appended batch
    sorts after the corpus it extends and engine doc ids follow the
    global (conv_id, turn_idx) order.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = make_vocab(self.rng)
        self.probs = zipf_probs(len(self.vocab))
        self._batch = 0

    def texts(self, n: int) -> list[str]:
        lens = np.clip(self.rng.poisson(MEAN_TURN_WORDS, size=n), *TURN_WORDS)
        words = self.rng.choice(self.vocab, size=int(lens.sum()), p=self.probs)
        out, pos = [], 0
        for ln in lens:
            out.append(" ".join(words[pos:pos + ln]))
            pos += ln
        return out

    def turns(self, n: int) -> pd.DataFrame:
        """``n`` new turns in fresh conversations of the next batch."""
        batch = self._batch
        self._batch += 1
        conv_ids, turn_idxs = [], []
        c = 0
        while len(conv_ids) < n:
            ln = min(int(self.rng.geometric(1.0 / MEAN_CONV_TURNS)),
                     n - len(conv_ids))
            conv_ids.extend([f"c{batch:02d}-{c:07d}"] * ln)
            turn_idxs.extend(range(ln))
            c += 1
        return pd.DataFrame({
            "conv_id": conv_ids,
            "turn_idx": np.array(turn_idxs, dtype=np.int32),
            "role": ROLES[self.rng.integers(0, len(ROLES), size=n)],
            "text": self.texts(n),
        })

    def edits(self, live: pd.DataFrame, n: int) -> pd.DataFrame:
        """``n`` distinct existing turns with new text; a share of them
        get '' (the engine's tombstone)."""
        pick = self.rng.choice(len(live), size=n, replace=False)
        out = live.iloc[np.sort(pick)][["conv_id", "turn_idx"]].copy()
        text = self.texts(n)
        for i in np.nonzero(self.rng.random(n) < TOMBSTONE_SHARE)[0]:
            text[i] = ""
        out["text"] = text
        return out.reset_index(drop=True)

    def queries(self, ranks: tuple[int, int], n: int,
                words: tuple[int, int] = (1, 3)) -> list[str]:
        """``n`` distinct queries of words[0]..words[1] words drawn
        uniformly from vocabulary ranks [lo, hi)."""
        lo, hi = ranks
        out: list[str] = []
        seen: set[str] = set()
        while len(out) < n:
            k = int(self.rng.integers(words[0], words[1] + 1))
            q = " ".join(self.vocab[self.rng.choice(np.arange(lo, hi), size=k,
                                                    replace=False)])
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out

    def stream(self, pool_size: int, n: int) -> np.ndarray:
        """``n`` indexes into a query pool, drawn uniformly."""
        return self.rng.integers(0, pool_size, size=n)


def apply_edits(live: pd.DataFrame, edits: pd.DataFrame) -> pd.DataFrame:
    """The corpus after ``update_index(edits)``: same rows, new text."""
    new = live.set_index(["conv_id", "turn_idx"])
    new.loc[list(zip(edits["conv_id"], edits["turn_idx"])), "text"] = (
        edits["text"].to_numpy()
    )
    return new.reset_index()
