"""Seeded input generators.  The same seed gives the same inputs; every
generator also returns the truth it planted, for the reference checks."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# ------------------------------------------------------------------ read

RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
SHIPDATE_LO = 8036   # 1992-01-02 as days since the epoch
SHIPDATE_HI = 10561  # 1998-12-01


def lineitem(seed: int, n: int) -> pa.Table:
    """A lineitem-shaped table sorted on ``l_orderkey`` (1 to 7 lines per
    order, keys spaced like TPC-H's), with ``l_partkey`` spread uniformly
    over n/5 values so a point lookup matches about five rows."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, size=n // 2 + 8)
    orders = np.repeat(np.arange(1, len(lines) + 1, dtype=np.int64) * 4, lines)[:n]
    linenumber = np.arange(n) - np.searchsorted(orders, orders) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return pa.table({
        "l_orderkey": orders,
        "l_partkey": rng.integers(1, max(n // 5, 2), n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 10_001, n, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(RETURNFLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(LINESTATUS[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(
            rng.integers(SHIPDATE_LO, SHIPDATE_HI, n).astype(np.int32)
        ).cast(pa.date32()),
        "l_shipmode": pa.array(SHIPMODES[rng.integers(0, 7, n)]),
    })


def user_bytes(t: pa.Table) -> int:
    """User bytes of a table: fixed-width values at their width, strings
    and lists at their payload plus a 4-byte length; no validity or
    padding, so the figure depends only on the values."""
    total = 0
    for col in t.columns:
        ty = col.type
        if pa.types.is_string(ty) or pa.types.is_binary(ty):
            total += pc.sum(pc.binary_length(col)).as_py() + 4 * len(col)
        elif pa.types.is_list(ty):
            width = ty.value_type.bit_width // 8
            total += width * pc.sum(pc.list_value_length(col)).as_py() + 4 * len(col)
        else:
            total += ty.bit_width // 8 * len(col)
    return total


# ---------------------------------------------------------------- corpus

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
EMBED_DIM = 32


class Corpus:
    """Seeded document stream with planted structure:

    - exact duplicates (a new doc reuses an earlier doc's text);
    - near-duplicates (an earlier text with one word in ~70 replaced,
      exact word-3-gram Jaccard recorded in ``near_pairs``);
    - lengths from 10 to 300 words, some docs without stop words and
      some with '#' symbols, so the Gopher gate rejects a known share;
    - embeddings with planted neighbours (``neighbours[q] = n``: n's
      vector is q's plus 1% noise)."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        syl = [c + v for c in "bdfghklmnprstvz" for v in "aeiou"]
        words = {
            "".join(self.rng.choice(syl, int(self.rng.integers(2, 4))))
            for _ in range(3000)
        }
        self.vocab = np.array(sorted(words - set(STOPWORDS)))
        zipf = np.cumsum(1.0 / np.arange(1, len(self.vocab) + 1))
        self.cdf = zipf / zipf[-1]
        self.next_id = 0
        self.texts: dict[int, str] = {}      # every generated text, by id
        self.embeds: dict[int, np.ndarray] = {}
        self.near_pairs: dict[tuple[int, int], float] = {}
        self.neighbours: dict[int, int] = {}

    def _text(self) -> str:
        r = self.rng
        n = int(r.integers(10, 301))
        toks = list(self.vocab[np.searchsorted(self.cdf, r.random(n))])
        kind = r.random()
        if kind >= 0.06:  # stop words at ~15% of positions
            for i in np.nonzero(r.random(n) < 0.15)[0]:
                toks[i] = STOPWORDS[int(r.integers(0, len(STOPWORDS)))]
        if 0.06 <= kind < 0.10:  # symbol-heavy
            for i in np.nonzero(r.random(n) < 0.2)[0]:
                toks[i] = "#" + toks[i]
        return " ".join(toks)

    def _near(self, text: str) -> str:
        toks = text.split(" ")
        k = max(1, len(toks) // 70)
        for i in self.rng.choice(len(toks), k, replace=False):
            toks[int(i)] = str(self.rng.choice(self.vocab))
        return " ".join(toks)

    def batch(self, n: int, pool: "list[int] | None" = None,
              ids: "np.ndarray | None" = None) -> pa.Table:
        """``n`` docs with fresh ids (or the given ``ids``, for upserts).
        Duplicates and near-duplicates copy texts of ``pool`` ids (live
        docs of the table) or of docs earlier in this batch."""
        r = self.rng
        if ids is None:
            ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
            self.next_id += n
        pool = list(pool or [])
        out_text, out_emb = [], []

        def pick(i: int) -> int:
            j = int(r.integers(0, len(pool) + i))
            return int(pool[j]) if j < len(pool) else int(ids[j - len(pool)])

        for i, d in enumerate(ids.tolist()):
            has_src = bool(pool) or i > 0
            u = r.random()
            if has_src and u < 0.05:
                text = self.texts[pick(i)]
            elif has_src and u < 0.10:
                base = pick(i)
                if len(self.texts[base].split(" ")) >= 100:
                    text = self._near(self.texts[base])
                    a, b = min(base, d), max(base, d)
                    self.near_pairs[(a, b)] = jaccard(self.texts[base], text)
                else:
                    text = self._text()
            else:
                text = self._text()
            if has_src and r.random() < 0.02:
                base = pick(i)
                emb = self.embeds[base] + 0.01 * r.standard_normal(EMBED_DIM)
                self.neighbours[base] = d
            else:
                emb = r.standard_normal(EMBED_DIM)
            emb = emb.astype(np.float32)
            self.texts[d], self.embeds[d] = text, emb
            out_text.append(text)
            out_emb.append(emb)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "embedding": pa.array([e.tolist() for e in out_emb],
                                  pa.list_(pa.float32())),
        })


def shingles(text: str, k: int = 3) -> set:
    toks = text.strip().lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
