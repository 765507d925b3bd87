"""Seeded input generators. The engine only ever sees the files these write.

Two kinds of input:

* ``write_headline_tables`` writes the ten tables the headline queries
  read (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``)
  with the column types and value shapes of the engine's test fixtures.
* ``ZipfCorpus`` produces document drops for the two index workloads: text
  drawn from a Zipf vocabulary, with new documents, re-ingested versions
  and tombstones mixed per drop. Every version carries one marker token
  that occurs nowhere else, so a search for it has exactly one right
  answer: its own document while that version is current, nothing after.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
ZIPF_EXPONENT = 1.0
DOC_LEN = (24, 64)  # whitespace tokens per doc, marker included, inclusive


# --------------------------------------------------------------------------
# Index workloads: Zipf-vocabulary documents with versions and tombstones.


@dataclass(frozen=True)
class Version:
    doc_id: int
    version: int
    ts: int  # seconds after _EPOCH; strictly increasing over all versions
    dl: int  # whitespace token count, marker included

    @property
    def marker(self) -> str:
        return f"m{self.doc_id}v{self.version}"


@dataclass
class Drop:
    rows: list[dict]
    # marker token -> the doc_id a search for it must return, or None when
    # that version is superseded or its doc is tombstoned
    expect: dict[str, int | None]

    def jsonl(self) -> bytes:
        return b"".join(
            json.dumps(r, separators=(",", ":")).encode() + b"\n"
            for r in self.rows
        )


class ZipfCorpus:
    """Documents over a Zipf(``ZIPF_EXPONENT``) vocabulary of ``vocab_size``
    terms, ``DOC_LEN`` tokens long.

    Versions of a doc get strictly increasing, distinct ``ingest_ts`` (the
    retrieval index's ordering contract). ``current`` holds the latest live
    version of every doc; tombstoned docs leave it.
    """

    def __init__(self, seed: int, vocab_size: int) -> None:
        self._rng = np.random.default_rng(seed)
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks ** -ZIPF_EXPONENT
        self._cdf = np.cumsum(p / p.sum())
        self._vocab = np.array([f"w{i}" for i in range(vocab_size)])
        self._clock = 0
        self._next_id = 0
        self.current: dict[int, Version] = {}
        self.text: dict[int, str] = {}  # doc_id -> text of its current version
        self.vocab_size = vocab_size

    def _text(self, v: Version) -> str:
        draws = np.searchsorted(self._cdf, self._rng.random(v.dl - 1))
        draws = np.minimum(draws, len(self._vocab) - 1)
        return " ".join([v.marker, *self._vocab[draws].tolist()])

    def _stamp(self) -> int:
        self._clock += 1
        return self._clock

    def _write(self, doc_id: int, version: int) -> tuple[dict, Version]:
        lo, hi = DOC_LEN
        v = Version(doc_id, version, self._stamp(), int(self._rng.integers(lo, hi + 1)))
        self.current[doc_id] = v
        self.text[doc_id] = self._text(v)
        return self._row(doc_id, self.text[doc_id], v.ts, False), v

    @staticmethod
    def _row(doc_id: int, text: str | None, ts: int, deleted: bool) -> dict:
        stamp = _EPOCH + dt.timedelta(seconds=ts)
        return {
            "doc_id": doc_id,
            "text": text,
            "ingest_ts": stamp.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "deleted": deleted,
        }

    def drop(self, n_new: int, n_update: int = 0, n_delete: int = 0) -> Drop:
        """Next drop: ``n_new`` fresh docs, then ``n_update`` re-ingested
        and ``n_delete`` tombstoned docs drawn (distinct) from the live set."""
        live = sorted(self.current)
        k = min(n_update + n_delete, len(live))
        touched = self._rng.choice(live, size=k, replace=False).tolist() if k else []
        rows: list[dict] = []
        expect: dict[str, int | None] = {}
        for _ in range(n_new):
            row, v = self._write(self._next_id, 0)
            self._next_id += 1
            rows.append(row)
            expect[v.marker] = v.doc_id
        for doc_id in touched[:n_update]:
            old = self.current[doc_id]
            row, v = self._write(doc_id, old.version + 1)
            rows.append(row)
            expect[old.marker] = None
            expect[v.marker] = doc_id
        for doc_id in touched[n_update:]:
            old = self.current.pop(doc_id)
            del self.text[doc_id]
            rows.append(self._row(doc_id, None, self._stamp(), True))
            expect[old.marker] = None
        return Drop(rows, expect)

    def max_df(self) -> int:
        """Live docs holding the most common term."""
        df = Counter(t for text in self.text.values() for t in set(text.split()[1:]))
        return max(df.values(), default=0)

    def stats(self) -> tuple[int, float]:
        """(N, avgdl) of the live corpus, as the index must serve them."""
        n = len(self.current)
        return n, (sum(v.dl for v in self.current.values()) / n if n else float("nan"))


def write_drop(drop_dir: str, seq: int, drop: Drop) -> str:
    """Write one drop as ``drop-<seq>.jsonl``; the name sorts by sequence."""
    path = os.path.join(drop_dir, f"drop-{seq:06d}.jsonl")
    tmp = os.path.join(drop_dir, f".drop-{seq:06d}.tmp")
    with open(tmp, "wb") as f:
        f.write(drop.jsonl())
    os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# Headline tables.

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# the fixtures' 30-word text vocabulary ("dup" marks near-duplicates)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def headline_tables(seed: int, docs: int) -> dict[str, pa.Table]:
    """The ten input tables, sized like the 0.01 scale-factor fixture
    (``docs`` documents and embeddings, 120x that many lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 3 * docs, docs // 5, 4 * docs
    n_ord, n_line, n_ev = 30 * docs, 120 * docs, 20 * docs
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100))).tolist()))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, docs, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(docs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(docs), pa.int64()),
            "embedding": pa.array(emb.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, docs), pa.int32()),
        }
    )
    return t


def write_headline_tables(out_dir: str, seed: int, docs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in headline_tables(seed, docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
