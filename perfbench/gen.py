"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy/PyArrow: no Spark session, no
file of the engine. The same ``seed`` always yields byte-identical
inputs, so a run can be repeated exactly and two commits can be fed the
same data.

Three generators, one per input family:

- :func:`make_tables` writes the ten synthetic tables the registry's
  queries read (``<dir>/<table>.parquet``), shaped like the test
  fixtures of TESTDATA.md: a TPC-H-ish star schema plus ``events``, ``documents``
  (with ~5% near-duplicate documents) and unit-norm ``embeddings``.
- :class:`TweetDrops` yields one drop of raw tweet JSON lines per ETL
  cycle, with ~5% of each drop redelivered from the previous drop, and
  the exact number of rows the pipeline must load for it.
- :func:`front_door_lines` builds JSON lines from generated documents
  with schema breaches, secrets and orphan foreign keys planted at
  seeded rates, and returns how many of each it planted.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixture corpus vocabulary (documents.text tokens)
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input family), so adding a
    draw to one family never shifts another's inputs."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Space-separated token documents; ~5% are an earlier document
    with one or two ``dup`` tokens appended (the fixture's near-dups)."""
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups:
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return texts


def _ts(base: dt.datetime, us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + us.astype(np.int64), pa.timestamp("us"))


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf``; return row
    counts. Row counts follow the fixtures' (lineitem = 6M x sf)."""
    rng = rng_for(seed, "tables")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_ev = max(600, int(6_000_000 * sf)), max(100, int(1_000_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day_us = 86_400 * 1_000_000
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, 2400, n_ord) * day_us
            ),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_line) * day_us
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), ev_us),
            "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _docs(rng, n_doc)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- ETL


#: documents the tweets take their text from, as in the engine's own
#: tweet model (``sources/tweets.py``: ``doc_id = event_id % 500``)
TWEET_DOCS = 500


def _clean_hashtags(s: str) -> list[str]:
    """The pipeline's F2 + split + drop-empty over ASCII input: keep
    [A-Za-z0-9] and whitespace, split on single spaces, drop empties."""
    return [t for t in re.sub(r"[^A-Za-z0-9\s]+", "", s).split(" ") if t]


class TweetDrops:
    """One drop of raw tweet JSON lines per ETL cycle.

    Drop ``k`` holds ``n`` new tweets created on day ``k`` plus ~5%
    exact redeliveries of tweets from drop ``k - 1``. Each tweet is
    shaped like the engine's own tweet model (``sources/tweets.py``):
    tweet ``t`` takes document ``t % 500`` of a seeded corpus shaped
    like the fixture documents (10-99 tokens); its text is that
    document as a noisy retweet, its hashtags the document's first
    three tokens, except that every 13th tweet has none, and every
    11th has ``rt_count <= 99``. Both fail the ingest filter, so about
    2.4 (record, hashtag) rows are loaded per raw tweet.
    :meth:`drop` returns the lines and the rows the pipeline must
    stage and newly load for them."""

    def __init__(self, seed: int, n: int, redeliver: float = 0.05):
        self.rng = rng_for(seed, "tweets")
        self.docs = _docs(self.rng, TWEET_DOCS)
        self.n = n
        self.redeliver = redeliver
        self._prev: list[dict] = []
        self._next_id = 0

    def _tweet(self, day: dt.datetime) -> dict:
        rng = self.rng
        tid = self._next_id
        self._next_id += 1
        doc = self.docs[tid % TWEET_DOCS]
        # events.value ~ exponential(50), floored, as in the fixture
        value = int(rng.exponential(50.0))
        return {
            "created": (day + dt.timedelta(seconds=int(rng.integers(0, 86_400)))).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "tweet_id": str(tid),
            "user_name": f"user_{int(rng.integers(0, 5000))}",
            "rt_count": value % 100 if tid % 11 == 0 else value + 100,
            "hashtags": "" if tid % 13 == 0 else " ".join(doc.split(" ")[:3]),
            "text": f'RT {doc} https://t.co/x1 "q" & amp;',
        }

    @staticmethod
    def passes(rec: dict) -> bool:
        """The ingest filter (P3)."""
        return rec["rt_count"] > 99 and rec["hashtags"] != "" and rec["text"] != ""

    def drop(self, k: int) -> tuple[list[str], int, int]:
        """(json lines, expected newly loaded rows, expected staged rows)
        for cycle ``k``."""
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=k)
        fresh = [self._tweet(day) for _ in range(self.n)]
        n_re = int(round(self.redeliver * len(self._prev)))
        picks = sorted(self.rng.choice(len(self._prev), n_re, replace=False)) if n_re else []
        again = [self._prev[i] for i in picks]
        self._prev = fresh
        rows = fresh + again
        order = self.rng.permutation(len(rows))
        lines = [json.dumps(rows[i], ensure_ascii=False) for i in order]
        loaded = sum(len(set(_clean_hashtags(r["hashtags"]))) for r in fresh if self.passes(r))
        staged = loaded + sum(
            len(set(_clean_hashtags(r["hashtags"]))) for r in again if self.passes(r)
        )
        return lines, loaded, staged


# ---------------------------------------------------------- front door


FD_RATES = {"schema": 0.03, "secret": 0.02, "orphan": 0.04}
FD_SOURCES = [f"src{i}" for i in range(N_SOURCES)]


def _secret(rng: np.random.Generator) -> str:
    alnum = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    return "AKIA" + "".join(alnum[rng.integers(0, len(alnum), 16)])


def front_door_lines(seed: int, batch: int, n: int) -> tuple[list[str], dict[str, int]]:
    """``n`` JSON lines of (doc_id, text, source) for micro-batch
    ``batch``, with each breach class planted at its ``FD_RATES`` rate
    (each line carries at most one). Returns the lines and the count
    of each class, ``clean`` included."""
    rng = rng_for(seed, f"front_door/{batch}")
    texts = _docs(rng, n)
    kind = rng.random(n)
    counts = {"clean": 0, "schema": 0, "secret": 0, "orphan": 0}
    lines = []
    cut_schema = FD_RATES["schema"]
    cut_secret = cut_schema + FD_RATES["secret"]
    cut_orphan = cut_secret + FD_RATES["orphan"]
    for i in range(n):
        doc_id = batch * n + i
        rec: dict = {"doc_id": doc_id, "text": texts[i], "source": FD_SOURCES[i % N_SOURCES]}
        u = kind[i]
        if u < cut_schema:
            counts["schema"] += 1
            breach = int(rng.integers(0, 3))
            if breach == 0:
                lines.append("{garbage " + texts[i][:20])
                continue
            if breach == 1:
                del rec["doc_id"]
            else:
                rec["doc_id"] = f"id-{doc_id}"
        elif u < cut_secret:
            counts["secret"] += 1
            rec["text"] = f"{texts[i]} key={_secret(rng)}"
        elif u < cut_orphan:
            counts["orphan"] += 1
            rec["source"] = f"unknown{int(rng.integers(0, 5))}"
        else:
            counts["clean"] += 1
        lines.append(json.dumps(rec))
    return lines, counts
