"""Seeded input generation for the benchmark workloads.

Everything here is pure Python (plus pyarrow for the panel tables). It
runs before set-up starts, in a child process of its own, so none of it
is counted in any metric, peak RSS included. The same seed always
yields the same bytes.

Two kinds of input:

- envelope NDJSON for the ingest pipeline: the reference producer's
  order events (``generate_order_events(..., unique_order_ids=False)``,
  so ``(customer_id, order_id)`` keys collide the way the reference's
  do), a fixed share of keys re-sent later with a changed amount, and a
  fixed share of malformed envelopes (bad base64, or a payload missing
  its key fields) that the pipeline must quarantine;
- a small TPC-H-style table set (plus ``events``, ``documents`` and
  ``embeddings``) for the cold operator panel of the analytics workload.
"""

from __future__ import annotations

import base64
import copy
import json
import os
import pickle
import random
import sys
from dataclasses import dataclass, field
from datetime import datetime

from aws_kinesis_data_ingestion_restapi_spark.sources.generator import (
    generate_order_events,
)

#: share of envelopes that are malformed (half bad base64, half a
#: decodable payload with a key field missing)
MALFORMED_SHARE = 0.02
#: share of good events that are re-sent later with a changed amount
RESEND_SHARE = 0.05

SERVING_FIELDS = (
    "order_date",
    "status",
    "shipping_address",
    "product_details",
)


@dataclass
class EnvelopeFile:
    """One NDJSON file of envelopes plus what the pipeline must do with it."""

    lines: list[str]
    good: list[dict] = field(default_factory=list)
    n_malformed: int = 0

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(self.lines))
            f.write("\n")


@dataclass
class Expected:
    """What the pipeline must make of one envelope file."""

    n_events: int
    n_malformed: int
    good: list[dict]


def write_envelopes(
    directory: str, n_files: int, events_per_file: int, seed: int, hidden: bool = False
) -> None:
    """Write :func:`envelope_files` to ``directory`` as ``part-00000.json``,
    ... (``.``-prefixed when ``hidden``), and pickle one :class:`Expected`
    per file to ``<directory>.expected`` for :func:`load_expected`."""
    files = envelope_files(n_files, events_per_file, seed)
    os.makedirs(directory, exist_ok=True)
    for path, f in zip(envelope_paths(directory, n_files, hidden), files):
        f.write(path)
    with open(directory + ".expected", "wb") as out:
        pickle.dump([Expected(len(f.lines), f.n_malformed, f.good) for f in files], out)


def envelope_paths(directory: str, n_files: int, hidden: bool = False) -> list[str]:
    prefix = "." if hidden else ""
    return [os.path.join(directory, f"{prefix}part-{i:05d}.json") for i in range(n_files)]


def load_expected(directory: str) -> list[Expected]:
    with open(directory + ".expected", "rb") as f:
        return pickle.load(f)


def _envelope(payload: bytes | str, rng: random.Random) -> str:
    data = payload if isinstance(payload, str) else base64.b64encode(payload).decode()
    return json.dumps(
        {
            "StreamName": "ingestion-dev",
            "PartitionKey": f"pk-{rng.randint(0, 15)}",
            "Data": data,
        }
    )


def envelope_files(n_files: int, events_per_file: int, seed: int) -> list[EnvelopeFile]:
    """``n_files`` files of ``events_per_file`` envelopes each.

    Re-sends are drawn from events of the same or an earlier file, so a
    re-send can land in a later micro-batch than its original (the
    last-write-wins case) or in the same one.
    """
    rng = random.Random(seed)
    total = n_files * events_per_file
    n_bad = round(total * MALFORMED_SHARE)
    n_resend = round(total * RESEND_SHARE)
    fresh = generate_order_events(
        total - n_bad - n_resend, seed=seed, unique_order_ids=False
    )
    kinds = ["good"] * len(fresh) + ["bad"] * n_bad + ["resend"] * n_resend
    rng.shuffle(kinds)
    # a re-send needs an earlier original: the first event sent is fresh
    first = next(i for i, kind in enumerate(kinds) if kind != "bad")
    if kinds[first] == "resend":
        j = kinds.index("good")
        kinds[first], kinds[j] = kinds[j], kinds[first]

    files = [EnvelopeFile(lines=[]) for _ in range(n_files)]
    sent: list[dict] = []
    fresh_iter = iter(fresh)
    for i, kind in enumerate(kinds):
        out = files[i // events_per_file]
        if kind == "bad":
            out.n_malformed += 1
            if rng.random() < 0.5:
                out.lines.append(_envelope("%%not-base64%%" + str(i), rng))
            else:
                broken = dict(rng.choice(fresh))
                broken.pop(rng.choice(["order_id", "customer_id"]))
                out.lines.append(_envelope(json.dumps(broken).encode(), rng))
            continue
        if kind == "good":
            event = next(fresh_iter)
        else:
            event = copy.deepcopy(rng.choice(sent))
            event["purchaise_details"]["amount"] = round(rng.uniform(10, 100), 2)
        sent.append(event)
        out.good.append(event)
        out.lines.append(_envelope(json.dumps(event).encode(), rng))
    return files


def serving_item(event: dict) -> str:
    """The serving-store row of an event in a canonical JSON form (the
    consumer drops ``purchaise_details``)."""
    return json.dumps({k: event[k] for k in SERVING_FIELDS}, sort_keys=True)


def expected_serving(batches: list[list[dict]]) -> dict[tuple, set[str]]:
    """Pure-Python last-write-wins over the good events, batch by batch.

    The store keeps the item of the last batch holding a key. Inside one
    batch the sink's choice among rows of the same key is arbitrary (as
    the reference's within-poll ``put_item`` order is), so every item of
    that batch for the key is acceptable.
    """
    store: dict[tuple, set[str]] = {}
    for batch in batches:
        seen: dict[tuple, set[str]] = {}
        for e in batch:
            seen.setdefault((e["customer_id"], e["order_id"]), set()).add(
                serving_item(e)
            )
        store.update(seen)
    return store


# ---------------------------------------------------------------------------
# panel tables (TPC-H-style star schema + events, documents, embeddings)
# ---------------------------------------------------------------------------

_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["red", "blue", "green", "cold", "small", "large", "hot", "dark"]
_PART_NOUN = ["widget", "bolt", "rod", "gear", "pipe", "valve", "nut", "spring"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "fr", "es", "zh", "de"]


def write_panel_tables(out_dir: str, seed: int) -> None:
    """Write the panel's parquet tables under ``out_dir`` as
    ``<table>.parquet``, with the 0.001 scale factor's row counts (6 000
    lineitems, 500 documents, 500 embeddings of dimension 64)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev, n_doc = 1500, 6000, 1000, 500

    def ts(start: datetime, n: int, span_days: int, frac: bool = False):
        secs = rng.integers(0, span_days * 86400, n)
        if not frac:
            secs = secs - secs % 86400
        micros = secs.astype("int64") * 1_000_000
        if frac:
            micros = micros + rng.integers(0, 1_000_000, n)
        base = int((start - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
        return pa.array(base + micros, type=pa.timestamp("us"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [prng.choice(_SEGMENTS) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{prng.choice(_PART_ADJ)} {prng.choice(_PART_NOUN)}"
                for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{prng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [
                prng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE", "MEDIUM"])
                for _ in range(n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [prng.choice("FOP") for _ in range(n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": ts(datetime(1995, 1, 1), n_ord, 2400),
            "o_orderpriority": [prng.choice(_PRIORITIES) for _ in range(n_ord)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 100000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": [prng.choice("NAR") for _ in range(n_line)],
            "l_linestatus": [prng.choice("OF") for _ in range(n_line)],
            "l_shipdate": ts(datetime(1995, 1, 2), n_line, 2400),
        },
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(ts(datetime(2024, 1, 1), n_ev, 30, frac=True).to_numpy()),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
            "event_type": [prng.choice(_EVENT_TYPES) for _ in range(n_ev)],
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [json.dumps({"k": prng.randint(0, 99)}) for _ in range(n_ev)],
        },
    }

    # documents: random word sequences plus ~10% near-duplicates of an
    # earlier document (a few words substituted), so the dedup
    # operators find pairs to emit
    texts: list[str] = []
    for i in range(n_doc):
        if texts and prng.random() < 0.10:
            words = prng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[prng.randrange(len(words))] = prng.choice(_WORDS)
            words.append("dup")
        else:
            words = [prng.choice(_WORDS) for _ in range(prng.randint(10, 99))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [prng.choice(_LANGS) for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }

    # embeddings: unit vectors around 10 label centroids
    dim, n_emb = 64, n_doc
    labels = rng.integers(0, 10, n_emb)
    cents = rng.normal(0, 1, (10, dim))
    vecs = cents[labels] + rng.normal(0, 0.8, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }

    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    # the argument is a JSON list of [function name, *args] calls. They
    # run from the imported module, so what they pickle unpickles there.
    import inputs

    functions = {f.__name__: f for f in (inputs.write_envelopes, inputs.write_panel_tables)}
    for name, *args in json.loads(sys.argv[1]):
        functions[name](*args)
