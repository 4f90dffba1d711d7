"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, shape)`` and writes
parquet (or CSV) with pyarrow, so the same seed gives byte-identical
files; :func:`content_hash` fingerprints a directory for the run
record. The engine only ever sees these files.

Shapes:

- ``write_ticks``: long-layout tick table in the ``events`` schema
  (``spread_batch``).
- ``write_wide_tables``: reference-shaped ``train`` / ``train_labels``
  / ``target_pairs`` with row-correlated label nulls
  (``signal_serving`` set-up: the offline pipeline that produces the
  served frame).
- ``write_mix_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` tables the ``operator_mix`` queries
  read.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = (
    "a the data spark table query scan sort hash join merge window group agg "
    "filter value key row column line part order customer vector stream batch "
    "fast slow big small"
).split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


@dataclass(frozen=True)
class TickShape:
    instruments: int
    days: int
    ticks_per_day: int

    @property
    def rows(self) -> int:
        return self.instruments * self.days * self.ticks_per_day


@dataclass(frozen=True)
class WideShape:
    days: int
    markets: int
    targets: int


@dataclass(frozen=True)
class MixShape:
    customers: int
    orders: int
    lines_per_order: int
    events: int
    users: int
    documents: int
    vectors: int
    dim: int = 64


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    """Deterministic parquet write; ``row_groups`` > 1 lets Spark split
    one file across cores."""
    size = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=size, compression="snappy")


def content_hash(directory: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(directory):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, directory).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _strings(values, idx: np.ndarray) -> pa.Array:
    """``values[idx]`` as a plain string column, built through a
    dictionary array (fast for millions of rows)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(values))
    ).cast(pa.string())


def _events_table(
    rng: np.random.Generator, user_id: np.ndarray, ts: np.ndarray, value: np.ndarray
) -> pa.Table:
    n = len(user_id)
    props = [f'{{"k": {k}}}' for k in range(100)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": _strings(EVENT_TYPES, rng.integers(0, len(EVENT_TYPES), n)),
            "value": pa.array(np.round(value, 2)),
            "props": _strings(props, rng.integers(0, 100, n)),
        }
    )


def write_ticks(out_dir: str, seed: int, shape: TickShape) -> None:
    """``events.parquet``: ``ticks_per_day`` ticks per instrument per
    day, prices a per-instrument daily random walk plus tick noise, in
    (instrument, day, time) order."""
    rng = np.random.default_rng([seed, 1])
    n_i, n_d, n_t = shape.instruments, shape.days, shape.ticks_per_day
    base = rng.uniform(20.0, 200.0, n_i)
    walk = np.exp(np.cumsum(rng.normal(0.0, 0.02, (n_i, n_d)), axis=1))
    daily = (base[:, None] * walk)[:, :, None]
    px = daily * (1.0 + rng.normal(0.0, 0.002, (n_i, n_d, n_t)))
    offsets = np.sort(rng.integers(0, US_PER_DAY, (n_i, n_d, n_t)), axis=2)
    day_us = (np.arange(n_d, dtype=np.int64) * US_PER_DAY)[None, :, None]
    ts = EPOCH_2024 + (day_us + offsets).astype("timedelta64[us]")
    user = np.broadcast_to(np.arange(n_i)[:, None, None], (n_i, n_d, n_t))
    os.makedirs(out_dir, exist_ok=True)
    _write(
        _events_table(rng, user.ravel(), ts.ravel(), px.ravel()),
        os.path.join(out_dir, "events.parquet"),
        row_groups=16,
    )


def market_names(n: int) -> list[str]:
    return [f"M{i:03d}_Close" for i in range(n)]


def write_wide_tables(out_dir: str, seed: int, shape: WideShape) -> None:
    """``train`` (date_id + market prices, three late-listed columns
    ~87 % null, the rest with 2-10 % scattered nulls), ``train_labels``
    (date_id + targets; ~43 % of days carry nulls in a random subset of
    targets, so an any-null row drop keeps ~57 % of days) and
    ``target_pairs`` (a distinct ``"A - B"`` spread per target, lag 1-4,
    legs drawn from the dense markets; see README "Defects" for why no
    pair repeats)."""
    rng = np.random.default_rng([seed, 2])
    n_d, n_m, n_t = shape.days, shape.markets, shape.targets
    names = market_names(n_m)
    logp = np.log(rng.uniform(10.0, 500.0, n_m)) + np.cumsum(
        rng.normal(0.0, 0.02, (n_d, n_m)), axis=0
    )
    prices = np.exp(logp)
    mask = np.zeros((n_d, n_m), dtype=bool)
    mask[: int(n_d * 0.87), :3] = True
    mask[:, 3:] = rng.random((n_d, n_m - 3)) < rng.uniform(0.02, 0.10, n_m - 3)
    prices[mask] = np.nan
    os.makedirs(out_dir, exist_ok=True)
    train = {"date_id": pa.array(np.arange(n_d, dtype=np.int64))}
    train.update({c: pa.array(prices[:, j], from_pandas=True) for j, c in enumerate(names)})
    _write(pa.table(train), os.path.join(out_dir, "train.parquet"))

    rets = np.diff(logp, axis=0, prepend=logp[:1])
    pairs, seen, labels = [], set(), np.empty((n_d, n_t))
    while len(pairs) < n_t:
        a, b = (int(v) for v in rng.choice(np.arange(3, n_m), 2, replace=False))
        if (a, b) in seen:
            continue
        seen.add((a, b))
        k = len(pairs)
        pairs.append((f"target_{k}", k % 4 + 1, f"{names[a]} - {names[b]}"))
        labels[:, k] = rets[:, a] - rets[:, b] + rng.normal(0.0, 0.01 * (1 + k % 7), n_d)
    bad_day = rng.random(n_d) < 0.43
    lmask = bad_day[:, None] & (rng.random((n_d, n_t)) < rng.uniform(0.04, 0.19, n_t))
    lmask[bad_day, rng.integers(0, n_t, int(bad_day.sum()))] = True
    labels[lmask] = np.nan
    lab = {"date_id": pa.array(np.arange(n_d, dtype=np.int64))}
    lab.update({f"target_{k}": pa.array(labels[:, k], from_pandas=True) for k in range(n_t)})
    _write(pa.table(lab), os.path.join(out_dir, "train_labels.parquet"))
    _write(
        pa.table(
            {
                "target": pa.array([p[0] for p in pairs]),
                "lag": pa.array([p[1] for p in pairs], type=pa.int32()),
                "pair": pa.array([p[2] for p in pairs]),
            }
        ),
        os.path.join(out_dir, "target_pairs.parquet"),
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts over a small vocabulary; every 10th document
    is a light edit of an earlier one, so near-duplicates exist."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
            "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """Ten Gaussian clusters, unit-normalized float32 vectors."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_mix_tables(out_dir: str, seed: int, shape: MixShape) -> None:
    """customer / orders / lineitem (TPC-H Q3 columns), events (one
    month of uniformly spread events), documents and embeddings."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_o = shape.customers, shape.orders
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
                "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), n_c)]),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odays = rng.integers(0, 2404, n_o)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_o)]),
                "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n_o), 2)),
                "o_orderdate": pa.array(
                    day0 + (odays * US_PER_DAY).astype("timedelta64[us]"),
                    type=pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_o)]),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    n_l = n_o * shape.lines_per_order
    lorder = rng.integers(0, n_o, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship = odays[lorder] + rng.integers(1, 122, n_l)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(lorder.astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, 20000, n_l).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, 1000, n_l).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
                "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_l)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_l)]),
                "l_shipdate": pa.array(
                    day0 + (ship * US_PER_DAY).astype("timedelta64[us]"),
                    type=pa.timestamp("us"),
                ),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
        row_groups=4,
    )
    n_e = shape.events
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_e)).astype("timedelta64[us]")
    _write(
        _events_table(rng, rng.integers(0, shape.users, n_e), ts, rng.uniform(0.5, 250.0, n_e)),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(_documents(rng, shape.documents), os.path.join(out_dir, "documents.parquet"))
    _write(
        _embeddings(rng, shape.vectors, shape.dim), os.path.join(out_dir, "embeddings.parquet")
    )
