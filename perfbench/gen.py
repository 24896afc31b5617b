"""Generator of the warehouse's base tables, shaped like the repository's
test data.

Writes `customer`, `orders`, `lineitem`, `events`, `documents` and
`embeddings` (the tables `graft.core.TopicDb` and the benchmark read), one
parquet file each, with the test data's schemas, row counts per scale
factor and value distributions (measured on its sf0.001/sf0.01/sf0.1 sets;
the comparison is in README.md):

- row counts: 150k·sf customers, 1.5M·sf orders, 4 lineitems per order,
  1M·sf events over 15k·sf users, max(500, 50k·sf) documents,
  max(500, 20k·sf) embeddings;
- keys, categories and dates uniform over their test-data ranges;
- events: 30 days from 2024-01-01, ascending with event_id, uniform
  users and event types, exponential `value` (mean 50);
- documents: 10-99 words drawn uniformly from a 30-word vocabulary; 5%
  of them are a copy of another document with " dup" appended (the fuzzy
  dedup's near-duplicates); ~40% `en`, the rest zh/es/de/fr;
- embeddings: 64-dim unit vectors of a normal draw (no near-duplicates),
  labels 0-9.

`events_scale` > 1 replicates the events the way `graft.tools.GenScale`
does: each replica offsets event_id and user_id by their stride and keeps
the timestamps, so the same 30 days carry `events_scale` times the traffic.

The tables do not depend on the benchmark's seed: the same
(sf, events_scale) always gives the same tables. The seed only salts how
the benchmark cuts and orders the feed.

    python3 perfbench/gen.py <out_dir> <sf> [events_scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group stream filter big vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01, µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01, µs
TS = pa.timestamp("us")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng, values, n, p=None):
    return pa.array(np.array(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return pa.array(EPOCH_1995 + rng.integers(lo, hi + 1, n) * US_PER_DAY, TS)


def generate(out_dir, sf, events_scale=1):
    rng = np.random.default_rng(SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, round(150_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(100, round(1_000_000 * sf))
    n_users = max(10, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })

    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, max(20, round(200_000 * sf)), n_li),
        "l_suppkey": rng.integers(0, max(10, round(10_000 * sf)), n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })

    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    ev_user = rng.integers(0, n_users, n_ev)
    ev_type = _pick(rng, EVENT_TYPES, n_ev)
    ev_value = np.round(rng.exponential(50.0, n_ev), 2)
    ev_props = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])
    # GenScale-style replicas: replica r offsets event_id and user_id by r
    # strides and keeps ts, type, value and props
    reps = np.repeat(np.arange(events_scale, dtype=np.int64), n_ev)
    _write(out_dir, "events", {
        "event_id": np.tile(np.arange(n_ev, dtype=np.int64), events_scale) + reps * n_ev,
        "ts": pa.array(np.tile(ev_ts, events_scale), TS),
        "user_id": np.tile(ev_user, events_scale) + reps * n_users,
        "event_type": pa.concat_arrays([ev_type] * events_scale),
        "value": np.tile(ev_value, events_scale),
        "props": pa.concat_arrays([ev_props] * events_scale),
    })

    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(10, 100, n_docs)]
    # one document in twenty repeats another one, with " dup" appended
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1)
