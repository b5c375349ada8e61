"""Seeded input generator for the benchmark.

Every input a workload reads is made here from the seed alone, with
numpy's PCG64 generator, and written with pyarrow. pyarrow's parquet
writer is deterministic, so the same seed gives byte-identical files
and another seed gives other files (see test_perfbench.py).

Layout under the output directory:

  draws.json                serve_gold's request sequence (query names);
                            the tables it serves are the committed
                            fixture/sf0.01 testdata copy
  mor/base.parquet          the orders slice mor_dml commits at set-up:
                            150k rows, the shape of sf0.1 orders
  mor/batch_NNNN.parquet    CDC batches for ManifestTable.mergeBatchDV
  mor/ops.json              the op sequence: a merge, an update and a
                            delete, and the reads after them
  corpus/warmup_N.parquet   warm-up document batches
  corpus/batch_NNNN.parquet document batches for corpus_ingest
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)

# mor_dml shape: more ops than a run of at most 60 s executes
MOR_OPS = 40
MOR_BATCH_ROWS = 1500
MOR_UPDATE_SHARE = 0.8
MOR_RANGE_KEYS = 600
MOR_READ_KEYS = 3000
MOR_READ_STRIDE = 37_003

# serve_gold: a fixed subset of the 34 read-only declared queries
# (Relational q01-q12, GoldQueries q34-q48, EdwQueries q49-q51,
# q63-q65, q78): aggregation, the SQL-view path, a heavy gold query
# (q44) and an EDW mart. Small enough that a run warms every query
# once and then serves the whole mix several times.
SERVE_MIX = [
    "q01_pricing_summary", "q12_watermark_filter", "q44_gold_sla_rootcause",
    "q51_edw_fact_sales"]
SERVE_ROUNDS = 40

# corpus_ingest shape
CORPUS_BATCHES = 60
CORPUS_BATCH_DOCS = 250
CORPUS_EXACT_SHARE = 0.15
CORPUS_NEAR_SHARE = 0.15
CORPUS_SHORT_SHARE = 0.05
CORPUS_WARMUP_DOCS = 250
CORPUS_WARMUP_BATCHES = 3


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_orders(rng, n):
    """The TPC-H-shaped orders table of the sf0.1 testdata (150k rows):
    its value ranges and types."""
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n // 10, n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def random_text(rng, lo=10, hi=101):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(lo, hi))])


def docs_table(rng, ids, texts):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def perturb(rng, text):
    """A near repeat: one token replaced, so 3-shingle Jaccard stays high."""
    toks = text.split()
    toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(toks)


def make_draws(rng, out):
    """serve_gold's request sequence: rounds, each a seeded permutation
    of the mix, so every run serves the whole mix in a seeded order."""
    draws = [SERVE_MIX[i] for _ in range(SERVE_ROUNDS)
             for i in rng.permutation(len(SERVE_MIX))]
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/draws.json", "w") as f:
        json.dump(draws, f, indent=0)


def make_corpus(rng, out):
    """Batches with increasing doc_ids; a share of each batch repeats
    an earlier doc verbatim, a share repeats one with a token changed,
    a few are too short for the quality envelope. The warm-up batches
    exercise the code paths before the measured stream."""
    for w in range(CORPUS_WARMUP_BATCHES):
        texts = [random_text(rng, 30, 101) for _ in range(CORPUS_WARMUP_DOCS)]
        texts[-1] = texts[0]
        _write(docs_table(rng, np.arange(len(texts), dtype=np.int64), texts),
               f"{out}/corpus/warmup_{w}.parquet")
    history, next_id = [], 0
    for b in range(CORPUS_BATCHES):
        texts = []
        for _ in range(CORPUS_BATCH_DOCS):
            u = rng.random()
            if history and u < CORPUS_EXACT_SHARE:
                texts.append(history[rng.integers(0, len(history))])
            elif history and u < CORPUS_EXACT_SHARE + CORPUS_NEAR_SHARE:
                texts.append(perturb(rng, history[rng.integers(0, len(history))]))
            elif u > 1.0 - CORPUS_SHORT_SHARE:
                texts.append(random_text(rng, 2, 4))
            else:
                texts.append(random_text(rng, 30, 101))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        history.extend(texts)
        _write(docs_table(rng, ids, texts), f"{out}/corpus/batch_{b:04d}.parquet")


def mor_slice(keys, cust, status, price):
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": status,
        "o_totalprice": pa.array(price, pa.float64()),
        "o_key_s": [str(k) for k in keys]})


def make_mor(rng, orders, out):
    """The base table and a seeded DML sequence over it. Each op merges
    one CDC batch, updates one key range and deletes another, then
    reads a key range and probes a live key. The read ranges step
    through the key space at the same positions for every seed, so the
    read work does not depend on the seed. The generator tracks the live
    key set, so updates hit live keys and no op fails."""
    keys = orders.column("o_orderkey").to_numpy()
    _write(mor_slice(keys, orders.column("o_custkey").to_numpy(),
                     orders.column("o_orderstatus").to_numpy(zero_copy_only=False),
                     orders.column("o_totalprice").to_numpy()),
           f"{out}/mor/base.parquet")
    live = np.zeros(len(keys) + MOR_OPS * MOR_BATCH_ROWS, dtype=bool)
    live[:len(keys)] = True
    next_key = len(keys)
    ops = []
    for i in range(MOR_OPS):
        n_upd = int(MOR_BATCH_ROWS * MOR_UPDATE_SHARE)
        upd = rng.choice(np.flatnonzero(live), n_upd, replace=False)
        new = np.arange(next_key, next_key + MOR_BATCH_ROWS - n_upd)
        next_key += len(new)
        live[new] = True
        k = np.sort(np.concatenate([upd, new])).astype(np.int64)
        batch = f"batch_{i:04d}.parquet"
        _write(mor_slice(k, rng.integers(0, 15000, len(k)),
                         np.array(["F", "O", "P"])[rng.integers(0, 3, len(k))],
                         _money(rng, 1000.0, 500000.0, len(k))),
               f"{out}/mor/{batch}")
        upd_lo, del_lo = (int(x) for x in rng.integers(0, next_key - MOR_RANGE_KEYS, 2))
        live[del_lo:del_lo + MOR_RANGE_KEYS] = False
        read_lo = i * MOR_READ_STRIDE % (len(keys) - MOR_READ_KEYS)
        ops.append({"batch": batch,
                    "update_lo": upd_lo, "update_hi": upd_lo + MOR_RANGE_KEYS,
                    "delete_lo": del_lo, "delete_hi": del_lo + MOR_RANGE_KEYS,
                    "read_lo": read_lo, "read_hi": read_lo + MOR_READ_KEYS,
                    "probe": int(rng.choice(np.flatnonzero(live)))})
    with open(f"{out}/mor/ops.json", "w") as f:
        json.dump(ops, f, indent=0)


WORKLOADS = ("serve_gold", "mor_dml", "corpus_ingest")
MOR_ORDERS = 150_000


def generate(out, workload, seed):
    """Write every input of `workload` under `out`. Each workload draws
    from its own stream of the seed, so workloads do not share inputs."""
    ss = np.random.SeedSequence([seed, WORKLOADS.index(workload)])
    rng = np.random.Generator(np.random.PCG64(ss))
    if workload == "serve_gold":
        make_draws(rng, out)
    elif workload == "mor_dml":
        make_mor(rng, make_orders(rng, MOR_ORDERS), out)
    else:
        make_corpus(rng, out)
