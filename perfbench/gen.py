"""Seeded input generators for the graft benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet, a different seed writes different data. The JVM
side never sees the seed, only these files.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# seafan-pipeline: rows of the seafan test1.csv schema (FIXTURES.md)
SEAFAN_ROWS = 40_000
# pair-census: members keyed by Zipf-degree keys plus one super-hub key
PAIR_MEMBERS = 6_000
PAIR_KEYS = 1_500                # Zipf degrees: ~150k wedges in all
PAIR_HUB_DEGREE = 1_000          # ~500k wedges on the hub alone
PAIR_TWINS = 200                 # planted member pairs sharing rare keys
PAIR_DOCS = 400

VOCAB = [f"w{i:04d}" for i in range(2_000)]
BOILERPLATE = ("terms of service apply see the full notice for details "
               "and conditions").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)


def _zipf_ranks(rng, n, size, a=1.3):
    """Draw `size` ranks in [0, n) with P(rank r) ~ 1/(r+1)^a."""
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def gen_seafan(rng, out):
    n = SEAFAN_ROWS
    t = rng.permutation(n).astype(np.int64)
    day0 = datetime.date(2020, 1, 1)
    dt = np.array([day0 + datetime.timedelta(days=int(d))
                   for d in (t // 40)], dtype="datetime64[D]")
    x1, x2, u, x3 = (rng.random(n) for _ in range(4))
    x4 = rng.integers(0, 20, n).astype(np.int32)
    eps = rng.normal(size=n)
    # the known signal: the label's log-odds are linear in x1, x2 and
    # an indicator on x4, so a fitted net has a reachable AUC ceiling
    lo = 3.0 * (x1 - 0.5) - 2.5 * (x2 - 0.5) + 1.2 * (x4 < 5) - 0.3
    lo1 = lo + 0.5 * eps
    lo2 = -lo
    sig = lambda z: 1.0 / (1.0 + np.exp(-z))
    p, p1, p2, p3 = sig(lo), sig(lo1), sig(lo2), rng.random(n)
    y = (rng.random(n) < p).astype(np.int32)
    y1 = np.digitize(p, [1 / 3, 2 / 3]).astype(np.int32)
    y2 = (rng.random(n) < p1).astype(np.int32)
    x3a = rng.integers(0, 100, n).astype(np.int32)
    ycts = lo + 0.3 * eps
    _write(pa.table({
        "t": t, "dt": pa.array(dt, pa.date32()),
        "x1": x1, "x2": x2, "u": u, "x3": x3, "x4": x4,
        "lo": lo, "lo1": lo1, "lo2": lo2, "eps": eps,
        "p": p, "p1": p1, "p2": p2, "p3": p3,
        "y": y, "y1": y1, "y2": y2, "x3a": x3a, "ycts": ycts,
    }), os.path.join(out, "seafan.parquet"))


def _doc(rng, words):
    return " ".join(VOCAB[i] for i in _zipf_ranks(rng, len(VOCAB), words))


def gen_pair(rng, out):
    # keyed members: Zipf key degrees, one super-hub key, planted twins
    m, k = PAIR_MEMBERS, PAIR_KEYS
    # key r (1-based) has Zipf degree ~ 400 / r^0.9, floored at 2
    deg = np.maximum(2, (400.0 / np.arange(1, k + 1) ** 0.9).astype(int))
    node = np.concatenate([rng.choice(m, d, replace=False) for d in deg])
    nbr = np.repeat(np.arange(1, k + 1), deg)
    node, nbr = node.astype(np.int64), nbr.astype(np.int64)
    hub = rng.choice(m, PAIR_HUB_DEGREE, replace=False).astype(np.int64)
    twins = rng.choice(m, (PAIR_TWINS, 2), replace=False).astype(np.int64)
    # each twin pair shares four private keys -> n_common >= 4
    tkey = 10_000 + np.arange(PAIR_TWINS * 4, dtype=np.int64)
    node = np.concatenate([node, hub, np.repeat(twins[:, 0], 4),
                           np.repeat(twins[:, 1], 4)])
    nbr = np.concatenate([nbr, np.zeros(hub.size, np.int64), tkey, tkey])
    _write(pa.table({"node": node, "nbr": nbr}),
           os.path.join(out, "adj.parquet"))
    # link-prediction labels: the planted twins against random pairs
    rand = rng.choice(m, (PAIR_TWINS * 10, 2))
    rand = rand[rand[:, 0] != rand[:, 1]].astype(np.int64)
    a = np.concatenate([twins.min(axis=1), rand.min(axis=1)])
    b = np.concatenate([twins.max(axis=1), rand.max(axis=1)])
    label = np.concatenate([np.ones(PAIR_TWINS, np.int32),
                            np.zeros(len(rand), np.int32)])
    _write(pa.table({"a": a, "b": b, "label": label}),
           os.path.join(out, "link_eval.parquet"))

    # documents: Zipf prose, near-copies, 12-word snippets, and a
    # boilerplate footer on a fifth of the corpus (the hub fingerprint)
    ids, texts = [], []
    base = [_doc(rng, int(w)) for w in rng.integers(40, 90, PAIR_DOCS)]
    for i, txt in enumerate(base):
        if i % 5 == 0:
            txt = txt + " " + " ".join(BOILERPLATE)
        ids.append(i)
        texts.append(txt)
    for j, src in enumerate(rng.choice(PAIR_DOCS, PAIR_DOCS // 6,
                                       replace=False)):
        words = texts[src].split()
        cut = int(rng.integers(0, len(words)))
        words[cut] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        ids.append(100_000 + j)
        texts.append(" ".join(words))
    for j, src in enumerate(rng.choice(PAIR_DOCS, PAIR_DOCS // 10,
                                       replace=False)):
        ids.append(200_000 + j)
        texts.append(" ".join(texts[src].split()[:12]))
    _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())}),
           os.path.join(out, "docs.parquet"))


GENERATORS = {
    "seafan-pipeline": gen_seafan,
    "pair-census": gen_pair,
}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](np.random.default_rng(seed), out)


def input_digest(out):
    """sha256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
