"""Expected results for every benchmark operation, computed outside the
timed passes: DuckDB over the same generated parquet for the relational
shapes (following the catalog oracles of q228 and q251), plain Python
replays of the q259 and q298 oracles, and stated quality floors for the
fit and the link scores.

An operation's expectation is a dict with an optional "digest" (row count
plus two order-free polynomial row hashes over integer columns, computed
the same way by the JVM side) and a list of value checks.
"""
import json
import math
import os
import re
import sys
from collections import defaultdict

import duckdb
import numpy as np

# digest: per row h = fold(h * B + pmod(col, M)) mod M, summed over rows
HASHES = ((2147483647, 1000003), (2147483629, 999983))

SEAFAN_HOLDOUT_MOD = 5          # rows with t % 5 == 0 are held out
AUC_SLACK = 0.06                # fitted-net AUC floor below the Bayes AUC
ACCURACY_FLOOR = 0.62
PAIR_AUC_FLOOR = 0.95
MARGINAL_ROWS = 6 * 5


def _hash_sql(cols, m, b):
    h = "0"
    for c in cols:
        h = f"(({h}) * {b} + ((CAST({c} AS BIGINT) % {m}) + {m}) % {m}) % {m}"
    return h


def digest(con, sql, cols):
    parts = ", ".join(f"coalesce(sum({_hash_sql(cols, m, b)}), 0)"
                      for m, b in HASHES)
    row = con.execute(f"SELECT count(*), {parts} FROM ({sql}) d").fetchone()
    return [int(x) for x in row]


def digest_arrays(**cols):
    """Digest of in-memory columns, the same hash as [[digest]]."""
    arrs = [np.asarray(v, dtype=np.int64) for v in cols.values()]
    out = [len(arrs[0])]
    for m, b in HASHES:
        h = np.zeros(len(arrs[0]), dtype=np.int64)
        for a in arrs:
            h = (h * b + np.mod(a, m)) % m
        out.append(int(h.sum()))
    return out


def eq(key, value):
    return {"key": key, "op": "eq", "value": value}


def close(key, value, tol):
    return {"key": key, "op": "close", "value": value, "tol": tol}


def ge(key, value):
    return {"key": key, "op": "ge", "value": value}


def le(key, value):
    return {"key": key, "op": "le", "value": value}


def _auc(scores, labels):
    """Rank AUC with ties counted half (Mann-Whitney U)."""
    order = np.argsort(scores, kind="mergesort")
    s = np.asarray(scores)[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i:j + 1] = (i + j) / 2.0 + 1.0
        i = j + 1
    lab = np.asarray(labels)[order]
    pos = lab.sum()
    neg = len(lab) - pos
    return (ranks[lab == 1].sum() - pos * (pos + 1) / 2.0) / (pos * neg)


# ---- seafan-pipeline ------------------------------------------------------

FORMULA_SQL = """
  SELECT t,
    CASE WHEN x1 > 0.5 AND x2 < 0.5 THEN 1 ELSE 0 END AS flag,
    coalesce(lag(x4) OVER (ORDER BY t), -1) AS lag4,
    sum(x4) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum4,
    datediff('day', dt, DATE '2025-01-01') AS age,
    ln(x3 + 0.001) AS lx3, x1 * x2 AS x12
  FROM seafan"""


def ref_seafan(con, d):
    con.execute(f"CREATE VIEW seafan AS SELECT * FROM "
                f"read_parquet('{d}/seafan.parquet')")
    n = con.execute("SELECT count(*) FROM seafan").fetchone()[0]
    hold = f"t % {SEAFAN_HOLDOUT_MOD} = 0"
    n_hold = con.execute(
        f"SELECT count(*) FROM seafan WHERE {hold}").fetchone()[0]
    p, y = zip(*con.execute(f"SELECT p, y FROM seafan WHERE {hold}")
               .fetchall())
    bayes_auc = _auc(np.array(p), np.array(y))
    fsum = con.execute(f"SELECT sum(lx3), sum(x12) FROM ({FORMULA_SQL})"
                       ).fetchone()
    formula_digest = digest(con, FORMULA_SQL,
                            ["t", "flag", "lag4", "cum4", "age"])
    enc = {}
    for c in ("x1", "x2", "x3"):
        loc, scale = con.execute(
            f"SELECT avg({c}), stddev_samp({c}) FROM seafan").fetchone()
        enc[f"{c}.loc"] = close(f"{c}.loc", loc, 1e-9)
        enc[f"{c}.scale"] = close(f"{c}.scale", scale, 1e-9)
    levels = con.execute("SELECT count(DISTINCT x4) FROM seafan").fetchone()[0]
    return {
        "io.Sources.parquetToPipe": {
            "digest": digest(con, "SELECT * FROM seafan",
                             ["t", "x4", "y", "x3a"])},
        "frame.SeaFrame.sort": {
            "digest": digest(con, "SELECT t AS seq, t FROM seafan",
                             ["seq", "t"])},
        "exprlang.Formula.addToPipe": {
            "digest": formula_digest,
            "checks": [close("sum_lx3", fsum[0], 1e-9),
                       close("sum_x12", fsum[1], 1e-9)]},
        "encode.Encode.fitEncode": {
            "checks": list(enc.values()) + [
                eq("x4.levels", levels), eq("onehot_sum", n),
                eq("rows", n)]},
        "ml.ModSpec.fitNative": {"checks": [eq("weights_finite", 1.0)]},
        "ml.NativeModel.transform": {
            "checks": [eq("rows", n_hold),
                       ge("auc", bayes_auc - AUC_SLACK)]},
        "functions.Stats.assess": {
            "checks": [eq("n", n_hold), ge("accuracy", ACCURACY_FLOOR)]},
        "ml.Diagnostics.marginal": {
            "checks": [eq("rows", MARGINAL_ROWS), ge("min_pred", 0.0),
                       le("max_pred", 1.0)]},
        "io.Sources.pipeToParquet": {
            "digest": formula_digest, "checks": [eq("rows", n)]},
    }


# ---- pair-census ----------------------------------------------------------

def _winnow_pairs(docs, k=8, w=8, min_shared=12, max_permille=100):
    """q259's oracle: 8-char k-grams of the lowercased alphanumeric text,
    hash fold (h * 31 + ascii) mod 1e9+7, the minimum hash of every
    window of 8 k-grams, fingerprints held by more than 10% of the
    documents dropped, then pairs sharing at least 12 fingerprints."""
    fps = {}
    for doc_id, text in docs:
        s = np.frombuffer(re.sub(r"[^a-z0-9]", "", text.lower()).encode(),
                          np.uint8).astype(np.int64)
        nk = len(s) - k + 1
        if nk < 1:
            continue
        h = np.zeros(nk, np.int64)
        for j in range(k):
            h = (h * 31 + s[j:j + nk]) % 1000000007
        mins = (np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                if nk >= w else h.min(keepdims=True))
        fps[doc_id] = set(mins.tolist())
    holders = defaultdict(list)
    for doc_id, hs in fps.items():
        for x in hs:
            holders[x].append(doc_id)
    shared = defaultdict(int)
    for ds in holders.values():
        if len(ds) * 1000 > max_permille * len(fps):
            continue
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[(a, b)] += 1
    pairs = [(a, b, n) for (a, b), n in shared.items() if n >= min_shared]
    return {"doc_a": [p[0] for p in pairs], "doc_b": [p[1] for p in pairs],
            "n_shared": [p[2] for p in pairs]}


def _containment_pairs(docs, num=19, den=20, min_tokens=8):
    """q298's oracle: distinct cleaned tokens; a (>= 8 tokens) is contained
    in b when b is not much smaller and 19/20 of a's tokens are in b."""
    toks = {}
    for doc_id, text in docs:
        t = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", "", text.lower()))
        ts = set(x for x in t.strip().split(" ") if x)
        if len(ts) >= min_tokens:
            toks[doc_id] = ts
    out = {"id_a": [], "id_b": [], "n_inter": [], "n_a": [], "n_b": []}
    for a, ta in toks.items():
        for b, tb in toks.items():
            if a != b and den * len(tb) >= num * len(ta):
                n = len(ta & tb)
                if den * n >= num * len(ta):
                    for key, v in zip(out, (a, b, n, len(ta), len(tb))):
                        out[key].append(v)
    return out


def ref_pair(con, d):
    con.execute(f"CREATE VIEW adj AS SELECT DISTINCT node, nbr FROM "
                f"read_parquet('{d}/adj.parquet')")
    docs = con.execute(f"SELECT doc_id, text FROM read_parquet("
                       f"'{d}/docs.parquet') WHERE text IS NOT NULL"
                       ).fetchall()
    cn = """
      SELECT x.node AS node_a, y.node AS node_b, count(*) AS n_common
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY 1, 2 HAVING count(*) >= 2"""
    anti = """ WHERE NOT EXISTS (SELECT 1 FROM adj e
                 WHERE e.node = p.node_a AND e.nbr = p.node_b)"""
    ls = """
      WITH deg AS (SELECT nbr, count(*) AS d FROM adj GROUP BY 1),
           w AS (SELECT nbr,
                   CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
                     AS aa_w,
                   1000000000000 // d AS ra_w
                 FROM deg WHERE d >= 2)
      SELECT x.node AS node_a, y.node AS node_b, count(*) AS n_common,
             CAST(sum(aa_w) AS BIGINT) AS aa_q,
             CAST(sum(ra_w) AS BIGINT) AS ra_q
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
           JOIN w ON w.nbr = x.nbr
      GROUP BY 1, 2 HAVING count(*) >= 2"""
    return {
        "ops.Graph.commonNeighbors": {
            "digest": digest(con, f"SELECT * FROM ({cn}) p {anti}",
                             ["node_a", "node_b", "n_common"])},
        "ops.Graph.linkScores": {
            "digest": digest(con, f"SELECT * FROM ({ls}) p {anti}",
                             ["node_a", "node_b", "n_common", "aa_q",
                              "ra_q"]),
            "checks": [ge("twin_auc", PAIR_AUC_FLOOR)]},
        "llmdata.TextAnalysis.winnowSimilarity": {
            "digest": digest_arrays(**_winnow_pairs(docs))},
        "llmdata.Dedup.containmentJoin": {
            "digest": digest_arrays(**_containment_pairs(docs))},
    }


REFERENCES = {
    "seafan-pipeline": ref_seafan,
    "pair-census": ref_pair,
}


def expected(workload, data_dir):
    """Expectations for every operation of `workload` over `data_dir`."""
    con = duckdb.connect(config={"threads": 1})
    try:
        return REFERENCES[workload](con, os.path.abspath(data_dir))
    finally:
        con.close()


def check_op(exp, op):
    """Failure reasons for one executed operation (empty when it passed).

    `op` is what the JVM reported: "error" (a thrown exception), "digest"
    and "values". A throw, a digest mismatch and a missed check all fail.
    """
    if op.get("error"):
        return [f"threw: {op['error']}"]
    bad = []
    if exp.get("digest") is not None and op.get("digest") != exp["digest"]:
        bad.append(f"digest {op.get('digest')} != {exp['digest']}")
    vals = op.get("values") or {}
    for c in exp.get("checks", []):
        v = vals.get(c["key"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            bad.append(f"{c['key']} missing")
            continue
        ok = {"eq": lambda: v == c["value"],
              "ge": lambda: v >= c["value"],
              "le": lambda: v <= c["value"],
              "close": lambda: abs(v - c["value"]) <= c["tol"] * max(
                  1.0, abs(c["value"]))}[c["op"]]()
        if not ok:
            bad.append(f"{c['key']}={v} fails {c['op']} {c['value']}")
    return bad


if __name__ == "__main__":
    # reference.py <workload> <data dir> <out.json>
    workload, data_dir, out = sys.argv[1:]
    with open(out, "w") as f:
        json.dump(expected(workload, data_dir), f)
