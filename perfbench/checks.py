"""Output checks, run after the JVM has exited (outside the timed region).

Each check compares what an op returned or wrote with an independent
computation over the same seeded inputs: DuckDB SQL for the pipeline and
the stream, exact Jaccard / containment / TF-IDF cosine / vector cosine in
Python for the similarity kernels and index probes. `run` returns
{op id: reason} for every op whose output is wrong.
"""
import glob
import math
import os
from collections import Counter, defaultdict

import duckdb
import numpy as np

# LSH kernels may miss pairs; below this recall an op counts as failed.
# SimHash bands Hamming distance of 64-bit signatures, which separates
# Jaccard-0.5 pairs far less sharply than MinHash banding does.
RECALL = {"minhash": 0.9, "simhash": 0.5, "probe": 0.9, "emb_probe": 0.9}


def run(res, data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = {}
    cache = {}
    for c in res["checks"]:
        kind = c["kind"]
        try:
            if kind == "pipeline":
                why = pipeline(con, data, c, cache)
            elif kind == "neardup":
                why = neardup(con, data, c, cache)
            elif kind == "minhash_probe":
                why = minhash_probe(con, data, c, cache)
            elif kind == "emb_probe":
                why = emb_probe(con, data, c, cache)
            elif kind == "stream":
                why = stream(con, data, c, cache)
            else:
                why = f"unknown check {kind}"
        except Exception as e:  # a malformed output is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            for op in c.get("ops", [c.get("op")]):
                bad[op] = f"{kind}: {why}"
    con.close()
    return bad


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


# -- pipeline ---------------------------------------------------------------

TOP_ITEMS_SQL = """
WITH d AS (
  SELECT *, row_number() OVER (PARTITION BY detection_oid
                               ORDER BY timestamp_detected, video_camera_oid) AS rn
  FROM {a}),
c AS (
  SELECT geographical_location_oid AS loc, item_name, count(*) AS cnt
  FROM d WHERE rn = 1 GROUP BY ALL),
r AS (
  SELECT *, row_number() OVER (PARTITION BY loc ORDER BY cnt DESC, item_name ASC NULLS FIRST) AS rk
  FROM c)
SELECT coalesce(b.geographical_location, 'Unknown') AS geographical_location,
       CAST(rk AS VARCHAR) AS item_rank, r.item_name
FROM r LEFT JOIN {b} b ON b.geographical_location_oid = r.loc
WHERE rk <= 5
"""


def pipeline(con, data, c, cache):
    if "pipeline" not in cache:
        q = TOP_ITEMS_SQL.format(a=parquet(f"{data}/dataA"), b=parquet(f"{data}/dataB"))
        cache["pipeline"] = Counter(con.execute(q).fetchall())
    got = Counter(con.execute(
        f"SELECT geographical_location, item_rank, item_name FROM {parquet(c['path'])}").fetchall())
    want = cache["pipeline"]
    if got != want:
        return f"{sum((got - want).values())} unexpected, {sum((want - got).values())} missing rows"
    return None


# -- documents --------------------------------------------------------------

def docs(con, data, cache):
    """id -> text for every staged document."""
    if "docs" not in cache:
        files = glob.glob(f"{data}/docs/**/*.parquet", recursive=True)
        cache["docs"] = dict(con.execute(
            f"SELECT doc_id, text FROM read_parquet({files!r})").fetchall())
    return cache["docs"]


def shingles(text, n=3):
    t = text.split()
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def exact_jaccard(d, threshold=0.5):
    """{(a, b): jaccard} for a < b with jaccard >= threshold (prefix filter, exact)."""
    sets = {i: shingles(t) for i, t in d.items()}
    df = Counter(s for v in sets.values() for s in v)
    index = defaultdict(list)
    cands = set()
    for i in sorted(sets):
        v = sorted(sets[i], key=lambda s: (df[s], s))
        prefix = v[:len(v) - math.ceil(threshold * len(v)) + 1]
        for s in prefix:
            for j in index[s]:
                cands.add((j, i))
            index[s].append(i)
    out = {}
    for a, b in cands:
        x, y = sets[a], sets[b]
        j = len(x & y) / len(x | y)
        if j >= threshold:
            out[(a, b)] = j
    return out


def exact_containment(d, pct=80):
    """{(a, b): (inter, |a|, |b|, cont_x100)} for a contained in b, a != b."""
    sets = {i: shingles(t) for i, t in d.items()}
    df = Counter(s for v in sets.values() for s in v)
    postings = defaultdict(set)
    for i, v in sets.items():
        for s in v:
            postings[s].add(i)
    out = {}
    for a, v in sets.items():
        order = sorted(v, key=lambda s: (df[s], s))
        prefix = order[:len(v) - (len(v) * pct + 99) // 100 + 1]
        for b in set().union(*(postings[s] for s in prefix)) - {a}:
            inter = len(v & sets[b])
            cont = inter * 100 // len(v)
            if cont >= pct:
                out[(a, b)] = (inter, len(v), len(sets[b]), cont)
    return out


def exact_tfidf(d, pct=60):
    """{(a, b): (dot, cos2_x1e6)} with the kernel's integer weights."""
    ids = sorted(d)
    tfs = [Counter(d[i].split(" ")) for i in ids]
    df = Counter(t for tf in tfs for t in tf)
    n_docs = len(ids)
    terms = {t: k for k, t in enumerate(df)}
    w = np.zeros((len(ids), len(terms)))
    for r, tf in enumerate(tfs):
        for t, c in tf.items():
            w[r, terms[t]] = c * (((n_docs * 64) // df[t]).bit_length() - 1)
    dot = w @ w.T
    n2 = np.diag(dot).copy()
    limit = pct * pct * 100
    out = {}
    rows, cols = np.nonzero(np.triu(dot * dot * 1e6 >= 0.999 * limit * np.outer(n2, n2), k=1))
    for r, c in zip(rows, cols):
        dt, na, nb = int(dot[r, c]), int(n2[r]), int(n2[c])
        cos = dt * dt * 1000000 // (na * nb)
        if cos >= limit:
            out[(ids[r], ids[c])] = (dt, cos)
    return out


def compare_pairs(got, want, min_recall, what):
    """got/want: {pair: value}. An exact kernel (min_recall None) must
    return every pair; an LSH one may miss some, down to `min_recall`."""
    extra = [p for p in got if p not in want]
    if extra:
        return f"{len(extra)} {what} pairs not in the exact answer, e.g. {extra[:3]}"
    wrong = [p for p, v in got.items() if not close(v, want[p])]
    if wrong:
        return f"{len(wrong)} {what} values differ, e.g. {[(p, got[p], want[p]) for p in wrong[:3]]}"
    if min_recall is not None:
        if want and len(got) / len(want) < min_recall:
            return f"recall {len(got)}/{len(want)} below {min_recall}"
    elif len(got) != len(want):
        return f"{len(want) - len(got)} exact {what} pairs missing"
    return None


def close(a, b):
    if isinstance(a, tuple):
        return all(close(x, y) for x, y in zip(a, b))
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def neardup(con, data, c, cache):
    d = docs(con, data, cache)
    k = c["kernel"]
    cols = {"containment": "id_a, id_b, inter, sz_a, sz_b, cont_x100",
            "tfidf": "id_a, id_b, dot, cos2_x1e6"}.get(k, "id_a, id_b, jaccard")
    rows = con.execute(f"SELECT {cols} FROM {parquet(c['path'])}").fetchall()
    c["rows"] = len(rows)
    if k in ("minhash", "simhash", "ngram"):
        if "jac" not in cache:
            cache["jac"] = exact_jaccard(d)
        got = {(a, b): j for a, b, j in rows}
        return compare_pairs(got, cache["jac"], RECALL.get(k), what=k)
    if k == "containment":
        if "cont" not in cache:
            cache["cont"] = exact_containment(d)
        got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
        return compare_pairs(got, cache["cont"], None, what=k)
    if k == "tfidf":
        if "tfidf" not in cache:
            cache["tfidf"] = exact_tfidf(d)
        got = {(a, b): (int(x), int(y)) for a, b, x, y in rows}
        return compare_pairs(got, cache["tfidf"], None, what=k)
    return f"unknown kernel {k}"


# -- index probes -----------------------------------------------------------

def touching(pairs, c):
    """Exact pairs a probe of batch [lo, hi) must see: both ids ingested by
    then and not forgotten, at least one in the batch."""
    lo, hi, gone = c["lo"], c["hi"], set(c["forgotten"])
    return {p: v for p, v in pairs.items()
            if p[1] < hi and p[0] not in gone and p[1] not in gone and (p[0] >= lo or p[1] >= lo)}


def minhash_probe(con, data, c, cache):
    if "jac_all" not in cache:
        cache["jac_all"] = exact_jaccard(docs(con, data, cache))
    got = {(a, b): j for a, b, j in c["pairs"]}
    return compare_pairs(got, touching(cache["jac_all"], c), RECALL["probe"], what="minhash probe")


def exact_cosine(con, data, threshold=0.9):
    files = glob.glob(f"{data}/embs/**/*.parquet", recursive=True)
    rows = con.execute(f"SELECT vec_id, embedding FROM read_parquet({files!r})").fetchall()
    ids = np.array([r[0] for r in rows])
    v = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for s in range(0, len(ids), 1000):
        block = v[s:s + 1000] @ v.T
        for r, col in zip(*np.nonzero(block >= threshold - 1e-6)):
            a, b = int(ids[s + r]), int(ids[col])
            if a < b:
                out[(a, b)] = float(block[r, col])
    return out


def emb_probe(con, data, c, cache):
    if "cos" not in cache:
        cache["cos"] = exact_cosine(con, data)
    want = {p: v for p, v in touching(cache["cos"], c).items() if round(v, 6) >= 0.9}
    got = {(a, b): s for a, b, s in c["pairs"]}
    extra = [p for p in got if p not in cache["cos"]]
    if extra:
        return f"{len(extra)} pairs below cosine 0.9, e.g. {extra[:3]}"
    wrong = [p for p, s in got.items() if abs(s - cache["cos"][p]) > 2e-6]
    if wrong:
        return f"{len(wrong)} similarities differ, e.g. {[(p, got[p], cache['cos'][p]) for p in wrong[:3]]}"
    found = len(set(got) & set(want))
    if want and found / len(want) < RECALL["emb_probe"]:
        return f"recall {found}/{len(want)} below {RECALL['emb_probe']}"
    return None


# -- stream -----------------------------------------------------------------

STREAM_SQL = """
SELECT (epoch(ts)::BIGINT // 60) * 60 AS w, event_type, count(*) AS n,
       sum(CAST(value AS DECIMAL(18, 6)))::DOUBLE AS s
FROM (SELECT DISTINCT ON (event_id) * FROM {src} WHERE NOT late)
GROUP BY ALL
"""


def stream(con, data, c, cache):
    if "stream" not in cache:
        rows = con.execute(STREAM_SQL.format(src=parquet(f"{data}/in"))).fetchall()
        cache["stream"] = {(w, t): (n, s) for w, t, n, s in rows}
    want = cache["stream"]
    got = {(w, t): (n, s) for w, t, n, s in c["rows"]}
    if set(got) != set(want):
        return f"{len(set(got) ^ set(want))} windows differ from the batch computation"
    wrong = [k for k in want if got[k][0] != want[k][0] or abs(got[k][1] - want[k][1]) > 1e-6]
    if wrong:
        return f"{len(wrong)} window aggregates differ, e.g. {[(k, got[k], want[k]) for k in wrong[:3]]}"
    return None
