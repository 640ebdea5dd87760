"""Independent checks of the engine's query outputs.

Each query's result, written by the harness as parquet, is compared with a
computation made apart from the engine:

- by default, DuckDB runs the query's oracle SQL (`SparkEntry.oracleSql`)
  over the same fixture parquet, and the two results must be equal as
  multisets of rows, with columns sorted by name and floats compared
  exactly (the rule of `tools/check.py`);
- q65, q123 and q201 (near-duplicate pairs and clusters at Jaccard >= 0.7
  over distinct 3-token shingles) are checked against an exact Jaccard
  computed here from an inverted shingle index, with union-find for the
  clusters; DuckDB's all-pairs oracle for them is too slow to run per run;
- the KMV sketch columns of q246 and q248 are checked against what the
  sketch guarantees: the direct and merged lanes are equal, and each
  estimate lies within KMV_SIGMAS standard errors (1/sqrt(k-2)) of
  DuckDB's exact distinct count; below k distinct values it must be exact;
- q111 (banded sign-LSH near-duplicates, no oracle SQL) is checked against
  exact all-pairs cosine over the embeddings plus the planted twins: every
  reported pair must be a true pair with its exact score, and every
  planted twin pair must be reported.

`check(data_dir, outputs_dir, queries, oracle_sql)` returns
{query: None if it passes, else a one-line reason}.
"""
import decimal
import math
import os
import re

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

JACCARD = 0.7             # Dedup.scala: q65/q123/q201 threshold
KMV_K = 4096              # SketchOps.scala: K
KMV_SIGMAS = 3.0          # allowed error, in KMV standard errors
TWIN_OFFSET = 10_000_000  # Similarity.augmentWithTwins: twin vec_id offset
TWIN_EPS = 0.08           # Similarity.q111_neardup_lsh: eps
COSINE = 0.8              # Similarity.q111_neardup_lsh: threshold


def connect(data_dir, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def read_output(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = list(df.itertuples(index=False, name=None))
    rows.sort(key=lambda r: tuple(str(v) for v in r))
    return list(df.columns), rows


def _same(e, g):
    if isinstance(e, float) and isinstance(g, float):
        return (math.isnan(e) and math.isnan(g)) or e == g
    return str(e) == str(g)


def compare(expected, got):
    """None if the frames are equal as multisets of rows (columns sorted
    by name, floats exact), else the first difference."""
    ecols, erows = _rows(expected)
    gcols, grows = _rows(got)
    if ecols != gcols:
        return f"columns differ: expected {ecols}, got {gcols}"
    if len(erows) != len(grows):
        return f"row count differs: expected {len(erows)}, got {len(grows)}"
    for i, (er, gr) in enumerate(zip(erows, grows)):
        for c, e, g in zip(ecols, er, gr):
            if not _same(e, g):
                return f"value differs in sorted row {i}, column {c}: expected {e!r}, got {g!r}"
    return None


def round6(x):
    """Spark's round(x, 6): HALF_UP on the shortest decimal form of x."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


def jaccard_pairs(con):
    """Exact (ida, idb, jac) for every document pair at Jaccard >= 0.7
    over distinct 3-token shingles, through an inverted shingle index."""
    shingles = {}
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        toks = re.split(" +", text.strip(" "))
        if len(toks) >= 3:
            shingles[doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    index = {}
    for doc_id, sh in shingles.items():
        for s in sh:
            index.setdefault(s, []).append(doc_id)
    inter = {}
    for docs in index.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    pairs = []
    for (a, b), n in inter.items():
        jac = n * 1.0 / (len(shingles[a]) + len(shingles[b]) - n)
        if jac >= JACCARD:
            pairs.append((a, b, round6(jac)))
    return pairs


def clusters(pairs):
    """(comp, max_id, n_members) per connected component of the pairs,
    comp being the component's least id."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    return [(min(m), max(m), len(m)) for m in members.values()]


def _frame(rows, columns):
    import pandas as pd
    return pd.DataFrame(rows, columns=columns)


def check_jaccard(con, name, got, cache):
    if "pairs" not in cache:
        cache["pairs"] = jaccard_pairs(con)
    pairs = cache["pairs"]
    if name.startswith("q65_"):
        exp = _frame(pairs, ["ida", "idb", "jac"])
    elif name.startswith("q201_"):
        exp = _frame([p for p in pairs if p[0] % 4 == 0 or p[1] % 4 == 0],
                     ["ida", "idb", "jac"])
    else:
        exp = _frame(clusters(pairs), ["comp", "max_id", "n_members"])
    return compare(exp, got)


KMV_COLUMNS = {"q246_kmv_distinct": ["ndv_direct", "ndv_merged"],
               "q248_incremental_rollup": ["ndv_cust"]}


def check_kmv(con, name, sql, got):
    cols = KMV_COLUMNS[name]
    exp = con.execute(sql).fetchdf()
    if name.startswith("q246_"):
        lanes = got[cols[0]].tolist(), got[cols[1]].tolist()
        if lanes[0] != lanes[1]:
            return f"direct and merged lanes differ: {lanes[0]} vs {lanes[1]}"
    bad = compare(exp.drop(columns=cols), got.drop(columns=cols))
    if bad:
        return bad
    key = [c for c in exp.columns if c not in cols and c.startswith("o_")]
    joined = exp.merge(got, on=key, suffixes=("_exact", ""))
    tol = KMV_SIGMAS / math.sqrt(KMV_K - 2)
    for c in cols:
        for exact, est in zip(joined[c + "_exact"], joined[c]):
            if exact < KMV_K and est != exact:
                return f"{c}: under-filled sketch must be exact, expected {exact}, got {est}"
            if abs(est - exact) > tol * exact:
                return f"{c}: estimate {est} is off exact {exact} by more than {tol:.4f} of it"
    return None


def twin_vectors(con):
    """(ids, float32 vectors) of the embeddings plus their planted twins,
    scaled like Similarity.augmentWithTwins."""
    rows = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vecs = np.array([r[1] for r in rows], dtype=np.float32)
    dim = vecs.shape[1]
    scale = np.array([np.float32(1.0) + np.float32(TWIN_EPS) if i % 2 == 0
                      else np.float32(1.0) - np.float32(TWIN_EPS) for i in range(dim)],
                     dtype=np.float32)
    return (np.concatenate([ids, ids + TWIN_OFFSET]),
            np.concatenate([vecs, vecs * scale]).astype(np.float64))


def check_cosine(con, got):
    ids, vecs = twin_vectors(con)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    pos = {int(v): i for i, v in enumerate(ids)}
    reported = set()
    for a, b, score in got[["ida", "idb", "score"]].itertuples(index=False, name=None):
        a, b = int(a), int(b)
        if a >= b or a not in pos or b not in pos:
            return f"pair ({a}, {b}) is not an ordered pair of known vectors"
        exact = float(vecs[pos[a]] @ vecs[pos[b]] / (norms[pos[a]] * norms[pos[b]]))
        if exact < COSINE - 1e-6 or abs(round6(exact) - score) > 1.5e-6:
            return f"pair ({a}, {b}) has exact cosine {exact:.7f}, reported {score}"
        reported.add((a, b))
    if len(reported) != len(got):
        return "duplicate pairs reported"
    for v in ids[ids < TWIN_OFFSET]:
        if (int(v), int(v) + TWIN_OFFSET) not in reported:
            return f"planted twin pair ({v}, {v + TWIN_OFFSET}) is missing"
    return None


def check(data_dir, outputs_dir, queries, oracle_sql):
    con = connect(data_dir)
    cache = {}
    verdicts = {}
    for name in queries:
        path = os.path.join(outputs_dir, name)
        try:
            got = read_output(con, path)
            if name.split("_")[0] in ("q65", "q123", "q201"):
                verdicts[name] = check_jaccard(con, name, got, cache)
            elif name in KMV_COLUMNS:
                verdicts[name] = check_kmv(con, name, oracle_sql[name], got)
            elif name.startswith("q111_"):
                verdicts[name] = check_cosine(con, got)
            elif name in oracle_sql:
                verdicts[name] = compare(con.execute(oracle_sql[name]).fetchdf(), got)
            else:
                verdicts[name] = "no independent check for this query"
        except Exception as e:  # a missing or unreadable output fails its query
            verdicts[name] = f"{type(e).__name__}: {e}"
    con.close()
    return verdicts
