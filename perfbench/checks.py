"""Output checks for ``llm_corpus_cold``, run after the timed region.

Keys with a cheap DuckDB oracle (``SparkEntry.oracleSql``) are compared
with it on the checked corpus: sorted column names, row count and an
order-insensitive digest of the rows. The all-pairs keys, whose oracles
are recursive or quadratic SQL that would take most of a run, are
recomputed by brute force here instead: every pair's exact set Jaccard
from a document × term incidence matrix (the oracles' pair predicate),
connected components by union-find, and the pipeline funnel by the
method of tools/e2e_check.py. The IVF keys are checked against exact
cosine scores and brute-force recall.
"""
import glob
import hashlib

import numpy as np

PAIR_TAU = 0.95
BIGRAM_TAU = 0.5
BRUTE_FORCE = ("llm_dedup_minhash", "llm_dedup_simhash", "llm_dedup_clusters",
               "llm_dedup_ngram_jaccard", "llm_pipeline_e2e")


def _norm(v):
    return "NaN" if isinstance(v, float) and v != v else v


def _sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def _query(con, sql):
    cur = con.execute(sql)
    return _sorted_rows([d[0] for d in cur.description], cur.fetchall())


def digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def jaccard_pairs(ids, sets, tau):
    """All (a, b, j) with a < b and exact Jaccard(sets) >= tau."""
    terms = {t: i for i, t in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(sets), max(len(terms), 1)), dtype=np.float32)
    for r, s in enumerate(sets):
        m[r, [terms[t] for t in s]] = 1.0
    inter = (m @ m.T).astype(np.int64)
    size = np.array([len(s) for s in sets], dtype=np.int64)
    out = []
    for x, y in zip(*np.nonzero(np.triu(inter >= 1, 1))):
        union = size[x] + size[y] - inter[x, y]
        j = float(inter[x, y]) / float(union)
        if j >= tau:
            a, b = ids[x], ids[y]
            out.append((min(a, b), max(a, b), j))
    return out


def components(ids, pairs):
    """doc -> smallest doc id of its connected component."""
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in ids}


def _pipeline_funnel(con):
    """tools/e2e_check.py's recomputation of llm_pipeline_e2e."""
    thr = " ".join(f"WHEN 'src{i}' THEN '{int(min(1.0, 0.2 + 0.04 * i) * 65536):04x}'"
                   for i in range(20))
    con.execute(f"""CREATE OR REPLACE TEMP TABLE flags AS
WITH raw AS (SELECT doc_id, text, source,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM raw),
u AS (SELECT doc_id, count(*) AS c
      FROM (SELECT doc_id, unnest(tk) AS tok FROM tk) GROUP BY doc_id, tok),
um AS (SELECT doc_id, max(c) AS mx FROM u GROUP BY doc_id),
bg AS (SELECT doc_id, count(*) AS c
      FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1])) AS g FROM tk) GROUP BY doc_id, g),
bm AS (SELECT doc_id, max(c) AS mx FROM bg GROUP BY doc_id),
rk AS (SELECT um.doc_id FROM um JOIN tk ON um.doc_id = tk.doc_id
       LEFT JOIN bm ON um.doc_id = bm.doc_id
       WHERE CAST(um.mx AS DOUBLE) / len(tk.tk) < 0.12
         AND CAST(coalesce(bm.mx, 0) AS DOUBLE) / greatest(len(tk.tk) - 1, 1) < 0.06)
SELECT r.doc_id, r.text, r.source, r.n_toks,
  r.n_toks >= 20 AS f1,
  r.n_toks >= 20 AND rk.doc_id IS NOT NULL AS f2,
  substring(md5(CAST(r.doc_id AS VARCHAR)), 1, 4) < (CASE r.source {thr} ELSE '0000' END) AS gate
FROM raw r LEFT JOIN rk ON r.doc_id = rk.doc_id""")
    s2 = con.execute("""WITH ex AS (SELECT min(doc_id) AS doc_id FROM flags WHERE f2
                        GROUP BY sha256(lower(trim(text))))
                        SELECT flags.doc_id, flags.text FROM flags JOIN ex USING (doc_id)""").fetchall()
    s2_ids = [d for d, _ in s2]
    comp = components(s2_ids, jaccard_pairs(s2_ids, [set(t.split(" ")) for _, t in s2], PAIR_TAU))
    reps = {d for d, r in comp.items() if d == r}
    rows = con.execute("SELECT doc_id, n_toks, f1, f2, gate FROM flags").fetchall()
    s2set = set(s2_ids)
    funnel = []
    for stage, name, pred in [
            (0, "raw", lambda r: True),
            (1, "quality", lambda r: r[2]),
            (2, "repetition", lambda r: r[3]),
            (3, "exact_dedup", lambda r: r[0] in s2set),
            (4, "near_dedup", lambda r: r[0] in reps),
            (5, "mixture_sample", lambda r: r[0] in reps and r[4])]:
        sel = [r for r in rows if pred(r)]
        funnel.append((stage, name, len(sel), sum(r[1] for r in sel)))
    return funnel


def _brute_force(con, key, out_files):
    """(expected rows, engine rows) for one all-pairs key, both sorted."""
    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    ids = [d for d, _ in docs]
    mine_sql = f"SELECT * FROM read_parquet({out_files!r})"
    if key == "llm_pipeline_e2e":
        want = _pipeline_funnel(con)
        got = con.execute(f"SELECT stage, name, n_docs, n_toks_total FROM ({mine_sql}) "
                          "ORDER BY stage").fetchall()
        return want, [tuple(r) for r in got]
    if key == "llm_dedup_ngram_jaccard":
        sets = []
        for _, t in docs:
            tk = t.split(" ")
            sets.append({tk[i] + " " + tk[i + 1] for i in range(len(tk) - 1)})
        pairs = jaccard_pairs(ids, sets, BIGRAM_TAU)
    else:
        pairs = jaccard_pairs(ids, [set(t.split(" ")) for _, t in docs], PAIR_TAU)
    if key == "llm_dedup_clusters":
        cols, want = _sorted_rows(["doc_id", "rep"], list(components(ids, pairs).items()))
    else:
        cols, want = _sorted_rows(["a", "b", "j"], pairs)
    mcols, got = _query(con, mine_sql)
    return (cols, want), (mcols, got)


def check_llm(res):
    """Failing keys of the checked corpus, with the reason."""
    import duckdb
    import pyarrow.parquet as pq
    corpus, out = res["check_corpus"], res["check_dir"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    bad = {}

    def files(key):
        return sorted(glob.glob(f"{out}/{key}/*.parquet"))

    for key, sql in sorted(res["oracle"].items()):
        if not files(key):
            bad[key] = "no output"
            continue
        if key in BRUTE_FORCE:
            want, got = _brute_force(con, key, files(key))
        else:
            got = _query(con, f"SELECT * FROM read_parquet({files(key)!r})")
            want = _query(con, sql)
        if key != "llm_pipeline_e2e" and got[0] != want[0]:
            bad[key] = f"columns {got[0]} vs {want[0]}"
            continue
        g, w = (got, want) if key == "llm_pipeline_e2e" else (got[1], want[1])
        if len(g) != len(w) or digest(g) != digest(w):
            bad[key] = f"rows {len(g)} vs {len(w)}, digest {digest(g)} vs {digest(w)}"

    emb = pq.read_table(f"{corpus}/embeddings.parquet").to_pydict()
    ids = np.array(emb["vec_id"])
    x = np.array(emb["embedding"], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    sim = x @ x.T
    pos = {int(v): i for i, v in enumerate(ids)}

    def rows(key):
        f = files(key)
        return con.execute(f"SELECT * FROM read_parquet({f!r})").fetchall() if f else None

    # llm_sim_search_ivf: (pid, rk, cid, score), top-5 of the probes vec_id < 10
    got = rows("llm_sim_search_ivf")
    if got is None:
        bad["llm_sim_search_ivf"] = "no output"
    else:
        exact = hit = wrong = 0
        for p in (int(v) for v in ids if v < 10):
            s = sim[pos[p]].copy()
            s[pos[p]] = -9.0
            top = {int(ids[i]) for i in np.argsort(-s, kind="stable")[:5]}
            mine = [(int(c), sc) for (pp, _, c, sc) in got if pp == p]
            wrong += sum(abs(sc - sim[pos[p], pos[c]]) > 1e-4 for c, sc in mine)
            exact += len(top)
            hit += len(top & {c for c, _ in mine})
        if wrong or hit < 0.8 * exact:
            bad["llm_sim_search_ivf"] = f"recall {hit}/{exact}, {wrong} wrong scores"
    # llm_sim_threshold_ivf: (ida, idb, score), pairs with cosine >= 0.4
    got = rows("llm_sim_threshold_ivf")
    if got is None:
        bad["llm_sim_threshold_ivf"] = "no output"
    else:
        iu = np.triu_indices(len(ids), 1)
        truth = {(int(ids[a]), int(ids[b])) for a, b in zip(*iu) if sim[a, b] >= 0.4}
        mine = {(int(a), int(b)) for (a, b, _) in got}
        extra = sum(1 for a, b in mine - truth if sim[pos[a], pos[b]] < 0.4 - 1e-6)
        if extra or (truth and len(mine & truth) < 0.8 * len(truth)):
            bad["llm_sim_threshold_ivf"] = f"{len(mine & truth)}/{len(truth)} true pairs, {extra} false"
    return bad
