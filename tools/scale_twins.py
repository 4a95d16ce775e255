#!/usr/bin/env python3
"""Scale-twin oracle helpers: EXACT brute-force pair/edge/encode tables
for the oracles whose pure-SQL form is quadratic in DuckDB (all-pairs
Jaccard / cosine / Hamming graphs and their closures).

At the sf0.01 gate the driver runs the primary oracle SQL unchanged.
At stepped-up SFs (tools/ScaleData 10x dirs) the primary forms time out
— the ORACLE, not the engine, is the quadratic party (round-9 sweep).
The twins (`scaleTwin` of the gate records in src/main/scala/graft/gates/,
collected by `SparkEntry.oracleSqlScale` and dumped by Verify as
`oracle_sql_scale.json`) keep every projection / filter / aggregation
of the primary verbatim, but read their pair graph from `tw_*` temp
tables that this module materializes with vectorized exact math:

- NO candidate pruning, NO banding, NO sampling: every pair table is
  the full O(n^2) computation, evaluated with BLAS / numpy instead of
  per-row SQL loops. The twin is therefore exactly as independent of
  the engine's LSH/banding as the primary — just faster.
- Integer-exact paths (Jaccard counts, Hamming) are bit-identical to
  the primary by construction: i and u are exact integers and the
  final i*1.0/u division happens in IEEE float64 exactly like DuckDB.
- Float paths (cosine, PQ L2) use a border guard: any comparison that
  lands within 1e-9 of a threshold / tie (numpy's pairwise summation
  can differ from DuckDB's list_sum fold by ~1e-13 at these dims) is
  re-decided by DuckDB itself evaluating the primary's own expression
  on just those rows, so the decision arithmetic is the primary's.
- Closures (connected components) run as union-find over the exact
  edge set; `comp(id, mn)` reproduces the primary's recursive-CTE
  contract: for every node of a component C with |C| >= 2,
  mn = min(C \\ {id}) (the min reachable OTHER node).

Equivalence is asserted, not assumed: tools/check_oracle.py --scale
--twin-check runs twin AND primary at the gate SFs and compares
exactly; the sf1 sweep then runs twins where primaries time out.

Gram/sig constructions are copied verbatim from the primary oracle SQL
in the gate modules (single-sourced there; these fragments must stay
in lockstep — the twin-check run catches drift).
"""
import numpy as np
import pandas as pd

T = 0.8                      # Jaccard threshold shared by every gram family
COS_BORDER = 1e-9            # numpy-vs-DuckDB float fold divergence guard

# ---------------------------------------------------------------- gram CTEs
# verbatim from the primaries (x01 / x02 in gates/DedupGates.scala,
# ngramGraphCtesSql in gates/Fixtures.scala)
GRAM_CTES = {
    "char5": r"""n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
       FROM documents),
     g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 5 THEN [s]
           ELSE list_transform(range(1, length(s)-3), i -> s[i:i+4]) END) AS gs FROM n)""",
    "char3": r"""n AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
       FROM documents),
     g AS (SELECT doc_id, list_distinct(CASE WHEN length(s) < 4 THEN [s]
           ELSE list_transform(range(1, length(s)-2), i -> s[i:i+3]) END) AS gs FROM n)""",
    "word3": r"""n AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
       FROM documents),
     g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS gs
       FROM n)""",
}
# d68's stage-2 graph runs on exact-dedup survivors: same word3 grams,
# documents replaced by the s1 survivor set (primary's s1, verbatim)
S1_SQL = r"""SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1"""

# verbatim from phashCtesSql in gates/Fixtures.scala (m06)
PHASH_SQL = r"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
   g AS (SELECT id, list_transform(range(0, 64), i ->
       ((i*4 + id) % 256) + ((i*2 + id*3) % 256) + ((i + id*7) % 256)) AS gray
     FROM ids),
   h AS (SELECT id, CAST(list_sum(list_transform(range(0, 63), i ->
       CASE WHEN gray[i+1] * 64 > list_sum(gray)
            THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
     FROM g)
   SELECT id, sig FROM h ORDER BY id"""

# embeddings as double lists (x04 / e08 / e09 / e13 primaries' v CTE)
EMB_SQL = """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings ORDER BY vec_id"""


def _register(con, table, df):
    con.register(f"_reg_{table}", df)
    con.execute(f"CREATE OR REPLACE TEMP TABLE {table} AS SELECT * FROM _reg_{table}")
    con.unregister(f"_reg_{table}")


def _fetch_tokens(con, kind, docs_sql="SELECT doc_id, text FROM documents"):
    """(doc_id, gram) token pairs with grams densely re-keyed; grams come
    from DuckDB evaluating the primary's own gram CTE (so extraction is
    identical by construction)."""
    gram_cte = GRAM_CTES[kind].replace(
        "FROM documents", f"FROM ({docs_sql}) documents")
    sql = f"""WITH {gram_cte},
      tok AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      u AS (SELECT gr, row_number() OVER (ORDER BY gr) - 1 AS gid
            FROM (SELECT DISTINCT gr FROM tok))
      SELECT t.doc_id, u.gid FROM tok t JOIN u USING (gr)"""
    res = con.execute(sql).fetchnumpy()
    return res["doc_id"].astype(np.int64), res["gid"].astype(np.int64)


def _sizes(doc_ids):
    """dense doc index + per-doc distinct-gram counts, id-ascending."""
    uniq, inv, cnt = np.unique(doc_ids, return_inverse=True, return_counts=True)
    return uniq, inv, cnt


def jaccard_pairs_dense(doc_ids, gids, n_grams):
    """All-pairs exact Jaccard via 0/1 BLAS sgemm (small gram universe).
    Returns (u_idx, v_idx, i) for pairs with J >= T, plus (uniq, sizes)."""
    uniq, inv, sz = _sizes(doc_ids)
    n = len(uniq)
    B = np.zeros((n, n_grams), dtype=np.float32)
    B[inv, gids] = 1.0
    BT = np.ascontiguousarray(B.T)
    szf = sz.astype(np.float32)
    out_u, out_v, out_i = [], [], []
    blk = max(1, min(4096, int(2e9 / (4 * n))))
    for s0 in range(0, n, blk):
        s1 = min(n, s0 + blk)
        S = B[s0:s1] @ BT                                   # exact i (<2^24)
        # coarse f32 prescreen with slack, then exact f64 decision
        usz = szf[s0:s1, None] + szf[None, :] - S
        cand = S >= (T - 1e-3) * usz
        cand[np.arange(s0, s1)[:, None] >= np.arange(n)[None, :]] = False
        r, c = np.nonzero(cand)
        if len(r):
            i_exact = S[r, c].astype(np.float64)
            u_exact = sz[s0 + r] + sz[c] - i_exact
            keep = (i_exact / u_exact) >= np.float64(T)     # DuckDB's i*1.0/u
            out_u.append(s0 + r[keep]); out_v.append(c[keep])
            out_i.append(i_exact[keep].astype(np.int64))
    if out_u:
        return (np.concatenate(out_u), np.concatenate(out_v),
                np.concatenate(out_i), uniq, sz)
    return (np.empty(0, np.int64),) * 3 + (uniq, sz)


def jaccard_pairs_sparse(doc_ids, gids):
    """All-pairs exact Jaccard via per-gram pair accumulation (large
    sparse gram universe; cost = sum over grams of cnt^2)."""
    uniq, inv, sz = _sizes(doc_ids)
    n = len(uniq)
    order = np.argsort(gids, kind="stable")
    gs, ds = gids[order], inv[order]
    bounds = np.flatnonzero(np.diff(gs)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(gs)]))
    keys = []
    for s, e in zip(starts, ends):
        c = e - s
        if c < 2:
            continue
        grp = np.sort(ds[s:e])
        iu, iv = np.triu_indices(c, k=1)
        keys.append(grp[iu].astype(np.int64) * n + grp[iv])
    if not keys:
        return (np.empty(0, np.int64),) * 3 + (uniq, sz)
    allk = np.concatenate(keys)
    pk, i_cnt = np.unique(allk, return_counts=True)
    u_idx, v_idx = pk // n, pk % n
    i_exact = i_cnt.astype(np.float64)
    u_exact = sz[u_idx] + sz[v_idx] - i_exact
    keep = (i_exact / u_exact) >= np.float64(T)
    return (u_idx[keep], v_idx[keep], i_cnt[keep].astype(np.int64), uniq, sz)


def build_jaccard_pairs(con, kind, table, docs_sql="SELECT doc_id, text FROM documents"):
    """tw table (u, v, j, su, sv): every doc pair with exact gram-set
    Jaccard >= 0.8, u < v in doc_id order, j the exact i/union double."""
    doc_ids, gids = _fetch_tokens(con, kind, docs_sql)
    n_grams = int(gids.max()) + 1 if len(gids) else 0
    if kind == "word3":
        u_idx, v_idx, i_cnt, uniq, sz = jaccard_pairs_sparse(doc_ids, gids)
    else:
        u_idx, v_idx, i_cnt, uniq, sz = jaccard_pairs_dense(doc_ids, gids, n_grams)
    j = i_cnt.astype(np.float64) / (sz[u_idx] + sz[v_idx] - i_cnt).astype(np.float64)
    _register(con, table, pd.DataFrame({
        "u": uniq[u_idx], "v": uniq[v_idx], "j": j,
        "su": sz[u_idx].astype(np.int64), "sv": sz[v_idx].astype(np.int64)}))


# ---------------------------------------------------------------- cosine
def _emb_matrix(con):
    df = con.execute(EMB_SQL).fetchdf()
    ids = df["vec_id"].to_numpy().astype(np.int64)
    E = np.stack(df["emb"].to_numpy()).astype(np.float64)
    return ids, E


def _duckdb_cos_pairs(con, pairs):
    """Decide border pairs with the primary's own cosine expression."""
    if len(pairs) == 0:
        return np.zeros(0, dtype=bool)
    _register(con, "tw_border", pd.DataFrame({"u": pairs[:, 0], "v": pairs[:, 1]}))
    got = con.execute("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)
        SELECT b.u, b.v,
          list_sum(list_transform(list_zip(a.emb, c.emb), z -> z[1]*z[2]))
            / (sqrt(list_sum(list_transform(a.emb, x -> x*x)))
               * sqrt(list_sum(list_transform(c.emb, x -> x*x)))) AS cos
        FROM tw_border b JOIN v a ON a.vec_id = b.u JOIN v c ON c.vec_id = b.v
        ORDER BY b.u, b.v""").fetchnumpy()
    order = np.lexsort((pairs[:, 1], pairs[:, 0]))
    cos = np.full(len(pairs), np.nan)
    cos[order] = got["cos"]
    return cos


def cos_edges(con, ids, E, thr, restrict=None):
    """Exact cosine >= thr edge set (u < v by vec_id); border pairs are
    re-decided by DuckDB. Zero-norm vectors never edge (NULL cosine)."""
    sel = np.ones(len(ids), dtype=bool) if restrict is None else restrict
    idx = np.flatnonzero(sel)
    M = E[idx]
    nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
    ok = nrm > 0
    out = []
    border = []
    blk = max(1, int(2e8 / max(1, len(idx))))
    for s0 in range(0, len(idx), blk):
        s1 = min(len(idx), s0 + blk)
        Sdot = M[s0:s1] @ M.T
        with np.errstate(divide="ignore", invalid="ignore"):
            C = Sdot / (nrm[s0:s1, None] * nrm[None, :])
        C[~ok[s0:s1], :] = -np.inf
        C[:, ~ok] = -np.inf
        tri = np.arange(s0, s1)[:, None] < np.arange(len(idx))[None, :]
        sure = (C >= thr + COS_BORDER) & tri
        near = (np.abs(C - thr) < COS_BORDER) & tri
        r, c = np.nonzero(sure)
        out.append(np.stack([ids[idx[s0 + r]], ids[idx[c]]], axis=1))
        r, c = np.nonzero(near)
        border.append(np.stack([ids[idx[s0 + r]], ids[idx[c]]], axis=1))
    sure_pairs = np.concatenate(out) if out else np.empty((0, 2), np.int64)
    border_pairs = np.concatenate(border) if border else np.empty((0, 2), np.int64)
    if len(border_pairs):
        cos = _duckdb_cos_pairs(con, border_pairs)
        sure_pairs = np.concatenate([sure_pairs, border_pairs[cos >= thr]])
    return sure_pairs


def build_cos_pairs(con, thr, table):
    ids, E = _emb_matrix(con)
    pairs = cos_edges(con, ids, E, thr)
    _register(con, table, pd.DataFrame(
        {"u": pairs[:, 0], "v": pairs[:, 1]}).astype(np.int64))


# ---------------------------------------------------------------- closures
def build_closure(con, edges_sql, out_table, id_name="doc_id"):
    """comp(id, mn) over the edge set: for components of size >= 2,
    mn(x) = min(component \\ {x}) — the recursive-CTE contract."""
    res = con.execute(edges_sql).fetchnumpy()
    cols = list(res.keys())
    u, v = res[cols[0]].astype(np.int64), res[cols[1]].astype(np.int64)
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(u, v):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in set(u.tolist()) | set(v.tolist()):
        comp.setdefault(find(x), []).append(x)
    out_id, out_mn = [], []
    for members in comp.values():
        members.sort()
        m1, m2 = members[0], members[1]
        for x in members:
            out_id.append(x)
            out_mn.append(m2 if x == m1 else m1)
    _register(con, out_table, pd.DataFrame(
        {id_name: out_id, "mn": out_mn}).astype(np.int64))


# ---------------------------------------------------------------- e08/e09/e13
def _centroids(con):
    df = con.execute("""WITH v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)
      SELECT vec_id AS cid, emb FROM v
        WHERE vec_id % 31 = 7 AND vec_id < 500 ORDER BY cid""").fetchdf()
    return df["cid"].to_numpy().astype(np.int64), np.stack(df["emb"].to_numpy())


def _assign_cells(con, ids, E, cids, CB):
    """nearest centroid by (cosine DESC, cid ASC); near-ties between
    different-valued centroids re-decided by DuckDB."""
    nrm = np.sqrt(np.einsum("ij,ij->i", E, E))
    cnrm = np.sqrt(np.einsum("ij,ij->i", CB, CB))
    with np.errstate(divide="ignore", invalid="ignore"):
        C = (E @ CB.T) / (nrm[:, None] * cnrm[None, :])
    C = np.nan_to_num(C, nan=-np.inf)
    # ORDER BY cos DESC, cid ASC: among exact-max columns pick min cid
    mx = C.max(axis=1)
    amb = (np.abs(C - mx[:, None]) < COS_BORDER).sum(axis=1) > 1
    order = np.argsort(cids)
    sortedC = C[:, order]
    best_sorted = np.argmax(sortedC >= (mx[:, None] - 0.0), axis=1)
    cells = cids[order][best_sorted]
    if amb.any():
        rows = np.flatnonzero(amb)
        _register(con, "tw_amb", pd.DataFrame({"vid": ids[rows]}).astype(np.int64))
        got = con.execute("""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
          cb AS (SELECT vec_id AS cid, emb AS cv FROM v
            WHERE vec_id % 31 = 7 AND vec_id < 500)
          SELECT vid, cid FROM (
            SELECT a.vid, c.cid, row_number() OVER (PARTITION BY a.vid ORDER BY
              list_sum(list_transform(list_zip(v.emb, c.cv), z -> z[1]*z[2]))
                / (sqrt(list_sum(list_transform(v.emb, x -> x*x)))
                   * sqrt(list_sum(list_transform(c.cv, x -> x*x)))) DESC,
              c.cid) AS rn
            FROM tw_amb a JOIN v ON v.vec_id = a.vid CROSS JOIN cb c) WHERE rn = 1
          ORDER BY vid""").fetchnumpy()
        fix = dict(zip(got["vid"].tolist(), got["cid"].tolist()))
        for r in rows:
            cells[r] = fix[int(ids[r])]
    return cells


def build_e08(con):
    """tw_e08_asg(vec_id, cell) + tw_e08_edges(u, v): x/y same cell AND
    same cellCap sub-cell (cells > 512 split by vec_id % ceil(cn/512) —
    the engine's a2 CTE), cos >= 0.42, u < v — the primary's CTEs,
    exactly."""
    ids, E = _emb_matrix(con)
    cids, CB = _centroids(con)
    cells = _assign_cells(con, ids, E, cids, CB)
    _register(con, "tw_e08_asg", pd.DataFrame(
        {"vec_id": ids, "cell": cells}).astype(np.int64))
    edges = []
    for cell in np.unique(cells):
        members = cells == cell
        cn = int(members.sum())
        if cn < 2:
            continue
        ns = max(1, -(-cn // 512))  # ceil(cn / 512), integer-exact
        for sub in range(ns):
            mem2 = members & (ids % ns == sub)
            if mem2.sum() < 2:
                continue
            edges.append(cos_edges(con, ids, E, 0.42, restrict=mem2))
    pairs = (np.concatenate([e for e in edges if len(e)])
             if any(len(e) for e in edges) else np.empty((0, 2), np.int64))
    _register(con, "tw_e08_edges", pd.DataFrame(
        {"u": pairs[:, 0], "v": pairs[:, 1]}).astype(np.int64))


def build_pq_recon(con):
    """tw_pq_recon(vec_id, rc): per (vector, subspace j of 8) the
    centroid whose 8-dim slice minimizes squared L2 (ties -> smaller
    cid), reconstruction = chosen slices concatenated. Slice values are
    copied verbatim (no arithmetic), so downstream ADC in SQL is the
    primary's own fold."""
    ids, E = _emb_matrix(con)
    cids, CB = _centroids(con)
    order = np.argsort(cids)
    cids_s, CB_s = cids[order], CB[order]
    n, m = len(ids), len(cids_s)
    rc = np.empty((n, 64), dtype=np.float64)
    for j in range(8):
        X = E[:, j*8:(j+1)*8]
        C = CB_s[:, j*8:(j+1)*8]
        d = (np.einsum("ij,ij->i", X, X)[:, None]
             - 2.0 * (X @ C.T) + np.einsum("ij,ij->i", C, C)[None, :])
        best = np.argmin(d, axis=1)                      # first = min cid
        mn = d[np.arange(n), best]
        amb = (np.abs(d - mn[:, None]) < COS_BORDER).sum(axis=1) > 1
        # ambiguous rows: re-rank this subspace in DuckDB with the
        # primary's Σ(x-c)^2 fold
        if amb.any():
            rows = np.flatnonzero(amb)
            _register(con, "tw_amb", pd.DataFrame({"vid": ids[rows]}).astype(np.int64))
            got = con.execute(f"""WITH v AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
              cb AS (SELECT vec_id AS cid, emb AS cv FROM v
            WHERE vec_id % 31 = 7 AND vec_id < 500)
              SELECT vid, cid FROM (
                SELECT a.vid, c.cid, row_number() OVER (PARTITION BY a.vid ORDER BY
                  list_sum(list_transform(range(1, 9),
                    i -> (v.emb[{j}*8+i] - c.cv[{j}*8+i])
                       * (v.emb[{j}*8+i] - c.cv[{j}*8+i]))),
                  c.cid) AS rn
                FROM tw_amb a JOIN v ON v.vec_id = a.vid CROSS JOIN cb c) WHERE rn = 1
              ORDER BY vid""").fetchnumpy()
            fix = dict(zip(got["vid"].tolist(), got["cid"].tolist()))
            cid_to_row = {int(c): k for k, c in enumerate(cids_s)}
            for r in rows:
                best[r] = cid_to_row[fix[int(ids[r])]]
        rc[:, j*8:(j+1)*8] = CB_s[best, j*8:(j+1)*8]
    _register(con, "tw_pq_recon", pd.DataFrame(
        {"vec_id": ids, "rc": list(rc)}))


def build_e13_asg(con):
    ids, E = _emb_matrix(con)
    cids, CB = _centroids(con)
    cells = _assign_cells(con, ids, E, cids, CB)
    _register(con, "tw_e13_asg", pd.DataFrame(
        {"vec_id": ids, "cell": cells}).astype(np.int64))


# ---------------------------------------------------------------- m06
_POP8 = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)


def build_phash_pairs(con):
    """tw_phash_pairs(u, w): asset pairs at Hamming(sig) <= 2, u < w."""
    res = con.execute(PHASH_SQL).fetchnumpy()
    ids = res["id"].astype(np.int64)
    sig = res["sig"].astype(np.int64).view(np.uint64)
    n = len(ids)
    by = sig.view(np.uint8).reshape(n, 8)
    out = []
    blk = max(1, int(2e8 / max(1, n)))
    for s0 in range(0, n, blk):
        s1 = min(n, s0 + blk)
        x = by[s0:s1, None, :] ^ by[None, :, :]
        hd = _POP8[x].sum(axis=2, dtype=np.int32)
        ok = (hd <= 2) & (np.arange(s0, s1)[:, None] < np.arange(n)[None, :])
        r, c = np.nonzero(ok)
        out.append(np.stack([ids[s0 + r], ids[c]], axis=1))
    pairs = np.concatenate(out) if out else np.empty((0, 2), np.int64)
    _register(con, "tw_phash_pairs", pd.DataFrame(
        {"u": pairs[:, 0], "w": pairs[:, 1]}).astype(np.int64))


# ---------------------------------------------------------------- x14
# primary's key construction (urlSynth + canonical keys), verbatim up
# to the e CTE — linear SQL; only the closure needed replacing.
X14_EDGES_SQL = r"""WITH u AS (SELECT doc_id,
      'https://' ||
      CASE doc_id % 5 WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.bbc.co.uk'
        WHEN 2 THEN 'shop.example.com.au'
        WHEN 3 THEN 'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.assets.example.org'
        ELSE 'localhost' END ||
      CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END ||
      '/' || source || '/p' || CAST(doc_id % 11 AS VARCHAR) ||
      CASE WHEN doc_id % 2 = 0 THEN '?q=' || source || '&n=' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END ||
      CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
    FROM documents),
  base AS (SELECT d.doc_id, d.text, u.url FROM documents d JOIN u USING (doc_id)),
  ta AS (SELECT doc_id + 1000000 AS doc_id,
      translate(text, 'aeiou', 'áéíóú') AS text,
      'https://alt.example.net/' || CAST(doc_id % 97 AS VARCHAR)
        || '/' || CAST(doc_id AS VARCHAR) AS url
    FROM base),
  tb AS (SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text,
      regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
      upper(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) ||
      regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) || '/' ||
      '?utm_source=feed&fbclid=' || CAST(doc_id % 7 AS VARCHAR) ||
      CASE WHEN coalesce(regexp_extract(url, '\?([^#]*)', 1), '') <> ''
           THEN '&' || regexp_extract(url, '\?([^#]*)', 1) ELSE '' END ||
      '#top' AS url
    FROM base),
  al AS (SELECT * FROM base UNION ALL SELECT * FROM ta UNION ALL SELECT * FROM tb),
  parts AS (SELECT doc_id, url,
      regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS sch,
      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
      regexp_replace(regexp_extract(url,
        '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS pth,
      coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS q2
    FROM al),
  keptq AS (SELECT doc_id, sch, hostport, pth,
      coalesce(array_to_string(list_sort(list_filter(string_split(q2, '&'),
        x -> x <> '' AND NOT regexp_matches(x,
          '^(utm_[a-z]+|gclid|fbclid|ref)='))), '&'), '') AS qk
    FROM parts),
  kk AS (SELECT doc_id,
      'c:' || md5(translate(lower(text), 'áéíóú', 'aeiou')) AS k FROM al
    UNION ALL
    SELECT doc_id, 'u:' || sch || '://' || lower(hostport) ||
      CASE WHEN pth = '' THEN '/' ELSE pth END ||
      CASE WHEN qk = '' THEN '' ELSE '?' || qk END AS k FROM keptq)
  SELECT a1.doc_id AS u2, a2.doc_id AS w FROM kk a1 JOIN kk a2
  ON a1.k = a2.k AND a1.doc_id < a2.doc_id"""


# ------------------------------------------------------------- manifests
# name -> list of build thunks; prepare() runs each once per connection
HELPERS = {
    "x01_minhash_dedup": [("jacc", "char5", "tw_char5_pairs")],
    "x17_exact_dense_jaccard": [("jacc", "char5", "tw_char5_pairs")],
    "x02_simhash_dedup": [("jacc", "char3", "tw_char3_pairs")],
    "x09_source_dup_matrix": [("jacc", "char5", "tw_char5_pairs")],
    "d79_fuzzy_decontaminate": [("jacc", "char5", "tw_char5_pairs")],
    "q50_sql_fuzzy_decon": [("jacc", "char5", "tw_char5_pairs")],
    "st30_stream_fuzzy_decon": [("jacc", "char5", "tw_char5_pairs")],
    "x07_incremental_dedup": [("jacc", "char5", "tw_char5_pairs")],
    "st05_stream_incremental_dedup": [("jacc", "char5", "tw_char5_pairs")],
    "st07_stream_online_dedup": [("jacc", "char5", "tw_char5_pairs")],
    "x03_ngram_jaccard_dedup": [("jacc", "word3", "tw_word3_pairs"),
                                ("closure_word3",)],
    "d59_dup_cluster_histogram": [("jacc", "word3", "tw_word3_pairs"),
                                  ("closure_word3",)],
    "x12_dedup_audit": [("jacc", "word3", "tw_word3_pairs"), ("closure_word3",)],
    "x13_dedup_idempotence": [("jacc", "word3", "tw_word3_pairs"),
                              ("closure_word3",)],
    "x16_quality_canonical": [("jacc", "word3", "tw_word3_pairs"),
                              ("closure_word3",)],
    "x04_embedding_neardup": [("cos", 0.97, "tw_cos097_pairs"),
                              ("closure_cos097",)],
    "d68_dedup_cascade": [("d68",)],
    "e08_semantic_dedup": [("e08",)],
    "e09_pq_knn": [("pq_recon",)],
    "e13_ivfpq_knn": [("pq_recon",), ("e13_asg",)],
    "m06_phash_neardup": [("phash",), ("closure_phash",)],
    "x14_entity_resolution": [("x14",)],
}

# word-3gram closure edges: the primary e CTE's length filter applied
# on top of the exact pair table (same float expression)
WORD3_EDGES = """SELECT u, v FROM tw_word3_pairs
    WHERE su >= 0.8 * sv AND sv >= 0.8 * su"""


def _build(con, step, built):
    kind = step[0]
    if kind == "jacc":
        _, gk, table = step
        if table not in built:
            build_jaccard_pairs(con, gk, table)
    elif kind == "closure_word3":
        if "tw_word3_comp" not in built:
            build_closure(con, WORD3_EDGES, "tw_word3_comp")
            built.add("tw_word3_comp")
            return
    elif kind == "cos":
        _, thr, table = step
        if table not in built:
            build_cos_pairs(con, thr, table)
    elif kind == "closure_cos097":
        if "tw_cos097_comp" not in built:
            build_closure(con, "SELECT u, v FROM tw_cos097_pairs",
                          "tw_cos097_comp", id_name="vec_id")
            built.add("tw_cos097_comp")
            return
    elif kind == "e08":
        if "tw_e08_edges" not in built:
            build_e08(con)
            build_closure(con, "SELECT u, v FROM tw_e08_edges",
                          "tw_e08_comp", id_name="vec_id")
            built.update({"tw_e08_asg", "tw_e08_edges", "tw_e08_comp"})
            return
    elif kind == "pq_recon":
        if "tw_pq_recon" not in built:
            build_pq_recon(con)
            built.add("tw_pq_recon")
            return
    elif kind == "e13_asg":
        if "tw_e13_asg" not in built:
            build_e13_asg(con)
            built.add("tw_e13_asg")
            return
    elif kind == "phash":
        if "tw_phash_pairs" not in built:
            build_phash_pairs(con)
            built.add("tw_phash_pairs")
            return
    elif kind == "closure_phash":
        if "tw_phash_comp" not in built:
            build_closure(con, "SELECT u, w FROM tw_phash_pairs",
                          "tw_phash_comp", id_name="id")
            built.add("tw_phash_comp")
            return
    elif kind == "x14":
        if "tw_x14_comp" not in built:
            build_closure(con, X14_EDGES_SQL, "tw_x14_comp")
            built.add("tw_x14_comp")
            return
    elif kind == "d68":
        if "tw_d68_comp3" not in built:
            con.execute(f"CREATE OR REPLACE TEMP TABLE tw_d68_s1 AS {S1_SQL}")
            build_jaccard_pairs(
                con, "word3", "tw_d68_w3pairs",
                docs_sql="SELECT doc_id, text FROM tw_d68_s1")
            build_closure(con, """SELECT u, v FROM tw_d68_w3pairs
                WHERE su >= 0.8 * sv AND sv >= 0.8 * su""", "tw_d68_comp")
            con.execute("""CREATE OR REPLACE TEMP TABLE tw_d68_s2 AS
                SELECT doc_id FROM tw_d68_s1 WHERE doc_id NOT IN
                  (SELECT doc_id FROM tw_d68_comp WHERE mn < doc_id)""")
            s2 = con.execute(
                "SELECT doc_id FROM tw_d68_s2").fetchnumpy()["doc_id"]
            s2set = set(s2.astype(np.int64).tolist())
            ids, E = _emb_matrix(con)
            restrict = np.array([int(i) in s2set for i in ids])
            pairs = cos_edges(con, ids, E, 0.97, restrict=restrict)
            _register(con, "tw_d68_cos_pairs", pd.DataFrame(
                {"u": pairs[:, 0], "w": pairs[:, 1]}).astype(np.int64))
            build_closure(con, "SELECT u, w FROM tw_d68_cos_pairs",
                          "tw_d68_comp3", id_name="vec_id")
            built.update({"tw_d68_s1", "tw_d68_w3pairs", "tw_d68_comp",
                          "tw_d68_s2", "tw_d68_cos_pairs", "tw_d68_comp3"})
            return
    else:
        raise ValueError(f"unknown helper step {step}")
    built.add(step[-1])


def prepare(con, name, built=None):
    """Materialize every tw_* temp table `name`'s scale twin reads.
    `built` is a caller-held set for cross-query reuse on one con."""
    if built is None:
        built = set()
    for step in HELPERS.get(name, []):
        _build(con, step, built)
    return built
