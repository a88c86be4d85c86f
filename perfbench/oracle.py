"""Independent formulations of each workload's outputs, computed with DuckDB
(or plain Python) over the same generated parquet. Each ``check_*`` returns
a list of error strings; an empty list means the outputs are correct.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

VP = ".sys.v#."


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()  # checks run after the timed region: all cores
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def _canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols:
        if pd.api.types.is_integer_dtype(out[c]) or pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(9)
        else:
            out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out


def frame_hash(df: pd.DataFrame, cols: list[str]) -> int:
    """Order-insensitive content hash: the wrapped sum of row hashes."""
    h = pd.util.hash_pandas_object(_canon(df, cols), index=False)
    return int(h.sum() & ((1 << 64) - 1))


def compare_frames(what: str, got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{what}: missing columns {missing}"]
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, oracle has {len(want)}"]
    if frame_hash(got, cols) == frame_hash(want, cols):
        return []
    g = _canon(got, cols).sort_values(key).reset_index(drop=True)
    w = _canon(want, cols).sort_values(key).reset_index(drop=True)
    bad = [c for c in cols if not g[c].equals(w[c])]
    return [f"{what}: value hash differs from the oracle in columns {bad}"]


# -- migration --------------------------------------------------------------

_MIGRATION_SQL = f"""
WITH shares AS (SELECT * FROM read_parquet($shares)),
meta AS (SELECT * FROM read_parquet($meta)),
scan AS (
  SELECT * FROM shares
  WHERE share_type = 3 AND item_type = 'file'
    AND ($all OR list_contains($owners, uid_owner))),
enriched AS (
  SELECT s.id, m.inode AS f_inode, m.path AS f_path
  FROM scan s LEFT JOIN meta m ON s.file_source = m.inode),
routed AS (
  SELECT *,
    CASE
      WHEN f_inode IS NULL THEN 'DEAD'
      WHEN starts_with(string_split(f_path, '/')[-1], '{VP}') THEN 'ALREADY'
      WHEN NOT starts_with(f_path, '/eos/') THEN 'NOT_UNDER_HOME'
      WHEN starts_with(string_split(f_path, '/')[-2], '{VP}') THEN 'PARENT'
      ELSE 'DEFAULT'
    END AS decision,
    f_path[1 : len(f_path) - len(string_split(f_path, '/')[-1]) - 1] AS dir,
    string_split(f_path, '/')[-1] AS base
  FROM enriched),
targets AS (
  SELECT id, f_inode, decision,
         CASE WHEN decision = 'PARENT' THEN dir
              ELSE dir || '/{VP}' || base END AS target_path
  FROM routed WHERE decision IN ('PARENT', 'DEFAULT')),
found AS (
  SELECT t.id, v.inode AS v_inode, v.path AS v_path
  FROM targets t JOIN meta v ON t.target_path = v.path),
created AS (
  SELECT t.id, t.f_inode + $offset AS v_inode, t.target_path AS v_path
  FROM targets t
  WHERE t.decision = 'DEFAULT'
    AND NOT EXISTS (SELECT 1 FROM meta v WHERE v.path = t.target_path)),
hits AS (
  SELECT * FROM found
  UNION ALL SELECT * FROM created WHERE $apply),
upd AS (
  SELECT id, CAST(v_inode AS VARCHAR) AS item_source,
         '/' || v_inode AS item_target, v_inode AS file_source,
         '/' || string_split(v_path, '/')[-1] AS file_target
  FROM hits)
SELECT s.* REPLACE (
         COALESCE(u.item_source, s.item_source) AS item_source,
         COALESCE(u.item_target, s.item_target) AS item_target,
         COALESCE(u.file_source, s.file_source) AS file_source,
         COALESCE(u.file_target, s.file_target) AS file_target),
       u.id IS NOT NULL AS updated
FROM shares s LEFT JOIN upd u ON s.id = u.id
"""


def migration_expected(shares: str, meta: str, offset: int, owners, deleted,
                       groups: dict) -> dict:
    """The final table after the apply cycles over ``owners`` (updates
    applied, seeded deletes removed), the update count of a dry run over
    every owner, how many input rows the scan filter drops, and for each
    entry ``g: (owners, deletes)`` of ``groups`` the (input rows, rows the
    scan drops) of an apply over those owners after those deletes."""
    con = _con()
    params = {"shares": shares, "meta": meta, "offset": offset}
    apply_ = con.execute(
        _MIGRATION_SQL, {**params, "apply": True, "all": False, "owners": list(owners)}
    ).df()
    dry = con.execute(
        f"SELECT count(*) FILTER (WHERE updated) FROM ({_MIGRATION_SQL})",
        {**params, "apply": False, "all": True, "owners": [""]},
    ).fetchone()[0]
    dropped = con.execute(
        "SELECT count(*) FROM read_parquet($shares) "
        "WHERE NOT (share_type = 3 AND item_type = 'file')",
        {"shares": shares},
    ).fetchone()[0]
    final = apply_
    for mod, resid in deleted:
        final = final[~((final["share_type"] == 0) & (final["id"] % mod == resid))]
    ledger_in = {}
    for g, (group, before) in groups.items():
        rows = apply_[apply_["uid_owner"].isin(group)]
        for mod, resid in before:
            rows = rows[~((rows["share_type"] == 0) & (rows["id"] % mod == resid))]
        kept = ((rows["share_type"] == 3) & (rows["item_type"] == "file")).sum()
        ledger_in[g] = (len(rows), len(rows) - int(kept))
    return {
        "final": final.drop(columns=["updated"]).reset_index(drop=True),
        "n_updates_dry": int(dry),
        "n_scan_dropped": int(dropped),
        "ledger_in": ledger_in,
    }


# -- serve ------------------------------------------------------------------

_BM25_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM read_parquet($docs)),
dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
tf AS (SELECT doc_id, tok, count(*) AS tfc FROM toks GROUP BY doc_id, tok),
st AS (SELECT count(DISTINCT doc_id) AS n_docs, sum(tfc)::DOUBLE AS total FROM tf),
q AS (SELECT tf.*, dl.dlen FROM tf JOIN dl USING (doc_id) WHERE list_contains($terms, tok)),
df AS (SELECT tok, count(*) AS dfc FROM q GROUP BY tok),
s AS (
  SELECT q.doc_id,
         ln(1.0 + (st.n_docs - df.dfc + 0.5) / (df.dfc + 0.5))
         * (q.tfc * (1.2 + 1.0))
         / (q.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * q.dlen / (st.total / st.n_docs))) AS s
  FROM q JOIN df USING (tok), st)
SELECT doc_id,
       sum(CAST(CAST(s AS DECIMAL(18, 12)) * 1000000000000 AS BIGINT))::DOUBLE / 1e12 AS score
FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT $k
"""


def check_bm25(wl, p, rows) -> list[str]:
    want = _con().execute(
        _BM25_SQL, {"docs": wl.paths["documents"], "terms": p["terms"], "k": 10}
    ).fetchall()
    got = sorted(((r["rank"], r["doc_id"], r["score"]) for r in rows))
    if len(got) != len(want):
        return [f"bm25 {p['terms']}: {len(got)} hits, full scan has {len(want)}"]
    for (_, gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > 1e-9 or (gd != wd and abs(gs - ws) > 0):
            return [f"bm25 {p['terms']}: ranking differs from the full-scan BM25"]
    return []


def check_ivfpq(wl, p, rows) -> list[str]:
    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import similarity as S

    q = wl.emb.where(F.col("vec_id").isin(p["ids"]))
    want = S.ivf_pq_topk(wl.emb, q, wl.centroids, wl.codebooks, nprobe=4, top_k=5).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["adc"])  # noqa: E731
    if sorted(map(key, rows)) != sorted(map(key, want)):
        return ["ivfpq probe differs from the index-free ivf_pq_topk"]
    return []


def _shingles(text: str) -> set:
    t = [w for w in text.split(" ") if w]
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def check_lsh(wl, p, rows) -> list[str]:
    docs = pd.read_parquet(wl.paths["documents"], columns=["doc_id", "text"])
    sh = dict(zip(docs["doc_id"], map(_shingles, docs["text"])))
    errs = []
    for r in rows:
        a, b = sh[r["query_id"]], sh[r["corpus_id"]]
        j = len(a & b) / len(a | b)
        if r["query_id"] == r["corpus_id"] or abs(j - r["jaccard"]) > 1e-12 or j < 0.5:
            errs.append(f"lsh pair {r['query_id']}-{r['corpus_id']} has exact jaccard {j}")
    got = {(r["query_id"], r["corpus_id"]) for r in rows}
    for q in p["ids"]:
        for c, s in sh.items():
            if c != q and s == sh[q] and (q, c) not in got:
                errs.append(f"lsh probe missed exact duplicate {q}-{c}")
    return errs[:5]


def check_key(wl, p, rows) -> list[str]:
    want = _con().execute(
        "SELECT o_orderkey, o_orderpriority, o_totalprice FROM read_parquet($o) "
        "WHERE list_contains($k, o_orderkey) ORDER BY 1",
        {"o": wl.paths["orders"], "k": p["keys"]},
    ).fetchall()
    got = sorted((r["o_orderkey"], r["o_orderpriority"], r["o_totalprice"]) for r in rows)
    return [] if got == [tuple(w) for w in want] else ["point_lookup differs from a key filter"]


def check_cbxtable(wl, p, rows) -> list[str]:
    want = _con().execute(
        "SELECT o_orderpriority, count(*), sum(o_totalprice) FROM read_parquet($o) "
        "WHERE list_contains($pr, o_orderpriority) AND o_totalprice > $price "
        "GROUP BY 1 ORDER BY 1",
        {"o": wl.paths["orders"], "pr": p["priorities"], "price": p["price"]},
    ).fetchall()
    got = sorted((r["o_orderpriority"], r["n"], r["s"]) for r in rows)
    ok = len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= 1e-9 * abs(w[2])
        for g, w in zip(got, want)
    )
    return [] if ok else ["cbxtable scan differs from the parquet aggregate"]


def check_corpus(docs_path: str, manifest) -> list[str]:
    from cernbox_migration_database_spark import queries as Q

    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    want = con.execute(Q.ORACLE["pipeline_pretraining_corpus"]).fetchall()
    norm = lambda rows: sorted(tuple(int(x) for x in r) for r in rows)  # noqa: E731
    if norm(manifest) != norm(want):
        return ["pretraining-corpus manifest differs from the pipeline oracle SQL"]
    return []
