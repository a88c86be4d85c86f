"""Seeded input generators. Everything a workload feeds the engine is made
here from ``numpy.random.default_rng(seed)``: the same seed writes
byte-identical parquet, another seed writes other rows of the same size.
Nothing here imports the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSIONS_PREFIX = ".sys.v#."

# Migration fixture: share-row count and the seed-drawn ranges of each
# branch's share of the public-file scan.
N_SHARES = 24_000
N_OWNERS = 1_200
BRANCH_RANGES = {
    "already": (0.08, 0.12),    # basename is already a versions folder
    "nothome": (0.08, 0.12),    # path outside the /eos/ home prefix
    "parent": (0.12, 0.18),     # parent folder is a versions folder
    "dead": (0.02, 0.05),       # inode missing from the catalog
}
MISSING_VERSIONS_RANGE = (0.10, 0.20)  # DEFAULT rows whose folder is absent

# Serve fixtures.
N_DOCS = 1_000
N_EMB = 3_000
EMB_DIM = 32
N_ORDERS = 100_000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Per-language word stems. Documents are built from two-stem compounds
# (about 1,600 per language), so texts of one language share character
# statistics but rarely share a three-word shingle unless one copies the
# other.
STEMS = {
    "en": "river stone garden morning light window market bread winter summer "
          "quiet people table letter music evening station paper forest water "
          "mountain village coffee friend story teacher kitchen yellow green "
          "simple strong gentle bright narrow heavy travel listen remember "
          "carry follow",
    "de": "fluss stein garten morgen licht fenster markt brot winter sommer "
          "leise leute tisch brief musik abend bahnhof papier wald wasser berg "
          "dorf kaffee freund geschichte lehrer kueche gelb gruen einfach stark "
          "sanft hell schmal schwer reisen hoeren erinnern tragen folgen",
    "es": "rio piedra jardin manana luz ventana mercado pan invierno verano "
          "tranquilo gente mesa carta musica tarde estacion papel bosque agua "
          "montana pueblo cafe amigo historia maestro cocina amarillo verde "
          "sencillo fuerte suave claro estrecho pesado viajar escuchar "
          "recordar llevar seguir",
    "fr": "riviere pierre jardin matin lumiere fenetre marche pain hiver ete "
          "calme gens table lettre musique soir gare papier foret eau montagne "
          "village cafe ami histoire professeur cuisine jaune vert simple fort "
          "doux clair etroit lourd voyager ecouter souvenir porter suivre",
}
STEMS = {k: v.split() for k, v in STEMS.items()}
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def migration_inputs(seed: int, out_dir: str, n: int = N_SHARES) -> dict:
    """``oc_share`` rows plus the ``eos_meta`` catalog they point into.

    Every share gets its own inode. The scan keeps ``share_type = 3 AND
    item_type = 'file'``; among those rows the seed draws the fractions of
    the four router branches, of dead letters (inode absent from the
    catalog) and of DEFAULT rows whose versions folder is missing (the
    create sink makes those). Returns the parquet paths and the drawn
    fractions."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64) + 1_000_000
    share_type = rng.choice(np.array([0, 1, 3], dtype=np.int32), n, p=[0.15, 0.15, 0.70])
    item_type = np.where(rng.random(n) < 0.88, "file", "folder")
    inode = rng.permutation(n).astype(np.int64) + 5_000_000
    owner_n = rng.integers(0, N_OWNERS, n)
    frac = {k: float(rng.uniform(*r)) for k, r in BRANCH_RANGES.items()}
    frac["missing_versions"] = float(rng.uniform(*MISSING_VERSIONS_RANGE))
    u = rng.random(n)
    edges = np.cumsum([frac["dead"], frac["already"], frac["nothome"], frac["parent"]])
    branch = np.searchsorted(edges, u, side="right")  # 0 dead .. 4 default
    has_folder = rng.random(n) >= frac["missing_versions"]
    size = rng.integers(1, 1 << 30, n)
    # catalog rows: the file itself (unless dead), the parent versions
    # folder (branch 3) and the file's versions folder (branch 4, unless
    # drawn missing)
    rows = []  # (inode, path, uid, size)
    for ino, own, b, folder, sz in zip(
        inode.tolist(), owner_n.tolist(), branch.tolist(), has_folder.tolist(), size.tolist()
    ):
        home = f"/eos/user/u{own}/proj"
        f = f"f{ino}.dat"
        vdir = f"{home}/{VERSIONS_PREFIX}{f}"
        if b == 1:
            p = vdir
        elif b == 2:
            p = f"/tmp/scratch/u{own}/{f}"
        elif b == 3:
            p = f"{vdir}/r1.bin"
        else:
            p = f"{home}/{f}"
        uid = str(1000 + own)
        if b != 0:
            rows.append((ino, p, uid, sz))
        if b == 3 or (b == 4 and folder):
            rows.append((ino + (10_000_000 if b == 3 else 20_000_000), vdir, uid, 0))
    m_inode, m_path, m_uid, m_size = zip(*rows)
    meta = pa.table(
        {
            "inode": pa.array(m_inode, pa.int64()),
            "path": pa.array(m_path, pa.string()),
            "uid": pa.array(m_uid, pa.string()),
            "gid": pa.array(m_uid, pa.string()),
            "size": pa.array(m_size, pa.int64()),
        }
    )
    fname = [f"/f{i}.dat" for i in inode.tolist()]
    owner = [f"u{o}" for o in owner_n.tolist()]
    stime = rng.integers(1_500_000_000, 1_700_000_000, n).astype(np.int32)
    shares = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "share_type": pa.array(share_type, pa.int32()),
            "share_with": pa.array([None] * n, pa.string()),
            "uid_owner": pa.array(owner, pa.string()),
            "parent": pa.array(np.full(n, -1, dtype=np.int64), pa.int64()),
            "item_type": pa.array(item_type.tolist(), pa.string()),
            "item_source": pa.array([str(i) for i in inode.tolist()], pa.string()),
            "item_target": pa.array([f"/{i}" for i in inode.tolist()], pa.string()),
            "file_source": pa.array(inode, pa.int64()),
            "file_target": pa.array(fname, pa.string()),
            "permissions": pa.array(["1"] * n, pa.string()),
            "stime": pa.array(stime, pa.int32()),
            "accepted": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
            "token": pa.array(
                [f"{x:016x}" for x in rng.integers(0, 1 << 62, n)], pa.string()
            ),
            "mail_send": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
        }
    )
    return {
        "shares": _write(shares, os.path.join(out_dir, "oc_share.parquet")),
        "meta": _write(meta, os.path.join(out_dir, "eos_meta.parquet")),
        "fractions": frac,
        "n_shares": n,
    }


def _doc_text(rng: np.random.Generator, lang: str) -> str:
    stems = STEMS["en" if lang == "zh" else lang]
    n = int(rng.integers(10, 101))
    i, j = rng.integers(0, len(stems), n), rng.integers(0, len(stems), n)
    words = [stems[a] + stems[b] for a, b in zip(i.tolist(), j.tolist())]
    if rng.random() < 0.05:  # an e-mail address for the PII stage
        words[int(rng.integers(0, n))] = f"{words[0]}@{words[-1]}.org"
    return " ".join(words)


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    """``documents``-shaped corpus. Each text is made of compound words of
    its labelled language (``zh`` documents get English words, so the
    language filter drops them), and about 3% of documents are exact
    copies and 5% near-duplicates (one word swapped, one appended) of an
    earlier document, so both dedup stages find work."""
    rng = np.random.default_rng(seed)
    langs = rng.choice(LANGS, n, p=LANG_P).tolist()
    texts = [_doc_text(rng, lang) for lang in langs]
    u = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(1, n):
        j = int(src[i]) % i
        if u[i] < 0.03:
            texts[i], langs[i] = texts[j], langs[j]
        elif u[i] < 0.08:
            toks = texts[j].split()
            toks[int(rng.integers(0, len(toks)))] = toks[0]
            texts[i], langs[i] = " ".join(toks + [toks[-1]]), langs[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n).tolist()], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int = N_EMB, dim: int = EMB_DIM) -> pa.Table:
    """Clustered unit-ish vectors: 10 labelled centres plus noise."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(10, dim)).astype(np.float32)
    label = rng.integers(0, 10, n)
    vec = centres[label] + 0.6 * rng.normal(size=(n, dim)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.array(vec.tolist(), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32), pa.int32()),
        }
    )


def orders(seed: int, n: int = N_ORDERS) -> pa.Table:
    rng = np.random.default_rng(seed)
    days = rng.integers(0, 7 * 365, n)
    date = np.datetime64("1992-01-01") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n // 10, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(), pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2), pa.float64()),
            "o_orderdate": pa.array(date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n).tolist(), pa.string()),
        }
    )


def serve_inputs(seed: int, sf_dir: str) -> dict:
    """A benchmark-owned sf directory: ``documents``, ``embeddings`` and
    ``orders`` parquet, each from its own sub-seed."""
    ss = np.random.SeedSequence(seed).spawn(3)
    sub = [int(s.generate_state(1)[0]) for s in ss]
    return {
        "documents": _write(documents(sub[0]), os.path.join(sf_dir, "documents.parquet")),
        "embeddings": _write(embeddings(sub[1]), os.path.join(sf_dir, "embeddings.parquet")),
        "orders": _write(orders(sub[2]), os.path.join(sf_dir, "orders.parquet")),
    }
